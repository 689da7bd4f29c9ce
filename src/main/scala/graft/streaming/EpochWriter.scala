package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/**
 * The staged write of [[EpochCommit.epochAppend]]: one Spark job that
 * writes each partition of a batch as one parquet file `part-<i>`
 * under a staging dir, with Spark's own parquet writer
 * (`ParquetFileFormat.prepareWrite` and the `ParquetOutputWriter` it
 * makes), so the files are those `batch.write.parquet` writes.
 *
 * What it leaves out of Spark's `FileFormatWriter` is the per-task
 * Hadoop conf. `FileFormatWriter` ships the session's conf (about 1 100
 * properties, 112 KB serialized) inside every write task, twice; each
 * task pays about 6 ms to read each copy back. Here the prepared job
 * conf travels as one broadcast per write, read once per executor and
 * destroyed when the job ends.
 *
 * As `FileFormatWriter` does: a partition with no rows writes no file,
 * except partition 0, so an empty batch still publishes its schema;
 * a batch of no partitions runs one empty task; a column type parquet
 * cannot hold fails the epoch before the job. Each task reports its
 * rows and bytes in its output metrics. No commit protocol runs: the
 * epoch commit stages into a dir of its own, cleared before the
 * write, and publishes by rename. So the writer assumes one attempt
 * per task. A task creates its file without overwrite and deletes it
 * when anything after the create fails; an attempt that dies with its
 * executor leaves its file, a retry of that task then fails at the
 * create, and the failed job fails the epoch, which the replay redoes
 * from a cleared staging dir. Neither a retry nor a speculative
 * attempt can replace or add to a file another attempt wrote.
 */
private[streaming] object EpochWriter {
  private val format = new ParquetFileFormat

  /** Write `batch` as parquet part files under `dir`. */
  def write(batch: DataFrame, dir: String): Unit = {
    val qe = batch.queryExecution
    val session = qe.sparkSession
    val sc = session.sparkContext
    val schema = DataTypeUtils.fromAttributes(qe.executedPlan.output)
    DataSourceUtils.verifySchema(format, schema)
    DataSourceUtils.checkFieldNames(format, schema)
    val job = Job.getInstance(session.sessionState.newHadoopConf())
    val factory = format.prepareWrite(session, job, Map.empty, schema)
    val conf = sc.broadcast(new SerializableConfiguration(job.getConfiguration))
    val task = new PartWriter(factory, conf, schema, dir)
    try SQLExecution.withNewExecutionId(qe, Some("epochAppend")) {
      val rdd = qe.toRdd
      val parts = if (rdd.partitions.isEmpty) sc.parallelize(Seq.empty[InternalRow], 1) else rdd
      sc.runJob(parts, (ctx: TaskContext, rows: Iterator[InternalRow]) => task(ctx, rows))
    }: Unit
    finally conf.destroy()
  }

  /** One write task: partition `i` of the batch into `dir/part-<i>`. */
  private final class PartWriter(factory: OutputWriterFactory,
      conf: Broadcast[SerializableConfiguration], schema: StructType,
      dir: String) extends Serializable {
    def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Unit =
      if (ctx.partitionId() == 0 || rows.hasNext) {
        val attempt = new TaskAttemptContextImpl(conf.value.value,
          new TaskAttemptID("graft", ctx.stageId(), TaskType.MAP, ctx.partitionId(),
            ctx.attemptNumber()))
        val file = new Path(dir, f"part-${ctx.partitionId()}%05d")
        val fs = file.getFileSystem(attempt.getConfiguration)
        val out = factory.newInstance(file.toString, schema, attempt)
        var n = 0L
        try {
          while (rows.hasNext) { out.write(rows.next()); n += 1 }
          out.close()
          GraftBridge.setOutputMetrics(ctx, fs.getFileStatus(file).getLen, n)
        } catch {
          case t: Throwable =>
            try out.close() catch { case c: Throwable => t.addSuppressed(c) }
            try fs.delete(file, false) catch { case c: Throwable => t.addSuppressed(c) }
            throw t
        }
      }
  }
}
