package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/**
 * THE stream start: every streaming query of the engine — a pipeline
 * run ([[PipelineManager]]'s launcher) and every streaming gate's run
 * (`StreamingQueries.runAvailableNow`) — gets its writer and starts
 * here. `tools/test_stream_start_owner.py` fails on a writer spelled
 * anywhere else under src/main/scala.
 *
 * Why one rule: Spark 4.1 runs each query on a clone of the caller's
 * session, made inside `start()`. With
 * `spark.sql.artifact.isolation.enabled` (Spark's default) the clone
 * gets a new artifact-state UUID, so the executor runs the query's
 * tasks under a new per-UUID session classloader. CodeGenerator caches
 * compiled classes by (classloader, source), so every start of the
 * same plan — each pipeline restart, each gate run — recompiles
 * byte-identical whole-stage classes, and each retired session state
 * keeps its classloader and classes alive. The clone copies the
 * conf when it is made, so isolation is pinned off around `start()`
 * alone: the query runs under the application classloader and reuses
 * the compiled classes, and the caller's session is left as it was.
 * A session holding session-scoped artifacts (added jars, classes,
 * files) keeps isolation, so its queries still load them.
 */
private[graft] object StreamStart {
  type Writer = DataStreamWriter[Row]

  private val Isolation = "spark.sql.artifact.isolation.enabled"

  /** Serializes the pin: two concurrent starts on one session must
    * never restore each other's pinned value as the caller's. */
  private val pin = new Object

  /** Start `df` with the writer settings `configure` applies. */
  def apply(df: DataFrame)(configure: Writer => Writer): StreamingQuery = {
    val writer = configure(df.writeStream)
    val spark = df.sparkSession
    if (GraftBridge.hasSessionArtifacts(spark)) writer.start()
    else pin.synchronized {
      val prev = spark.conf.getAll.get(Isolation) // set, not defaulted
      spark.conf.set(Isolation, false)
      try writer.start()
      finally prev.fold(spark.conf.unset(Isolation))(spark.conf.set(Isolation, _))
    }
  }
}
