package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Dump `explain("formatted")` plans for the round's plan-evidence
  * files (`plans/rNN/<query>_{before,after}.txt`). Batch gates dump
  * the gate frame's plan; the incremental-index SERVE paths (whose
  * gates return a post-hoc read of their output dir) dump the plan of
  * a serve() over a one-epoch store built from the sf dir; the CDC
  * merge dumps the executed plan of one epoch's state write.
  *
  * Usage: PlanDump <outDir> <suffix> [gate...]   (sfDir from env)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val gates = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      dumpExecution(name, df.queryExecution)
    def dumpExecution(name: String, qe: QueryExecution): Unit = {
      val plan = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      System.err.println(s"[plandump] wrote ${name}_$suffix.txt")
    }

    gates.foreach { g =>
      dump(g, graft.SparkEntry.queries(g)(spark, sfDir))
    }

    // serve-path plans for the incremental vector/PQ indexes (the
    // part the gate frames don't show)
    val emb = graft.queries.Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"),
        graft.ann.Ann.toDouble(col("embedding")).as("ce"))
    val cb = graft.ann.Ann.pqCodebook(graft.ann.Ann.pqSubvectors(emb, 8), 16)
    val probes = emb.filter(col("vec_id") < 2)
    locally {
      val dir = Files.createTempDirectory("graft-plandump-pq-").toString
      val ipx = new graft.streaming.IncrementalPqIndex(spark, dir,
        cents, cb, m = 8, name = "pdump")
      ipx.appendEpoch(emb.filter(col("vec_id") < 100), 0L)
      dump("pqindex_serve", ipx.serve(probes, k = 3, nprobe = 2, rerank = 6))
    }
    locally {
      val dir = Files.createTempDirectory("graft-plandump-vec-").toString
      val ivx = new graft.streaming.IncrementalVectorIndex(spark, dir,
        cents, name = "vdump")
      ivx.appendEpoch(emb.filter(col("vec_id") < 100), 0L)
      dump("vecindex_serve", ivx.serve(probes, k = 3, nprobe = 2))
    }
    locally {
      // CdcMerge.applyBatch builds its write plan internally: capture
      // the executed write command of an epoch onto existing state. The
      // epochs are parquet scans, as a file-source micro-batch is.
      val base = Files.createTempDirectory("graft-plandump-cdc-").toString
      val dir = s"$base/state"
      val Seq(first, second) = Seq(0L, 100L).map { scn =>
        spark.range(40).select(col("id").as("key"), (col("id") + scn).as("scn"),
          lit("UPDATE").as("opcode"), col("id").cast("string").as("v"))
          .write.parquet(s"$base/changes$scn")
        spark.read.parquet(s"$base/changes$scn")
      }
      graft.streaming.CdcMerge.applyBatch(spark, first, dir, Seq("key"), "scn", "opcode", 4)
      val writes = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          if (qe.analyzed.isInstanceOf[InsertIntoHadoopFsRelationCommand]) writes.put(qe)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      graft.streaming.CdcMerge.applyBatch(spark, second, dir, Seq("key"), "scn", "opcode", 4)
      val qe = writes.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      spark.listenerManager.unregister(listener)
      require(qe != null, "the merge write was not observed within 60 s")
      dumpExecution("cdc_merge_write", qe)
    }
    spark.stop()
  }
}
