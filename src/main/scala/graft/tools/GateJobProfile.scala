package graft.tools

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.{HarnessSession, SparkEntry}

/** Profile one gated query: record every Spark job's wall duration and
  * call site, print a sorted cost table. Usage:
  *   sbt "runMain graft.tools.GateJobProfile <gate> [sfDir] [warmups]"
  * Dev harness only — not part of the bench/verify contract. */
object GateJobProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val warm = if (args.length > 2) args(2).toInt else 1
    val spark = HarnessSession("32")

    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    // (jobId, startNanos, durNanos, site)
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.long")))
          .map(_.linesIterator.filter(_.contains("graft"))
            .take(2).mkString(" <- "))
          .filter(_.nonEmpty)
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        starts.put(e.jobId, (System.nanoTime(), site)): Unit
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(starts.remove(e.jobId)).foreach { case (t0, site) =>
          rows.add((e.jobId, t0, System.nanoTime() - t0, site)): Unit
        }
      }
    })

    val fn = SparkEntry.queries(name)
    (1 to warm).foreach { _ =>
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      org.apache.spark.sql.GraftBridge.unloadStateStores()
      rows.clear()
    }
    // whole-stage-codegen compile census: how many Janino compiles the
    // timed run triggers (a per-epoch-varying literal defeats the
    // generated-source cache and recompiles the stage every epoch)
    val cgMetric =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val cg0 = cgMetric.getCount
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    val cgN = cgMetric.getCount - cg0
    val cgMeanMs = cgMetric.getSnapshot.getMean
    Thread.sleep(500) // let the listener queue drain
    import scala.jdk.CollectionConverters._
    val all = rows.asScala.toSeq
    val bySite = all.groupBy(_._4).map { case (s, xs) =>
      (xs.map(_._3).sum / 1e9, xs.size, s)
    }.toSeq.sortBy(-_._1)
    System.err.println(f"[prof] $name wall=${wall}%.2fs jobs=${all.size} jobTimeSum=${all.map(_._3).sum / 1e9}%.2fs codegenCompiles=$cgN (~${cgN * cgMeanMs / 1000}%.2fs at reservoir-mean ${cgMeanMs}%.0fms)")
    bySite.take(40).foreach { case (sec, n, site) =>
      System.err.println(f"[prof]   ${sec}%7.2fs n=${n}%-4d $site")
    }
    // timeline with driver-side gaps: a gap is time between one job's
    // end and the next job's start — where planning/codegen/FS ops live
    val tl = all.sortBy(_._2)
    var lastEnd = t0
    tl.foreach { case (id, s, d, _) =>
      val gap = (s - lastEnd) / 1e6
      if (gap > 40)
        System.err.println(f"[prof]   GAP ${gap}%7.0fms before job $id (t=${(s - t0) / 1e9}%5.2fs)")
      System.err.println(f"[prof]   job $id%-4d t=${(s - t0) / 1e9}%5.2fs dur=${d / 1e6}%6.0fms")
      lastEnd = math.max(lastEnd, s + d)
    }
    spark.stop()
  }
}
