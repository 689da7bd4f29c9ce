package graft

/**
 * Repeated-run micro-bench for individual gated queries: the per-round
 * bench runs every query once (n=1), which cannot distinguish a real
 * regression from suite noise. This main runs the named queries N times
 * each inside one warmed JVM, on the bench's own session, and prints
 * per-query min/median/max, the numbers a noise determination needs.
 *
 * A session-conf experiment sets SPARK_GRAFT_CONF ("k=v;k=v"): those
 * confs go onto the bench's session and nothing else changes, so two
 * runs with and without them are an A/B of exactly the candidate.
 *
 * Usage: BenchRepeat [n] [queryName...]   (env SPARK_GRAFT_CONF)
 *   (defaults: n=5, the queries flagged by the last round's bench)
 */
object BenchRepeat {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = args.headOption.map(_.toInt).getOrElse(5)
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q15_registry_frame", "q03_hash_shard", "q14_scalar_funcs",
        "q04_seek_chunk", "q06_paging")
    val extra = sys.env.getOrElse("SPARK_GRAFT_CONF", "")
      .split(';').toSeq.map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => (k, v)
          case _ => sys.error(
            s"SPARK_GRAFT_CONF token '$kv' is not k=v (tokens are ';'-separated)")
        }
      }
    val spark = HarnessSession("32", extra)
    extra.foreach { case (k, v) => System.err.println(s"[conf] $k=$v") }

    // one timed run, then the hygiene Bench applies after every s-gate
    // run (untimed, as there): a gate's state stores must not outlive
    // it into the next run
    def timed(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      if (name.startsWith("s")) org.apache.spark.sql.GraftBridge.unloadStateStores()
      dt
    }
    val results = names.map { name =>
      timed(name): Unit // one untimed warmup so codegen/IO caches are hot
      name -> (1 to n).map(_ => timed(name)).sorted
    }
    results.foreach { case (name, ts) =>
      val fmt = ts.map(t => f"$t%.3f").mkString("[", ",", "]")
      // true median: the middle sample for odd n, the mean of the two
      // middle samples for even n (ts is sorted)
      val med =
        if (ts.size % 2 == 1) ts(ts.size / 2)
        else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2.0
      println(f"""{"query":"$name","n":$n,"min":${ts.head}%.3f,""" +
        f""""median":$med%.3f,"max":${ts.last}%.3f,"times":$fmt}""")
    }
    graft.queries.DataOpsQueries.release(sfDir)
    spark.stop()
  }
}
