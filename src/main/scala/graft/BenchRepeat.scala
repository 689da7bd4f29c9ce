package graft

/**
 * Repeated-run micro-bench for individual gated queries: the per-round
 * bench runs every query once (n=1), which cannot distinguish a real
 * regression from suite noise. This main runs the named queries N times
 * each inside one warmed JVM and prints per-query min/median/max, the
 * numbers a noise determination needs.
 *
 * Usage: BenchRepeat [n] [queryName...]
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
    val spark = HarnessSession("32")

    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      // one untimed warmup per query so codegen/IO caches are hot
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val times = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      name -> times
    }
    results.foreach { case (name, ts) =>
      val fmt = ts.map(t => f"$t%.3f").mkString("[", ",", "]")
      println(f"""{"query":"$name","n":$n,"min":${ts.head}%.3f,""" +
        f""""median":${ts(ts.size / 2)}%.3f,"max":${ts.last}%.3f,"times":$fmt}""")
    }
    spark.stop()
  }
}
