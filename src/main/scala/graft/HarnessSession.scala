package graft

import org.apache.spark.sql.SparkSession

/** The one session the harness mains (Bench, BenchRepeat, Verify,
  * GateJobProfile) run on: `local[SPARK_GRAFT_CPUS]` with as many
  * shuffle partitions, AQE, UTC, no UI, WARN logging. `defaultCpus`
  * applies when SPARK_GRAFT_CPUS is unset. `extra` confs go on last,
  * so an A/B of a candidate conf (BenchRepeat's SPARK_GRAFT_CONF)
  * differs from the bench's session by exactly those confs. */
private[graft] object HarnessSession {
  def apply(defaultCpus: String,
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Generated-class cache sized to the workload, not the 100-entry
      // default: this suite compiles thousands of whole-stage sources
      // (197 gates; the incremental-serve loops re-plan per epoch), and
      // at 100 entries the JVM-global cache thrashes — a single warmed
      // s31 run showed 531 Janino compiles (~5 s). Scale-neutral (the
      // cache is driver/executor-local and bounded; ~tens of KB per
      // entry), measured −29..−40 % on s29/s30/s31 same-window n=3.
      // A static conf: it only takes effect here, at session build.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
