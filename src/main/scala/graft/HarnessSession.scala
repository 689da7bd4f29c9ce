package graft

import org.apache.spark.sql.SparkSession

/** The one session the harness mains (Bench, BenchRepeat, Verify,
  * GateJobProfile) run on: `local[SPARK_GRAFT_CPUS]` with as many
  * shuffle partitions, AQE, UTC, no UI, WARN logging. `defaultCpus`
  * applies when SPARK_GRAFT_CPUS is unset. */
private[graft] object HarnessSession {
  def apply(defaultCpus: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = SparkSession.builder()
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
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
