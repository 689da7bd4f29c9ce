package graft.perfbench

import org.apache.spark.sql.SparkSession

/** What one run measured: the inputs it checked, how many of them came
  * out wrong, and the metric values by name. */
final case class Outcome(attempted: Long, failed: Long, metrics: Map[String, Double])

trait Workload {
  def run(ctx: Ctx): Outcome
}

/** Per-run context: the arguments, the run's private work directory and
  * the heap sampler. */
final class Ctx(val seed: Long, val seconds: Int, val trace: Boolean,
    val work: String, val cores: Int) {
  val heap = new HeapSampler

  def newSession(n: Int = cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Fs.mkdirs(s"$work/spark-local"))
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set up five times, each in a fresh session and directory, and
    * keep the last; set-up time is the median. The earlier fixtures
    * are torn down and their sessions stopped. */
  def setupRepeated[F](build: (SparkSession, String) => F)
      (teardown: F => Unit): (SparkSession, F, Double) = {
    var last: (SparkSession, F) = null
    val times = (0 until 5).map { i =>
      if (last != null) { teardown(last._2); last._1.stop() }
      val t0 = System.nanoTime()
      val spark = newSession()
      val f = build(spark, Fs.mkdirs(s"$work/setup$i"))
      val dt = (System.nanoTime() - t0) / 1e9
      last = (spark, f)
      dt
    }
    (last._1, last._2, Stats.median(times))
  }
}

object Main {
  private val workloads: Map[String, Workload] = Map(
    "mirror_stream" -> MirrorStream,
    "cdc_bootstrap" -> CdcBootstrap,
    "control_rest" -> ControlRest)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = workloads.getOrElse(opt("workload"),
      sys.error(s"unknown workload ${opt("workload")}; known: ${workloads.keys.mkString(", ")}"))
    val ctx = new Ctx(opt("seed").toLong, opt("seconds").toInt, opt("trace") == "1",
      opt("work"), opt("cores").toInt)
    val code =
      try {
        println(measuredJson(workload.run(ctx)))
        0
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          2
      } finally {
        ctx.heap.stop()
        SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
      }
    System.out.flush()
    sys.exit(code)
  }

  /** Everything the run measured; run.py picks the metrics
    * BENCHMARK.json names. A value that could not be measured is null. */
  private def measuredJson(out: Outcome): String = {
    val ms = out.metrics.toSeq.sortBy(_._1).map { case (n, v) =>
      s""""$n": ${if (v.isNaN || v.isInfinite) "null" else v.toString}"""
    }
    s"""{"attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }
}
