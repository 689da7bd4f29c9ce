package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /**
   * Parse the optional dev filter. Loud on misuse: an empty value or a
   * name that matches no query fails immediately instead of silently
   * dumping nothing (which would read as a green-but-empty run).
   */
  def parseOnly(v: Option[String]): Option[Set[String]] = v.map { s =>
    val names = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
    require(names.nonEmpty,
      "SPARK_GRAFT_ONLY is set but names no queries — unset it for a full run")
    val unknown = names.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    names
  }

  /**
   * A filtered run writes oracle_sql.partial.json, never the driver's
   * oracle_sql.json artifact — so a dev iteration can never leave a
   * subset file where the driver (or a later full run's reader)
   * expects the complete query inventory.
   */
  def oracleFileName(only: Option[Set[String]]): String =
    if (only.isDefined) "oracle_sql.partial.json" else "oracle_sql.json"

  def run(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Unit = {
    new java.io.File(outDir).mkdirs()
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None        => SparkEntry.queries
    }
    // Same execution discipline as Bench (it exists for correctness
    // here, not timing): batch families first, d/e scratch released
    // before the wide t-family, the state-store-heavy s-family last
    // with a provider unload after each gate — peak heap in the
    // driver's correctness run stays family-local.
    val familyRank: Char => Int =
      Map('d' -> 0, 'e' -> 1, 'm' -> 2, 'p' -> 3, 'q' -> 4, 't' -> 5,
        's' -> 6).withDefaultValue(4)
    var released = false
    selected.toSeq.sortBy { case (n, _) => (familyRank(n.head), n) }
      .foreach { case (name, fn) =>
        if (!released && familyRank(name.head) >= 5) {
          graft.queries.DataOpsQueries.release(sfDir)
          released = true
        }
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        if (name.startsWith("s")) {
          org.apache.spark.sql.GraftBridge.unloadStateStores()
        }
      }
    // Scope teardown: drop the per-corpus materialize-once artifacts
    // (signature spill, band index, codebook, window spills) now that
    // the run is done.
    graft.queries.DataOpsQueries.release(sfDir)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter(kv => only.forall(_(kv._1)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/${oracleFileName(only)}"), json)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = HarnessSession("4")
    run(spark, sfDir, outDir, parseOnly(sys.env.get("SPARK_GRAFT_ONLY")))
    spark.stop()
  }
}
