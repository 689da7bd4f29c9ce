package graft.queries

import graft.{SparkEntry, SparkTestBase}

/** Contract sanity over sf0.001: every gated query runs and every
  * oracle key points at a real query. */
class QueriesSpec extends SparkTestBase {

  test("every oracle key has a query") {
    val qs = SparkEntry.queries.keySet
    val missing = SparkEntry.oracleSql.keySet -- qs
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all queries execute on sf0.001 and return rows") {
    // every streaming gate also leaves the session conf and the temp
    // dir as it found them: no `graft-<tag>-` entry survives it
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratch(tag: String): Set[String] =
      Option(tmp.list()).toSeq.flatten.filter(_.startsWith(s"graft-$tag-")).toSet
    val drift = Seq.newBuilder[String]
    val empties = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val tag = name.takeWhile(_ != '_')
        val (conf0, dirs0) = (spark.conf.getAll, scratch(tag))
        val n = fn(spark, sf()).count()
        if (StreamingQueries.queries.contains(name)) {
          val conf1 = spark.conf.getAll
          if (conf1 != conf0) drift += s"$name conf: " +
            s"${(conf0.toSet -- conf1.toSet).toMap} -> ${(conf1.toSet -- conf0.toSet).toMap}"
          val left = scratch(tag) -- dirs0
          if (left.nonEmpty) drift += s"$name left ${left.toSeq.sorted}"
        }
        if (n == 0) Some(name) else None
    }
    // q08 may legitimately be empty at tiny scale; nothing else should.
    assert(empties.forall(_ == "q08_assignment_diff"), s"empty results: $empties")
    assert(drift.result().isEmpty, drift.result().mkString("\n"))
  }

  test("a gate scope releases what it took when its body throws") {
    // a key no suite sets, so it is unset whatever ran before
    val (setKey, unsetKey) = ("spark.sql.shuffle.partitions", "spark.graft.scopeProbe")
    val setBefore = spark.conf.get(setKey)
    assert(!spark.conf.getAll.contains(unsetKey))
    // the manager's root outlives the scope, so its registration shows
    // whether the scope closed it
    val root = java.nio.file.Files.createTempDirectory("graft-scopespec-").toString
    var dirs = Seq.empty[String]
    val boom = intercept[IllegalStateException] {
      StreamingQueries.gate(spark, "scope") { g =>
        dirs = Seq(g.dir("a"), g.dir("b"))
        g.pin(setKey -> 7, unsetKey -> "on")
        g.track(new graft.streaming.PipelineManager(spark, root, instance = "scope"))
        assert(spark.conf.get(setKey) == "7" && spark.conf.getAll.contains(unsetKey))
        throw new IllegalStateException("body failed")
      }
    }
    assert(boom.getMessage == "body failed")
    assert(dirs.nonEmpty && dirs.forall(d => !new java.io.File(d).exists), dirs)
    assert(spark.conf.get(setKey) == setBefore)
    assert(!spark.conf.getAll.contains(unsetKey), "an unset conf must be unset again")
    // a manager left open keeps its registration live: a second one
    // under the same id would be refused
    new graft.streaming.PipelineManager(spark, root, instance = "scope").close()
  }
}
