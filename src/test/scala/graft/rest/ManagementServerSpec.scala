package graft.rest

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.streaming.PipelineManager

/**
 * End-to-end management-plane lifecycle over real HTTP — the Spark
 * analog of the reference's TestDatastreamServer REST tests
 * (create → start → deliver → pause → resume → diag → delete).
 */
class ManagementServerSpec extends SparkTestBase {
  import spark.implicits._

  private val client = HttpClient.newHttpClient()

  private def req(base: String, method: String, path: String,
      body: Option[String] = None, owner: String = "alice") = {
    // Always a timeout: a handler that dies without responding (the
    // Throwable path the server now answers 500 for) must fail THIS
    // test loudly, never park send() forever and wedge the battery.
    // 180 s dominates any await=true delivery under full-battery load.
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .timeout(java.time.Duration.ofSeconds(180)).header("X-Owner", owner)
    val r = (body match {
      case Some(json) => b.method(method, HttpRequest.BodyPublishers.ofString(json))
      case None => b.method(method, HttpRequest.BodyPublishers.noBody())
    }).build()
    client.send(r, HttpResponse.BodyHandlers.ofString())
  }

  test("full pipeline lifecycle over REST") {
    val pm = new PipelineManager(spark,
      Files.createTempDirectory("graft-rest-").toString)
    var pmAuthOpt: Option[PipelineManager] = None
    val srv = new ManagementServer(pm,
      transforms = Map("tag" -> (df => df.withColumn("tag", lit("t"))))).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val srcDir = Files.createTempDirectory("graft-rest-src-").toString
      Seq((1L, "v1"), (2L, "v2")).toDF("k", "v")
        .write.mode(SaveMode.Append).parquet(srcDir)

      // create
      val created = req(base, "POST", "/pipelines", Some(
        s"""{"name":"r1","connector":"parquet","transport":"parquet",
           |"sourceConnection":"$srcDir","metadata":{"transform":"tag"}}"""
          .stripMargin.replace("\n", "")))
      assert(created.statusCode() == 201, created.body())
      assert(created.body().contains("\"status\":\"Ready\""))
      // a name that would alias a top-level entry of the checkpoint
      // root is refused as a bad request
      val reserved = req(base, "POST", "/pipelines", Some(
        s"""{"name":"specs","connector":"parquet","transport":"parquet",
           |"sourceConnection":"$srcDir"}""".stripMargin.replace("\n", "")))
      assert(reserved.statusCode() == 400, reserved.body())

      // list + get
      assert(req(base, "GET", "/pipelines").body().contains("\"r1\""))
      val got = req(base, "GET", "/pipelines/r1")
      assert(got.statusCode() == 200 && got.body().contains("parquet"))
      assert(req(base, "GET", "/pipelines/nope").statusCode() == 404)

      // start (await) delivers through the named transform
      val started = req(base, "POST", "/pipelines/r1/start?await=true")
      assert(started.statusCode() == 200, started.body())
      val destination = pm.get("r1").get.destinationConnection
      val rows = spark.read.parquet(destination)
        .as[(Long, String, String)].collect().toSet
      assert(rows == Set((1L, "v1", "t"), (2L, "v2", "t")))

      // pause; append; resume (await) picks up only the new file
      assert(req(base, "POST", "/pipelines/r1/pause").body()
        .contains("\"status\":\"Paused\""))
      Seq((3L, "v3")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
      val resumed = req(base, "POST", "/pipelines/r1/resume?await=true")
      assert(resumed.statusCode() == 200 && resumed.body().contains("Ready"))
      assert(spark.read.parquet(destination).count() == 3)

      // diag scatter-gather + per-pipeline detail
      assert(req(base, "GET", "/diag").body().contains("\"r1\""))
      assert(req(base, "GET", "/diag/r1").body().contains("pausedPartitions"))

      // authorization flows through the owner header
      val pmAuth = new PipelineManager(spark,
        Files.createTempDirectory("graft-rest-auth-").toString,
        graft.streaming.PipelineHooks(authorize = (_, o) => o != "mallory"))
      pmAuthOpt = Some(pmAuth)
      val srv2 = new ManagementServer(pmAuth).start()
      try {
        val base2 = s"http://localhost:${srv2.boundPort}"
        val denied = req(base2, "POST", "/pipelines", Some(
          s"""{"name":"x","connector":"parquet","transport":"memory",
             |"sourceConnection":"$srcDir"}""".stripMargin.replace("\n", "")),
          owner = "mallory")
        assert(denied.statusCode() == 400 &&
          denied.body().contains("not authorized"))
      } finally srv2.stop()

      // delete
      assert(req(base, "DELETE", "/pipelines/r1").statusCode() == 200)
      assert(req(base, "GET", "/pipelines/r1").statusCode() == 404)
    } finally {
      srv.stop()
      // close both managers: a leaked manager keeps its listener on
      // the SHARED session for the rest of the battery
      pmAuthOpt.foreach(p => try p.close() catch { case _: Throwable => () })
      pm.close()
    }
  }

  test("diag surfaces the delivered-corpus cardinality sketch") {
    // the Brooklin-diag analog of "how big is this stream's key
    // space": a pipeline opted in via graft.sketchColumn maintains a
    // durable 256-row HLL register table as it delivers, and
    // /diag/{name} serves the estimate — asserted here to be
    // BIT-EQUAL to the library sketch over the same delivered corpus,
    // and within the sketch's standard error of the exact count.
    val pm = new PipelineManager(spark,
      Files.createTempDirectory("graft-rest-hll-").toString)
    val srv = new ManagementServer(pm).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val srcDir = Files.createTempDirectory("graft-rest-hll-src-").toString
      def estimateOf(body: String): Double = {
        val m = """"cardinalityEstimate":([-0-9.Ee+]+)""".r
          .findFirstMatchIn(body)
        assert(m.nonEmpty, s"no cardinalityEstimate in $body")
        m.get.group(1).toDouble
      }
      def wantFor(df: org.apache.spark.sql.DataFrame): Double =
        graft.sketch.Sketch.hllEstimate(
            graft.sketch.Sketch.hllRegisters(df.select(col("v")), col("v")))
          .head().getAs[Double]("hll_est")
      val part1 = (0L until 400L).map(i => (i, s"k${i % 300}"))
        .toDF("k", "v")
      part1.coalesce(1).write.mode(SaveMode.Append).parquet(srcDir)
      val created = req(base, "POST", "/pipelines", Some(
        s"""{"name":"h1","connector":"parquet","transport":"parquet",
           |"sourceConnection":"$srcDir",
           |"metadata":{"graft.sketchColumn":"v"}}"""
          .stripMargin.replace("\n", "")))
      assert(created.statusCode() == 201, created.body())
      // before any delivery: no sketch fields
      assert(!req(base, "GET", "/diag/h1").body()
        .contains("cardinalityEstimate"))
      assert(req(base, "POST", "/pipelines/h1/start?await=true")
        .statusCode() == 200)
      val est1 = estimateOf(req(base, "GET", "/diag/h1").body())
      assert(est1 == wantFor(part1),
        "REST estimate must equal the library sketch over the delivery")
      assert(math.abs(est1 - 300.0) / 300.0 < 0.15,
        s"estimate $est1 outside the sketch's error envelope of 300")
      // a second delivery max-merges: the served estimate tracks the
      // UNION of everything delivered so far
      val part2 = (0L until 200L).map(i => (1000L + i, s"k${200 + (i % 300)}"))
        .toDF("k", "v")
      part2.coalesce(1).write.mode(SaveMode.Append).parquet(srcDir)
      assert(req(base, "POST", "/pipelines/h1/pause").statusCode() == 200)
      assert(req(base, "POST", "/pipelines/h1/resume?await=true")
        .statusCode() == 200)
      val est2 = estimateOf(req(base, "GET", "/diag/h1").body())
      assert(est2 == wantFor(part1.unionByName(part2)),
        "merged estimate must equal the sketch over the full delivered corpus")
      pm.delete("h1")
      assert(pm.cardinality("h1").isEmpty, "delete must drop the sketch")
    } finally { srv.stop(); pm.close() }
  }

  test("diag surfaces durable-index health for an index-maintaining pipeline") {
    // the operator view of the s24-class ingest: a pipeline whose
    // foreachBatch maintains an IncrementalLexIndex registers the
    // index's health provider; /diag/{name} then serves the store's
    // committed epoch / compaction frontier / live file+run counts /
    // deepest tier and the serving corpus stats — asserted here
    // against a LIVE ingest (3 streaming epochs, compaction at e1)
    // and against the same numbers computed directly off the corpus.
    val pm = new PipelineManager(spark,
      Files.createTempDirectory("graft-rest-idx-").toString)
    val srv = new ManagementServer(pm).start()
    val idxDir = Files.createTempDirectory("graft-rest-idx-store-").toString
    val srcDir = Files.createTempDirectory("graft-rest-idx-src-").toString
    val ckpt = Files.createTempDirectory("graft-rest-idx-ckpt-").toString
    try {
      val base = s"http://localhost:${srv.boundPort}"
      def field(body: String, k: String): Double = {
        val m = (s""""$k":([-0-9.Ee+]+)""").r.findFirstMatchIn(body)
        assert(m.nonEmpty, s"no $k in $body")
        m.get.group(1).toDouble
      }
      val docs = spark.read.parquet(s"${sf()}/documents.parquet")
        .select(col("doc_id"), col("text")).limit(90)
      req(base, "POST", "/pipelines", Some(
        s"""{"name":"ix1","connector":"parquet","transport":"parquet",
           |"sourceConnection":"$srcDir"}""".stripMargin.replace("\n", "")))
        .statusCode() // registration only; the ingest below is the work
      val ilx = new graft.streaming.IncrementalLexIndex(spark, idxDir,
        name = "ix1", compactEvery = 2)
      pm.registerIndexHealth("ix1", () => ilx.health)
      // before any epoch: the index block is present with an empty
      // store (ceiling -1) and no corpus stats
      val before = req(base, "GET", "/diag/ix1").body()
      assert(before.contains("\"index\""), s"no index block in $before")
      assert(field(before, "lastCommittedEpoch") == -1.0)
      assert(!before.contains("docsIndexed"))
      // LIVE ingest: three one-file epochs through a real stream
      (0 until 3).foreach { b =>
        docs.filter(pmod(col("doc_id"), lit(3L)) === b)
          .coalesce(1).write.mode(SaveMode.Append).parquet(srcDir)
      }
      val q = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, e: Long) =>
          ilx.appendEpoch(batch, e)
        }.start()
      q.awaitTermination()
      val body = req(base, "GET", "/diag/ix1").body()
      assert(field(body, "lastCommittedEpoch") == 2.0,
        s"3 epochs must read back as ceiling 2: $body")
      assert(field(body, "compactionFrontier") == 1.0,
        "the e1 cadence tick compacted [0,1]")
      assert(field(body, "liveRuns") == 1.0 && field(body, "maxLevel") == 1.0)
      assert(field(body, "liveFiles") >= 1.0)
      assert(field(body, "epochsRewrittenTotal") == 2.0,
        "one level-1 run covering two epochs")
      // corpus stats must be the numbers BM25 serving would use
      val want = docs
        .select(graft.text.Text.tokens(col("text")).as("w"))
        .agg(count(lit(1)).cast("double"),
          avg(org.apache.spark.sql.functions.size(col("w")).cast("double")))
        .head()
      assert(field(body, "docsIndexed") == want.getDouble(0))
      assert(math.abs(field(body, "avgDocLength") - want.getDouble(1)) < 1e-9)
      // delete drops the provider with the pipeline
      pm.delete("ix1")
      assert(pm.indexHealth("ix1").isEmpty,
        "delete must unregister the index-health provider")
    } finally {
      srv.stop(); pm.close()
      Seq(idxDir, srcDir, ckpt).foreach { p =>
        def del(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(del)); f.delete(): Unit
        }
        del(new java.io.File(p))
      }
    }
  }

  test("diag surfaces PQ codebook-drift telemetry after a consumed serve") {
    // Codebook drift is SILENT (fixed codebooks, no errors anywhere);
    // the observable is ADC-vs-exact rank agreement over the last
    // served top-k, surfaced on /diag so an operator sees a drifting
    // corpus before recall decays. Contract: the field appears ONLY
    // after a serve whose result was actually consumed (the metric
    // rides the caller's action via observe(); an unconsumed serve
    // reports nothing), lands in [0,1], and carries its
    // driftTopK/driftRerank window so the k/rerank random-ordering
    // floor is computable by the reader.
    val pm = new PipelineManager(spark,
      Files.createTempDirectory("graft-rest-pq-").toString)
    val srv = new ManagementServer(pm).start()
    val idxDir = Files.createTempDirectory("graft-rest-pq-store-").toString
    try {
      val base = s"http://localhost:${srv.boundPort}"
      def field(body: String, k: String): Double = {
        val m = (s""""$k":([-0-9.Ee+]+)""").r.findFirstMatchIn(body)
        assert(m.nonEmpty, s"no $k in $body")
        m.get.group(1).toDouble
      }
      val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
        .select(col("vec_id"), col("embedding")).limit(64).localCheckpoint()
      val cents = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cent_id"),
          graft.ann.Ann.toDouble(col("embedding")).as("ce"))
      val cb = graft.ann.Ann.pqCodebook(
        graft.ann.Ann.pqSubvectors(emb, 8), 16).localCheckpoint()
      val probes = emb.filter(col("vec_id") < 2).localCheckpoint()
      req(base, "POST", "/pipelines", Some(
        s"""{"name":"pq1","connector":"parquet","transport":"parquet",
           |"sourceConnection":"$idxDir"}""".stripMargin.replace("\n", "")))
        .statusCode(): Unit
      val ipx = new graft.streaming.IncrementalPqIndex(spark, idxDir,
        cents, cb, m = 8, name = "pq1", compactEvery = 2)
      pm.registerIndexHealth("pq1", () => ipx.health)
      ipx.appendEpoch(emb, 0L)
      val b0 = req(base, "GET", "/diag/pq1").body()
      assert(field(b0, "lastCommittedEpoch") == 0.0)
      assert(!b0.contains("adcRankAgreement"),
        s"drift metric must not exist before a consumed serve: $b0")
      // an UNCONSUMED serve must still report nothing (lazy contract)
      ipx.serve(probes, k = 3, nprobe = 2, rerank = 6): Unit
      assert(!req(base, "GET", "/diag/pq1").body()
        .contains("adcRankAgreement"),
        "an unconsumed serve must not publish a drift metric")
      val served = ipx.serve(probes, k = 3, nprobe = 2, rerank = 6)
      assert(served.count() > 0, "serve returned no rows to measure")
      // the observation completes on the listener bus, asynchronously
      // after count() — poll the consumed-serve counter. 120 s: a
      // loaded full battery (the r18 flake condition) can starve the
      // bus for a while; the capacity bump in SparkTestBase prevents
      // outright drops, and a timeout here now fails into the field()
      // asserts below whose messages carry the full /diag body (the
      // counter stuck at 0 = the SQLExecutionEnd event never arrived)
      val dl = System.currentTimeMillis() + 120000L
      while (field(req(base, "GET", "/diag/pq1").body(),
          "driftConsumedServes") < 1.0 &&
          System.currentTimeMillis() < dl) Thread.sleep(10L)
      val b1 = req(base, "GET", "/diag/pq1").body()
      val agree = field(b1, "adcRankAgreement")
      assert(agree >= 0.0 && agree <= 1.0, s"agreement out of range: $agree")
      assert(field(b1, "driftTopK") == 3.0 && field(b1, "driftRerank") == 6.0)
      // stickiness: building a NEWER serve that is never consumed must
      // not wipe the last consumed value off /diag — drift monitoring
      // needs the sustained series, not a flapping field
      ipx.serve(probes, k = 3, nprobe = 2, rerank = 6): Unit
      assert(field(req(base, "GET", "/diag/pq1").body(),
        "adcRankAgreement") == agree,
        "an unconsumed newer serve wiped the last consumed drift value")
    } finally {
      srv.stop(); pm.close()
      def del(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(del)); f.delete(): Unit
      }
      del(new java.io.File(idxDir))
    }
  }

  test("findGroup lists the task group formed by destination-reuse dedup") {
    val pm = new PipelineManager(spark,
      Files.createTempDirectory("graft-rest-grp-").toString)
    val srv = new ManagementServer(pm).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      def create(name: String, source: String) =
        req(base, "POST", "/pipelines", Some(
          s"""{"name":"$name","connector":"parquet","transport":"memory",
             |"sourceConnection":"$source"}"""
            .stripMargin.replace("\n", "")))
      // g1 starts a group; g2 shares g1's source, so the source-based
      // deduper folds it into g1's group (inherited task prefix);
      // solo has its own source and its own one-member group.
      assert(create("g1", "/src/shared").statusCode() == 201)
      assert(create("g2", "/src/shared").statusCode() == 201)
      assert(create("solo", "/src/other").statusCode() == 201)
      assert(pm.get("g2").get.metadata("taskPrefix") == "g1")

      val grp = req(base, "GET", "/pipelines/g1/group")
      assert(grp.statusCode() == 200, grp.body())
      assert(grp.body().contains("\"name\":\"g1\"") &&
        grp.body().contains("\"name\":\"g2\"") &&
        !grp.body().contains("\"name\":\"solo\""))
      // the group is the same asked from either member, and paged
      assert(req(base, "GET", "/pipelines/g2/group").body()
        .contains("\"name\":\"g1\""))
      val paged = req(base, "GET", "/pipelines/g1/group?start=1&count=1")
      assert(!paged.body().contains("\"name\":\"g1\"") &&
        paged.body().contains("\"name\":\"g2\""))
      val soloGrp = req(base, "GET", "/pipelines/solo/group")
      assert(soloGrp.body().contains("\"name\":\"solo\"") &&
        !soloGrp.body().contains("\"name\":\"g1\""))
      assert(req(base, "GET", "/pipelines/nope/group").statusCode() == 404)
    } finally { srv.stop(); pm.close() }
  }

  test("diag fans out to peers and reduces both managers into one payload") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods

    // two managers = two instances, each with its own admin endpoint —
    // the multi-instance deployment the reference's
    // ServerComponentHealthAggregator serves
    val pmA = new PipelineManager(spark,
      Files.createTempDirectory("graft-diag-a-").toString)
    val pmB = new PipelineManager(spark,
      Files.createTempDirectory("graft-diag-b-").toString)
    val srvA = new ManagementServer(pmA).start()
    val srvB = new ManagementServer(pmB).start()
    try {
      def mkPipeline(pm: PipelineManager, name: String, rows: Seq[(Long, String)]): Unit = {
        val srcDir = Files.createTempDirectory(s"graft-diag-src-$name-").toString
        rows.toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
        pm.create(graft.model.PipelineSpec(name, "parquet", "parquet", srcDir))
        pm.start(name, identity)
        pm.queryOf(name).foreach(_.awaitTermination())
      }
      mkPipeline(pmA, "da", Seq((1L, "x"), (2L, "y")))
      mkPipeline(pmB, "db", Seq((3L, "z")))

      val baseA = s"http://localhost:${srvA.boundPort}"
      val resp = req(baseA, "GET", s"/diag?peers=localhost:${srvB.boundPort}")
      assert(resp.statusCode() == 200, resp.body())
      val j = JsonMethods.parse(resp.body())

      // both instances present, each with its own query rows
      val instances = (j \ "instances") match {
        case JArray(xs) => xs
        case other => fail(s"instances must be an array, got $other")
      }
      assert(instances.size == 2)
      val byInstance = instances.map(i =>
        (i \ "instance").asInstanceOf[JString].s -> i).toMap
      assert(byInstance.contains("local") &&
        byInstance.keys.exists(_.startsWith("localhost:")))
      assert(JsonMethods.compact(JsonMethods.render(byInstance("local")))
        .contains("\"da\""))
      assert(JsonMethods.compact(JsonMethods.render(
        byInstance.collectFirst { case (k, v) if k != "local" => v }.get))
        .contains("\"db\""))

      // the reduce folds both managers: 2 hosts, 2+1 queries' rows
      val summary = (j \ "summary") match {
        case JArray(xs) => xs
        case other => fail(s"summary must be an array, got $other")
      }
      assert(summary.nonEmpty)
      val stopped = summary.find(s =>
        (s \ "status") == JString("STOPPED")).getOrElse(fail("no STOPPED row"))
      def num(j: JValue): Long = j match {
        case JLong(v) => v
        case JInt(v) => v.toLong
        case other => fail(s"not a number: $other")
      }
      assert(num(stopped \ "hosts") == 2L, JsonMethods.compact(
        JsonMethods.render(stopped)))
      assert(num(stopped \ "records") == 2L) // one query row per manager
      assert(num(stopped \ "rows_total") == 3L) // 2 rows + 1 row processed

      // a dead peer degrades to an error entry, not a failed request
      val degraded = req(baseA, "GET", "/diag?peers=localhost:1")
      assert(degraded.statusCode() == 200)
      assert(degraded.body().contains("\"error\""))

      // query-param encoding survives the real HTTP stack end to end:
      // the client percent-encodes, the server splits the RAW query
      // and decodes each component — a peer name with a space and an
      // '&' must come back verbatim as the (degraded) instance key,
      // and a literal unencoded '+' must stay a '+', not a space
      val c = new ManagementClient(baseA)
      val weird = c.diag(Seq("bad host:1&x=y"))
      assert(org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(weird))
        .contains("\"bad host:1&x=y\""),
        "encoded peer name mangled on the wire")
      val plus = req(baseA, "GET", "/diag?peers=a+b:1")
      assert(plus.statusCode() == 200 && plus.body().contains("\"a+b:1\""),
        "literal unencoded '+' must survive (URI convention)")
    } finally { srvA.stop(); srvB.stop(); pmA.close(); pmB.close() }
  }

  test("programmatic client drives the full verb set") {
    import graft.model.{PipelineSpec, PipelineStatus}
    val pm = new PipelineManager(spark,
      Files.createTempDirectory("graft-rest-client-").toString)
    val srv = new ManagementServer(pm,
      instances = Seq("hA", "hB")).start()
    try {
      val c = new ManagementClient(s"http://localhost:${srv.boundPort}",
        owner = "alice")
      val srcDir = Files.createTempDirectory("graft-rest-client-src-").toString
      Seq((1L, "v1"), (2L, "v2")).toDF("k", "v")
        .write.mode(SaveMode.Append).parquet(srcDir)

      val created = c.create(PipelineSpec("mc", "parquet", "parquet", srcDir,
        sourcePartitions = 4, keySerde = "string"))
      assert(created.status == PipelineStatus.Ready &&
        created.keySerde == "string") // serde fields survive the wire
      assert(c.get("mc").exists(_.destinationConnection.nonEmpty))
      assert(c.get("nope").isEmpty)
      assert(c.list().map(_.name) == Seq("mc"))

      c.start("mc", await = true)
      assert(spark.read.parquet(created.destinationConnection).count() == 2)

      // assignment + move through the typed API
      assert(c.assignment("mc").keySet == Set("0", "1", "2", "3"))
      assert(c.taskInstance("mc", "0").contains("hA"))
      assert(c.taskInstance("mc", "9").isEmpty)
      c.movePartitions("mc", Seq("0"), "hB")
      assert(c.taskInstance("mc", "0").contains("hB"))

      // lifecycle with typed statuses + error mapping
      assert(c.pause("mc").status == PipelineStatus.Paused)
      assert(c.resume("mc", await = true).status == PipelineStatus.Ready)
      assert(c.stop("mc").status == PipelineStatus.Stopped)
      val denied = intercept[ManagementClientException] {
        new ManagementClient(s"http://localhost:${srv.boundPort}",
          owner = "x").movePartitions("mc", Seq("1"), "hA")
      }
      assert(denied.status == 405) // stopped, not READY
      c.delete("mc")
      assert(c.get("mc").isEmpty)
      assert((c.health() \ "clusterName") ==
        org.json4s.JString("graft"))
    } finally { srv.stop(); pm.close() }
  }

  test("CLI adapter round-trips through a live server") {
    val pm = new PipelineManager(spark,
      Files.createTempDirectory("graft-rest-cli-").toString)
    val srv = new ManagementServer(pm).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val srcDir = Files.createTempDirectory("graft-rest-cli-src-").toString
      Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
      def cli(args: String*): String = {
        val buf = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(buf)) {
          ManagementCli.main((base +: args).toArray)
        }
        buf.toString("UTF-8").trim
      }
      val created = cli("create",
        s"""{"name":"cl1","connector":"parquet","transport":"parquet","sourceConnection":"$srcDir"}""")
      assert(created.contains("\"status\":\"Ready\""), created)
      assert(cli("list").contains("\"cl1\""))
      assert(cli("start", "cl1", "--await").contains("started"))
      assert(cli("assignment", "cl1", "0").contains("\"instance\""))
      assert(cli("pause", "cl1").contains("Paused"))
      assert(cli("resume", "cl1", "--await").contains("Ready"))
      assert(cli("stop", "cl1").contains("Stopped"))
      assert(cli("health").contains("clusterName"))
      assert(cli("delete", "cl1").contains("deleted"))
      intercept[RuntimeException] { cli("get", "cl1") }
    } finally { srv.stop(); pm.close() }
  }

  test("stop is distinct from pause and resume enforces preconditions") {
    val pm = new PipelineManager(spark,
      Files.createTempDirectory("graft-rest-stop-").toString)
    val srv = new ManagementServer(pm).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val srcDir = Files.createTempDirectory("graft-rest-stop-src-").toString
      Seq((1L, "v1"), (2L, "v2")).toDF("k", "v")
        .write.mode(SaveMode.Append).parquet(srcDir)
      // two same-source pipelines = one task group (D1 dedup)
      req(base, "POST", "/pipelines", Some(
        s"""{"name":"g1","connector":"parquet","transport":"parquet",
           |"sourceConnection":"$srcDir"}""".stripMargin.replace("\n", "")))
      req(base, "POST", "/pipelines", Some(
        s"""{"name":"g2","connector":"parquet","transport":"parquet",
           |"sourceConnection":"$srcDir"}""".stripMargin.replace("\n", "")))

      // resuming a READY stream is a 405 (reference precondition)
      assert(req(base, "POST", "/pipelines/g1/resume").statusCode() == 405)

      // force-stop ripples through the whole task group
      val stopped = req(base, "POST", "/pipelines/g1/stop?force=true")
      assert(stopped.statusCode() == 200 &&
        stopped.body().contains("\"status\":\"Stopped\""))
      assert(req(base, "GET", "/pipelines/g2").body().contains("Stopped"))
      // stopping an already-stopped stream is a no-op 200
      assert(req(base, "POST", "/pipelines/g1/stop").statusCode() == 200)

      // force-resume revives every stopped group member and delivers
      val resumed = req(base, "POST",
        "/pipelines/g1/resume?await=true&force=true")
      assert(resumed.statusCode() == 200 && resumed.body().contains("Ready"))
      assert(req(base, "GET", "/pipelines/g2").body().contains("Ready"))
      assert(spark.read.parquet(pm.get("g1").get.destinationConnection)
        .count() >= 2) // g1+g2 share the dest; each delivered the rows
      assert(req(base, "POST", "/pipelines/nope/stop").statusCode() == 404)

      // health rollup: cluster + instance identity, per-connector
      // tasks with status and source/destination facts, resolvable
      // transform names
      val health = req(base, "GET", "/health")
      assert(health.statusCode() == 200, health.body())
      assert(health.body().contains("\"clusterName\":\"graft\""))
      assert(health.body().contains("\"transforms\":[\"identity\"]"),
        health.body())
      assert(health.body().contains("\"connectorName\":\"parquet\""))
      assert(health.body().contains("\"g1\"") &&
        health.body().contains("\"g2\""))
    } finally { srv.stop(); pm.close() }
  }

  test("group lifecycle over REST: force start fans out one query, per-member pause holds, resume replays") {
    val pm = new PipelineManager(spark,
      Files.createTempDirectory("graft-rest-grp-").toString)
    val srv = new ManagementServer(pm).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val srcDir = Files.createTempDirectory("graft-rest-grp-src-").toString
      val destX = Files.createTempDirectory("graft-rest-grp-dx-").toString + "/d"
      val destY = Files.createTempDirectory("graft-rest-grp-dy-").toString + "/d"
      Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
      // two same-source BYOT specs = one task group, distinct sinks
      req(base, "POST", "/pipelines", Some(
        s"""{"name":"gm1","connector":"parquet","transport":"parquet",
           |"sourceConnection":"$srcDir","destinationConnection":"$destX"}"""
          .stripMargin.replace("\n", "")))
      req(base, "POST", "/pipelines", Some(
        s"""{"name":"gm2","connector":"parquet","transport":"parquet",
           |"sourceConnection":"$srcDir","destinationConnection":"$destY"}"""
          .stripMargin.replace("\n", "")))
      val grp = req(base, "GET", "/pipelines/gm1/group")
      assert(grp.body().contains("\"gm1\"") && grp.body().contains("\"gm2\""))
      // force start = the whole group as ONE shared query (the force
      // ActionParam scope applied to start); both sinks receive
      assert(req(base, "POST",
        "/pipelines/gm1/start?await=true&force=true").statusCode() == 200)
      assert(pm.queryOf("gm1").isDefined &&
        (pm.queryOf("gm1").get eq pm.queryOf("gm2").get),
        "force start did not share one query across the group")
      assert(spark.read.parquet(destX).count() == 1 &&
        spark.read.parquet(destY).count() == 1)
      // default pause scope = ONE member (reference force=false):
      // sibling keeps delivering, the paused member's epochs hold
      val paused = req(base, "POST", "/pipelines/gm2/pause")
      assert(paused.statusCode() == 200 &&
        paused.body().contains("\"status\":\"Paused\""))
      assert(req(base, "GET", "/pipelines/gm1").body().contains("Ready"))
      Seq((2L, "v2")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
      assert(req(base, "POST",
        "/pipelines/gm1/start?await=true&force=true").statusCode() == 200)
      assert(spark.read.parquet(destX).count() == 2, "sibling delivery stalled")
      assert(spark.read.parquet(destY).count() == 1, "paused member received")
      // resume replays the held epoch into the member's sink exactly
      // once
      val resumed = req(base, "POST", "/pipelines/gm2/resume?await=true")
      assert(resumed.statusCode() == 200 && resumed.body().contains("Ready"))
      assert(spark.read.parquet(destY).as[(Long, String)].collect().toSet ==
        Set((1L, "v1"), (2L, "v2")), "holdback replay lost or duplicated rows")
    } finally { srv.stop(); pm.close() }
  }

  test("partition-level pause/resume verbs hold and replay over REST") {
    val pm = new PipelineManager(spark,
      Files.createTempDirectory("graft-rest-pp-").toString)
    val srv = new ManagementServer(pm).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val srcDir = Files.createTempDirectory("graft-rest-pp-src-").toString
      Seq((1L, "vA"), (2L, "vB"), (3L, "vA"), (4L, "vB")).toDF("k", "v")
        .write.mode(SaveMode.Append).parquet(srcDir)
      req(base, "POST", "/pipelines", Some(
        s"""{"name":"pp","connector":"parquet","transport":"parquet",
           |"sourceConnection":"$srcDir"}""".stripMargin.replace("\n", "")))

      // pause vA at the partition level, then run: vA rows are HELD
      // (durable holdback), not delivered and not dropped
      val paused = req(base, "POST",
        "/pipelines/pp/pauseSourcePartitions?await=true",
        Some("""{"partitionCol":"v","partitions":"vA"}"""))
      assert(paused.statusCode() == 200 && paused.body().contains("vA"),
        paused.body())
      val dest = pm.get("pp").get.destinationConnection
      val delivered = spark.read.parquet(dest)
        .as[(Long, String)].collect().toSet
      assert(delivered == Set((2L, "vB"), (4L, "vB")))
      assert(req(base, "GET", "/diag/pp").body().contains("vA"))

      // "*" resumes everything paused; held rows replay exactly once
      val resumed = req(base, "POST",
        "/pipelines/pp/resumeSourcePartitions?await=true",
        Some("""{"partitions":"*"}"""))
      assert(resumed.statusCode() == 200 &&
        !resumed.body().contains("vA"), resumed.body())
      val all = spark.read.parquet(dest).as[(Long, String)].collect().toSeq
      assert(all.toSet == Set((1L, "vA"), (2L, "vB"), (3L, "vA"), (4L, "vB")))
      assert(all.size == 4)

      // conflict paths: missing partitionCol 400, unknown pipeline
      // 404, non-READY 405
      assert(req(base, "POST", "/pipelines/pp/pauseSourcePartitions",
        Some("""{"partitions":"vB"}""")).statusCode() == 400)
      assert(req(base, "POST", "/pipelines/nope/pauseSourcePartitions",
        Some("""{"partitionCol":"v","partitions":"vA"}""")).statusCode() == 404)
      req(base, "POST", "/pipelines/pp/pause")
      assert(req(base, "POST", "/pipelines/pp/resumeSourcePartitions",
        Some("""{"partitions":"*"}""")).statusCode() == 405)
    } finally { srv.stop(); pm.close() }
  }

  test("task assignment view and movePartitions verbs") {
    val pm = new PipelineManager(spark,
      Files.createTempDirectory("graft-rest-move-").toString)
    val srv = new ManagementServer(pm,
      instances = Seq("hostA", "hostB")).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val srcDir = Files.createTempDirectory("graft-rest-move-src-").toString
      Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
      req(base, "POST", "/pipelines", Some(
        s"""{"name":"mv","connector":"parquet","transport":"parquet",
           |"sourceConnection":"$srcDir","sourcePartitions":4}"""
          .stripMargin.replace("\n", "")))

      // initial deal: 4 tasks round-robined over the 2-host ring
      val table = req(base, "GET", "/pipelines/mv/assignment")
      assert(table.statusCode() == 200, table.body())
      assert(table.body().contains("hostA") && table.body().contains("hostB"))
      val one = req(base, "GET", "/pipelines/mv/assignment?task=0")
      assert(one.statusCode() == 200 &&
        one.body().contains("\"instance\":\"hostA\""))

      // not-found paths: unknown pipeline 404, unknown task 404
      assert(req(base, "GET", "/pipelines/nope/assignment").statusCode() == 404)
      assert(req(base, "GET", "/pipelines/mv/assignment?task=9")
        .statusCode() == 404)

      // move 0,2 to hostB; untouched tasks keep their owner (sticky)
      val moved = req(base, "POST", "/pipelines/mv/movePartitions", Some(
        """{"partitions":"0,2","targetHost":"hostB"}"""))
      assert(moved.statusCode() == 200, moved.body())
      val after = req(base, "GET", "/pipelines/mv/assignment?task=0")
      assert(after.body().contains("\"instance\":\"hostB\""))
      assert(req(base, "GET", "/pipelines/mv/assignment?task=1").body()
        .contains("hostB")) // task 1's original round-robin owner

      // notify=false stages; the staged move applies on the next
      // notifying call (the reference's batch-later path)
      val stagedResp = req(base, "POST", "/pipelines/mv/movePartitions", Some(
        """{"partitions":"3","targetHost":"hostA","notify":false}"""))
      assert(stagedResp.statusCode() == 200 &&
        stagedResp.body().contains("\"staged\":true"))
      assert(req(base, "GET", "/pipelines/mv/assignment?task=3").body()
        .contains("hostB")) // not applied yet
      req(base, "POST", "/pipelines/mv/movePartitions", Some(
        """{"partitions":"1","targetHost":"hostA"}"""))
      assert(req(base, "GET", "/pipelines/mv/assignment?task=3").body()
        .contains("hostA"))

      // applied moves are durable: a FRESH server over the same
      // manager (and, via the spec store, a fresh manager) rebuilds
      // the table with the pins intact
      val srv2 = new ManagementServer(pm,
        instances = Seq("hostA", "hostB")).start()
      try {
        val base2 = s"http://localhost:${srv2.boundPort}"
        assert(req(base2, "GET", "/pipelines/mv/assignment?task=0").body()
          .contains("hostB"), "pinned assignment lost on server restart")
        assert(req(base2, "GET", "/pipelines/mv/assignment?task=3").body()
          .contains("hostA"))
      } finally srv2.stop()

      // conflict paths: partitions out of range 400, missing target
      // 400, non-READY pipeline 405
      assert(req(base, "POST", "/pipelines/mv/movePartitions", Some(
        """{"partitions":"7","targetHost":"hostA"}""")).statusCode() == 400)
      assert(req(base, "POST", "/pipelines/mv/movePartitions", Some(
        """{"partitions":"1"}""")).statusCode() == 400)
      req(base, "POST", "/pipelines/mv/pause")
      val notReady = req(base, "POST", "/pipelines/mv/movePartitions", Some(
        """{"partitions":"1","targetHost":"hostA"}"""))
      assert(notReady.statusCode() == 405, notReady.body())
      assert(req(base, "POST", "/pipelines/nope/movePartitions", Some(
        """{"partitions":"1","targetHost":"hostA"}""")).statusCode() == 404)
    } finally { srv.stop(); pm.close() }
  }

  test("a second live manager's REST start is a 409 naming the lock owner") {
    val root = Files.createTempDirectory("graft-rest-409-").toString
    val srcDir = Files.createTempDirectory("graft-rest-409-src-").toString
    Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val pmA = new PipelineManager(spark, root, instance = "hostA")
    val srvA = new ManagementServer(pmA).start()
    try {
      val baseA = s"http://localhost:${srvA.boundPort}"
      assert(req(baseA, "POST", "/pipelines", Some(
        s"""{"name":"mx","connector":"parquet","transport":"parquet","sourceConnection":"$srcDir"}"""))
        .statusCode() == 201)
      assert(req(baseA, "POST", "/pipelines/mx/start?await=true").statusCode() == 200)
      // hostB joins the cluster on the same durable root
      val pmB = new PipelineManager(spark, root, instance = "hostB")
      val srvB = new ManagementServer(pmB).start()
      try {
        val resp = req(s"http://localhost:${srvB.boundPort}", "POST",
          "/pipelines/mx/start")
        assert(resp.statusCode() == 409, resp.body())
        assert(resp.body().contains("hostA"), resp.body())
      } finally { srvB.stop(); pmB.close() }
    } finally { srvA.stop(); pmA.close() }
  }

  test("managed index rebuild: three REST calls drive the s32 cutover with zero-downtime serving") {
    // The s32 retrain-and-rebuild protocol as a MANAGED operation:
    // POST /pipelines/{name}/rebuildIndex starts the background
    // backfill beside the live store, GET polls progress (state,
    // epochs done vs plan, both stores' committed ceilings — also on
    // /diag/{name} next to the adcRankAgreement that triggers the
    // remedy), serving stays bit-identical on the OLD index until the
    // ceiling-gated cutover, then reads swap and the old store is
    // swept. Epoch 1 of the backfill is held on a latch so the
    // mid-backfill serve is deterministic, never timing-lucky.
    val pm = new PipelineManager(spark,
      Files.createTempDirectory("graft-rest-rb-").toString)
    val srv = new ManagementServer(pm).start()
    val idxA = Files.createTempDirectory("graft-rest-rb-a-").toString
    val idxB = Files.createTempDirectory("graft-rest-rb-b-").toString
    try {
      val base = s"http://localhost:${srv.boundPort}"
      def field(body: String, k: String): Double = {
        val m = (s""""$k":([-0-9.Ee+]+)""").r.findFirstMatchIn(body)
        assert(m.nonEmpty, s"no $k in $body")
        m.get.group(1).toDouble
      }
      val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
        .select(col("vec_id"), col("embedding")).limit(64).localCheckpoint()
      val cents = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cent_id"),
          graft.ann.Ann.toDouble(col("embedding")).as("ce"))
      val subs = graft.ann.Ann.pqSubvectors(emb, 8)
      val cbOld = graft.ann.Ann.pqCodebook(subs, 16).localCheckpoint()
      // the "retrained" codebook: s32's deterministic stand-in for a
      // refit on a drifted corpus
      val cbNew = subs.filter(col("vec_id") >= 16 && col("vec_id") < 32)
        .select(col("sub"), (col("vec_id") - 16).cast("int").as("code"),
          col("sv").as("cv")).localCheckpoint()
      val probes = emb.filter(col("vec_id") < 2).localCheckpoint()
      req(base, "POST", "/pipelines", Some(
        s"""{"name":"pqr","connector":"parquet","transport":"parquet",
           |"sourceConnection":"$idxA"}""".stripMargin.replace("\n", "")))
        .statusCode(): Unit
      val ipxA = new graft.streaming.IncrementalPqIndex(spark, idxA,
        cents, cbOld, m = 8, name = "pqrA", compactEvery = 2)
      ipxA.appendEpoch(emb, 0L)
      // serving goes through a swappable slot; health follows it
      val slot = new java.util.concurrent.atomic.AtomicReference(ipxA)
      pm.registerIndexHealth("pqr", () => slot.get().health)
      def serveSet() = slot.get().serve(probes, k = 3, nprobe = 2,
        rerank = 6).collect().map(_.toString).toSet
      val epoch1Gate = new java.util.concurrent.CountDownLatch(1)
      val ipxB = new graft.streaming.IncrementalPqIndex(spark, idxB,
        cents, cbNew, m = 8, name = "pqrB", compactEvery = 2)
      pm.registerIndexRebuilder("pqr", new graft.streaming.IndexRebuilder {
        def planEpochs: Long = 2L
        def backfillEpoch(epoch: Long): Unit = {
          if (epoch == 1L) epoch1Gate.await()
          ipxB.appendEpoch(
            emb.filter(pmod(col("vec_id"), lit(2L)) === epoch), epoch)
        }
        def oldCeiling: Long = ipxA.cellStore.committedEpochCeiling
        def newCeiling: Long = ipxB.cellStore.committedEpochCeiling
        def cutover(): Unit = {
          slot.set(ipxB)
          def del(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(del)); f.delete(): Unit
          }
          del(new java.io.File(idxA))
        }
      })
      val pre = serveSet()
      assert(pre.nonEmpty)
      // no rebuild recorded yet → 404; and a pipeline with no
      // registered rebuilder 404s the POST ("unknown" shape)
      assert(req(base, "GET", "/pipelines/pqr/rebuildIndex")
        .statusCode() == 404)
      req(base, "POST", "/pipelines", Some(
        """{"name":"norb","connector":"parquet","transport":"memory",
          |"sourceConnection":"x"}""".stripMargin.replace("\n", "")))
        .statusCode(): Unit
      assert(req(base, "POST", "/pipelines/norb/rebuildIndex")
        .statusCode() == 404)
      // REST call 1: start the rebuild (background)
      val posted = req(base, "POST", "/pipelines/pqr/rebuildIndex")
      assert(posted.statusCode() == 202, posted.body())
      // a second POST while backfilling is a 409 (the house
      // locked shape — the running rebuild owns the index)
      assert(req(base, "POST", "/pipelines/pqr/rebuildIndex")
        .statusCode() == 409)
      // REST call 2: poll progress to the deterministic mid-point
      // (epoch 0 committed, epoch 1 held on the latch)
      val deadline = System.currentTimeMillis() + 90000L
      def progress() = req(base, "GET", "/pipelines/pqr/rebuildIndex").body()
      while (field(progress(), "epochsDone") < 1.0 &&
          System.currentTimeMillis() < deadline) Thread.sleep(20L)
      val mid = progress()
      assert(field(mid, "epochsDone") == 1.0, mid)
      assert(mid.contains("\"state\":\"backfilling\""), mid)
      assert(field(mid, "oldCeiling") == 0.0, mid)
      assert(field(mid, "newCeiling") == 0.0, mid)
      // /diag carries the same progress beside the index health
      val diag = req(base, "GET", "/diag/pqr").body()
      assert(diag.contains("\"rebuild\""), diag)
      assert(diag.contains("\"state\":\"backfilling\""), diag)
      // THE OPERATIONAL CLAIM: old index serves bit-identically
      // mid-backfill
      assert(serveSet() == pre,
        "serving changed while the rebuild was backfilling")
      // REST call 3: release the backfill, poll to completion
      epoch1Gate.countDown()
      while (!progress().contains("\"state\":\"complete\"") &&
          System.currentTimeMillis() < deadline) Thread.sleep(20L)
      val fin = progress()
      assert(fin.contains("\"state\":\"complete\""), fin)
      assert(field(fin, "epochsDone") == 2.0, fin)
      assert(field(fin, "newCeiling") == 1.0, fin)
      // reads cut over (new codebook's index now serves)...
      assert(serveSet().nonEmpty)
      // ...health follows the slot...
      assert(req(base, "GET", "/diag/pqr").body()
        .contains("lastCommittedEpoch"))
      // ...and the old store was swept
      assert(!new java.io.File(idxA).exists(),
        "cutover must sweep the superseded store")
    } finally {
      srv.stop(); pm.close()
      Seq(idxA, idxB).foreach { p =>
        def del(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(del)); f.delete(): Unit
        }
        del(new java.io.File(p))
      }
    }
  }

  test("path segments with '/', space, and '?' round-trip encoded") {
    // The client percent-encodes interpolated path segments and the
    // server splits the RAW path before decoding — so a hostile name
    // routes as ONE segment instead of restructuring the request.
    val pm = new PipelineManager(spark,
      Files.createTempDirectory("graft-rest-seg-").toString)
    val srv = new ManagementServer(pm).start()
    try {
      val base = s"http://localhost:${srv.boundPort}"
      val mc = new ManagementClient(base, owner = "alice")
      val srcDir = Files.createTempDirectory("graft-rest-seg-src-").toString
      Seq((1L, "v1")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
      val name = "team a/pipe?1"
      mc.create(graft.model.PipelineSpec(name, "parquet", "memory", srcDir))
      // get/list see the literal name; the unencoded prefix segment
      // alone is a 404, proving the encoded form didn't split
      assert(mc.get(name).exists(_.name == name))
      assert(mc.get("team a").isEmpty)
      mc.pause(name)
      assert(mc.get(name).exists(_.status.toString == "Paused"))
      mc.delete(name)
      assert(mc.get(name).isEmpty)
    } finally { srv.stop(); pm.close() }
  }

  test("routed lifecycle verbs over REST: accepted on the non-owner, enacted by the owner's tick") {
    // q77/q79 at the REST layer: a pause/delete POSTed to a server
    // whose manager does NOT run the query returns 200 = ACCEPTED
    // (the durable lifecycle-request), and the OWNING manager's
    // autoHeartbeat tick enacts it — the reference's coordinator
    // routing, observed end-to-end through real HTTP
    val root = Files.createTempDirectory("graft-xrest-").toString
    val srcDir = Files.createTempDirectory("graft-xrest-src-").toString
    Seq((1L, "x")).toDF("k", "v").write.mode(SaveMode.Append).parquet(srcDir)
    val dest = Files.createTempDirectory("graft-xrest-dest-").toString + "/d"
    val lease = 600000L
    val pmA = new PipelineManager(spark, root, instance = "A",
      livenessLeaseMs = lease, autoHeartbeat = true,
      heartbeatIntervalMs = 50L)
    pmA.create(graft.model.PipelineSpec("xr", "parquet", "parquet", srcDir,
      destinationConnection = dest))
    val q0 = pmA.start("xr", identity,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
    val pmB = new PipelineManager(spark, root, instance = "B",
      livenessLeaseMs = lease)
    val srvB = new ManagementServer(pmB).start()
    try {
      assert(pmA.heartbeat(), "A's lease lapsed during setup")
      val base = s"http://localhost:${srvB.boundPort}"
      val resp = req(base, "POST", "/pipelines/xr/pause")
      assert(resp.statusCode() == 200, resp.body())
      // wait for the status flip, not just the query stop — the
      // enacting pause stops the query BEFORE flipping the status
      val deadline = System.currentTimeMillis() + 90000L
      while ((q0.isActive ||
          pmA.get("xr").get.status != graft.model.PipelineStatus.Paused) &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(20L)
      assert(!q0.isActive, "the owner's tick never enacted the routed pause")
      assert(pmA.get("xr").get.status == graft.model.PipelineStatus.Paused)
      // resume on the non-owner: the lock is still A's (pause keeps
      // it), so the handler must ROUTE — the owner restarts from its
      // remembered run, never a second query from B
      val res = req(base, "POST", "/pipelines/xr/resume")
      assert(res.statusCode() == 200, res.body())
      assert(pmB.queryOf("xr").isEmpty, "the non-owner must start nothing")
      val dl1 = System.currentTimeMillis() + 90000L
      while (!pmA.queryOf("xr").exists(_.isActive) &&
          System.currentTimeMillis() < dl1) Thread.sleep(20L)
      assert(pmA.queryOf("xr").exists(_.isActive),
        "the owner's tick never enacted the routed resume")
      assert(pmA.get("xr").get.status == graft.model.PipelineStatus.Ready)
      // delete on the non-owner (the lock is still A's): accepted,
      // then the owner's tick runs the DESTRUCTIVE body with locks it
      // actually holds — stopping the resumed query first
      val del = req(base, "DELETE", "/pipelines/xr")
      assert(del.statusCode() == 200, del.body())
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      // poll BOTH artifacts: the enactment sweeps the checkpoint and
      // then removes the spec file, but the tick is asynchronous to
      // this thread — polling only one and asserting the other raced
      // the enactment's last steps under battery load
      val dl2 = System.currentTimeMillis() + 90000L
      while ((fs.exists(new org.apache.hadoop.fs.Path(s"$root/specs/xr.json")) ||
          fs.exists(new org.apache.hadoop.fs.Path(s"$root/xr"))) &&
          System.currentTimeMillis() < dl2) Thread.sleep(20L)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/specs/xr.json")),
        "the owner's tick never enacted the routed delete")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/xr")),
        "the enacted delete must sweep the checkpoint")
    } finally { srvB.stop(); pmB.close(); pmA.close() }
  }
}
