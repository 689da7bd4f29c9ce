package graft.perfbench

import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.model.PipelineSpec
import graft.streaming.{IncrementalLexIndex, IncrementalPqIndex, PipelineHooks, PipelineManager}

/**
 * index_serve: standing hybrid queries over a growing index (the s31
 * shape). Documents arrive open-loop in a seeded order; each epoch a
 * transport registered through PipelineHooks.transports appends the
 * batch to an IncrementalLexIndex and an IncrementalPqIndex, serves a
 * fixed set of keyword and vector queries, fuses them with RRF and
 * commits the answers with epochAppend. The index grows for the whole
 * run. The last epoch's answers must equal a one-shot rebuild over the
 * ingested prefix.
 */
object IndexServe {
  val Docs = 5000
  val Vocab = 2000
  val Dim = 32
  val PeriodMs = 1000L
  val DocsPerFile = 20
  val Epochs = 5
  val Name = "ixserve"
  val K = 10

  private val schema = MessageTypeParser.parseMessageType(
    """message doc {
      |  required int64 doc_id;
      |  required binary text (STRING);
      |  required int64 ts;
      |}""".stripMargin)

  /** Seeded corpus: Zipf-distributed words, Gaussian embeddings. */
  final case class Corpus(texts: Array[String], order: Array[Int], queries: Seq[(String, Seq[String])])

  def corpus(seed: Long): Corpus = {
    val rnd = new java.util.Random(seed)
    val zipf = new Zipf(Vocab, 1.0 + 0.2 * rnd.nextDouble())
    val texts = Array.tabulate(Docs) { d =>
      val r = new java.util.Random(seed * 31L + d)
      Seq.fill(20 + r.nextInt(40))(s"w${zipf.sample(r)}").mkString(" ")
    }
    val order = scala.util.Random.javaRandomToRandom(rnd).shuffle((0 until Docs).toVector).toArray
    val queries = (0 until 3).map(q => q.toString -> Seq.fill(2)(s"w${5 + rnd.nextInt(200)}"))
    Corpus(texts, order, queries)
  }

  final case class Fixture(feed: OpenLoopFeed, pm: PipelineManager, dir: String,
      serving: Serving)

  /** The fixed serving inputs: embeddings, IVF centroids, the PQ
    * codebook and the probe vectors, staged once per fixture. */
  final class Serving(spark: SparkSession, dir: String, seed: Long, val c: Corpus) {
    import spark.implicits._
    val emb: DataFrame = {
      val rows = (0 until Docs).map { d =>
        val r = new java.util.Random(seed * 131L + d)
        (d.toLong, Array.fill(Dim)(r.nextGaussian().toFloat))
      }
      rows.toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$dir/emb")
      spark.read.parquet(s"$dir/emb")
    }
    val cents: DataFrame = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), Ann.toDouble(col("embedding")).as("ce"))
    val codebook: DataFrame = Ann.pinTiny(Ann.pqCodebook(Ann.pqSubvectors(emb, 8), 16))
    val probes: DataFrame = Ann.pinTiny(emb.filter(col("vec_id") < 3))

    /** RRF-fused top-K per standing query from one lex and one PQ index. */
    def answers(lx: IncrementalLexIndex, px: IncrementalPqIndex): DataFrame = {
      val lex = lx.serveMulti(c.queries, K)
        .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
      val vec = px.serve(probes, k = K, nprobe = 2, rerank = 2 * K)
        .select(col("query_id").cast("string").as("query_id"),
          col("cand_id").as("doc_id"), col("rank").as("vec_rank"))
      val fused = lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)), 6))
      val w = Window.partitionBy(col("query_id")).orderBy(col("rrf").desc, col("doc_id"))
      fused.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= K)
        .select(col("query_id"), col("doc_id"), col("rank"), col("rrf"))
    }

    def lexIndex(d: String) = new IncrementalLexIndex(spark, d, name = "ixl", compactEvery = 4)
    def pqIndex(d: String) =
      new IncrementalPqIndex(spark, d, cents, codebook, m = 8, name = "ixv", compactEvery = 4)
  }

  def spec(dir: String): PipelineSpec =
    PipelineSpec(Name, "parquet", "index", s"$dir/docs", destinationConnection = s"$dir/answers",
      metadata = Map("maxFilesPerTrigger" -> "1"))

  /** The `index` transport: ingest → serve → fuse → commit per epoch.
    * A (re)start opens the indexes on their durable directories. */
  def hooks(timings: Timings, sv: Serving, dir: String): PipelineHooks =
    PipelineHooks(transports = Map("index" -> { (s: PipelineSpec) =>
      val lx = sv.lexIndex(s"$dir/lex")
      val px = sv.pqIndex(s"$dir/vec")
      (batch: DataFrame, epoch: Long) => {
        timings.time("streaming.index_append") {
          lx.appendEpoch(batch.select(col("doc_id"), col("text")), epoch)
          px.appendEpoch(sv.emb.join(batch.select(col("doc_id").as("vec_id")), "vec_id"), epoch)
        }
        timings.time("streaming.serve") {
          graft.streaming.PipelineManager.epochAppend(
            sv.answers(lx, px).withColumn("epoch", lit(epoch)).coalesce(1),
            s.destinationConnection, epoch, s.name): Unit
        }
      }
    }))

  def build(seed: Long, timings: Timings)(spark: SparkSession, dir: String): Fixture = {
    val sv = new Serving(spark, dir, seed, corpus(seed))
    val feed = new OpenLoopFeed(Fs.mkdirs(s"$dir/docs"), PeriodMs, schema, (f, emit) => {
      (0 until f.rows).foreach { i =>
        val d = sv.c.order(((f.firstSeq + i) % Docs).toInt)
        val g = new SimpleGroup(schema)
        g.add("doc_id", d.toLong)
        g.add("text", sv.c.texts(d))
        g.add("ts", f.dueMicros)
        emit(g)
      }
    }, _ => DocsPerFile)
    feed.writeNow(1) // the source infers its schema from a first file
    val pm = new PipelineManager(spark, s"$dir/root", hooks(timings, sv, dir))
    pm.create(spec(dir))
    Fixture(feed, pm, dir, sv)
  }

  /**
   * A traced pass in a fresh session. Batch 0 ingests the fixture's
   * first file and carries session warm-up; once it is acked and the
   * pipeline idles, `Epochs` more files are written at once and drained
   * one per batch (`maxFilesPerTrigger` = 1). The counters are read at
   * those two idle points, so their deltas cover exactly the batches
   * after batch 0. Returns (inputs checked, inputs wrong, per-layer
   * metrics).
   */
  def tracedPass(ctx: Ctx): (Long, Long, Map[String, Double]) = {
    val spark = ctx.newSession()
    val timings = new Timings
    val fx = build(ctx.seed, timings)(spark, Fs.mkdirs(s"${ctx.work}/index"))
    val probe = new LayerProbe(spark)
    val ack = new AckLog(s"${fx.dir}/root/$Name")
    fx.pm.start(Name, identity, org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    val warm = ack.awaitAcked(fx.feed.written.map(_.name), 120000L)
    probe.drain()
    val s1 = probe.snap()
    fx.feed.writeNow(Epochs)
    val drained = ack.awaitAcked(fx.feed.written.map(_.name), 120000L)
    probe.drain()
    val s2 = probe.snap()
    fx.pm.stop(Name)
    fx.pm.close()
    val ps = probe.progressSince(s1).filter(_.batchId > 0)
    val n = math.max(1, ps.size).toDouble
    if (ps.size != Epochs)
      System.err.println(s"index pass: ${ps.size} batches after batch 0, expected $Epochs")
    def mean(ph: String) = Stats.mean(ps.map(LayerProbe.phase(_, ph)))
    val (checked, wrong, storeFiles) = check(spark, fx)
    probe.close()
    spark.stop()
    val layers = Map(
      "streaming.index_epoch_ms" -> mean("triggerExecution"),
      "streaming.index_query_planning_ms" -> mean("queryPlanning"),
      "streaming.index_jobs_per_epoch" -> (s2.jobs - s1.jobs) / n,
      "streaming.index_codegen_compiles_per_epoch" -> (s2.compiles - s1.compiles) / n,
      "streaming.index_append_ms" -> Stats.mean(timings.durationsMs("streaming.index_append").drop(1)),
      "streaming.serve_ms" -> Stats.mean(timings.durationsMs("streaming.serve").drop(1)),
      "streaming.store_files" -> storeFiles.toDouble)
    (fx.feed.rowsWritten + checked, wrong + (if (warm && drained) 0 else 1), layers)
  }

  /** The last committed epoch's answers against a one-shot rebuild of
    * both indexes over every ingested document. Returns (answer rows
    * checked, rows wrong, live index files of the streamed indexes). */
  def check(spark: SparkSession, fx: Fixture): (Long, Long, Long) = {
    val sv = fx.serving
    val out = spark.read.parquet(s"${fx.dir}/answers")
    val last = out.agg(max(col("epoch"))).head().getLong(0)
    val got = out.filter(col("epoch") === last)
      .select(col("query_id"), col("doc_id"), col("rank")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val docs = spark.read.parquet(s"${fx.dir}/docs").select(col("doc_id"), col("text"))
    val lx = sv.lexIndex(s"${fx.dir}/check-lex")
    val px = sv.pqIndex(s"${fx.dir}/check-vec")
    lx.appendEpoch(docs, 0L)
    px.appendEpoch(sv.emb.join(docs.select(col("doc_id").as("vec_id")), "vec_id"), 0L)
    val want = sv.answers(lx, px).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val wrong = (got -- want).size + (want -- got).size
    if (wrong > 0)
      System.err.println(s"index_serve check: epoch $last answers=${got.size} " +
        s"rebuild=${want.size} differing=$wrong")
    val files = sv.lexIndex(s"${fx.dir}/lex").postingsFileCount() +
      sv.pqIndex(s"${fx.dir}/vec").cellFileCount()
    (want.size.toLong, wrong.toLong, files.toLong)
  }
}
