package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Portable

/**
 * Text-analysis primitives for large-scale training-data pipelines:
 * tokenization, shingling, quality scoring, language ID, and document
 * fingerprinting. Everything is a codegen'd column expression — no
 * UDFs — so the whole text pass stays inside WholeStageCodegen and
 * scales as a single narrow scan over 100 TB of documents.
 */
object Text {

  /** Whitespace tokens (single-space delimiter, empties dropped). */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  /**
   * Word n-gram shingles over an already-materialized token ARRAY
   * column (1-based windows, matching SQL list indexing).
   *
   * Take an attribute reference, not `tokens(text)` inline: lambda
   * bodies re-evaluate their subtrees per element, so an inlined
   * tokenizer re-splits the document for every element_at — O(len ×
   * shingles) work per row. Materialize tokens in a projection first
   * (see [[shingles]]) and the generator touches the array only.
   */
  def shinglesOf(w: Column, n: Int = 3): Column =
    // Guard: Spark's sequence(1, 0) counts DOWN, so short docs need an
    // explicit empty-array branch (DuckDB's generate_series(1,0) is []).
    when(size(w) >= n,
      transform(
        sequence(lit(1), size(w) - (n - 1)),
        j => concat_ws(" ", (0 until n).map(o => element_at(w, j + o)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Convenience form for small inputs/tests; prefer materializing
    * tokens + [[shinglesOf]] in hot paths. */
  def shingles(text: Column, n: Int = 3): Column = shinglesOf(tokens(text), n)

  /** Distinct shingles — the set form used by Jaccard/MinHash. */
  def shingleSet(text: Column, n: Int = 3): Column = array_distinct(shingles(text, n))

  /** Distinct shingles from a token-array column. */
  def shingleSetOf(w: Column, n: Int = 3): Column = array_distinct(shinglesOf(w, n))

  /** Token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: alpha runs + digit runs + punct chars. */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "[^a-zA-Z0-9]+"), t => length(t) > 0)) +
      length(regexp_replace(text, "[a-zA-Z0-9\\s]", ""))

  /**
   * Quality features: token stats, mean word length, stopword ratio,
   * non-alpha ratio — the standard cheap heuristics used to score web
   * documents before training.
   */
  val Stopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")

  def meanTokenLen(text: Column): Column = {
    val t = tokens(text)
    (aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") /
      size(t).cast("double"))
  }

  def stopwordRatio(text: Column): Column = {
    val t = tokens(text)
    size(filter(t, x => x.isin(Stopwords.map(lit): _*))).cast("double") /
      size(t).cast("double")
  }

  def nonAlphaRatio(text: Column): Column =
    length(regexp_replace(text, "[a-z A-Z]", "")).cast("double") /
      length(text).cast("double")

  // PII patterns, written in the regex subset Java's engine and
  // DuckDB's RE2 evaluate identically (char classes, bounded
  // repetition, non-capturing groups, \b): the driver's oracle runs
  // the SAME patterns, so the scrub is verified byte-for-byte across
  // engines. Deliberately high-recall/simple — the shape of C4-style
  // pre-training scrubbing, not a compliance-grade detector.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  val LongNumRe = "\\b\\d{9,}\\b" // SSN/account/credit-card-ish runs

  /**
   * PII detect + mask (the privacy-scrub pass every LLM training
   * pipeline runs before tokenization): emails, IPv4 addresses, and
   * long digit runs replaced by typed mask tokens, with per-document
   * detection counts so corpus-level PII density is auditable.
   * Patterns apply in a FIXED order on the progressively-masked text
   * (emails first — their host part would otherwise feed the IP/number
   * patterns), and each count is taken on the text the pattern
   * actually scanned, so counts + masks are reproducible exactly.
   *
   * Scale shape: three codegen'd regexp passes riding the corpus
   * scan — no explode, no shuffle, no UDF.
   */
  def piiScrub(df: DataFrame, id: Column, text: Column): DataFrame = {
    val t0 = text
    val t1 = regexp_replace(t0, EmailRe, "<EMAIL>")
    val t2 = regexp_replace(t1, Ipv4Re, "<IP>")
    val t3 = regexp_replace(t2, LongNumRe, "<ID>")
    df.select(
      id.as("doc_id"),
      regexp_count(t0, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(t1, lit(Ipv4Re)).cast("long").as("n_ips"),
      regexp_count(t2, lit(LongNumRe)).cast("long").as("n_ids"),
      t3.as("clean"))
  }

  /**
   * Composite quality score in [0,1]: penalize too-short docs, extreme
   * stopword ratios, and non-alpha noise. Deterministic arithmetic.
   */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / lit(50.0), lit(1.0))
    val alphaScore = lit(1.0) - nonAlphaRatio(text)
    val stopScore = lit(1.0) - abs(stopwordRatio(text) - lit(0.4))
    round((lenScore + alphaScore + stopScore) / lit(3.0), 6)
  }

  /**
   * Gopher-style hard quality gate (the document-level accept/reject
   * rule family of Rae et al. 2021 §A1.1): every rule reported
   * separately, so a curation run can audit WHICH rule rejected a
   * document — not just how many survived — before committing to
   * thresholds on a new corpus.
   *
   * Rules (true = pass):
   *  - `r_word_count`: 25 ≤ tokens ≤ 100 000
   *  - `r_mean_len`:   mean token length in [3, 10]
   *  - `r_symbol`:     non-alphabetic character ratio ≤ 0.1
   *  - `r_alpha_words`: ≥ 80% of tokens contain a letter
   *  - `r_stop_kinds`: ≥ 2 distinct stopwords present
   * plus `n_fail` (failed-rule count) and the overall `pass`.
   *
   * Scale shape: one narrow projection — tokens materialize once per
   * row, every rule is a codegen'd column expression over that array;
   * no explode, no shuffle, the whole gate rides the corpus scan.
   * Ratio rules guard their divisions (`n > 0 AND …`), so an empty
   * document fails them as a plain false in every engine instead of
   * a NaN/NULL comparison whose semantics differ.
   */
  def gopherRules(df: DataFrame, id: Column, text: Column): DataFrame = {
    val base = df.select(id.as("doc_id"), text.as("text"))
      .withColumn("w", tokens(col("text")))
    val rules = gopherRuleExprs(col("text"), col("w"))
    val ruleNames = rules.map(_._1)
    base.select(
        col("doc_id") +: size(col("w")).cast("long").as("n_tokens") +:
          rules.map { case (name, c) => c.as(name) }: _*)
      .withColumn("n_fail",
        lit(ruleNames.length.toLong) - ruleNames.map(col(_).cast("long")).reduce(_ + _))
      .withColumn("pass", col("n_fail") === 0L)
  }

  /** The five Gopher rule predicates as named column expressions over
    * a text column and its materialized token-array column — shared by
    * [[gopherRules]] (per-rule report) and [[qualityFunnel]] (fused
    * gate), so the two can never drift. */
  def gopherRuleExprs(text: Column, w: Column): Seq[(String, Column)] = {
    val n = size(w).cast("long")
    val meanLen = aggregate(w, lit(0L), (acc, x) => acc + length(x))
      .cast("double") / n.cast("double")
    val symbolRatio = length(regexp_replace(text, "[a-z A-Z]", ""))
      .cast("double") / length(text).cast("double")
    val alphaFrac = size(filter(w, x => x.rlike("[a-zA-Z]")))
      .cast("double") / n.cast("double")
    val stopKinds = size(array_intersect(w, array(Stopwords.map(lit): _*)))
    Seq(
      "r_word_count" -> (n >= 25L && n <= 100000L),
      "r_mean_len" -> (n > 0L && meanLen >= 3.0 && meanLen <= 10.0),
      "r_symbol" -> (length(text) > 0 && symbolRatio <= 0.1),
      "r_alpha_words" -> (n > 0L && alphaFrac >= 0.8),
      "r_stop_kinds" -> (stopKinds >= 2))
  }

  /**
   * N-gram-profile language ID: score each candidate language by
   * marker-token hits and pick the best (deterministic tie-break on
   * language code). Marker lists are a tiny literal table, so at scale
   * this is a broadcast join against an exploded token stream — or,
   * as here, a pure expression per language.
   */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "value", "fast", "table"),
    "fr" -> Seq("le", "la", "et", "spark", "scan"),
    "de" -> Seq("der", "die", "und", "join", "column"),
    "es" -> Seq("el", "los", "y", "merge", "group"),
    "zh" -> Seq("query", "key", "small", "customer", "line"))

  def langScores(text: Column): Seq[(String, Column)] =
    langScoresFromTokens(tokens(text))

  /** [[langScores]] over an already-materialized token array — for
    * callers that share one `tokens()` evaluation across several
    * expressions on the same scan (e.g. [[qualityFunnel]]). */
  def langScoresFromTokens(w: Column): Seq[(String, Column)] =
    LangMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      lang -> size(filter(w, x => x.isin(markers.map(lit): _*)))
    }

  /** Deterministic best-language pick over [[langScores]]-shaped
    * (lang, score) pairs: the first language (code order) whose score
    * is >= every later language's — the t01 tie-break, shared here so
    * the gated query and the funnel agree. */
  def bestLang(scores: Seq[(String, Column)]): Column = {
    val langs = scores.map(_._1)
    val byLang = scores.toMap
    langs.init.zipWithIndex.foldRight(lit(langs.last)) {
      case ((l, i), elseCol) =>
        val ge = langs.drop(i + 1).map(o => byLang(l) >= byLang(o)).reduce(_ && _)
        when(ge, lit(l)).otherwise(elseCol)
    }
  }

  /**
   * The composed quality funnel (the d13 shape over the t-family):
   * language gate → the five Gopher rules → repetition filter, with
   * cumulative survivor counts per stage — the chain a corpus curator
   * ships as ONE fused pass before spending tokenization/training.
   *
   * Scale shape: every stage is a column expression over the same
   * corpus scan — langid ([[langScoresFromTokens]]), the Gopher gate
   * ([[gopherRuleExprs]]), and a per-row reformulation of the
   * [[repetitionStats]] flag: the top-token count is the longest equal
   * run of the sorted token array (an O(n log n) fold instead of the
   * keyed-agg shuffle — affordable here because the Gopher gate bounds
   * survivors to 100k tokens), and the duplicate-2-gram fraction is
   * `1 − distinct/total` via `array_distinct`. One scan, one global
   * aggregate, four output rows; zero joins, zero per-doc shuffles —
   * at 100 TB this funnel reads the corpus exactly once. Flag
   * semantics match t08 exactly (same 6-dp rounding before the
   * thresholds), pinned by the oracle, which recomputes repetition via
   * the keyed-agg CTEs.
   */
  def qualityFunnel(df: DataFrame, id: Column, text: Column): DataFrame = {
    val base = df.select(id.as("doc_id"), text.as("text"))
      .withColumn("w", tokens(col("text")))
    val w = col("w")
    val n = size(w).cast("long")
    val predicted = bestLang(langScoresFromTokens(w))
    val gopherPass = gopherRuleExprs(col("text"), w).map(_._2).reduce(_ && _)
    // Longest equal run of the sorted tokens == the max multiplicity
    // (t08's top_c) — computed per row, no explode.
    val topC = aggregate(
      array_sort(w),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    val topFrac = when(n > 0L,
      round(topC.cast("double") / n.cast("double"), 6)).otherwise(lit(0.0))
    val g = shinglesOf(w, 2)
    val dup2 = when(size(g) > 0,
      round(lit(1.0) -
        size(array_distinct(g)).cast("double") / size(g).cast("double"), 6))
      .otherwise(lit(0.0))
    val repetitive = topFrac > 0.2 || dup2 > 0.4
    base
      .withColumn("f_lang", predicted === "en")
      .withColumn("f_gopher", col("f_lang") && gopherPass)
      .withColumn("f_rep", col("f_gopher") && !repetitive)
      .agg(
        count(lit(1)).as("n_all"),
        sum(col("f_lang").cast("long")).as("n_lang"),
        sum(col("f_gopher").cast("long")).as("n_gopher"),
        sum(col("f_rep").cast("long")).as("n_clean"))
      .select(explode(array(
        struct(lit("1_all").as("stage"), col("n_all").as("n")),
        struct(lit("2_lang").as("stage"), col("n_lang").as("n")),
        struct(lit("3_gopher").as("stage"), col("n_gopher").as("n")),
        struct(lit("4_repetition").as("stage"), col("n_clean").as("n")))))
      .select(col("col.stage").as("stage"), col("col.n").as("n"))
  }

  /**
   * Gopher-style repetition signals per document: the fraction of
   * tokens that are repeats, the share of the single most frequent
   * token, and the fraction of duplicated 2-grams — the standard
   * cheap filters for boilerplate/spam before training (Rae et al.
   * 2021 §A1.1 use exactly these families of rules).
   *
   * Scale shape: explode → groupBy(doc, token) → groupBy(doc), all
   * keyed on doc_id, so partial aggregation collapses each document's
   * token stream map-side and the shuffle carries one row per (doc,
   * distinct token) — never the raw token stream. The alternative
   * (per-row O(distinct × len) higher-order-function scan) avoids the
   * shuffle but blows up on long documents; the keyed-agg shape is the
   * one that survives 100 TB.
   */
  def repetitionStats(df: DataFrame, id: Column, text: Column): DataFrame = {
    val tok = df.select(id.as("doc"), tokens(text).as("w"))
    val tokenStats = tok
      .select(col("doc"), explode(col("w")).as("t"))
      .groupBy(col("doc"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc"))
      .agg(sum(col("c")).as("n_tokens"), max(col("c")).as("top_c"),
        count(lit(1)).as("n_distinct"))
    val gramStats = tok
      .select(col("doc"), explode(shinglesOf(col("w"), 2)).as("g"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_2grams"), countDistinct(col("g")).as("nd_2grams"))
    // left join: a 1-token doc has no 2-grams (explode drops the row).
    tokenStats.join(gramStats, Seq("doc"), "left")
      .select(
        col("doc").as("doc_id"),
        col("n_tokens"),
        round(col("top_c").cast("double") / col("n_tokens").cast("double"), 6)
          .as("top_token_frac"),
        round(lit(1.0) -
          col("n_distinct").cast("double") / col("n_tokens").cast("double"), 6)
          .as("dup_token_frac"),
        coalesce(
          round(lit(1.0) -
            col("nd_2grams").cast("double") / col("n_2grams").cast("double"), 6),
          lit(0.0)).as("dup_2gram_frac"))
      .withColumn("repetitive",
        (col("top_token_frac") > 0.2 || col("dup_2gram_frac") > 0.4)
          .cast("long"))
  }

  /**
   * Token-level Shannon entropy per document — the information-density
   * quality signal (near-zero = degenerate repetition, log(n_distinct)
   * = uniform usage) that complements the ratio heuristics of
   * [[repetitionStats]]. Computed as `ln(n) − Σ c·ln(c) / n` so the
   * aggregation needs no per-token division.
   *
   * Scale shape: same keyed-agg shape as [[repetitionStats]] — explode
   * → groupBy(doc, token) partial-agg → groupBy(doc); the shuffle
   * carries one row per (doc, distinct token).
   */
  def tokenEntropy(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"), explode(tokens(text)).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        round(
          log(sum(col("c")).cast("double")) -
            sum(col("c").cast("double") * log(col("c").cast("double"))) /
              sum(col("c")).cast("double"), 6).as("token_entropy"))

  /**
   * Per-source vocabulary-drift audit: KL divergence of each source's
   * token distribution from the corpus-wide distribution, both
   * restricted to the corpus's top-`topN` tokens (the shared head —
   * comparing full vocabularies would let each source's long tail
   * dominate the score with noise). The snapshot-over-snapshot
   * monitoring read of a multi-source ingest pipeline: a source whose
   * KL jumps between crawls changed its content mix (template spam,
   * language shift, markup bleed) and gets inspected before the next
   * training run. Head selection is deterministic (count desc, token
   * asc — compiled to a partial top-k, see d15's WindowGroupLimit);
   * all probabilities derive from exact integer counts, so the only
   * float work is the ≤topN-term KL sum, rounded as usual.
   */
  def sourceDrift(df: DataFrame, source: Column, text: Column,
      topN: Int = 50): DataFrame = {
    val tok = df.select(source.as("source"), explode(tokens(text)).as("t"))
    val counts = tok.groupBy(col("t")).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("t"))
    // The head is computed ONCE (a distributed partial top-k —
    // TakeOrderedAndProject, never a global vocabulary sort) and
    // embedded as topN LITERAL rows: it feeds four consumers, and as
    // a lazy plan each would re-run the corpus tokenize+count pass;
    // a checkpoint would instead pin executor blocks past the gate
    // (the suite's nothing-outlives-the-gate contract). topN rows on
    // the driver is control-plane-sized, like the CDC merge's
    // touched-bucket ids.
    val headRows = counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topN).select(col("t"), col("n").as("nw"))
    val head = {
      import scala.jdk.CollectionConverters._
      df.sparkSession.createDataFrame(
        headRows.collect().toList.asJava, headRows.schema)
    }
    val q = head.crossJoin(head.agg(sum(col("nw")).as("nh")))
    val sc = tok.join(head.select(col("t")), Seq("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("ns"))
    // per-source totals as a window over sc (sources × topN rows):
    // a separate groupBy would replicate sc's whole subplan — and its
    // corpus tokenize pass — into the join tree
    val sw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
    val drifted = sc
      .withColumn("nstot", sum(col("ns")).over(sw)).join(q, Seq("t"))
      .groupBy(col("source"))
      .agg(
        max(col("nstot")).as("n_head"),
        round(sum(
          (col("ns").cast("double") / col("nstot")) *
            log((col("ns").cast("double") / col("nstot")) /
              (col("nw").cast("double") / col("nh")))), 6).as("kl"))
    // Every source gets a row: a source with ZERO head overlap is the
    // most drifted one there is (binary junk, language flip) and must
    // not silently vanish from the monitoring read — it reports
    // n_head=0 with a NULL kl (the divergence is unbounded). The join
    // is NULL-SAFE: a NULL-keyed source bucket (an ingest bug the
    // audit should surface) keeps its computed row instead of being
    // zeroed by NULL-never-equals-NULL.
    df.select(source.as("source")).distinct()
      .join(drifted.withColumnRenamed("source", "dsource"),
        col("source") <=> col("dsource"), "left")
      .select(col("source"),
        coalesce(col("n_head"), lit(0L)).as("n_head"), col("kl"))
  }

  /**
   * Rolling/position-weighted document fingerprint:
   * sum over tokens of hash(token) * (position) — order-sensitive,
   * overflow-free (hash < 2^32, pos < 2^20), and identical in any
   * engine with 64-bit integer arithmetic.
   */
  def fingerprint(text: Column): Column = {
    val hs = transform(tokens(text), (w, i) => Portable.hash64(w) * (i + lit(1L)))
    aggregate(hs, lit(0L), (acc, x) => acc + x)
  }

  /**
   * Unigram corpus log-probability score (the CCNet-style "perplexity
   * filter" in its simplest defensible form): every token's probability
   * is its corpus frequency, a document's score is the mean negative
   * log-probability of its tokens. Low = stereotypical/boilerplate,
   * high = rare-token-heavy noise; curation keeps the middle band.
   *
   * Scale shape: one explode → groupBy(token) builds the frequency
   * model (partial-agg, one row per distinct token crosses the
   * shuffle); the scoring pass joins exploded tokens to that model on
   * the token key — a classic big-to-small equi-join AQE broadcasts
   * when the vocabulary fits (no forced hint: a 100 TB corpus's
   * vocabulary may not) — then folds back to one row per doc.
   */
  def corpusLogProb(df: DataFrame, id: Column, text: Column): DataFrame = {
    val tok = df.select(id.as("doc"), explode(tokens(text)).as("t"))
    val freq = tok.groupBy(col("t")).agg(count(lit(1)).as("n"))
    val total = freq.agg(sum(col("n")).as("total"))
    tok.join(freq, Seq("t"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc").as("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log(col("n").cast("double") / col("total").cast("double"))), 6)
          .as("avg_neg_logprob"))
  }

  /**
   * Per-document bigram-LM score — one step up the n-gram ladder from
   * [[corpusLogProb]]: mean −ln P(wᵢ | wᵢ₋₁) under an add-1-smoothed
   * bigram model fit on the corpus itself, the CCNet/Gopher-style
   * perplexity axis with actual context sensitivity (word salad that
   * passes a unigram filter scores poorly here). P(w₂|w₁) =
   * (c(w₁w₂) + 1) / (c(w₁·) + V), which normalizes to 1 over the
   * vocabulary by construction.
   *
   * Scale shape: bigrams come from a lead() window PARTITIONED BY doc
   * (never global); c₂/c₁ are keyed partial aggs over bigram rows (one
   * row per distinct pair crosses the shuffle); V is a one-row
   * broadcast; the probability join is big-to-small on the pair key.
   */
  def bigramLogProb(df: DataFrame, id: Column, text: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = df.select(id.as("doc"), posexplode(tokens(text)).as(Seq("pos", "t")))
    val w = Window.partitionBy(col("doc")).orderBy(col("pos"))
    val bi = tok.withColumn("t2", lead(col("t"), 1).over(w))
      .filter(col("t2").isNotNull)
      .select(col("doc"), col("t").as("w1"), col("t2").as("w2"))
    val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = tok.agg(countDistinct(col("t")).as("v"))
    bi.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc").as("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log((col("c2").cast("double") + lit(1.0)) /
          (col("c1").cast("double") + col("v").cast("double")))), 6)
          .as("avg_neg_logprob"))
  }

  /**
   * Per-document top-k TF-IDF terms — the keyword/topic signature used
   * for corpus exploration, cluster labeling, and relevance-weighted
   * curation. tf = raw in-doc count, idf = ln(N / df) over document
   * frequency; scores round to 6 dp so an external engine ranks the
   * identical list (ties broken by term).
   *
   * Scale shape: tf is a (doc, term) partial agg; df is a (term)
   * partial agg over tf (one row per distinct doc-term pair crosses
   * the shuffle, never raw tokens); N is a one-row broadcast; the
   * score join is big-to-small on the term key (AQE broadcasts a
   * fitting vocabulary); the top-k window is partitioned by doc.
   */
  def tfidfTopK(df: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df.select(id.as("doc_id"), explode(tokens(text)).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf").cast("double") *
        log(col("n").cast("double") / col("df").cast("double")), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tfidf"), col("rank"))
  }

  /**
   * Token-window document chunking with overlap — the context-window
   * preparation step for RAG indexing and long-document training
   * (split each document into `window`-token chunks whose starts
   * advance by `window - overlap` tokens).
   *
   * Chunk-count rule: `1 + ceil(max(0, n - window) / step)` starts, so
   * the final chunk always reaches the end of the document and no
   * chunk is a pure suffix of its predecessor (a naive
   * "every multiple of step below n" start rule emits degenerate
   * tail chunks already fully covered by the previous window).
   *
   * Scale shape: a single narrow projection + per-row generator — no
   * shuffle, no window function; each task streams its documents and
   * emits chunks inline (plan-asserted in PlanSpec). Output is
   * ~`n/step` rows per document regardless of cluster size.
   */
  def chunk(df: DataFrame, id: Column, text: Column,
      window: Int, overlap: Int): DataFrame = {
    require(window > 0 && overlap >= 0 && overlap < window,
      s"need 0 <= overlap < window, got window=$window overlap=$overlap")
    val step = window - overlap
    val base = df.select(id.as("doc_id"), tokens(text).as("w"))
      .withColumn("n", size(col("w")))
      .where(col("n") > 0)
    // greatest(0, n - window) keeps the ceil-div numerator non-negative:
    // integer division of negatives truncates toward zero on the JVM
    // but floors in SQL engines, so the guarded form is the only one
    // with engine-portable semantics.
    val lastStart =
      floor((greatest(lit(0), col("n") - window) + (step - 1))
        .cast("double") / step).cast("int") * step
    base
      .select(col("doc_id"), col("n"), col("w"),
        posexplode(sequence(lit(0), lastStart, lit(step)))
          .as(Seq("chunk_idx", "start")))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("start").cast("long").as("start_token"),
        least(lit(window), col("n") - col("start")).cast("long")
          .as("chunk_tokens"),
        concat_ws(" ", slice(col("w"), col("start") + 1, lit(window)))
          .as("chunk_text"))
  }

  /** THE BM25 term weight of one (doc, term) posting row carrying `tf`,
    * `df` and `dl`, for a corpus of `nd` docs of mean length `avgdl`:
    * idf * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl)), Lucene's idf
    * ln((nd - df + 0.5)/(df + 0.5) + 1). Literal shapes are kept
    * left-associative to match the oracle SQL bit for bit; callers
    * pass the corpus stats as columns or literals. */
  def bm25Weight(nd: Column, avgdl: Column, k1: Double, b: Double): Column =
    log((nd - col("df") + 0.5) / (col("df") + 0.5) + 1) * col("tf") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1) - b + lit(b) * col("dl") / avgdl))

  /**
   * THE single-query BM25 scorer: every one-query lexical top-k
   * ([[bm25TopK]], [[bm25TopKFromIndex]], the incremental index's
   * `serve`, s23) ends here. `postings` carries (term, doc_id, tf, dl),
   * already restricted to the query's terms; `stats` is the corpus's
   * 1-row (nd, avgdl) frame, crossed in as its caller hints it (a
   * broadcast aggregate or file, or [[corpusStats]]'s driver-local
   * row) — data, never a literal, so an epoch's new corpus stats
   * reuse the last epoch's plan and generated code. Per-term df is
   * |q| rows, broadcast; the top-k is orderBy+limit — Spark's
   * distributed TakeOrderedAndProject, never a global sort — and the
   * rank window runs over k rows. Returns (doc_id, rank, score).
   */
  def bm25ScoreTopK(postings: DataFrame, stats: DataFrame, k: Int,
      k1: Double, b: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // counts postings by their (never null) dl, not by row: the df
    // branch then keeps the same columns as the scored branch, so a
    // doc-length join feeding both (the batch index's docstats) is
    // one reused exchange, not a second, differently pruned one
    val df = postings.groupBy(col("term"))
      .agg(count(col("dl")).cast("double").as("df"))
    // summed over the query terms present in the doc
    val scored = postings
      .join(broadcast(df), "term")
      .crossJoin(stats)
      .groupBy(col("doc_id"))
      .agg(round(sum(bm25Weight(col("nd"), col("avgdl"), k1, b)), 6).as("score"))
    val top = scored.orderBy(col("score").desc, col("doc_id")).limit(k)
    top.withColumn("rank", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("rank"), col("score"))
  }

  /**
   * THE multi-query BM25 scorer: Q keyword queries over ONE postings
   * read ([[bm25TopKFromIndexMulti]], the incremental index's
   * `serveMulti`). `postings` (term, doc_id, tf, dl) is restricted to
   * the union of the query term sets; per-term df comes from a
   * count-over-window partitioned by term (never a second read); the
   * tiny (query, term) table broadcasts onto the postings so a term
   * shared by two queries scores for both; `stats` crosses in as in
   * [[bm25ScoreTopK]]; and the per-query top-k is a rank window
   * partitioned by query (Q-way parallel). Per query, rows and scores
   * are BIT-IDENTICAL to [[bm25ScoreTopK]] over the same postings: df,
   * nd and avgdl are corpus facts, unchanged by which query asks.
   * Returns (query_id, doc_id, rank, score), rank 1..k per query.
   */
  def bm25ScoreTopKMulti(postings: DataFrame, stats: DataFrame,
      queries: Seq[(String, Seq[String])], k: Int,
      k1: Double, b: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import postings.sparkSession.implicits._
    val qt = queries.flatMap { case (q, ts) => ts.distinct.map((q, _)) }
      .toDF("query_id", "term")
    val df = count(lit(1)).over(Window.partitionBy(col("term")))
      .cast("double").as("df")
    val scored = postings.withColumn("df", df)
      .join(broadcast(qt), "term")
      .crossJoin(stats)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(bm25Weight(col("nd"), col("avgdl"), k1, b)), 6).as("score"))
    val rw = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"), col("score"))
  }

  /** A running corpus's stats as the scorers' 1-row (nd, avgdl)
    * frame, built on the driver from (nd, Σdl). Its values are data —
    * nothing in the plan changes when they do. The local relation is
    * hinted to replicate into the scoring tasks (a cartesian product
    * with its one partition) rather than broadcast: a broadcast of a
    * local relation still runs a collect job, one per serve. */
  def corpusStats(spark: org.apache.spark.sql.SparkSession,
      nd: Double, sumDl: Double): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(nd, sumDl / nd)),
      StructType(Seq(StructField("nd", DoubleType), StructField("avgdl", DoubleType))))
      .hint("shuffle_replicate_nl")
  }

  /**
   * Exact BM25 top-k lexical retrieval for one literal query (Lucene's
   * idf form: ln((N - df + 0.5)/(df + 0.5) + 1), k1/b the classic
   * 1.2/0.75) — the lexical half of a hybrid retrieval stack, and the
   * relevance scorer behind keyword curation queries over a training
   * corpus.
   *
   * Scale shape: TWO corpus-wide passes — the 1-row stats aggregate
   * (N, avgdl) and the postings pass, which tokenizes, carries the
   * doc length on the exploded row (Lucene's norms inlined — no
   * separate doc-length join), and FILTERS to the query's terms
   * BEFORE any aggregation, so the per-(doc,term) groupBy and
   * everything after it run over postings for |q| terms, never the
   * full postings list. Scoring is [[bm25ScoreTopK]]. A serve-many
   * caller amortizes even the two passes away with
   * [[buildLexicalIndex]] + [[bm25TopKFromIndex]].
   *
   * Reference surface: the reference has no lexical scorer; this is
   * the documents-table counterpart of the ANN retrieval family
   * (SURVEY §2 data-pipeline ops), scored identically in DuckDB.
   */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tok = docs.select(col("doc_id"), tokens(col("text")).as("w"))
    val stats = tok.agg(count(lit(1)).cast("double").as("nd"),
      avg(size(col("w")).cast("double")).as("avgdl"))
    val postings = tok.select(col("doc_id"),
        size(col("w")).cast("double").as("dl"), explode(col("w")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    bm25ScoreTopK(postings, broadcast(stats), k, k1, b)
  }

  /** Number of term-hash buckets the postings index is partitioned
    * by. Partitioning by raw term would mean one directory per
    * distinct term — pathological at a real vocabulary; hashing into
    * a fixed bucket count keeps the directory fan-out bounded while
    * a |q|-term query still prunes to ≤ |q| buckets. */
  val LexIndexBuckets = 64

  /** The query-term restriction of a postings store partitioned by
    * term-hash bucket `tb`: the terms' buckets (→ PartitionFilters,
    * unvisited buckets' directories never open) and the term set
    * itself (→ PushedFilters inside the visited buckets). */
  def termBucketFilter(terms: Seq[String]): Column = {
    val buckets = terms.map(t => java.lang.Math.floorMod(
      Portable.hash64Of(t), LexIndexBuckets.toLong).toInt).distinct
    col("tb").isin(buckets: _*) && col("term").isin(terms: _*)
  }

  /**
   * Build a durable inverted index from a document corpus — the
   * "build once, serve many" separation d19 gives the dedup path,
   * here for lexical retrieval: ONE tokenize pass writes
   * `postings/` ((term, doc_id, tf), hive-partitioned by the term's
   * hash bucket `tb`), `docstats/` (per-doc length) and `stats/`
   * (the 1-row corpus N/avgdl), and every later query scores from
   * these files without touching the corpus again. Postings are the
   * real serving artifact at 100 TB — the corpus text (the heavy
   * column) never ships to the query path.
   */
  def buildLexicalIndex(docs: DataFrame, dir: String): Unit = {
    // ONE tokenize pass feeds all three artifacts: the token frame is
    // persisted so docstats/stats and the postings explode share it
    // instead of re-scanning (and re-splitting) the corpus text.
    val tok = docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .persist()
    try {
      val dl = tok.select(col("doc_id"),
        size(col("w")).cast("double").as("dl"))
      dl.agg(count(lit(1)).cast("double").as("nd"), avg(col("dl")).as("avgdl"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
      dl.write.mode("overwrite").parquet(s"$dir/docstats")
      tok.select(col("doc_id"), explode(col("w")).as("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).cast("double").as("tf"))
        .withColumn("tb",
          pmod(graft.functions.Portable.hash64(col("term")),
            lit(LexIndexBuckets.toLong)))
        .write.mode("overwrite").partitionBy("tb")
        .parquet(s"$dir/postings")
    } finally tok.unpersist(false): Unit
  }

  /** A [[buildLexicalIndex]] directory's postings for `terms`, with
    * each candidate doc's length joined in from `docstats/`. */
  private def indexPostings(spark: org.apache.spark.sql.SparkSession,
      dir: String, terms: Seq[String]): DataFrame =
    spark.read.parquet(s"$dir/postings")
      .filter(termBucketFilter(terms))
      .select(col("doc_id"), col("term"), col("tf"))
      .join(spark.read.parquet(s"$dir/docstats"), "doc_id")

  /**
   * Score a query from a [[buildLexicalIndex]] directory — identical
   * math (and bit-identical output) to [[bm25TopK]], but the only
   * inputs are index files: the postings scan carries BOTH the
   * term-bucket predicate (→ PartitionFilters, unvisited buckets'
   * directories never open) and the term equality set (→
   * PushedFilters inside the visited buckets). Doc lengths join in
   * for candidate docs only; the corpus table appears nowhere in the
   * plan.
   */
  def bm25TopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25ScoreTopK(indexPostings(spark, dir, terms),
      broadcast(spark.read.parquet(s"$dir/stats")), k, k1, b)

  /**
   * Score Q keyword queries against a [[buildLexicalIndex]] directory
   * in ONE postings scan — the curation-batch shape: a training-data
   * pipeline runs hundreds of keyword queries over one corpus, and Q
   * independent [[bm25TopKFromIndex]] calls would open the same
   * bucket files Q times. The union of all query term sets prunes and
   * filters ONE postings read; [[bm25ScoreTopKMulti]] scores it. Per
   * query, rows and scores are BIT-IDENTICAL to an independent
   * [[bm25TopKFromIndex]] run.
   *
   * Returns (query_id, doc_id, rank, score), rank 1..k per query.
   */
  def bm25TopKFromIndexMulti(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: Seq[(String, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25ScoreTopKMulti(
      indexPostings(spark, dir, queries.flatMap(_._2).distinct),
      broadcast(spark.read.parquet(s"$dir/stats")), queries, k, k1, b)
}
