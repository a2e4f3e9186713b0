package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Artifacts, Tables}
import graft.functions.TextFunctions._

/** Text-analysis operators over the documents table (north-star
  * extension). Single-scan, shuffle-free (all per-row expressions except
  * the final deterministic orderBy) — at 100 TB these run at scan speed. */
object TextAnalysis {

  /** BPE-style pre-tokenizer: the GPT-2 pattern's letter-run / digit-run
    * / punctuation-run classes with the optional leading space, minus
    * the lookahead clauses (RE2-compatible, so the DuckDB oracle runs
    * the identical pattern). Each match is one pre-token — the unit a
    * byte-pair merge table would then split. */
  val BpePattern: String = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"

  /** Weighted sample without replacement (Efraimidis–Spirakis priority
    * sampling): each doc draws priority ln(u)/w — u the md5-keyed
    * uniform (the [[sampleStratified]] discipline: a PURE function of
    * doc_id, so any engine/rerun/audit reproduces the exact sample),
    * w the token count — and the k highest priorities are the sample.
    * This is THE token-budget sampling primitive: inclusion
    * probability ∝ weight, one scan, and the top-k lowers to
    * TakeOrderedAndProject (per-partition heaps + driver merge of k
    * rows — no global sort at 100 TB). Priorities are rounded before
    * the cut so the kept set cannot hinge on sub-round float noise. */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    // u is floored at 1e-12 and zero-weight (empty) documents are
    // filtered BEFORE the priority draw: ln(0) and x/0 diverge between
    // engines (Spark log returns NULL, DuckDB ln(0) errors/-inf), so
    // neither edge may reach the expression. Both guards are mirrored
    // in the oracle SQL.
    val u = greatest(
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double") / lit(4294967296.0),
      lit(1e-12))
    val w = tokenCount(col("text")).cast("double")
    Tables.documents(spark, dir)
      // tokenCount of an EMPTY document is 1, not 0 (split("") is
      // [""]), so the zero-weight guard must test the text itself —
      // the token-count test alone would admit empty docs at weight 1
      // (mirrored in the oracle)
      .filter(tokenCount(col("text")) > 0 && length(trim(col("text"))) > 0)
      .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"),
        round(log(u) / w, 6).as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(k)
  }

  /** Two-pass heavy hitters: a one-pass Misra–Gries sketch
    * ([[graft.plans.FrequentItemsAggregate]] — k counters per task,
    * mergeable partials) nominates ≤k candidates, then ONE exact
    * recount over just the candidate set keeps the true heavy hitters.
    * The MG bound (no false negatives above N/k) plus threshold ≥ 1/k
    * makes the output EXACTLY the frequency-threshold answer — which
    * is why this carries an exact oracle even though the first pass is
    * a sketch. At 100 TB the sketch pass replaces a full
    * distinct-key aggregate (billions of groups) with k counters per
    * task; the exact pass touches only ≤k broadcast keys. */
  def heavyHitters(spark: SparkSession, dir: String,
      k: Int = 64, threshold: Double = 0.02): DataFrame = {
    require(threshold >= 1.0 / k,
      s"threshold $threshold below the sketch guarantee 1/k=${1.0 / k}: " +
        "a true heavy hitter could be missed")
    val toks = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
    // pass 1: candidate nomination AND the corpus token total ride ONE
    // aggregate — the count is free alongside the sketch, so the whole
    // operator is exactly two corpus scans (sketch+N, then the
    // candidate recount). The collect is a single row: ≤k candidate
    // structs plus one scalar.
    val first = toks.agg(
        graft.plans.FrequentItemsAggregate.freqItems(col("token"), k).as("c"),
        count(lit(1)).cast("double").as("n"))
      .head()
    val cands = first.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    val cut = first.getDouble(1) * threshold
    // pass 2: exact recount of candidates only; the threshold is a
    // driver scalar (same IEEE n*threshold product the in-plan
    // broadcast form computed)
    toks.filter(col("token").isin(cands: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("exact_count"))
      .filter(col("exact_count") > lit(cut))
      .select(col("token"), col("exact_count"))
      .orderBy(col("exact_count").desc, col("token"))
  }

  /** Token accounting per document: whitespace tokens vs BPE-style
    * pre-tokens — the number a training-cost estimate bills by. Pure
    * codegen'd regexp over one scan. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        tokenCount(col("text")).as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
          .cast("long").as("n_bpe_tokens"))
      .orderBy(col("doc_id"))

  /** Stratified corpus rebalancing: sample each source at its own
    * fraction (the up/down-weighting step of training-data mixing —
    * e.g. keep all of a scarce high-quality source, 10% of a crawl).
    * `sampleBy` is a single scan with per-stratum Bernoulli draws —
    * no shuffle, no per-source passes; a fixed seed makes runs
    * reproducible, which corpus governance requires. */
  def stratifiedSample(spark: SparkSession, dir: String,
      fractions: Map[String, Double], seed: Long = 42L): DataFrame =
    Tables.documents(spark, dir)
      .stat.sampleBy("source", fractions, seed)

  /** Reproducible stratified sampling — the governance-grade form of
    * [[stratifiedSample]]: the keep decision is a PURE FUNCTION of
    * doc_id (u = first 32 md5 bits as a uniform in [0,1)), so any
    * engine, rerun, resume, or audit reproduces the EXACT sample —
    * which is why this one carries an exact DuckDB oracle where
    * sampleBy's engine-private RNG cannot. Per-source fractions are the
    * up/down-weighting step of training-data mixing (keep all of the
    * scarce high-quality sources, a fraction of the crawl); unlisted
    * sources take `defaultFraction`. One scan, no shuffle before the
    * presentation sort, and at 100 TB the same expression IS the plan —
    * no state, no sampling pass, no coordination. */
  /** The registered query's mixing weights (shared with its oracle
    * generator): keep all of the two "scarce high-quality" sources,
    * 30% of the rest. */
  val DefaultSampleFractions: Seq[(String, Double)] = Seq("src0" -> 1.0, "src1" -> 1.0)
  val DefaultSampleFraction: Double = 0.3

  def sampleStratified(spark: SparkSession, dir: String,
      fractions: Seq[(String, Double)] = DefaultSampleFractions,
      defaultFraction: Double = DefaultSampleFraction): DataFrame = {
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    // foldRight so the FIRST entry is the outermost WHEN — first-wins
    // on a duplicated source, matching SQL CASE resolution in the
    // oracle (foldLeft would silently invert to last-wins)
    val frac = fractions.foldRight(lit(defaultFraction): Column) {
      case ((s, f), acc) => when(col("source") === s, lit(f)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .filter(u < frac)
      .select(col("doc_id"), col("source"), round(u, 6).as("u"))
      .orderBy(col("doc_id"))
  }

  /** Per-document corpus statistics. */
  def stats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_actual"),
        tokenCount(col("text")).as("n_tokens"),
        size(distinctTokens(col("text"))).cast("long").as("n_uniq_tokens"),
        round(uniqTokenRatio(col("text")), 4).as("uniq_ratio"),
        subwordCount(col("text")).as("n_subwords"))
      .orderBy(col("doc_id"))

  /** Quality scoring + keep/drop gate — the shape of a training-data
    * filtering pass. */
  def quality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        qualityScore(col("text")).as("quality"),
        (qualityScore(col("text")) > lit(0.6)).as("keep"))
      .orderBy(col("doc_id"))

  /** TF-IDF top terms per document — the keyword-extraction pass of a
    * text pipeline. tf = term count / doc token count (non-distinct
    * whitespace tokens), idf = ln(N / df). Two aggregations — (doc,
    * term) counts and per-term document frequency — plus one window
    * for the per-doc top-k; N rides in as a broadcast one-row frame,
    * never a driver-side collect. Scores are ranked on the ROUNDED
    * value (term-asc ties) so ordering is engine-portable. */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val docs = Tables.documentsParallel(spark, dir)
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))
    // df and doc length both DERIVE from the (doc, term) counts — df is
    // the term's row count, n_tok the doc's cnt sum (non-distinct token
    // count == sum of its per-term counts) — so both ride windows over
    // tf instead of a second tokenize scan + two join legs. r18 (guide
    // §2.4, shared exchanges): the r13-r17 shape re-tokenized the
    // corpus for docLen and shuffled tf twice into the joins (plus an
    // eager localCheckpoint barrier to stop a THIRD tokenize); this
    // shape tokenizes once and reuses the doc_id exchange for the
    // n_tok window and the rank window. Locally the bench line is
    // unchanged (the window sorts over tf cost what the join legs
    // did); the win is the 100 TB shape — ONE corpus tokenize pass
    // instead of two, and the sorts run over the aggregated (doc,
    // term) table, orders of magnitude smaller than the corpus.
    // Values bit-identical (same operands, same per-row operation
    // order).
    val n = docs.agg(count(lit(1)).cast("double").as("n"))
    // df as a broadcast of the (small) vocabulary aggregate, not a
    // window: the window form sorts the whole tf table by term; the
    // aggregate's subtree duplicates tf, but physical planning reuses
    // tf's exchange (ReusedExchange), so tokenize+map-agg still run
    // once and only the cheap post-shuffle final agg repeats
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val scored = tf
      .join(broadcast(df), Seq("term"))
      .withColumn("n_tok", sum(col("cnt")).over(wDoc))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round((col("cnt") / col("n_tok")) * log(col("n") / col("df")), 6).as("tfidf"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Percentile quality gate: keep documents at/above the per-source
    * 60th percentile of the quality score — the relative-threshold
    * corpus filter (absolute cutoffs misbehave across heterogeneous
    * sources). percent_rank over a TOTAL order (score, doc_id) is
    * exact and engine-portable, unlike an approximate-quantile cutoff;
    * one shuffle on source. */
  def qualityGate(spark: SparkSession, dir: String, pct: Double = 0.6): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("quality"), col("doc_id"))
    // a SINGLE-document source must keep its doc: percent_rank of a
    // one-row partition is 0.0 (not 1.0) in both engines, so without
    // the n_src guard the relative gate would DELETE exactly the
    // scarce sources it exists to protect (mirrored in the oracle)
    val wAll = Window.partitionBy(col("source"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), qualityScore(col("text")).as("quality"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("n_src", count(lit(1)).over(wAll))
      .filter(col("pr") >= pct || col("n_src") === 1)
      .select(col("doc_id"), col("source"), col("quality"), round(col("pr"), 6).as("pr"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID heuristic: stopword-hit score per language, argmax by
    * fixed precedence (en > de > fr > es on ties — encoded identically
    * in the oracle's CASE chain). */
  def langGuess(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    def hits(lang: String): Column = vocabHits(t, stopwords(lang))
    val en = hits("en"); val de = hits("de"); val fr = hits("fr"); val es = hits("es")
    Tables.documents(spark, dir)
      .select(
        col("doc_id"), col("lang").as("lang_label"),
        en.as("hits_en"), de.as("hits_de"), fr.as("hits_fr"), es.as("hits_es"),
        when(en >= de && en >= fr && en >= es, "en")
          .when(de >= fr && de >= es, "de")
          .when(fr >= es, "fr")
          .otherwise("es").as("lang_guess"))
      .orderBy(col("doc_id"))
  }

  /** Order-insensitive fingerprint per document (rolling-hash stand-in
    * with an exact SQL twin; see TextFunctions.fingerprint). */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** Both fingerprint flavors side by side: the order-insensitive
    * md5-of-sorted-set and the order-sensitive rolling hash — a word
    * reshuffle changes only the second, which is how a pipeline tells
    * bag-of-words dups from true verbatim dups. */
  def rollingFingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp_set"),
        rollingHash(col("text")).as("fp_rolling"))
      .orderBy(col("doc_id"))

  /** Token-length histogram per source: bucketed document lengths (the
    * distribution view that drives truncation/packing decisions in a
    * training pipeline). One scan, one aggregate on (source, bucket). */
  def lengthHistogram(spark: SparkSession, dir: String, width: Int = 20): DataFrame =
    Tables.documentsParallel(spark, dir)
      .groupBy(col("source"),
        (floor(tokenCount(col("text")) / width) * width).cast("long").as("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("bucket_lo"))

  /** Corpus-wide top bigrams: adjacent-token pairs via two zipped
    * slices (O(len) per row — never element_at inside a lambda, which
    * re-evaluates the array per element), then explode + one map-side-
    * combined count. The n-gram frequency table that feeds phrase
    * vocabularies and boilerplate detection. */
  def topBigrams(spark: SparkSession, dir: String, k: Int = 25): DataFrame = {
    Tables.documentsParallel(spark, dir)
      .select(explode(ngrams(tokens(col("text")), 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)
  }

  /** Every TextAnalysis artifact is built from the corpus's documents. */
  private def docs(dir: String): Seq[String] = Seq(Tables.path(dir, "documents"))

  /** The exploded distinct-(doc_id, gram) table, checkpointed once per
    * (corpus, n): the tokenize→window expression is expensive and its
    * consumers read it from BOTH sides of a self-derived join (corpus
    * vs benchmark slice) — and Catalyst's infer-filters-from-generate
    * additionally duplicates the generator input into size>0/isnotnull
    * pre-filters, so without a barrier the expression evaluates ~3x
    * per row per scan. Memoizing the materialized rows makes it once
    * per corpus, an [[Artifacts.frame]] like the dedup pair
    * sets. */
  private def gramTable(spark: SparkSession, dir: String, n: Int): DataFrame =
    Artifacts.frame(spark, "text_ngrams", dir, docs(dir), n) {
      val t = tokens(col("text"))
      // grams hashed to longs AT BIRTH (same discipline as the dedup
      // shingles) via the native one-pass window hasher — bit-identical
      // to transform(ngrams(t, n), xxhash64) (ExtensionsSpec): the
      // exploded table and the equi-join carry 8-byte keys instead of
      // ~25-char strings; set cardinalities — and so n_hits/n_grams —
      // are identical to the string computation, which is what the
      // string-gram DuckDB oracle checks
      val gsRaw = array_distinct(graft.plans.VectorExpressions.ngramHashes(t, n))
      // checkpoint the ARRAYS (one compact row per doc), explode at use:
      // exploding an attribute of a materialized frame is pure codegen
      // over in-memory rows, and the infer-filters-from-generate rule
      // has only a cheap attribute — not the whole tokenize pipeline —
      // to duplicate into its size>0 pre-filter
      Tables.documentsParallel(spark, dir)
        .select(col("doc_id"), gsRaw.as("gs"))
        .localCheckpoint(false)
        .select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"),
          explode(col("gs")).as("gram"))
    }

  /** The end-to-end curation pipeline as ONE composed plan — what a
    * training-data run actually ships: quality-gate the corpus (score
    * > minQuality, default 0.5 — above it this degenerate word-soup
    * corpus keeps almost nothing), drop near-duplicates keeping each
    * cluster's canonical member (the [[Dedup.dedupClusters]] keep-list,
    * via its own is_canonical flag), then pack the survivors into
    * fixed-capacity training sequences per source ([[packedSeqId]], the
    * same rule docPacking reports on). Every stage is the already-
    * verified operator; composing them stays one dataflow (no
    * intermediate materialization, the cluster table is the corpus-
    * memoized frame), which is exactly how the pieces are meant to be
    * used together at scale. */
  def curationManifest(spark: SparkSession, dir: String,
      capacity: Int = 2048, minQuality: Double = 0.5): DataFrame = {
    val survivors = Dedup.dedupClusters(spark, dir)
      .filter(col("is_canonical")).select(col("doc_id"))
    val kept = Tables.documents(spark, dir)
      .filter(qualityScore(col("text")) > minQuality)
      .join(survivors, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"), tokenCount(col("text")).as("n_tokens"))
    kept
      .withColumn("seq_id", packedSeqId(col("n_tokens"), capacity))
      .select(col("doc_id"), col("source"), col("seq_id"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Word n-gram windows as a zip_with chain over n shifted slices —
    * O(n·len) per row. NEVER element_at(tokens, i) inside a
    * sequence-transform: the lambda re-evaluates its outer child per
    * element, re-tokenizing the document per window (the measured
    * O(len²) trap). */
  private def ngrams(t: Column, n: Int): Column = {
    val len = size(t) - lit(n - 1)
    (1 to n).map(i => slice(t, lit(i), len))
      .reduceLeft((acc, s) => zip_with(acc, s, (a, b) => concat(a, lit(" "), b)))
  }

  /** Sequence packing (concat-and-chunk): assign documents, in
    * deterministic corpus order, to fixed-capacity training sequences —
    * a doc lands in the sequence where its first token falls. The
    * packing itself is one window cumsum partitioned by source (each
    * source packs independently, so the window sort is per-partition,
    * never global) and the report is one aggregate. At 100 TB this is
    * the exact plan: no driver loop, no collect — bin assignment is a
    * per-row expression over a running sum. */
  /** The packing rule shared by [[docPacking]] and [[curationManifest]]:
    * a doc lands in the sequence where its first token falls, per
    * source, in doc_id order. One definition so the report and the
    * manifest can never disagree on sequence assignment. */
  private def packedSeqId(tok: Column, capacity: Int): Column = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    floor((sum(tok).over(w) - tok) / capacity).cast("long")
  }

  def docPacking(spark: SparkSession, dir: String, capacity: Int = 2048): DataFrame =
    // spread by SOURCE, not doc_id: the packing window right below
    // partitions by source, so hashpartitioning(source, N) both breaks
    // the single-row-group scan's one-core tokenize (the measured
    // pitfall documentsParallel exists for) AND satisfies the window's
    // distribution — one exchange serves both, keeping the audited
    // shuffle-once plan
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("source"))
      .select(col("source"), col("doc_id"), tokenCount(col("text")).as("tok"))
      .withColumn("seq_id", packedSeqId(col("tok"), capacity))
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
      .orderBy(col("source"), col("seq_id"))

  /** Benchmark-contamination check: flag corpus documents sharing any
    * word n-gram with a held-out benchmark set (here: every 50th
    * document — the standard n-gram-overlap decontamination pass).
    * Production pipelines use 8-13-grams; this synthetic word-soup
    * corpus shares almost no windows that long, so n=4 keeps the check
    * non-vacuous while the plan is n-independent. The benchmark's
    * distinct grams are a broadcast semi-structure (benchmarks are
    * small by construction); the corpus side explodes distinct grams
    * once and inner-joins, so cost is corpus-gram count, never a
    * doc×doc product. Grams are xxhash64'd to longs at birth inside
    * [[gramTable]] — the exploded table and the equi-join carry 8-byte
    * keys; set cardinalities (and so n_hits/n_grams) are identical to
    * the string computation, which is what the string-gram DuckDB
    * oracle checks. */
  def contamination(spark: SparkSession, dir: String, n: Int = 4): DataFrame = {
    val grams = gramTable(spark, dir, n)
    val bench = grams.filter(col("doc_id") % 50 === 0)
      .select(col("gram")).distinct()
    grams.filter(col("doc_id") % 50 =!= 0)
      .join(broadcast(bench), Seq("gram"), "inner")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), first(col("n_grams")).as("n_grams"))
      .select(col("doc_id"), col("n_hits"), col("n_grams"),
        round(col("n_hits") / col("n_grams"), 4).as("contamination_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Repetition scoring: 1 − distinct/total over word 3-grams — the
    * degenerate-text detector (loops, boilerplate, template spam) every
    * quality pipeline runs. Pure per-row expressions; scan speed. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val g = ngrams(t, 3)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(size(t) >= 3, size(g)).otherwise(0).cast("long").as("n_grams_total"),
        when(size(t) >= 3, size(array_distinct(g))).otherwise(0).cast("long").as("n_grams_distinct"))
      .withColumn("rep_ratio",
        when(col("n_grams_total") > 0,
          round(lit(1.0) - col("n_grams_distinct") / col("n_grams_total"), 4))
          .otherwise(lit(0.0)))
      .orderBy(col("doc_id"))
  }

  /** Unigram language-model scoring: mean negative log-likelihood of a
    * document under the corpus's own unigram distribution — the
    * KenLM-style perplexity-proxy quality signal (high = rare-token
    * soup, low = stereotypical text), exactly reproducible in SQL
    * unlike a real LM. Two aggregations (term frequencies, then a
    * per-doc mean over the exploded term stream joined to them); the
    * vocabulary rides the join as an EXPLICIT broadcast — right for
    * any vocab that fits the driver (this surface). A corpus whose
    * vocab outgrows that must drop the hint so the planner can choose
    * a shuffle join; the hint forces broadcast and would fail hard. */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsParallel(spark, dir)
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val freq = tok.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    // corpus token total = sum of the term frequencies: derived from
    // the (tiny) vocabulary aggregate instead of a THIRD tokenize+
    // explode pass over the corpus (r18, guide §1.2 "don't compute
    // things you throw away"); exact long arithmetic, same value
    val total = freq.agg(sum(col("tf")).cast("double").as("n_total"))
    tok.join(broadcast(freq), Seq("term"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(round(avg(-log(col("tf") / col("n_total"))), 4).as("nll"),
           count(lit(1)).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** URL/email pattern shared by [[clean]] and its DuckDB oracle
    * (RE2-compatible — no lookaround — so both engines run it
    * verbatim). */
  val ScrubPattern: String =
    "(https?://[^\\s]+)|([A-Za-z0-9_.+-]+@[A-Za-z0-9-]+\\.[A-Za-z0-9.-]+)"

  /** Gopher-style stopword witness list for [[clean]] (the C4 paper
    * gates on an English function-word appearing; Gopher requires >= 2
    * of a small set). */
  val CleanStopwords: Seq[String] = Seq("the", "a", "and", "of", "to")

  /** Stand-in bad-word list (the C4 pipeline consults a public
    * blocklist; any real deployment swaps its own in — the MECHANISM,
    * a token-membership flag, is what this operator ships). */
  val CleanBadwords: Seq[String] = Seq("slow", "crash")

  /** C4/Gopher-style corpus cleaning — the rule pass every public
    * training-data pipeline runs BEFORE dedup (C4 §2.1, Gopher A.1.1):
    *
    *  1. scrub URLs and emails out of the text (regexp, codegen'd);
    *  2. drop documents under a minimum token count (default 40 —
    *     deliberately below Gopher's 50 because this synthetic
    *     corpus's docs are short; the DuckDB oracle gates on the same
    *     40, so change both together);
    *  3. drop documents without >= 2 distinct function-word stopwords
    *     (the "is this prose at all" witness);
    *  4. flag — not drop — documents hitting the bad-word list, so a
    *     policy layer downstream owns the removal decision.
    *
    * Output = the KEPT manifest (non-vacuous row delta by design) with
    * the per-doc rule evidence and a fingerprint of the scrubbed text
    * (witnesses both engines cleaned identically). One scan, zero
    * shuffles before the presentation sort. */
  def clean(spark: SparkSession, dir: String,
      minTokens: Int = 40, minStopwords: Int = 2): DataFrame = {
    val scrubbed = trim(regexp_replace(
      regexp_replace(lower(col("text")), ScrubPattern, " "), "\\s+", " "))
    val tk = split(scrubbed, " ")
    // ONE membership pass each instead of one array scan per list
    // word: array_intersect returns the DISTINCT common elements, so
    // its size equals the sum of per-word presence indicators exactly
    // (both lists are distinct) — value-identical to the unrolled
    // form the oracle states, linear in tokens not tokens × words
    val stopHits = size(array_intersect(tk,
      array(CleanStopwords.map(lit): _*)))
    val flagged = arrays_overlap(tk, array(CleanBadwords.map(lit): _*))
    // documentsParallel: two full-text regexp passes + tokenize are the
    // same interpreted-heavy per-row shape the rollout covers.
    // localCheckpoint BETWEEN the scoring projection and the keep
    // filter (r18): predicate pushdown rewrites the filter in terms of
    // text and pushes it below the spread exchange, so the whole
    // regex+tokenize chain evaluated a FIRST time inside the one-task
    // scan stage (serially, for every document) and a second time
    // post-shuffle for the survivors — profiled at 475 ms of the
    // query's 630 ms. The barrier pins the projection to its intended
    // side of the exchange; what materializes is the 6-column scored
    // manifest, ~40 bytes/row, not text.
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id"),
        size(tk).cast("long").as("n_tokens"),
        stopHits.cast("long").as("stop_hits"),
        flagged.as("flagged"),
        length(scrubbed).cast("long").as("clean_len"),
        md5(scrubbed).as("clean_fp"))
      .localCheckpoint(false)
      .filter(col("n_tokens") >= minTokens && col("stop_hits") >= minStopwords)
      .orderBy(col("doc_id"))
  }

  /** Corpus rollup per source: the aggregation view a pipeline operator
    * dashboard needs. */
  /** Sliding-window context chunking (window w, stride s < w): the
    * doc-to-training-example conversion between cleaning and packing.
    * Overlapping windows preserve cross-boundary context that disjoint
    * splitting loses — the standard LM prep move; [[docPacking]] then
    * bins the chunks, and the overlap factor w/s is the dataset's
    * context-duplication budget. A chunk is emitted only when it adds
    * new tokens: n_chunks = 1 + ceil(max(len - w, 0) / s). One scan,
    * one generator per doc, no shuffle before the output sort;
    * chunk_fp = md5 of the space-joined window so both engines witness
    * identical chunk CONTENT, not just counts. */
  def chunks(spark: SparkSession, dir: String,
      w: Int = 32, s: Int = 16): DataFrame = {
    require(s > 0 && s < w, s"need 0 < stride < window, got s=$s w=$w")
    val n = when(size(col("tk")) === 0, lit(0)).otherwise(
      lit(1) + ceil((greatest(size(col("tk")) - w, lit(0))) / s.toDouble).cast("int"))
    Tables.documentsParallel(spark, dir)
      // empty-string tokens filtered so the size-0 guard is LIVE: an
      // empty/whitespace document tokenizes to [""] (size 1), which
      // would otherwise emit one phantom chunk of md5("") — a training
      // example containing a single empty token (oracle mirrors)
      .select(col("doc_id"),
        filter(tokens(col("text")), t => length(t) > 0).as("tk"))
      .select(col("doc_id"),
        // sequence(1, 0) DESCENDS in Spark, so the empty-doc case must
        // short-circuit to an empty array, not an empty sequence
        posexplode(when(size(col("tk")) > 0,
          transform(sequence(lit(1), n),
            i => slice(col("tk"), (i - 1) * s + 1, lit(w))))
          .otherwise(array().cast("array<array<string>>"))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("chunk_id"),
        size(col("col")).cast("long").as("n_tokens"),
        md5(array_join(col("col"), " ")).as("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** PII patterns shared with the DuckDB oracle verbatim
    * (RE2-compatible — no lookaround). Group-free on purpose: both
    * engines count whole-match occurrences (group 0). */
  val PiiEmailPattern = "[A-Za-z0-9_.+-]+@[A-Za-z0-9-]+\\.[A-Za-z0-9.-]+"
  val PiiPhonePattern = "\\d{3}-\\d{3}-\\d{4}"
  val PiiIpPattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction — the scrub pass a training pipeline runs before
    * anything else ships: typed placeholders (`<EMAIL>`/`<PHONE>`/
    * `<IP>`) replace matches so downstream ops keep sentence shape,
    * and per-category counts survive as the audit evidence. The
    * synthetic corpus carries no PII, so (same move as [[Html]]'s
    * fixture) a deterministic contact block derived from raw columns
    * is appended per doc (3 of every 4 docs get exactly one PII kind;
    * the 4th gets none — non-vacuous on BOTH sides of every count),
    * and the oracle recomputes the identical synthesis in SQL: the
    * round-trip witnesses pattern semantics, replacement order, and
    * placeholder text match across engines. Redaction order
    * email -> ip -> phone is load-bearing only in that both engines
    * share it. One scan, zero pre-sort shuffles. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val m = col("doc_id") % 4
    val email = concat(lit(" reach user"), col("doc_id").cast("string"),
      lit("@"), col("source"), lit(".example.com"))
    val phone = concat(lit(" call 555-"),
      lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    val ip = concat(lit(" from host 10."), (col("doc_id") % 200).cast("string"),
      lit("."), (col("doc_id") % 250).cast("string"),
      lit("."), (col("doc_id") % 100).cast("string"))
    val t = concat(col("text"),
      when(m === 0, email).when(m === 1, phone).when(m === 2, ip)
        .otherwise(lit("")))
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(t, PiiEmailPattern, "<EMAIL>"),
        PiiIpPattern, "<IP>"),
      PiiPhonePattern, "<PHONE>")
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(t, lit(PiiEmailPattern), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(t, lit(PiiPhonePattern), lit(0)))
          .cast("long").as("n_phones"),
        size(regexp_extract_all(t, lit(PiiIpPattern), lit(0)))
          .cast("long").as("n_ips"),
        md5(redacted).as("redacted_fp"))
      .orderBy(col("doc_id"))
  }

  def perSourceStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(tokenCount(col("text")).cast("double")), 4).as("avg_tokens"),
        round(avg(qualityScore(col("text"))), 4).as("avg_quality"),
        countDistinct(fingerprint(col("text"))).as("n_distinct_fps"))
      .orderBy(col("source"))

  // ---- BPE tokenizer training ---------------------------------------

  /** Corpus word-frequency table — the ONE corpus scan BPE training
    * pays; every merge round after it runs on this vocab-sized frame
    * (Sennrich et al., ACL 2016 train on exactly this reduction). */
  private def wordFreqs(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsParallel(spark, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))

  /** Adjacent symbol pairs of one row's `syms`, frequency-weighted —
    * the zip-with-tail construction shared by the pair query and every
    * training round. */
  private def adjacentPairs(df: DataFrame): DataFrame =
    // native one-pass pair expression (r19): the zip_with-over-slices
    // form allocated two sliced arrays and drove the lambda
    // interpreter per element, per vocab row, per training round —
    // graft_adj_pairs emits the identical struct array in one scan
    // (differential-pinned in BpeSpec)
    df.select(col("freq"),
        explode(graft.plans.AdjacentSymPairs(col("syms"))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("cnt"))

  /** One BPE merge applied to a symbol array: the left fold that
    * replaces each adjacent (a, b) with the merged token, consuming
    * both (so overlapping occurrences merge greedily left-to-right —
    * `aaa` under (a,a) becomes `aa a`). Built-in HOF (aggregate), no
    * UDF: the fold keeps the whole training loop in Catalyst
    * expressions, and DuckDB's list_reduce replays the IDENTICAL fold
    * in the generated oracle. */
  private[graft] def mergeOnce(syms: Column, a: String, b: String): Column = {
    val merged = a + b
    when(size(syms) <= 1, syms).otherwise(
      aggregate(
        slice(syms, lit(2), size(syms) - 1),
        array(element_at(syms, 1)),
        (acc, x) =>
          when(element_at(acc, -1) === lit(a) && x === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
          .otherwise(concat(acc, array(x)))))
  }

  /** A word as its character-symbol array — substr-indexed rather than
    * split(word, "") (whose Java-regex trailing-empty behavior is
    * version-sensitive); DuckDB's string_split(word, '') is the exact
    * twin. */
  private def charSyms(word: Column): Column =
    transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))

  /** The round-0 pair-frequency table (top `k`, total order) — the
    * quantity BPE's first merge maximizes, statically SQL-expressible
    * so it carries its own exact oracle independent of the training
    * loop. */
  def bpePairs(spark: SparkSession, dir: String, k: Int = 50): DataFrame =
    adjacentPairs(wordFreqs(spark, dir)
        .select(col("freq"), charSyms(col("word")).as("syms")))
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(k)

  /** Learned merges served per corpus — feeds the post-run oracle
    * generator (same contract as the served ANN quantizers). */
  private[graft] val servedBpeMerges =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String, Long)]]()

  /** The largest batch of top-ranked pairs provably identical to
    * applying them one greedy round at a time — what lets a
    * realistic-budget training run learn several merges per
    * aggregation instead of paying one driver round trip each. Input
    * is the (cnt desc, a, b)-sorted head of the pair table. A
    * consecutive prefix is greedy-equivalent when:
    *
    *  1. its members are pairwise disjoint on symbols AND on merged
    *     tokens (a shared symbol means an earlier merge changes a
    *     later member's count; a shared merged token means a later
    *     member's count could GROW through the newly minted symbol);
    *  2. the cut sits at a STRICT count boundary (every pair outside
    *     the prefix — including the parents of any pair an applied
    *     merge creates, whose counts are bounded by their parents' —
    *     then counts strictly less than every member, so no created
    *     or decreased pair can overtake a later member or force a
    *     tie-break against an unseen symbol); when the collected head
    *     IS the whole pair table (`complete`), the empty remainder is
    *     a valid boundary;
    *  3. a member whose merged token ALREADY exists as a vocab symbol
    *     ends the batch — its merge mints indistinguishable copies of
    *     that symbol, so pairs involving it can grow unboundedly and
    *     nothing after is provably the argmax (the member itself is:
    *     the growth only affects later steps).
    *
    * Within such a prefix every member's count is untouched by the
    * earlier members (disjointness), so the sorted order IS the greedy
    * order, recorded frequencies included. Pure, so BpeSpec pins the
    * admission rules adversarially. */
  private[graft] def greedyBatch(pairs: IndexedSeq[(String, String, Long)],
      complete: Boolean, maxN: Int,
      symbols: Set[String]): Seq[(String, String, Long)] = {
    if (pairs.isEmpty || maxN <= 0) return Seq.empty
    val used = scala.collection.mutable.HashSet[String]()
    var d = 0
    var stop = false
    while (!stop && d < pairs.length && d < maxN) {
      val (a, b, _) = pairs(d)
      if (d > 0 && (used(a) || used(b) || used(a + b))) stop = true
      else {
        used += a; used += b; used += (a + b)
        d += 1
        if (symbols(a + b)) stop = true // collision: valid only as last member
      }
    }
    var j = d
    def boundaryOk(k: Int): Boolean =
      if (k >= pairs.length) complete else pairs(k)._3 < pairs(k - 1)._3
    while (j > 1 && !boundaryOk(j)) j -= 1
    pairs.take(j)
  }

  /** BPE TOKENIZER TRAINING (Sennrich et al., ACL 2016): learn the
    * first `rounds` byte-pair merges of the corpus. One corpus scan
    * builds the word-frequency table; each round after runs ONE
    * vocab-sized aggregation (adjacent-pair counts weighted by word
    * frequency) and applies the longest provably-greedy-equivalent
    * BATCH of its top pairs ([[greedyBatch]]) — so a realistic merge
    * budget (default 50; real tokenizers learn thousands) costs a few
    * aggregations, not one driver round trip and one vocab
    * materialization per merge. Driver traffic is ≤17 rows per round;
    * the vocab re-materializes once per ROUND (staged [[mergeOnce]]
    * projections, then one localCheckpoint) so the plan stays flat.
    * The collision guard's symbol universe is charset-sized (initial
    * distinct characters — bounded by the alphabet, not the corpus —
    * plus one minted token per merge). At 100 TB the corpus scan
    * dominates and everything after it is vocab-sized — exactly how
    * production BPE trainers behave. Memoized per corpus
    * (build-once-serve-many). */
  def bpeMergeList(spark: SparkSession, dir: String,
      rounds: Int = 50): Seq[(String, String, Long)] =
    Artifacts.value(spark, "bpe_merges", dir, docs(dir), rounds) {
      var vocab = wordFreqs(spark, dir)
        .select(col("freq"), charSyms(col("word")).as("syms"))
        .localCheckpoint()
      // the collision guard's symbol universe: bounded by the CHARSET
      // (round-0 symbols are single characters), not the corpus — but a
      // pathological corpus could still stress the driver, so the
      // collect is capped; past the cap the universe is declared
      // unknown (None) and greedyBatch degrades to sound single-merge
      // rounds rather than risk an unsound batch
      val SymbolCeiling = 1 << 20
      val collected = vocab.select(explode(col("syms")).as("s")).distinct()
        .limit(SymbolCeiling + 1).collect()
      val symbols: Option[scala.collection.mutable.HashSet[String]] =
        if (collected.length > SymbolCeiling) None
        else {
          val s = scala.collection.mutable.HashSet[String]()
          collected.foreach(r => s += r.getString(0))
          Some(s)
        }
      val out = Seq.newBuilder[(String, String, Long)]
      var learned = 0
      var live = true
      val topM = 17 // 16 batch candidates + 1 strict-boundary witness
      while (learned < rounds && live) {
        val top = adjacentPairs(vocab)
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(topM).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .toIndexedSeq
        if (top.isEmpty) live = false
        else {
          val batch = symbols match {
            case Some(s) =>
              greedyBatch(top, top.length < topM, rounds - learned, s.toSet)
            case None => top.take(1) // unknown universe: plain greedy
          }
          var next = vocab
          batch.foreach { case (a, b, cnt) =>
            out += ((a, b, cnt))
            symbols.foreach(_ += (a + b))
            next = next.select(col("freq"), mergeOnce(col("syms"), a, b).as("syms"))
          }
          next = next.localCheckpoint()
          Artifacts.unpersistPlanRDDs(vocab)
          vocab = next
          learned += batch.length
        }
      }
      Artifacts.unpersistPlanRDDs(vocab)
      out.result()
    }

  /** APPLY the learned merges corpus-wide: per-document BPE token
    * accounting under the trained tokenizer — the downstream consumer
    * of [[bpeMergeList]] (training-cost estimates bill by THESE
    * counts, not whitespace words). Each word's character symbols run
    * through the merge chain (one [[mergeOnce]] fold per learned
    * merge, all inside one scan's expressions); output is per-doc
    * total chars vs post-merge token count. At 100 TB this is a scan
    * with a broadcast-free, state-free expression chain — the trained
    * artifact rides the PLAN as literals. */
  def bpeTokenize(spark: SparkSession, dir: String, rounds: Int = 50): DataFrame = {
    val merges = bpeMergeList(spark, dir, rounds)
    servedBpeMerges.put(dir, merges)
    val words = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
    // the WHOLE merge chain as ONE native expression (plans.
    // BpeMergeChain, r19): the previous 50 staged mergeOnce projections
    // cost ~0.35 s of driver planning per query (StageProfile: wall
    // 0.455 s vs 0.110 s stage time) plus 50 interpreted aggregate-HOF
    // folds per word, each rebuilding its accumulator array per
    // element. The native chain applies each merge as a greedy
    // left-to-right scan — value-identical to the fold (differential-
    // pinned in BpeSpec; the fold cannot cascade within a round because
    // a minted token never equals its own left side).
    words.select(col("doc_id"),
        length(col("word")).cast("long").as("nc"),
        graft.plans.BpeMergeChain(charSyms(col("word")),
          merges.map(_._1), merges.map(_._2)).as("s"))
      .select(col("doc_id"), col("nc"), size(col("s")).cast("long").as("nt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("nc")).as("n_chars"), sum(col("nt")).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** The registered training query: one row per learned merge —
    * (rank, a, b, merged token, frequency at merge time). Oracled
    * post-run: the generated DuckDB twin recomputes every round's
    * argmax from scratch and replays the engine's merges through
    * list_reduce, so a single wrong merge, tie-break, or fold step
    * hash-fails. */
  def bpeMerges(spark: SparkSession, dir: String, rounds: Int = 50): DataFrame = {
    val merges = bpeMergeList(spark, dir, rounds)
    servedBpeMerges.put(dir, merges)
    import spark.implicits._
    merges.zipWithIndex.map { case ((a, b, cnt), i) =>
      (i + 1, a, b, a + b, cnt)
    }.toDF("rank", "pair_a", "pair_b", "merged", "freq")
      .select(col("rank").cast("int").as("rank"), col("pair_a"), col("pair_b"),
        col("merged"), col("freq").cast("long").as("freq"))
      .orderBy(col("rank"))
  }

  // ---- learned quality classifier (distributed logistic regression) --

  /** Trained weights served per corpus — feeds the post-run oracle
    * generator (same contract as the served BPE merges / PCA
    * components): [w_bias, w_len, w_uniq, w_stop]. */
  private[graft] val servedQualityLr =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()

  /** The classifier's feature columns — every one has an exact DuckDB
    * twin (the quality/lang-guess fragments), so the scoring pass is
    * cross-engine reproducible to the bit:
    * x1 = min(1, tokens/100) (length), x2 = distinct/total tokens
    * (type-token ratio), x3 = English-stopword density. */
  private def lrFeatures(docs: DataFrame): DataFrame = {
    val t = col("text")
    val nTok = tokenCount(t).cast("double")
    docs.select(
      col("doc_id"),
      least(lit(1.0), nTok / 100.0).as("x1"),
      (size(distinctTokens(t)).cast("double") / nTok).as("x2"),
      (vocabHits(t, stopwords("en")).cast("double") / nTok).as("x3"),
      (qualityScore(t) > lit(0.6)).cast("double").as("y"))
  }

  /** L2 strength: a SMALL absolute ridge keeps the optimum finite on
    * (near-)separable data — without it the MLE weights diverge and
    * any fixed iteration budget underfits — while barely moving the
    * boundary. Shared with the spec's sequential reference. */
  private[graft] val LrRidge = 1e-3
  private[graft] val LrIters = 12

  /** Train a logistic regression distilling the heuristic quality
    * gate into a calibrated LINEAR scorer — the shape of every
    * production quality classifier (fasttext-style). The fit is
    * NEWTON/IRLS (the classic GLM algorithm): each iteration is ONE
    * map-side-combined aggregation over the (tiny, checkpointed)
    * feature frame computing the 4-gradient and the 10 unique
    * entries of the 4×4 Hessian (p(1-p)·x·xᵀ), then a driver-side
    * 4×4 solve — quadratic convergence lands the ridge-regularized
    * optimum in ~a dozen passes where plain gradient descent needs
    * hundreds. At 100 TB each pass ships 14 doubles per partition;
    * nothing corpus-sized ever reaches the driver. The artifact is
    * memoized per corpus; the SCORING pass is what the post-run
    * oracle certifies bit-exactly. */
  def qualityLrWeights(spark: SparkSession, dir: String,
      iters: Int = LrIters, ridge: Double = LrRidge): Array[Double] =
    Artifacts.value(spark, "quality_lr", dir, docs(dir)) {
      val feats = lrFeatures(Tables.documents(spark, dir))
        .localCheckpoint(false)
      try {
        val w = Array(0.0, 0.0, 0.0, 0.0)
        val xs = Seq(lit(1.0), col("x1"), col("x2"), col("x3"))
        var it = 0
        while (it < iters) {
          val z = lit(w(0)) + lit(w(1)) * col("x1") +
            lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
          val p = lit(1.0) / (lit(1.0) + exp(-z))
          val gs = xs.zipWithIndex.map { case (x, j) =>
            sum((p - col("y")) * x).as(s"g$j") }
          val hs = for {
            j <- 0 until 4; k <- j until 4
          } yield sum(p * (lit(1.0) - p) * xs(j) * xs(k)).as(s"h${j}_$k")
          val r = feats.agg((gs ++ hs).head, (gs ++ hs).tail: _*).head()
          val g = Array.tabulate(4)(j => r.getDouble(j) + ridge * w(j))
          val h = Array.ofDim[Double](4, 4)
          var idx = 4
          for (j <- 0 until 4; k <- j until 4) {
            h(j)(k) = r.getDouble(idx); h(k)(j) = h(j)(k); idx += 1
          }
          for (j <- 0 until 4) h(j)(j) += ridge
          // Newton step: solve H d = g (4×4 Gaussian elimination with
          // partial pivoting — driver-side, constant work)
          val d = solve4(h, g)
          var j = 0
          while (j < 4) { w(j) -= d(j); j += 1 }
          it += 1
        }
        w
      } finally Artifacts.unpersistPlanRDDs(feats)
    }

  /** In-place 4×4 linear solve (partial pivoting); the matrices here
    * are ridge-stabilized SPD, so pivots never vanish. */
  private[graft] def solve4(h0: Array[Array[Double]],
      g0: Array[Double]): Array[Double] = {
    val n = 4
    val a = Array.tabulate(n, n)((i, j) => h0(i)(j))
    val b = g0.clone()
    for (c <- 0 until n) {
      var piv = c
      for (r2 <- c + 1 until n)
        if (math.abs(a(r2)(c)) > math.abs(a(piv)(c))) piv = r2
      if (piv != c) {
        val t = a(c); a(c) = a(piv); a(piv) = t
        val tb = b(c); b(c) = b(piv); b(piv) = tb
      }
      for (r2 <- c + 1 until n) {
        val f = a(r2)(c) / a(c)(c)
        for (c2 <- c until n) a(r2)(c2) -= f * a(c)(c2)
        b(r2) -= f * b(c)
      }
    }
    val x = new Array[Double](n)
    for (c <- n - 1 to 0 by -1) {
      var s2 = b(c)
      for (c2 <- c + 1 until n) s2 -= a(c)(c2) * x(c2)
      x(c) = s2 / a(c)(c)
    }
    x
  }

  /** The registered scoring query: every document's LINEAR margin
    * under the trained weights (rounded at 6 — the same multiply-add
    * fold the oracle restates with the weights as literals, so a
    * wrong feature, weight order, or fold shape hash-fails), the
    * predicted keep decision (margin > 0), and the supervision label.
    * The margin (not the sigmoid) is emitted: w·x is bit-reproducible
    * across engines, libm's exp is not — and the decision and ranking
    * are monotone in it anyway. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val w = qualityLrWeights(spark, dir)
    servedQualityLr.put(dir, w)
    val z = lit(w(0)) + lit(w(1)) * col("x1") +
      lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
    lrFeatures(Tables.documents(spark, dir))
      .select(col("doc_id"), round(z, 6).as("margin"),
        (z > lit(0.0)).as("predicted"),
        (col("y") > lit(0.5)).as("label"))
      .orderBy(col("doc_id"))
  }
}
