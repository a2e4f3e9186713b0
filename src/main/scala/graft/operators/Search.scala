package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Full-text keyword search served from an inverted index — the
  * retrieval half of a training-data pipeline (corpus audit queries,
  * benchmark-contamination lookups, targeted subset extraction all run
  * keyword search over the corpus, and at 100 TB they cannot afford a
  * text scan per query).
  *
  * The index is the classic IR decomposition: a postings table
  * (token, doc_id, tf) built by ONE explode + hash aggregate over the
  * corpus, partitioned by token hash — the build is a single shuffle of
  * the tokenized corpus and every query after it touches only the
  * queried tokens' postings (a semi-join-sized read, not a corpus
  * scan). Serving shapes:
  *   - conjunctive (AND) match: filter postings to the query terms,
  *     group by document, keep documents matching ALL terms — the
  *     intersect-posting-lists plan every search engine runs;
  *   - BM25 ranking (Robertson/Sparck Jones, the public Okapi BM25
  *     formula): idf * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl)) summed
  *     over matched terms. Document lengths and corpus stats (N,
  *     avgdl) come from the same postings artifact; the per-corpus
  *     scalars ride a broadcast one-row frame so the whole ranking is
  *     one plan with no driver-side action.
  *
  * Both serving queries consume the memoized postings (a build-once
  * [[graft.Artifacts]] frame), so a session answering many searches
  * tokenizes the corpus ONCE. */
object Search {

  /** The registered queries' search terms — present in the fixture
    * vocabulary so both serving shapes return non-trivial results. */
  val QueryTerms: Seq[String] = Seq("spark", "merge", "window")

  /** Every Search artifact is built from the corpus's documents. */
  private def docs(dir: String): Seq[String] = Seq(graft.Tables.path(dir, "documents"))

  /** Postings table (token, doc_id, tf): one explode + one hash
    * aggregate, shuffled by (token, doc_id). Memoized per corpus. */
  def postings(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts.frame(spark, "postings", dir, docs(dir)) {
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy(col("token"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint(false)
    }

  /** Term dictionary: per-token document frequency, collection
    * frequency, and first posting — the index's own summary (what a
    * vocabulary audit or stop-word selection reads). One aggregate
    * over the postings artifact; never re-touches the corpus. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    postings(spark, dir)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"),
        sum(col("tf")).as("cf"),
        min(col("doc_id")).as("min_doc"))
      .orderBy(col("token"))

  /** Conjunctive keyword search: documents containing ALL query terms,
    * served by intersecting posting lists — filter to the |terms|
    * tokens, one group-by-document, HAVING n_terms = |terms|. Work is
    * proportional to the queried tokens' postings, not the corpus. */
  def searchAll(spark: SparkSession, dir: String,
      terms: Seq[String] = QueryTerms): DataFrame = {
    // distinct the query: countDistinct(token) can never reach a
    // duplicated list's size, which would silently return ZERO rows
    // for e.g. Seq("spark", "spark")
    val q = terms.distinct
    postings(spark, dir)
      .filter(col("token").isin(q: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("token")).as("n_terms"),
        sum(col("tf")).as("total_tf"))
      .filter(col("n_terms") === q.size)
      .select(col("doc_id"), col("total_tf"))
      .orderBy(col("doc_id"))
  }

  /** The registered phrase query — present at every fixture SF. */
  val PhraseTerms: Seq[String] = Seq("big", "order", "scan")

  /** Positional postings (token, doc_id, pos) — the raw build input
    * for the PERSISTED positional index below. NOT memoized: the only
    * consumer is the build-once segment write, so a localCheckpoint
    * would materialize a corpus-sized intermediate just to copy it
    * into parquet — the explode streams straight into each segment
    * instead. Serving always reads the persisted table. */
  def posPostings(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .select(col("doc_id"), col("col").as("token"),
        (col("pos") + 1).cast("long").as("pos"))

  /** The PERSISTED positional index: (token, doc_id, pos) stored as
    * commit-log segments with per-segment token Blooms, exactly like
    * the token-postings table below — so phrase search and collocation
    * mining serve from a durable artifact instead of re-running the
    * corpus posexplode per session. At 100 TB the session-only memo
    * meant a full corpus re-tokenize before the first phrase query of
    * every session; the persisted table amortizes the build across
    * sessions and a term lookup opens only segments whose Bloom admits
    * the term. Same base/delta two-segment fixture split as
    * [[indexTablePath]]. */
  def posIndexTablePath(spark: SparkSession, dir: String): String =
    graft.Artifacts.scratchDir(spark, "posidx", dir, docs(dir)) { path =>
      val p = posPostings(spark, dir)
      val base = p.filter(col("doc_id") % 10 =!= 9)
      val delta = p.filter(col("doc_id") % 10 === 9)
      graft.operators.CommitLog.appendWithBloom(spark, path, base, Seq("token"))
      graft.operators.CommitLog.appendWithBloom(spark, path, delta, Seq("token"))
    }

  /** Phrase search served from the PERSISTED positional index: one
    * Bloom-pruned [[graft.operators.CommitLog.scanEquals]] per phrase
    * term, then an equi-join per term on (doc_id, aligned position) —
    * the classic positional-intersect plan; work ∝ the phrase terms'
    * postings (segments without the term never open), never a corpus
    * scan. Returns matching documents with their occurrence counts. */
  def searchPhrase(spark: SparkSession, dir: String,
      phrase: Seq[String] = PhraseTerms, asOf: Option[Long] = None): DataFrame =
    phraseFromIndex(spark, posIndexTablePath(spark, dir), phrase, asOf)

  /** The phrase-intersect serve plan over ANY positional-index table
    * (fixture-built or stream-maintained): Bloom-pruned per-term
    * scans, one aligned equi-join per phrase term. */
  def phraseFromIndex(spark: SparkSession, table: String,
      phrase: Seq[String], asOf: Option[Long] = None): DataFrame = {
    // ONE snapshot resolve for the whole phrase (scanEqualsMulti): a
    // k-term query must not pay k checkpoint scans of the same version
    val perTerm = graft.operators.CommitLog
      .scanEqualsMulti(spark, table, "token", phrase, asOf)
    val anchor = perTerm.head
      .select(col("doc_id"), col("pos"))
    val joined = perTerm.zipWithIndex.tail.foldLeft(anchor) { case (acc, (df, i)) =>
      acc.join(df.select(col("doc_id"), (col("pos") - i).as("pos")),
        Seq("doc_id", "pos"))
    }
    joined.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** Collocation mining: adjacent-bigram PMI over the PERSISTED
    * positional index — ln((c_ab/N2) / ((c_a/N1)(c_b/N1))), the
    * association measure that separates real collocations from chance
    * co-occurrence. Unigram stats and N1 come from the same index
    * read (one occurrence per stored position), bigram counts from
    * ONE positional self-join; corpus scalars ride a broadcast
    * one-row frame. The formula is written in the identical operation order as
    * the oracle; ordering is by the ROUNDED score. `+ 0.0` on both
    * sides folds IEEE -0.0 to +0.0: DuckDB rounds the binary double
    * (a tiny-negative PMI yields -0.0) while Spark rounds via
    * BigDecimal (yields +0.0) — the values are equal but the hash
    * gate sees the sign bit. */
  def collocationsPmi(spark: SparkSession, dir: String,
      minCount: Int = 5): DataFrame = {
    // serve EVERYTHING token-shaped from the persisted positional
    // index (each stored position is one occurrence, so a per-token
    // count over the index IS the collection frequency and the total
    // row count IS N1) — no corpus re-tokenize. The only corpus touch
    // left is the document COUNT (N2 = N1 - |docs| mirrors the
    // oracle's per-doc bigram total): a count-star scan that reads
    // zero data columns, never the text.
    // memoized per corpus (like the postings): an unmemoized
    // per-call localCheckpoint of the whole positional index would pin
    // one corpus-sized block-manager copy PER CALL until app end, with
    // no release path — the exact leak the other build-once frames in
    // this family guard against
    val p = graft.Artifacts.frame(spark, "positions", dir, docs(dir)) {
      graft.operators.CommitLog.read(spark, posIndexTablePath(spark, dir))
        .localCheckpoint(false)
    }
    val uni = p.groupBy(col("token"))
      .agg(count(lit(1)).cast("double").as("c1"))
    val scalars = p
      .agg(count(lit(1)).cast("double").as("n1"))
      .crossJoin(Tables.documents(spark, dir)
        .agg(count(lit(1)).cast("double").as("nd")))
      .select(col("n1"), (col("n1") - col("nd")).as("n2"))
    // adjacent bigrams via lead() over the per-doc position order
    // instead of a positional SELF-JOIN (r18, guide §2.4): the join
    // shuffled the index twice (both projections) and hashed ~N1 rows
    // against ~N1 rows; the window shuffles it once by doc_id. The
    // pos+1 guard keeps the pairing identical to the join even if a
    // doc's positions ever had gaps.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val pairs = p.select(col("doc_id"), col("pos"), col("token"))
      .withColumn("w2", lead(col("token"), 1).over(w))
      .withColumn("nextPos", lead(col("pos"), 1).over(w))
      .filter(col("nextPos") === col("pos") + 1)
      .groupBy(col("token").as("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val pmi = log((col("n_pair").cast("double") / col("n2")) /
      ((col("ca") / col("n1")) * (col("cb") / col("n1"))))
    pairs
      .join(broadcast(uni.select(col("token").as("w1"), col("c1").as("ca"))), Seq("w1"))
      .join(broadcast(uni.select(col("token").as("w2"), col("c1").as("cb"))), Seq("w2"))
      .crossJoin(broadcast(scalars))
      .select(col("w1"), col("w2"), col("n_pair"),
        (round(pmi, 4) + lit(0.0)).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
  }

  /** The persisted index: postings stored AS a graft commit-log table —
    * segment appends are atomic commits (a reader never sees a half-
    * written segment), each segment publishes a token Bloom filter so
    * term lookups skip segments that cannot contain the term, and the
    * index is TIME-TRAVELABLE (serve the index as of any version —
    * audit which corpus state answered yesterday's query). This is the
    * Lucene segment model re-expressed on the engine's own table
    * format; at 100 TB segments are per-ingest-batch and a background
    * compact() merges small ones like any other graft table. The
    * fixture build writes two segments: the base corpus (doc_id%10!=9)
    * then the delta (doc_id%10==9). */
  def indexTablePath(spark: SparkSession, dir: String): String =
    graft.Artifacts.scratchDir(spark, "searchidx", dir, docs(dir)) { path =>
      val p = postings(spark, dir)
      val base = p.filter(col("doc_id") % 10 =!= 9)
      val delta = p.filter(col("doc_id") % 10 === 9)
      graft.operators.CommitLog.appendWithBloom(spark, path, base, Seq("token"))
      graft.operators.CommitLog.appendWithBloom(spark, path, delta, Seq("token"))
    }

  /** Conjunctive search served from the PERSISTED index across all
    * committed segments: one [[graft.operators.CommitLog.scanEquals]]
    * per term — each probe consults the per-segment token Blooms, so a
    * term absent from a segment never opens that segment's file — then
    * the same intersect plan as [[searchAll]], proving base ∪ delta ≡
    * the whole corpus (the oracle is the full-corpus SQL).
    * `asOf = Some(0)` serves yesterday's index: only base-segment
    * hits. */
  def searchAllIndexed(spark: SparkSession, dir: String,
      terms: Seq[String] = QueryTerms, asOf: Option[Long] = None): DataFrame =
    andFromIndex(spark, indexTablePath(spark, dir), terms, asOf)

  /** The conjunctive (AND) serve plan over ANY postings-index table —
    * the body of [[searchAllIndexed]], reusable by the
    * transaction-pinned serve. */
  def andFromIndex(spark: SparkSession, table: String,
      terms: Seq[String], asOf: Option[Long] = None): DataFrame = {
    // distinct the query (same law as [[searchAll]] — and a duplicate
    // here would additionally DOUBLE total_tf by unioning one term's
    // postings scan twice)
    val q = terms.distinct
    graft.operators.CommitLog
      .scanEqualsMulti(spark, table, "token", q, asOf)
      .reduce(_ unionAll _)
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("token")).as("n_terms"),
        sum(col("tf")).as("total_tf"))
      .filter(col("n_terms") === q.size)
      .select(col("doc_id"), col("total_tf"))
      .orderBy(col("doc_id"))
  }

  /** Document-length NORMS as their own commit-log segments beside
    * the token index — the Lucene norms file re-expressed on the
    * engine's table format: BM25's per-document length factor must
    * not require touching every token's postings at query time. Same
    * base/delta two-segment split, zone stats on doc_id; time-travels
    * in step with the index (version 0 = base corpus norms). */
  def normsTablePath(spark: SparkSession, dir: String): String =
    graft.Artifacts.scratchDir(spark, "norms", dir, docs(dir)) { path =>
      val dl = postings(spark, dir).groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("dl"))
      val base = dl.filter(col("doc_id") % 10 =!= 9)
      val delta = dl.filter(col("doc_id") % 10 === 9)
      graft.operators.CommitLog.appendWithBloom(spark, path, base,
        Seq.empty, Seq("doc_id"))
      graft.operators.CommitLog.appendWithBloom(spark, path, delta,
        Seq.empty, Seq("doc_id"))
    }

  /** BM25 served ENTIRELY from persisted artifacts: Bloom-pruned
    * per-term postings scans from the segment index + the norms table
    * for dl/avgdl/N — no postings rebuild, no corpus tokenize, no
    * documents scan at all (plan-pinned in SearchSpec). The score
    * expression is shared with [[searchBm25]] so the two serving
    * paths cannot drift; the oracle is the full-corpus SQL, so
    * index ∪ norms ≡ corpus is exactly what the hash certifies. */
  def searchBm25Indexed(spark: SparkSession, dir: String,
      terms: Seq[String] = QueryTerms, asOf: Option[Long] = None): DataFrame =
    bm25FromIndex(spark, indexTablePath(spark, dir),
      normsTablePath(spark, dir), terms, asOf)

  /** The BM25 serve plan over ANY (index table, norms table) pair
    * (fixture-built or stream-maintained). */
  def bm25FromIndex(spark: SparkSession, idxTable: String, normsTable: String,
      terms: Seq[String], asOf: Option[Long] = None): DataFrame =
    bm25FromIndexAt(spark, idxTable, asOf, normsTable, asOf, terms)

  /** [[bm25FromIndex]] with INDEPENDENT child versions — the
    * transaction-pinned serve needs each table at ITS manifest pin
    * (child logs advance at different rates). */
  def bm25FromIndexAt(spark: SparkSession, idxTable: String,
      idxAsOf: Option[Long], normsTable: String, normsAsOf: Option[Long],
      terms: Seq[String]): DataFrame = {
    val matchedPost = graft.operators.CommitLog
      .scanEqualsMulti(spark, idxTable, "token", terms, idxAsOf)
      .reduce(_ unionAll _)
    val dl = graft.operators.CommitLog.read(spark, normsTable, normsAsOf)
      .select(col("doc_id"), col("dl").cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")) / count(lit(1))).as("avgdl"))
    val dfTab = matchedPost.groupBy(col("token"))
      .agg(count(lit(1)).cast("double").as("df"))
    val matched = matchedPost
      .join(dl, "doc_id")
      .join(broadcast(dfTab), "token")
      .crossJoin(broadcast(stats))
    matched
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), round(sum(bm25Weight), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
  }

  // ---- transaction-pinned serving (the atomic-visibility contract) --
  // [[graft.streaming.IncrementalIngest.searchIndexFullWriter]] with a
  // manifestDir commits each trigger's three child segments, then one
  // PARENT manifest entry pinning (role -> child version). These
  // serving paths resolve the manifest FIRST and read every child AS
  // OF its pin — so a writer crash between child commits can never
  // surface a partial trigger: the previous transaction keeps serving
  // until the replay completes this one.

  /** Child-table roles a search transaction's manifest pins. */
  val RoleIndex = "index"
  val RolePos = "pos"
  val RoleNorms = "norms"

  /** ONE manifest resolve per query. Callers needing several roles
    * must read them all from the same returned map — a second
    * `txnPins` call could observe a transaction that committed in
    * between, pinning e.g. the index at txn N and the norms at N+1:
    * exactly the mixed half-visible state the manifest exists to
    * prevent. */
  private def pinsOf(spark: SparkSession, manifestDir: String)
      : Map[String, Long] = {
    val pins = graft.operators.CommitLog.txnPins(spark, manifestDir)
    if (pins.isEmpty) throw new IllegalStateException(
      s"no committed transaction in $manifestDir — nothing is servable yet")
    pins
  }

  private def pinFrom(pins: Map[String, Long], manifestDir: String,
      role: String): Long =
    pins.getOrElse(role, throw new IllegalStateException(
      s"manifest $manifestDir pins ${pins.keys.mkString(",")} but not '$role'"))

  private def pinOf(spark: SparkSession, manifestDir: String,
      role: String): Long =
    pinFrom(pinsOf(spark, manifestDir), manifestDir, role)

  /** Phrase search at the newest COMPLETE transaction. */
  def phrasePinned(spark: SparkSession, manifestDir: String,
      posTable: String, phrase: Seq[String]): DataFrame =
    phraseFromIndex(spark, posTable, phrase,
      Some(pinOf(spark, manifestDir, RolePos)))

  /** Conjunctive (AND) search at the newest COMPLETE transaction. */
  def andPinned(spark: SparkSession, manifestDir: String,
      idxTable: String, terms: Seq[String]): DataFrame =
    andFromIndex(spark, idxTable, terms,
      Some(pinOf(spark, manifestDir, RoleIndex)))

  /** BM25 at the newest COMPLETE transaction — index and norms each
    * at THEIR pinned version, so the postings-to-norms join can never
    * mix a half-landed trigger's sides. */
  def bm25Pinned(spark: SparkSession, manifestDir: String,
      idxTable: String, normsTable: String, terms: Seq[String]): DataFrame = {
    // resolve the manifest ONCE; both roles come from the same
    // transaction snapshot even if a writer commits mid-call
    val pins = pinsOf(spark, manifestDir)
    bm25FromIndexAt(spark, idxTable,
      Some(pinFrom(pins, manifestDir, RoleIndex)),
      normsTable, Some(pinFrom(pins, manifestDir, RoleNorms)), terms)
  }

  /** The Okapi BM25 per-posting weight (k1=1.2, b=0.75; (k1+1) and
    * (1-b) pre-folded to the SAME literals the oracle SQL uses) —
    * one definition shared by the in-memory and index-served paths. */
  private def bm25Weight: org.apache.spark.sql.Column = {
    val tf = col("tf").cast("double")
    val idf = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    idf * (tf * lit(2.2)) /
      (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
  }

  /** BM25 ranking over documents matching ANY query term. Constants
    * k1=1.2, b=0.75 appear as the same literals the oracle SQL uses
    * ((k1+1) pre-folded to 2.2, 1-b to 0.25) so both engines run the
    * IDENTICAL double-precision expression tree; only the final
    * per-document sum is order-sensitive, absorbed by round(.,4).
    * Ordering is by the ROUNDED score (then doc_id) so the presented
    * ranking cannot depend on sub-round float noise either. */
  def searchBm25(spark: SparkSession, dir: String,
      terms: Seq[String] = QueryTerms): DataFrame = {
    val p = postings(spark, dir)
    val dl = p.groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")) / count(lit(1))).as("avgdl"))
    val dfTab = p.filter(col("token").isin(terms: _*))
      .groupBy(col("token")).agg(count(lit(1)).cast("double").as("df"))
    val matched = p.filter(col("token").isin(terms: _*))
      .join(dl, "doc_id")
      .join(broadcast(dfTab), "token")
      .crossJoin(broadcast(stats))
    matched
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), round(sum(bm25Weight), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
  }
}
