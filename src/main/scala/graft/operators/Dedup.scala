package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Artifacts, Tables}
import graft.functions.TextFunctions._

/** Deduplication operators for the LLM-data-pipeline surface (north-star
  * extension): exact, fingerprint (bag-of-words), sampled exact Jaccard,
  * MinHash+LSH, and SimHash.
  *
  * Scale design (the part that matters at 100 TB):
  *  - exact/fingerprint dedup is a single hash-aggregate — one shuffle on
  *    the digest, map-side combined;
  *  - all-pairs Jaccard is quadratic, so it exists only as a *sampled*
  *    baseline; the production path is MinHash banding, which turns
  *    near-dup search into an equi-join on (band_id, band_key) — linear
  *    shuffle volume, skew handled by AQE;
  *  - SimHash reduces each doc to 64 bits; the pigeonhole band join
  *    (4x16 bits) finds all pairs within Hamming distance 3 without a
  *    cross join;
  *  - candidate pairs are verified with exact Jaccard before reporting —
  *    LSH only prunes, it never asserts.
  */
object Dedup {

  /** Exact + fingerprint dedup summary — corpus-level counts. */
  def exactSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct_texts"),
        countDistinct(fingerprint(col("text"))).as("n_distinct_fps"))

  /** Bag-of-words duplicate groups: same sorted distinct token set.
    * (The synthetic corpus has these; exact-text dupes it does not.) */
  def fingerprintGroups(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsParallel(spark, dir)
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))
      .filter(col("n_docs") > 1)
      .orderBy(col("fp"))

  /** Distinct tokens hashed to longs at birth (same move as
    * [[shingleSets]]): every downstream set op — minhash transforms,
    * candidate verification's merge-intersect — runs on fixed-width
    * longs instead of strings (measured: string intersect ~9us/pair
    * dominates verification). The Jaccard VALUE is identical to the
    * string computation (hashing preserves set cardinalities; a 64-bit
    * collision on a real corpus is negligible), which is exactly the
    * argument the DuckDB string-token oracle relies on. */
  private def tokenSets(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id"),
        // sorted ONCE per document so the per-pair verification tier
        // (graft_isect_size) runs its single merge pass with no
        // per-pair sort; minhash and the bitmask tier are order-blind
        sort_array(array_distinct(transform(tokens(col("text")), t => xxhash64(t)))).as("toks"))

  /** Adaptive set representation. Exact set similarity is dominated by
    * per-pair intersection cost (measured ~9us/pair for string-array
    * intersect — 110s over 12M pairs on this corpus). Three tiers:
    *  - vocabulary ≤ 64 symbols: dictionary-encode and represent every
    *    token set as ONE 64-bit mask — jaccard is two popcounts
    *    (~ns/pair);
    *  - vocabulary ≤ 512 symbols: the MULTI-WORD bitmap (r14, closing
    *    the gap this comment used to name) — a fixed ≤8-long word
    *    array per set, per-pair intersect = ≤8 ANDs + popcounts
    *    (graft_words_isect), still far under the merge walk of two
    *    full token arrays;
    *  - larger vocabularies keep the sorted-long-array form verified
    *    by the one-pass merge (graft_isect_size).
    * The vocabulary probe is a single distinct-aggregate — cheap at any
    * scale — and the driver-side collect happens only under the
    * 512-symbol bound (≤4 KB). */
  private def smallVocab(t: DataFrame): Option[Array[Long]] = {
    val distinctToks = t.select(explode(col("toks")).as("tok")).distinct()
    val n = distinctToks.limit(WordsSymbols + 1).count()
    // an EMPTY vocabulary (all documents tokenize to nothing) has no
    // mask tier: maskExpr's reduce over zero symbols would throw, and
    // a persisted "[]" sidecar would poison every later serve
    if (n == 0 || n > WordsSymbols) None
    else Some(distinctToks.orderBy(col("tok")).collect().map(_.getLong(0)))
  }

  /** Verify-tier bounds: ≤ [[MaskSymbols]] → single-long popcount mask;
    * ≤ [[WordsSymbols]] → multi-word bitmap; beyond → sorted-array
    * merge. */
  private[operators] val MaskSymbols = 64
  private[operators] val WordsSymbols = 512

  /** The per-pair verification representation a vocabulary admits. */
  private sealed trait SetTier
  private case object ArrayTier extends SetTier
  private final case class MaskTier(vocab: Array[Long]) extends SetTier
  private final case class WordsTier(vocab: Array[Long]) extends SetTier
  private def tierOf(vocab: Option[Array[Long]]): SetTier = vocab match {
    case Some(v) if v.length <= MaskSymbols => MaskTier(v)
    case Some(v)                            => WordsTier(v)
    case None                               => ArrayTier
  }

  /** Every Dedup artifact is built from the corpus's documents table. */
  private def docs(dir: String): Seq[String] = Seq(Tables.path(dir, "documents"))

  /** The vocabulary probe memoized per CORPUS (the probe is a distinct
    * aggregate — cheap, but not free per call). */
  private def corpusVocab(spark: SparkSession, dir: String): Option[Array[Long]] =
    Artifacts.value(spark, "dedup_vocab", dir, docs(dir)) {
      smallVocab(tokenSets(spark, dir))
    }

  /** A live batch's (doc_id, toks, sz) in the index's persisted shape:
    * SORTED distinct hashed tokens — the same representation
    * writeDedupIndex stores, so the merge-pass verification tier
    * (graft_isect_size) never pays a per-pair sort in the corpus-sized
    * hot loop. One definition for every batch-shaped consumer. */
  private def batchTokenSets(batch: DataFrame): DataFrame =
    batch.select(col("doc_id"),
        sort_array(array_distinct(transform(tokens(col("text")), t => xxhash64(t)))).as("toks"))
      .withColumn("sz", size(col("toks")))

  /** Bitmask-of-vocabulary expression over a `toks` column (the ≤64
    * single-long tier). */
  private def maskExpr(vocab: Array[Long]): Column =
    vocab.zipWithIndex.map { case (w, i) =>
      when(array_contains(col("toks"), w), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** Multi-word bitmap expression over a `toks` column (the ≤512
    * tier): one native pass per DOC — binary-search each token in the
    * ascending vocabulary literal, set its bit (graft_vocab_words). */
  private def wordsExpr(vocab: Array[Long]): Column =
    graft.plans.VectorExpressions.vocabWords(col("toks"), vocab)

  /** doc_id, sz, and the tier's payload: `mask` (≤64 vocab), `words`
    * (≤512 vocab), or `toks`. */
  private def setRepr(spark: SparkSession, dir: String): (DataFrame, SetTier) = {
    val t = tokenSets(spark, dir)
    val tier = tierOf(corpusVocab(spark, dir))
    val payload = tier match {
      case MaskTier(v)  => maskExpr(v).as("mask")
      case WordsTier(v) => wordsExpr(v).as("words")
      case ArrayTier    => col("toks")
    }
    (t.select(col("doc_id"), size(col("toks")).as("sz"), payload), tier)
  }

  /** Exact jaccard over pre-paired rows carrying (sa, sb) and the
    * tier's payload pair: (mask_a, mask_b), (words_a, words_b), or
    * (toks_a, toks_b). The array branch is the SORTED-INT-ARRAY tier
    * (advice r8 #5): graft_isect_size merges the per-doc-sorted long
    * arrays in one pass — the same value as size(array_intersect)
    * (differential-pinned in ExtensionsSpec) without its per-pair boxed
    * hash-set build. The words branch computes i via ≤8 ANDs+popcounts
    * and derives the union from the TRUE sizes (i/(sa+sb-i) — the same
    * rational the array form computes, so the rounded value is
    * bit-identical). Every consumer (jaccard_pairs, banded verify,
    * incremental, indexed) inherits the tier through this dispatch. */
  private def pairJaccard(tier: SetTier): Column = tier match {
    case MaskTier(_) =>
      bit_count(col("mask_a").bitwiseAND(col("mask_b"))).cast("double") /
        bit_count(col("mask_a").bitwiseOR(col("mask_b")))
    case WordsTier(_) =>
      val i = graft.plans.VectorExpressions.wordsIsect(col("words_a"), col("words_b"))
      i.cast("double") / (col("sa") + col("sb") - i)
    case ArrayTier =>
      val i = graft.plans.VectorExpressions.isectSize(col("toks_a"), col("toks_b"))
      i.cast("double") / (col("sa") + col("sb") - i)
  }

  /** Exact jaccard + final threshold over pre-paired rows (callers
    * that haven't already applied the size-ratio prefilter use
    * [[verifyPairs]]). */
  private def jaccardVerify(pairs: DataFrame, threshold: Double, tier: SetTier): DataFrame =
    pairs
      .select(col("doc_a"), col("doc_b"),
              round(pairJaccard(tier), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Size-ratio prefilter (sound: i <= min(sa,sb) and union >= max, so
    * j <= min/max — pairs failing it can never reach the threshold) +
    * exact jaccard + final threshold. */
  private def verifyPairs(pairs: DataFrame, threshold: Double, tier: SetTier): DataFrame =
    jaccardVerify(
      pairs.filter(least(col("sa"), col("sb")).cast("double") /
                   greatest(col("sa"), col("sb")) >= threshold),
      threshold, tier)

  private def sides(repr: DataFrame, tier: SetTier): (DataFrame, DataFrame) = {
    def side(suffix: String) = {
      val payload = tier match {
        case MaskTier(_)  => col("mask").as(s"mask_$suffix")
        case WordsTier(_) => col("words").as(s"words_$suffix")
        case ArrayTier    => col("toks").as(s"toks_$suffix")
      }
      repr.select(col("doc_id").as(s"doc_$suffix"), col("sz").as(s"s$suffix"), payload)
    }
    (side("a"), side("b"))
  }

  /** Exact n-gram(1) Jaccard over a deterministic 20% sample — the
    * quadratic brute-force baseline, deliberately bounded. */
  def jaccardPairsSampled(spark: SparkSession, dir: String): DataFrame = {
    val (repr, tier) = setRepr(spark, dir)
    val (a, b) = sides(repr.filter(col("doc_id") % 5 === 0), tier)
    verifyPairs(a.join(b, col("doc_a") < col("doc_b")), 0.5, tier)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // MinHash parameters: 32 hashes, 16 bands x 2 rows. For Jaccard j the
  // candidate probability is 1-(1-j^2)^16: j=0.8 -> ~1-3e-8 (never
  // missed in practice), j=0.3 -> 0.78 (pruned cheaply by verification).
  val NumHashes = 32
  val BandRows = 2
  val NumBands: Int = NumHashes / BandRows

  /** Per-document MinHash signature over the hashed-long token sets:
    * mh_i = min over tokens of xxhash64(token, i), computed by the
    * native one-pass graft_minhash expression (see [[signaturesFor]]). */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    signaturesFor(tokenSets(spark, dir))

  /** mh_i = min over set elements of xxhash64(element, i), via the
    * native one-pass expression (plans.MinhashSignature): each element
    * is hashed once and mixed NumHashes times, where the composed-HOF
    * form it replaced ran NumHashes interpreted transform+array_min
    * passes per row. Bit-identical output (differential test in
    * ExtensionsSpec), so every downstream band key — and every oracle
    * recall argument — is unchanged. */
  private def signaturesFor(sets: DataFrame): DataFrame =
    sets.withColumn("mh",
      graft.plans.VectorExpressions.minhash(col("toks"), NumHashes))

  /** Distinct word n-gram (shingle) sets per document — the unit of
    * SEQUENCE-sensitive near-dup detection: bag-of-words reshuffles
    * that fool unigram Jaccard share almost no shingles, while true
    * copy-edits keep most of them. Shingles are xxhash64'd to longs at
    * birth: every downstream set operation (distinct, minhash,
    * intersect-verify) runs on fixed-width longs instead of strings,
    * and with 2^64 space a collision on a real corpus is negligible —
    * the Jaccard VALUE is identical to the string computation. */
  private[graft] def shingleSets(spark: SparkSession, dir: String, n: Int): DataFrame = {
    // One-pass native window hashing (plans.NgramHashes) — bit-identical
    // to the zip_with slice chain it replaced (differential test in
    // ExtensionsSpec), but without n interpreted slice evaluations and
    // n-1 interpreted lambda passes per row; short docs yield the empty
    // set directly. (Historical trap, still true of any composed form:
    // NEVER element_at(t, i) inside a sequence-transform — the lambda
    // re-evaluates its outer child per element, re-tokenizing the whole
    // document per shingle, measured O(len^2).)
    val t = graft.functions.TextFunctions.tokens(col("text"))
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id"),
        array_distinct(graft.plans.VectorExpressions.ngramHashes(t, n)).as("toks"))
  }

  /** Near-duplicate pairs with exact Jaccard >= 0.8 — adaptive plan:
    *
    *  - small vocabulary (<= 64 symbols): LSH banding *degenerates* —
    *    most pairs agree on most bands, so the band join materializes
    *    each pair ~(agreeing bands) times (measured ~150M join rows for
    *    12M pairs on the 31-word test corpus, 76s). Exact all-pairs
    *    over bitmasks is strictly cheaper: a broadcast nested-loop with
    *    a size-ratio prefilter and two popcounts per pair, no distinct
    *    (measured ~5s). This is the plan a cost-based optimizer would
    *    pick from the vocabulary statistic alone.
    *  - general vocabulary: MinHash banding (minhashLshPairsBanded) —
    *    candidates scale with true collisions, which is the whole point
    *    of LSH on a real (sparse-similarity) corpus at 100 TB.
    */
  def minhashLshPairs(spark: SparkSession, dir: String): DataFrame =
    nearDupPairsUnsorted(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  /** The adaptive near-dup pair core WITHOUT the presentation sort —
    * consumers that only need the pair set (connected components) skip
    * the global range-partition+sort a total order costs.
    *
    * One pair set per corpus: minhash_lsh, the cluster build, and the
    * reduction report all consume the same near-dup pairs, so the
    * pipeline (tokenize -> minhash -> band join -> verify) runs once and
    * is served from a lazy checkpoint — the same build-once economics as
    * the cluster assignments below, an [[Artifacts.frame]] per corpus. */
  private[operators] def nearDupPairsUnsorted(spark: SparkSession, dir: String): DataFrame =
    corpusVocab(spark, dir) match {
      // the all-pairs degenerate-LSH argument below is specific to the
      // TINY (≤64-symbol) vocabulary, where most pairs agree on most
      // bands; a 65..512-symbol corpus bands fine and stays on the LSH
      // plan — it gets the multi-word popcount tier at VERIFY time
      // through bandedPairsShared's vocab thread instead
      case Some(vocab) if vocab.length <= MaskSymbols =>
        Artifacts.frame(spark, "dedup_masked_pairs", dir, docs(dir)) {
          maskedPairsFor(spark, dir, vocab).localCheckpoint(false)
        }
      // general corpus: share the ONE banded build with
      // minhashLshPairsBanded — the memoized frame is already a
      // checkpoint, so no second layer and no duplicate pipeline
      case _ => bandedPairsShared(spark, dir)
    }

  private def maskedPairsFor(spark: SparkSession, dir: String,
      vocab: Array[Long]): DataFrame = {
    val repr = tokenSets(spark, dir)
      .select(col("doc_id"), size(col("toks")).as("sz"), maskExpr(vocab).as("mask"))
    def side(suffix: String) =
      repr.select(col("doc_id").as(s"doc_$suffix"), col("sz").as(s"s$suffix"),
                  col("mask").as(s"mask_$suffix"))
    // the corpus parquet is 1-2 splits, which would serialize the
    // nested loop; spread the stream side across the cores first
    val streamSide = side("a").repartition(
      repr.sparkSession.sparkContext.defaultParallelism * 2)
    verifyPairs(streamSide.join(broadcast(side("b")), col("doc_a") < col("doc_b")),
                0.8, MaskTier(vocab))
  }

  /** The single memoized banded build per corpus, shared by the
    * adaptive path and the explicit banded query. */
  private def bandedPairsShared(spark: SparkSession, dir: String): DataFrame =
    Artifacts.frame(spark, "dedup_banded_pairs", dir, docs(dir)) {
      // the corpus vocabulary (when ≤512 symbols) upgrades the VERIFY
      // stage to a popcount tier; the banding itself is unchanged.
      // Sound here because the vocab is computed over the SAME unigram
      // token sets being banded — it covers every token on both sides.
      bandedPairsFor(tokenSets(spark, dir), 0.8,
        vocab = corpusVocab(spark, dir)).localCheckpoint(false)
    }

  /** The general-corpus LSH banding path (blocking equi-join on
    * (band_id, band_key), first-agreeing-band candidate dedup,
    * verification on attached sets). Memoized per corpus like the
    * adaptive path — repeat calls must not rebuild checkpoints (the
    * build's band tables are owned by its entry, so an unmemoized
    * per-call build would grow storage without bound). */
  def minhashLshPairsBanded(spark: SparkSession, dir: String): DataFrame =
    bandedPairsShared(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  /** Word-3-gram shingle near-dups: shingle -> MinHash -> band ->
    * verify — the order-sensitive dedup pass (prompt-surface "n-gram
    * Jaccard"). Same banded machinery as the unigram path, so the same
    * 100 TB shape: candidates scale with true collisions. */
  def shingleLshPairs(spark: SparkSession, dir: String): DataFrame =
    Artifacts.frame(spark, "dedup_shingle_pairs", dir, docs(dir)) {
      bandedPairsFor(shingleSets(spark, dir, 3).filter(size(col("toks")) > 0),
        0.8).localCheckpoint(false)
    }.orderBy(col("doc_a"), col("doc_b"))

  /** Banded-LSH near-dup pairs over ANY (doc_id, toks) set frame. Its
    * set and band-table checkpoints go to [[Artifacts.own]], so the
    * artifact being built releases them.
    *
    * Join topology (the part that decides cost on a dup-heavy corpus):
    * a clique of d near-identical docs emits ~d^2/2 pairs up to
    * NumBands times each, so whatever rides the band join gets
    * materialized and shuffled tens of millions of times. The band
    * table is therefore THIN — (doc_id, sz, band_id, band_key), ~32
    * bytes/row — and the token arrays are attached only to the
    * size-prefiltered, deduplicated candidates (a doc_id equi-join
    * against the checkpointed set table; AQE broadcasts it at small
    * scale, shuffles on doc_id at large). Measured at sf0.1 this cut
    * the pair build ~3x vs carrying toks through the band join. */
  private[operators] def bandedPairsFor(sets: DataFrame, threshold: Double,
      vocab: Option[Array[Long]] = None): DataFrame =
    bandedPairsCore(sets, None, threshold, vocab)

  /** Banded near-dup pairs BETWEEN two disjoint set frames — the
    * incremental-ingest shape (side a = standing corpus, side b =
    * incoming batch). Identical topology to the self-join path: only
    * CROSS-side band collisions materialize (corpus-vs-corpus pairs
    * never enter the join), so cost scales with true batch-vs-corpus
    * collisions — the property that makes a large backfill batch
    * ingestible at 100 TB where a broadcast would OOM. */
  private[operators] def bandedPairsAcross(setsA: DataFrame, setsB: DataFrame,
      threshold: Double, vocab: Option[Array[Long]] = None): DataFrame =
    bandedPairsCore(setsA, Some(setsB), threshold, vocab)

  private def bandedPairsCore(setsA: DataFrame, setsB: Option[DataFrame],
      threshold: Double, vocab: Option[Array[Long]] = None): DataFrame = {
    // materialized once: the band table and both candidate-attach
    // joins below all read this frame — without the checkpoint each
    // consumer would recompute tokenize/shingle from the scan. Lazy so
    // plan-only callers (.schema/.explain) pay nothing; at scale this
    // IS the set table a production dedup writes before banding.
    def prep(sets: DataFrame): DataFrame =
      Artifacts.own(sets.withColumn("sz", size(col("toks"))).localCheckpoint(false))
    val reprA = prep(setsA)
    val reprB = setsB.map(prep).getOrElse(reprA)
    def bandTable(repr: DataFrame): DataFrame = {
      // both join sides read the band table: checkpoint so the
      // signature pipeline runs once (a self-join reuses no subplan)
      Artifacts.own(bandTableFor(repr).localCheckpoint(false))
    }
    val bandsA = bandTable(reprA)
    val bandsB = setsB.map(_ => bandTable(reprB)).getOrElse(bandsA)
    bandJoinVerify(bandsA, reprA, bandsB, reprB, threshold,
      selfJoin = setsB.isEmpty, vocab = vocab)
  }

  /** The thin band table — (doc_id, sz, bks, band_id, band_key) — from
    * a (doc_id, toks, sz) set frame. Shared by the in-memory banded
    * paths and the on-disk index writer so the persisted band keys are
    * bit-identical to the ones a live build would produce. */
  private def bandTableFor(repr: DataFrame): DataFrame =
    signaturesFor(repr)
      .withColumn("bks", array((0 until NumBands).map(bId =>
        xxhash64(concat_ws(",",
          (0 until BandRows).map(r => col("mh")(bId * BandRows + r).cast("string")): _*))): _*))
      .select(col("doc_id"), col("sz"), col("bks"), posexplode(col("bks")))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_key")

  /** Band equi-join + candidate filters + set attach + exact-Jaccard
    * verify — the tail every banded path (self, cross-side, indexed)
    * shares. `bandsX` carry (doc_id, sz, bks, band_id, band_key);
    * `reprX` carry (doc_id, toks) for the verification attach. */
  private def bandJoinVerify(bandsA: DataFrame, reprA: DataFrame,
      bandsB: DataFrame, reprB: DataFrame, threshold: Double,
      selfJoin: Boolean, vocab: Option[Array[Long]] = None): DataFrame = {
    def side(bands: DataFrame, suffix: String) =
      bands.select(col("band_id"), col("band_key"),
        col("doc_id").as(s"doc_$suffix"), col("sz").as(s"s$suffix"),
        col("bks").as(s"bks_$suffix"))
    // Each pair is kept only at its FIRST agreeing band (both sides
    // carry the full 16-key vector) — on a dup-heavy corpus the band
    // join emits a true pair up to NumBands times, and this map-side
    // filter replaces the dropDuplicates SHUFFLE of that multiplied
    // volume with per-row arithmetic. graft_first_agree is a native
    // one-pass codegen'd scan (plans.FirstAgree): the composed
    // exists(zip_with(slice,slice)) form it replaced allocated three
    // arrays per joined row — ~12 s over the 11M-row sf0.1
    // incremental-serve join. The join guarantees agreement AT
    // band_id, so first_agree == band_id iff no earlier band agrees —
    // the identical keep-set. Size-ratio prefilter first (sound:
    // jaccard <= min(sz)/max(sz)), it's the cheaper predicate.
    // Self-join orients pairs doc_a < doc_b; the cross-side form skips
    // that filter (the sides are disjoint, each pair appears once).
    val joined = side(bandsA, "a").join(side(bandsB, "b"), Seq("band_id", "band_key"))
    val oriented = if (selfJoin) joined.filter(col("doc_a") < col("doc_b")) else joined
    val candidates = oriented
      .filter(least(col("sa"), col("sb")).cast("double") /
              greatest(col("sa"), col("sb")) >= threshold)
      .filter(graft.plans.VectorExpressions.firstAgree(col("bks_a"), col("bks_b"))
        === col("band_id"))
      .select(col("doc_a"), col("doc_b"), col("sa"), col("sb"))
    // no presentation sort below: set consumers (connected components)
    // must not pay a global range-partition+sort they immediately
    // re-shuffle; the query-surface wrappers add their own orderBy.
    // (candidates already passed the size-ratio prefilter above, so
    // this is the jaccard check alone — one place owns each predicate)
    tierOf(vocab) match {
      case MaskTier(v) =>
        // CORPUS-vocabulary popcount tier (the banded twin of setRepr's
        // bitmask fast path): each side is dictionary-masked once per
        // DOC before the attach, and the per-PAIR verify is two
        // popcounts instead of an array intersect (~9us -> ~ns).
        val ma = reprA.select(col("doc_id").as("doc_a"), maskExpr(v).as("mask_a"))
        val mb = reprB.select(col("doc_id").as("doc_b"), maskExpr(v).as("mask_b"))
        hybridVerify(candidates.join(ma, Seq("doc_a")).join(mb, Seq("doc_b")),
          threshold)
      case WordsTier(v) =>
        // multi-word bitmap tier (65..512 symbols): masked once per
        // DOC like the single-long tier, per-PAIR verify = ≤8 ANDs +
        // popcounts. Same cross-side soundness contract as
        // [[hybridVerify]]: the vocab covers every side-a token, so
        // any intersecting token is in-vocab and i is exact.
        val wa = reprA.select(col("doc_id").as("doc_a"), wordsExpr(v).as("words_a"))
        val wb = reprB.select(col("doc_id").as("doc_b"), wordsExpr(v).as("words_b"))
        wordsVerify(candidates.join(wa, Seq("doc_a")).join(wb, Seq("doc_b")),
          threshold)
      case ArrayTier =>
        val withSets = candidates
          .join(reprA.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")), Seq("doc_a"))
          .join(reprB.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), Seq("doc_b"))
        jaccardVerify(withSets, threshold, ArrayTier)
    }
  }

  /** Exact jaccard over (doc_a, doc_b, sa, sb, mask_a, mask_b) rows
    * where the masks were built from a dictionary covering EVERY
    * corpus (side-a) token. Sound even when side b carries
    * out-of-vocab tokens: any INTERSECTING token must be a corpus
    * token and hence in vocab, so i = popcount(mask_a & mask_b) is
    * exact, and with sa/sb the TRUE set sizes, i/(sa+sb-i) is the
    * exact jaccard — the same rational the array form computes,
    * bit-identical after the shared round(_, 4). */
  private def hybridVerify(pairs: DataFrame, threshold: Double): DataFrame = {
    val i = bit_count(col("mask_a").bitwiseAND(col("mask_b"))).cast("double")
    pairs
      .select(col("doc_a"), col("doc_b"),
        round(i / (col("sa") + col("sb") - i), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The multi-word twin of [[hybridVerify]]: exact jaccard over
    * (doc_a, doc_b, sa, sb, words_a, words_b) rows where the word
    * arrays were built from a dictionary covering EVERY side-a token
    * (same soundness argument — an intersecting token must be
    * in-vocab, so Σ popcount(and) is the exact intersection, and with
    * the TRUE sizes i/(sa+sb-i) is the exact jaccard, bit-identical
    * after the shared round(_, 4)). */
  private def wordsVerify(pairs: DataFrame, threshold: Double): DataFrame = {
    val i = graft.plans.VectorExpressions
      .wordsIsect(col("words_a"), col("words_b")).cast("double")
    pairs
      .select(col("doc_a"), col("doc_b"),
        round(i / (col("sa") + col("sb") - i), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash per document: explode distinct tokens, per-bit +/-1
    * vote sums in one hash-aggregate, reassemble the sign vector.
    *
    * The token hash is the first 16 hex chars of md5, split into two
    * unsigned 32-bit halves — an engine-portable construction (md5 is
    * bit-identical everywhere), so an external SQL engine can reproduce
    * the signatures exactly. xxhash64 would be ~2x cheaper per token but
    * is Spark-private; md5 keeps the whole family oracle-checkable and
    * the cost is still one codegen'd digest per (doc, token). */
  /** Side-effect-free: the signature QUERY is one scan-and-aggregate
    * and pins nothing — only [[simhashPairs]], which genuinely reads
    * the signatures from two join sides, builds the per-corpus memo. */
  def simhashes(spark: SparkSession, dir: String): DataFrame =
    simhashesUnsorted(spark, dir).orderBy(col("doc_id"))

  /** One signature checkpoint per corpus for the pair join. */
  private def simhashMemo(spark: SparkSession, dir: String): DataFrame =
    Artifacts.frame(spark, "dedup_simhash", dir, docs(dir)) {
      simhashesUnsorted(spark, dir).localCheckpoint(false)
    }

  /** The signature computation without the query surface's presentation
    * sort — pair generation re-shuffles on band value immediately, so a
    * global range-sort between them would be pure waste. */
  private def simhashesUnsorted(spark: SparkSession, dir: String): DataFrame = {
    val th = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), explode(distinctTokens(col("text"))).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("m"))
      .select(col("doc_id"),
        conv(substring(col("m"), 1, 8), 16, 10).cast("long").as("hi"),
        conv(substring(col("m"), 9, 8), 16, 10).cast("long").as("lo"))
    val bitSums = (0 until 64).map { i =>
      val half = if (i < 32) shiftright(col("lo"), i) else shiftright(col("hi"), i - 32)
      sum(when(half.bitwiseAND(lit(1L)) === 1, 1L).otherwise(-1L)).as(s"b$i")
    }
    th.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        // additive reassembly (bit 63's weight is Long.MinValue, the
        // rest sum below 2^63) so the SQL oracle's arithmetic matches
        (0 until 64).map(i =>
          when(col(s"b$i") > 0, lit(SimhashBitWeight(i))).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Two's-complement weight of bit i in a signed 64-bit value. */
  private[graft] def SimhashBitWeight(i: Int): Long =
    if (i == 63) Long.MinValue else 1L << i

  /** SimHash near-dup pairs within Hamming distance 3. Pigeonhole over
    * 4x16-bit bands: any pair with <=3 differing bits shares at least one
    * intact band, so an equi-join on band value finds every such pair. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // the memoized per-corpus signature checkpoint: both sides of the
    // band self-join read it, and a self-join reuses no subplan —
    // without the barrier the md5-per-token signature pipeline runs
    // twice (measured ~2x the whole query's cost).
    val sh = simhashMemo(spark, dir)
    val bands = sh.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(k =>
        shiftright(col("simhash"), k * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_val")
    val x = bands.select(col("band_id"), col("band_val"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val y = bands.select(col("band_id"), col("band_val"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    // hamming filter BEFORE the distinct: the band join inflates pairs
    // up to 4x, so dedup only what survives the cheap bit_count gate.
    x.join(y, Seq("band_id", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
              bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Corpus reduction report — the number a training-data pipeline
    * publishes after dedup: how many documents, how many near-dup
    * clusters they collapse to, and the survivor ratio if one
    * canonical doc is kept per cluster. */
  def dedupReport(spark: SparkSession, dir: String): DataFrame =
    dedupClusters(spark, dir)
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"),
        sum(when(col("is_canonical"), 1L).otherwise(0L)).as("n_canonical"),
        round(countDistinct(col("cluster_id")).cast("double") / count(lit(1)), 4)
          .as("keep_ratio"))

  /** Above this contracted-edge count the residual components solve
    * distributedly (label-propagation loop) instead of on the driver. */
  val CcLocalThreshold = 2000000L

  /** Transitive dedup clusters: connected components over the
    * MinHash-LSH near-dup pair graph, labeling every document with the
    * minimum doc_id reachable through chains of >=0.8-Jaccard pairs —
    * the "keep one canonical doc per duplicate cluster" step a
    * training-data pipeline runs after pair generation (A~B, B~C =>
    * {A,B,C} is one cluster even when A,C aren't a pair themselves).
    *
    * Shape (contract-then-solve, the GraphFrames/Pregel CC hybrid):
    *
    *  1. one aggregation labels every doc with min(self, min smaller
    *     neighbor) — the directed doc_a < doc_b pair set means only
    *     incoming edges matter, so this is a single map-side-combined
    *     pass, no symmetrize, no join;
    *  2. contract: rewrite pairs through those labels, drop self-loops
    *     and dups. Near-dup graphs are cliquey, so the residual is
    *     orders of magnitude smaller than the input (measured 3M pairs
    *     -> 2.4k at sf0.1);
    *  3. solve the residual: union-find on the driver when it fits
    *     (one tiny collect — the local-mode switch every production CC
    *     makes), else a broadcast label-propagation loop with
    *     localCheckpoint-per-round to stop the iterative logical plan
    *     doubling, O(log d) effective rounds after contraction;
    *  4. resolve doc -> level-1 label -> residual root with broadcast
    *     joins; docs without edges are singleton clusters. */
  /** Cluster assignments memoized per corpus: the components are
    * computed once (the loop below materializes eagerly via
    * localCheckpoint) and then served to every consumer — the clusters
    * query, the reduction report, a keep-canonical filter — the same
    * build-once economics as a materialized index. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    Artifacts.frame(spark, "dedup_clusters", dir, docs(dir))(
      dedupClusters(spark, dir, CcLocalThreshold))

  /** Incremental ingest dedup — the production shape: an INCOMING
    * batch (here the doc_id % 10 slice) checked for near-duplicates
    * against the STANDING corpus, without re-clustering anything. The
    * batch is small by construction, so its token sets broadcast and
    * the corpus makes one scan with a bounded per-row intersect — no
    * self-join, no quadratic blowup in corpus size (cost = corpus ×
    * batch; when the batch itself grows past broadcast size, the same
    * banded-LSH machinery over a side-tagged union takes over). Sets
    * are the hashed-long token sets, so the exact-Jaccard values match
    * the string-token oracle (hashing preserves set cardinalities). */
  /** Broadcast ceiling for the incremental path, in batch DOCUMENTS: a
    * normal trickle batch rides a broadcast; a backfill batch beyond
    * this routes through the banded machinery (token-set rows at ~1 KB
    * each put 1M docs ~1 GB — the practical broadcast bound). */
  val IncrementalBroadcastMaxDocs = 1000000L

  /** Incoming-slice row count per corpus, memoized: the dispatch below
    * needs it at plan-construction time, and paying a scan job on EVERY
    * call (including plan-only .explain/.schema callers) would break
    * the lazy-construction convention this file keeps. A production
    * ingest passes `knownBatchDocs` instead — its batch size is free. */
  def incrementalDedup(spark: SparkSession, dir: String,
      threshold: Double = 0.8,
      maxBroadcastBatch: Long = IncrementalBroadcastMaxDocs,
      knownBatchDocs: Option[Long] = None): DataFrame = {
    val batchDocs: Long = knownBatchDocs.getOrElse(
      Artifacts.value(spark, "dedup_batch_count", dir, docs(dir))(
        Tables.documents(spark, dir).filter(col("doc_id") % 10 === 0).count()))
    if (batchDocs <= maxBroadcastBatch) {
      // full reuse of the adaptive pair machinery: setRepr picks the
      // bitmask fast path when the vocabulary allows, verifyPairs
      // applies the sound size-ratio prefilter before paying for any
      // intersect — same Jaccard, same oracle argument, one
      // implementation to maintain
      val (repr, tier) = setRepr(spark, dir)
      val (aAll, bAll) = sides(repr, tier)
      val incoming = aAll.filter(col("doc_a") % 10 === 0)
      val corpus = bAll.filter(col("doc_b") % 10 =!= 0)
      verifyPairs(corpus.crossJoin(broadcast(incoming)), threshold, tier)
        .select(col("doc_a").as("new_doc_id"), col("doc_b").as("dup_of"), col("jaccard"))
        .orderBy(col("new_doc_id"), col("dup_of"))
    } else {
      // the batch outgrew broadcast: band it against the corpus with
      // the SAME LSH machinery the self-dedup path uses, joined ACROSS
      // sides — only corpus-vs-batch band collisions materialize, no
      // nested loop, no corpus self-pairs. Same recall contract as
      // dedup_minhash_lsh (miss probability ~3e-8 at 0.8), same exact
      // Jaccard verification, so the output contract is unchanged.
      // Memoized per (corpus, threshold) like every other banded
      // build: per-call scratch checkpoints would grow block storage
      // without bound, and the threshold belongs in the key — a memo
      // built at 0.8 must not answer a 0.9 call (ADVICE r5).
      Artifacts.frame(spark, "dedup_incremental", dir, docs(dir), threshold) {
        incrementalBandedRaw(spark, dir, threshold).localCheckpoint(false)
      }
        .select(col("doc_b").as("new_doc_id"), col("doc_a").as("dup_of"), col("jaccard"))
        .orderBy(col("new_doc_id"), col("dup_of"))
    }
  }

  /** The un-memoized banded cross-side build (exposed package-private so
    * the plan audit can pin the JOIN topology — the memo's checkpoint
    * hides it behind a LogicalRDD). */
  private[graft] def incrementalBandedRaw(spark: SparkSession, dir: String,
      threshold: Double = 0.8): DataFrame = {
    val sets = tokenSets(spark, dir)
    // corpusVocab covers the FULL corpus (both the standing and batch
    // splits), so threading it is sound on both sides — verify runs at
    // the popcount tier whenever the vocabulary admits one
    bandedPairsAcross(
      sets.filter(col("doc_id") % 10 =!= 0),
      sets.filter(col("doc_id") % 10 === 0),
      threshold, vocab = corpusVocab(spark, dir))
  }

  /** On-disk dedup corpus index — the persisted twin of the IVF index
    * (Similarity.writeIvfIndex + `_centroids.json`): the standing
    * corpus's hashed token sets and thin MinHash band table
    * materialized as parquet, bands PARTITIONED BY band_id (a
    * band-at-a-time backfill or band-bucketed join prunes to its
    * band's directory — PartitionFilters, pinned in DedupIndexSpec).
    * A fresh session doing incremental ingest reads these files
    * instead of re-scanning and re-signing the entire standing corpus
    * before its first batch check; at 100 TB the corpus signature/band
    * table is exactly the artifact that must live on disk. Band keys
    * come from the same [[bandTableFor]] the live paths use, so
    * serving from the index is bit-identical to a live build. The
    * index is threshold-free (thresholds apply at verify time), so one
    * index serves every policy. */
  def writeDedupIndex(spark: SparkSession, dir: String, indexPath: String): Unit = {
    tokenSets(spark, dir).filter(col("doc_id") % 10 =!= 0)
      .withColumn("sz", size(col("toks")))
      .write.mode("overwrite").parquet(s"$indexPath/sets")
    // band table derived from the WRITTEN sets: one tokenize pass
    // total, and the two artifacts are consistent by construction
    val written = spark.read.parquet(s"$indexPath/sets")
    bandTableFor(written)
      .write.mode("overwrite").partitionBy("band_id").parquet(s"$indexPath/bands")
    // Adaptive verification tier, persisted WITH the index (mirrors
    // the IVF _centroids.json: the quantizer is part of the index):
    // when the corpus vocabulary fits 512 symbols, store the dictionary
    // so every serving session verifies candidates at popcount speed
    // (single-long mask <=64 symbols, multi-word bitmap <=512).
    // Threshold-free like the rest of the index; absent sidecar = the
    // general array-intersect tier.
    smallVocab(written).foreach { vocab =>
      val p = new org.apache.hadoop.fs.Path(s"$indexPath/_vocab.json")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val out = fs.create(p, true)
      try out.write(vocab.mkString("[", ",", "]").getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Incremental index maintenance — the dedup twin of
    * [[Similarity.appendIvfIndexBatch]]: a new batch's token sets and
    * band rows are APPENDED to the standing index under the SAME band
    * function ([[bandTableFor]] — the sidecar-frozen-quantizer
    * discipline; band keys here are pure functions of the token set,
    * so identity is structural, not trained), and the standing files
    * are never rewritten. Ingest work is ∝ batch size.
    *
    * Exactly-once under replay: the batch's files land with
    * deterministic names (`ddb<batchId>-<i>.parquet`) after deleting
    * any earlier (possibly partial) landing of the same batchId — a
    * crash anywhere in stage/move/commit converges to one copy, same
    * contract as the IVF append.
    *
    * Vocabulary sidecar: the popcount verify tier is only SOUND while
    * the sidecar covers EVERY corpus token (see [[hybridVerify]]'s
    * soundness note — corpus-side masks must be complete). The append
    * therefore extends the sidecar with the batch's tokens when the
    * union still fits the 512-symbol tier, and DELETES it otherwise —
    * serving then falls back to the general intersect tier, which is
    * correct on any vocabulary. */
  def appendDedupIndexBatch(spark: SparkSession, indexPath: String,
      batch: DataFrame, batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(indexPath).getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(new Path(indexPath))
    val setsDir = new Path(root, "sets")
    val bandsDir = new Path(root, "bands")
    val prefix = s"ddb$batchId-"
    // replay cleanup: drop this batch's earlier landing, if any
    def dropPrefixed(dir: Path): Unit =
      if (fs.exists(dir)) fs.listStatus(dir).foreach { s =>
        if (s.isFile && s.getPath.getName.startsWith(prefix))
          fs.delete(s.getPath, false)
        else if (s.isDirectory && s.getPath.getName.startsWith("band_id="))
          fs.listStatus(s.getPath)
            .filter(_.getPath.getName.startsWith(prefix))
            .foreach(f => fs.delete(f.getPath, false))
      }
    dropPrefixed(setsDir)
    dropPrefixed(bandsDir)
    // stage the batch's sets, then derive its bands from the STAGED
    // files (writeDedupIndex's one-tokenize-pass discipline: the two
    // artifacts are consistent by construction)
    val tmpSets = new Path(root, s"_dd_append_sets_$batchId")
    val tmpBands = new Path(root, s"_dd_append_bands_$batchId")
    // batchTokenSets SORTS like writeDedupIndex does — an unsorted
    // appended array would pay a dual-pivot sort on EVERY pair it
    // joins, in every future serving session, forever (the per-pair
    // cost the sorted on-disk representation exists to eliminate)
    batchTokenSets(batch).write.mode("overwrite").parquet(tmpSets.toString)
    val staged = spark.read.parquet(tmpSets.toString)
    bandTableFor(staged)
      .write.mode("overwrite").partitionBy("band_id").parquet(tmpBands.toString)
    // batch vocabulary — read BEFORE the staged files move
    val batchToks: Option[Array[Long]] = smallVocab(staged)
    def moveFlat(from: Path, into: Path): Unit = {
      fs.mkdirs(into)
      fs.listStatus(from).filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.zipWithIndex.foreach { case (f, i) =>
        require(fs.rename(f.getPath, new Path(into, s"$prefix$i.parquet")),
          s"rename failed: ${f.getPath}")
      }
    }
    fs.listStatus(tmpBands)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("band_id="))
      .foreach(d => moveFlat(d.getPath, new Path(bandsDir, d.getPath.getName)))
    moveFlat(tmpSets, setsDir)
    fs.delete(tmpSets, true)
    fs.delete(tmpBands, true)
    // sidecar maintenance (after the data lands: a crash between the
    // moves and here leaves a stale-but-droppable sidecar only until
    // the replay repeats this block)
    readVocabSidecar(spark, indexPath).foreach { old =>
      batchToks.map(bt => (old ++ bt).distinct.sorted) match {
        case Some(u) if u.length <= WordsSymbols =>
          val out = fs.create(new Path(root, "_vocab.json"), true)
          try out.write(u.mkString("[", ",", "]").getBytes("UTF-8"))
          finally out.close()
        case _ =>
          // vocabulary outgrew the popcount tier: masks would no longer
          // cover every corpus token, so the tier must retire
          fs.delete(new Path(root, "_vocab.json"), false)
          ()
      }
    }
  }

  /** Bin-pack the dedup index's sets/ and bands/band_id=* directories
    * — the twin of [[Similarity.compactIvfIndex]]: each
    * [[appendDedupIndexBatch]] lands one `ddb<id>-*` file set per
    * directory, and after O(1000) micro-batches the serve path pays
    * per-file open costs. The NEWEST batch's files are excluded (the
    * crash-replay pre-delete depends on their deterministic names —
    * only the highest committed batchId can be re-delivered); the
    * `_vocab.json` verify-tier sidecar is untouched; band_id partition
    * pruning survives (files move within their band directories). */
  def compactDedupIndex(spark: SparkSession, indexPath: String,
      targetBytes: Long = 128L << 20): Seq[Compaction.PartitionReport] = {
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(indexPath))
    val pat = "ddb(\\d+)-.*".r
    def batchIdsUnder(p: org.apache.hadoop.fs.Path): Seq[Long] =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory && s.getPath.getName.startsWith("band_id="))
          batchIdsUnder(s.getPath)
        else s.getPath.getName match {
          case pat(id) => Seq(id.toLong)
          case _ => Seq.empty
        }
      }
    val maxBatch = (batchIdsUnder(new org.apache.hadoop.fs.Path(root, "sets")) ++
      batchIdsUnder(new org.apache.hadoop.fs.Path(root, "bands"))).maxOption
    Compaction.compact(spark, indexPath, targetBytes,
      keepFile = n => maxBatch.exists(b => n.startsWith(s"ddb$b-")))
  }

  /** The persisted vocabulary tier of a dedup index, when present. */
  private def readVocabSidecar(spark: SparkSession,
      indexPath: String): Option[Array[Long]] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/_vocab.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val json = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
      // a legacy empty sidecar ("[]") is no vocabulary, not a crash
      val body = json.stripPrefix("[").stripSuffix("]").trim
      if (body.isEmpty) None else Some(body.split(",").map(_.trim.toLong))
    }
  }

  /** One persisted index per corpus, built on first use (or eagerly at
    * ingest/warmup) under a scratch dir deleted on app end — mirrors
    * Similarity.ivfIndexPath; a deployment passes its own durable path
    * to [[writeDedupIndex]]/[[incrementalDedupIndexed]] directly. */
  def dedupIndexPath(spark: SparkSession, dir: String): String =
    Artifacts.scratchDir(spark, "dedupidx", dir, docs(dir))(writeDedupIndex(spark, dir, _))

  /** Incremental near-dup check SERVED from the persisted index: the
    * incoming batch is tokenized and banded live (work ∝ batch size),
    * while the standing corpus's sets and bands are READ from the
    * index parquet — no corpus re-scan, no re-signing, in any session
    * that holds the index path. Same banding, same exact-Jaccard
    * verification, row-identical to [[incrementalDedup]] (pinned in
    * DedupIndexSpec alongside the one-documents-scan plan pin). */
  def incrementalDedupIndexed(spark: SparkSession, dir: String,
      indexPath: String, threshold: Double = 0.8): DataFrame = {
    // batch repr + band table memoized per corpus (threshold-free):
    // both are read twice (band join + verification attach), and a
    // repeat call must not rebuild checkpoints
    val batchRepr = Artifacts.frame(spark, "dedup_batch_sets", dir, docs(dir)) {
      tokenSets(spark, dir).filter(col("doc_id") % 10 === 0)
        .withColumn("sz", size(col("toks")))
        .localCheckpoint(false)
    }
    val batchBands = Artifacts.frame(spark, "dedup_batch_bands", dir, docs(dir)) {
      bandTableFor(batchRepr).localCheckpoint(false)
    }
    val corpusSets = graft.Tables.artifactParquet(spark, s"$indexPath/sets")
    val corpusBands = graft.Tables.artifactParquet(spark, s"$indexPath/bands")
    bandJoinVerify(corpusBands, corpusSets, batchBands, batchRepr,
        threshold, selfJoin = false, vocab = readVocabSidecar(spark, indexPath))
      .select(col("doc_b").as("new_doc_id"), col("doc_a").as("dup_of"), col("jaccard"))
      .orderBy(col("new_doc_id"), col("dup_of"))
  }

  /** The registered query surface: serve from the per-corpus persisted
    * index (built once at first use, like knn_ivf's). */
  def incrementalDedupServed(spark: SparkSession, dir: String): DataFrame =
    incrementalDedupIndexed(spark, dir, dedupIndexPath(spark, dir))

  /** Near-dup check of an ARBITRARY incoming batch frame (doc_id, text)
    * against the standing corpus's persisted index — the foreachBatch
    * micro-batch shape (streaming ingest dedup,
    * IncrementalIngest.dedupFlagsWriter). The batch is tokenized live
    * (work ∝ batch size); the corpus side reads the index parquet, so
    * no session ever re-signs the standing corpus. The steady-state
    * micro-batch broadcasts against one index scan; a backfill-sized
    * batch dispatches to the same cross-side banding as
    * [[incrementalDedup]] (no nested loop; both branches row-identical,
    * pinned in StreamingSpec). Stateless per call — every micro-batch
    * is new data, so there is nothing to memoize. */
  def batchDedupIndexed(spark: SparkSession, indexPath: String,
      batch: DataFrame, threshold: Double = 0.8,
      maxBroadcastBatch: Long = IncrementalBroadcastMaxDocs,
      knownBatchDocs: Option[Long] = None): DataFrame = {
    val batchRepr = batchTokenSets(batch)
    val corpusSets = graft.Tables.artifactParquet(spark, s"$indexPath/sets")
    val vocab = readVocabSidecar(spark, indexPath)
    val n = knownBatchDocs.getOrElse(batch.count())
    val pairs = if (n <= maxBroadcastBatch) {
      // steady-state micro-batch: one corpus scan x broadcast batch.
      // The per-pair verify is the hot loop (corpus-sized), so the
      // index's persisted vocabulary tier matters MOST here — popcount
      // verify when present, array intersect otherwise.
      val sizeOk = least(col("sa"), col("sb")).cast("double") /
        greatest(col("sa"), col("sb")) >= threshold
      tierOf(vocab) match {
        case MaskTier(v) =>
          val a = corpusSets.select(col("doc_id").as("doc_a"),
            col("sz").as("sa"), maskExpr(v).as("mask_a"))
          val b = batchRepr.select(col("doc_id").as("doc_b"),
            col("sz").as("sb"), maskExpr(v).as("mask_b"))
          hybridVerify(a.crossJoin(broadcast(b)).filter(sizeOk), threshold)
        case WordsTier(v) =>
          // multi-word sidecar tier: same cross-side soundness as the
          // mask arm (the sidecar covers every CORPUS token; batch
          // out-of-vocab tokens set no bit and cannot intersect)
          val a = corpusSets.select(col("doc_id").as("doc_a"),
            col("sz").as("sa"), wordsExpr(v).as("words_a"))
          val b = batchRepr.select(col("doc_id").as("doc_b"),
            col("sz").as("sb"), wordsExpr(v).as("words_b"))
          wordsVerify(a.crossJoin(broadcast(b)).filter(sizeOk), threshold)
        case ArrayTier =>
          val a = corpusSets.select(col("doc_id").as("doc_a"),
            col("sz").as("sa"), col("toks").as("toks_a"))
          val b = batchRepr.select(col("doc_id").as("doc_b"),
            col("sz").as("sb"), col("toks").as("toks_b"))
          verifyPairs(a.crossJoin(broadcast(b)), threshold, ArrayTier)
      }
    } else
      // batchRepr is deliberately NOT checkpointed here: it is read
      // twice (band table + verification attach) but is the small side
      // and recompute is ∝ batch, where per-call checkpoints inside a
      // long-running stream would grow block storage without bound
      bandJoinVerify(graft.Tables.artifactParquet(spark, s"$indexPath/bands"), corpusSets,
        bandTableFor(batchRepr), batchRepr, threshold, selfJoin = false,
        vocab = vocab)
    pairs
      // a replayed batch's docs already LIVE in the index: doc d on
      // both sides pairs (d, d) at jaccard 1.0 — a self-match is not a
      // duplicate (every other pair path guards identity; this one
      // crosses batch against corpus, where identity means replay)
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_b").as("new_doc_id"), col("doc_a").as("dup_of"), col("jaccard"))
      .orderBy(col("new_doc_id"), col("dup_of"))
  }

  /** "Paragraphs" of a document: consecutive `k`-token windows of the
    * normalized token stream, each fingerprinted with engine-portable
    * md5 — the exact-span unit every public pre-dedup pass hashes (C4
    * dedups three-sentence spans, RefinedWeb/Gopher exact paragraph
    * hashes; this corpus has no newlines, so the fixed-width window IS
    * the paragraph boundary). The token array is materialized as a
    * plain attribute BEFORE the chunk lambda so the per-chunk slice
    * re-evaluates an attribute, not the whole tokenize pipeline (the
    * measured O(len²) trap, see shingleSets). */
  /** Chunk table memoized per (corpus, k): paragraphFlags reads it from
    * BOTH sides of its shared-fp join (a self-derived join reuses no
    * subplan), and paragraphDedup shares the same rows — the gramTable
    * economics. */
  private def paragraphChunks(spark: SparkSession, dir: String, k: Int): DataFrame =
    Artifacts.frame(spark, "dedup_paragraphs", dir, docs(dir), k) {
      Tables.documentsParallel(spark, dir)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          explode(when(size(col("tk")) > 0,
            transform(
              sequence(lit(0), floor((size(col("tk")) - 1) / k).cast("int")),
              i => md5(array_join(slice(col("tk"), i * k + 1, lit(k)), " "))))
            .otherwise(array().cast("array<string>"))).as("para_fp"))
        .localCheckpoint(false)
    }

  /** Paragraph-level dedup report: every paragraph fingerprint that
    * occurs in MORE THAN ONE document — the shared-boilerplate table a
    * training pipeline subtracts before doc-level near-dup (doc-level
    * passes miss exactly this mode: distinct docs sharing a template
    * paragraph). One explode + one hash-aggregate; scan-speed. */
  def paragraphDedup(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    paragraphChunks(spark, dir, k)
      .groupBy(col("para_fp"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_occurrences"),
           min(col("doc_id")).as("min_doc_id"))
      .filter(col("n_docs") > 1)
      .orderBy(col("para_fp"))

  /** Per-document boilerplate exposure: how many of a doc's paragraphs
    * are shared with some other doc — the decision input for "scrub the
    * shared spans, keep the doc". The shared-fp set is small by
    * construction (it passed n_docs > 1), so it rides the join as an
    * explicit broadcast. */
  def paragraphFlags(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val chunks = paragraphChunks(spark, dir, k)
    // min != max ⟺ countDistinct > 1 on non-null ids; one-phase partials
    val shared = chunks
      .groupBy(col("para_fp"))
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1"))
      .select(col("para_fp"), lit(true).as("is_dup"))
    chunks.join(broadcast(shared), Seq("para_fp"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
           sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_paras"))
      .withColumn("dup_ratio", round(col("n_dup_paras") / col("n_paras"), 4))
      .orderBy(col("doc_id"))
  }

  /** Stride-1 hashed k-gram table with positions: one row per
    * (doc, offset) k-token window of the normalized token stream —
    * the index exact-substring dedup runs on. Same O(len²)-trap
    * discipline as [[paragraphChunks]]: the token array is a plain
    * attribute before the per-position slice lambda. */
  private[graft] def substringGrams(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= k)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("tk")) - k),
          i => struct(i.cast("int").as("pos"),
            md5(array_join(slice(col("tk"), i + 1, lit(k)), " ")).as("fp")))).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.fp").as("fp"))

  /** Maximal cross-document duplicated token spans from a
    * (checkpointed) gram table: grams shared by >1 doc are merged into
    * runs of consecutive positions (gaps-and-islands), so a duplicated
    * span of length L >= k reconstructs exactly as [start, start+L-1].
    * Pass a checkpointed gram table — dupFp is self-derived, and an
    * unchecked self-join recomputes the grams twice (the q11/q15
    * pattern). */
  private[graft] def substringSpansOf(grams: DataFrame, k: Int): DataFrame = {
    // "shared by >1 doc" as min(doc_id) != max(doc_id) — identical
    // predicate to countDistinct(doc_id) > 1 on non-null ids, but a
    // one-phase partial aggregate: count(DISTINCT) plans a (fp, doc_id)
    // dedup hash-aggregate before the exchange (r19 StageProfile: the
    // 296 ms dominant stage of dedup_substrings), min/max partials
    // aggregate in place and ship one row per distinct fp per task.
    val dupFp = grams.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1"))
      .select(col("fp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    grams.join(dupFp, Seq("fp"))
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("start_pos"),
           (max(col("pos")) + (k - 1)).cast("long").as("end_pos"))
      .select(col("doc_id"), col("start_pos"), col("end_pos"),
        (col("end_pos") - col("start_pos") + lit(1L)).as("span_tokens"))
      .orderBy(col("doc_id"), col("start_pos"))
  }

  /** Stride-1 hashed k-gram table per (corpus, k), shared by
    * [[substringDedup]] and [[substringScrub]]. */
  private def substringGramTable(spark: SparkSession, dir: String, k: Int): DataFrame =
    Artifacts.frame(spark, "dedup_substring_grams", dir, docs(dir), k) {
      substringGrams(Tables.documentsParallel(spark, dir), k).localCheckpoint(false)
    }

  /** Exact substring dedup at ARBITRARY offsets — the output shape of
    * suffix-array dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"), computed scan-speed relationally:
    * stride-1 hashed k-grams, cross-doc shared grams, run-merging.
    * [[paragraphDedup]]'s fixed windows miss a span duplicated at a
    * shifted offset by construction (the copy straddles two windows and
    * neither window's hash matches); a stride-1 chain cannot — every
    * >= k-token duplicated span carries a shared k-gram at EVERY
    * offset, and the merged run is the maximal span. Linear in corpus
    * tokens (k× the paragraph table's rows — still one explode + two
    * hash shuffles + one bounded window, no pairwise work). */
  def substringDedup(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val grams = substringGramTable(spark, dir, k)
    substringSpansOf(grams, k)
  }

  /** The transform [[substringDedup]]'s span table exists FOR: the
    * scrubbed corpus, one row per document with the cross-document
    * duplicated spans REMOVED from the token stream (Lee et al. 2022's
    * substring dedup is a removal pass, not just a report — the
    * boilerplate-scrub counterpart of [[paragraphFlags]]' decision
    * input). A token position is covered iff some shared k-gram's
    * window [pos, pos+k-1] contains it, computed by exploding each
    * shared gram's coverage (20x a RARE row set — shared grams passed
    * the cross-doc gate) and distinct-ing; the corpus-wide token table
    * anti-joins the covered set, then reassembles per-doc text with an
    * order-carrying collect (array_sort over (idx, token) structs —
    * deterministic, no window). Per-doc totals come from the documents
    * table itself so zero-token and fully-scrubbed docs still emit a
    * row (empty clean_text), keeping the frame total. Linear: two
    * exploded scans, one hash anti-join, one hash aggregate. */
  def substringScrub(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val grams = substringGramTable(spark, dir, k)
    // min != max — same one-phase-partial-aggregate move as
    // substringSpansOf (predicate identical to countDistinct > 1)
    val dupFp = grams.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1"))
      .select(col("fp"))
    val covered = grams.join(dupFp, Seq("fp"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("ti"))
      .distinct()
    val docs = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
    val toks = docs.select(col("doc_id"),
      posexplode(col("tk")).as(Seq("ti", "tok")))
    val kept = toks.join(covered, Seq("doc_id", "ti"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("ti"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"))
    docs.select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** The deduped-corpus view: one row per surviving (canonical)
    * document with its cluster's member count — the output a training
    * pipeline actually ships (dedup_clusters is the assignment table;
    * this is the keep-list). Reuses the memoized cluster assignments,
    * so after any dedup query it's one extra aggregation. */
  def dedupSurvivors(spark: SparkSession, dir: String): DataFrame =
    dedupClusters(spark, dir)
      .groupBy(col("cluster_id").as("doc_id"))
      .agg(count(lit(1)).as("n_members"), (count(lit(1)) > 1).as("is_dup_cluster"))
      .orderBy(col("doc_id"))

  private[graft] def dedupClusters(spark: SparkSession, dir: String,
      localThreshold: Long): DataFrame = {
    // the memoized pair checkpoint already materializes
    // once and serves every read below — no extra .cache() layer
    val pairs = nearDupPairsUnsorted(spark, dir).select(col("doc_a"), col("doc_b"))

    // (1) first-level labels, one directed pass
    val l1agg = pairs.groupBy(col("doc_b")).agg(min(col("doc_a")).as("label"))
      .select(col("doc_b").as("doc_id"), col("label")) // label < doc_id always
      .localCheckpoint(true)

    // (2) contraction; docs absent from l1agg (= local minima, only
    // ever on the doc_a side) keep their own id via coalesce — no
    // distinct/anti-join pass to enumerate them
    val cpairs = pairs
      .join(broadcast(l1agg.toDF("doc_a", "la")), Seq("doc_a"), "left")
      .join(broadcast(l1agg.toDF("doc_b", "lb")), Seq("doc_b"), "left")
      .select(coalesce(col("la"), col("doc_a")).as("la"),
              coalesce(col("lb"), col("doc_b")).as("lb"))
      .filter(col("la") =!= col("lb"))
      .distinct()
      .localCheckpoint(true)

    // (3) residual components -> root per residual node
    val roots: DataFrame =
      if (cpairs.count() <= localThreshold) {
        val es = cpairs.collect().map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = parent.getOrElse(x, x)
          if (r != x && parent.getOrElse(r, r) != r) { r = find(r); parent(x) = r }
          r
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val resolvedRoots = es.flatMap { case (a, b) => Seq(a, b) }.distinct
          .map(n => (n, find(n)))
        spark.createDataFrame(resolvedRoots.toSeq).toDF("label", "root")
      } else {
        var labels = cpairs.select(col("la").as("doc_id"))
          .union(cpairs.select(col("lb"))).distinct()
          .withColumn("label", col("doc_id")).localCheckpoint(true)
        val cedges = cpairs.select(col("la").as("src"), col("lb").as("dst"))
          .union(cpairs.select(col("lb").as("src"), col("la").as("dst")))
        // decimal checksum: labels only decrease, equal sum == fixpoint
        def checksum(df: DataFrame): java.math.BigDecimal =
          df.agg(sum(col("label").cast("decimal(38,0)"))).collect()(0).getDecimal(0)
        var prev: java.math.BigDecimal = null
        var curr = checksum(labels)
        var rounds = 0
        val maxRounds = 64 // propagation is one hop per round: bound = residual eccentricity
        while (curr != prev && rounds < maxRounds) {
          val neigh = cedges.join(broadcast(labels), cedges("dst") === labels("doc_id"))
            .select(cedges("src").as("doc_id"), col("label"))
          val next = labels.select(col("doc_id"), col("label")).union(neigh)
            .groupBy(col("doc_id")).agg(min(col("label")).as("label"))
            .localCheckpoint(true)
          prev = curr
          curr = checksum(next)
          // the superseded round's checkpoint is no longer referenced
          // once `next` is materialized — release it immediately
          Artifacts.unpersistPlanRDDs(labels)
          labels = next
          rounds += 1
        }
        // a silent cap would return WRONG clusters (one component split
        // into several, each claiming a canonical doc) — fail loudly
        if (curr != prev)
          throw new IllegalStateException(
            s"dedupClusters: label propagation did not converge in $maxRounds rounds; " +
            "residual graph eccentricity exceeds the bound — raise maxRounds or " +
            "lower CcLocalThreshold to solve the residual locally")
        labels.toDF("label", "root")
      }

    // cpairs fed the residual solve only; its checkpoint is not a leaf
    // of the final memoized frame (which eviction unpersists), so
    // release it here rather than pinning it for the app lifetime
    Artifacts.unpersistPlanRDDs(cpairs)

    // (4) resolve; singleton docs label themselves
    val resolved = l1agg
      .join(broadcast(roots), Seq("label"), "left")
      .select(col("doc_id"), coalesce(col("root"), col("label")).as("label"))
    val withEdges = resolved.select(col("doc_id"))
    val singles = Tables.documents(spark, dir).select(col("doc_id"))
      .join(broadcast(withEdges), Seq("doc_id"), "left_anti")
      .join(broadcast(roots.select(col("label").as("doc_id"), col("root"))),
            Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("label"))
    resolved.union(singles)
      .select(col("doc_id"), col("label").as("cluster_id"),
        (col("label") === col("doc_id")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }
}
