package graft

import graft.operators.TextAnalysis

/** BPE tokenizer training: the distributed merge learner against an
  * independent in-memory reference (naive skip-scan merge, mutable
  * pair counting — deliberately a different construction from the
  * engine's Catalyst left fold), plus fold-semantics and memoization
  * pins. Exact-value certification against DuckDB is the generated
  * post-run oracle's job (bpeMergesOracleFor). */
class BpeSpec extends SparkSpec {

  /** Greedy left-to-right skip-scan merge — the textbook formulation,
    * deliberately different from the engine's Catalyst fold. */
  private def mergeVec(syms: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]; var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private def refWords(texts: Seq[String]): Seq[String] =
    texts.flatMap(t =>
      t.toLowerCase.trim.replaceAll("\\s+", " ").split(" ")).filter(_.nonEmpty)

  /** Reference implementation: word frequencies and skip-scan merges. */
  private def referenceMerges(texts: Seq[String],
      rounds: Int): Seq[(String, String, Long)] = {
    val words = refWords(texts)
    var vocab: Map[Vector[String], Long] = words
      .groupBy(identity).map { case (w, ws) =>
        w.map(_.toString).toVector -> ws.size.toLong }
    val merges = Seq.newBuilder[(String, String, Long)]
    var r = 0
    var live = true
    while (r < rounds && live) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
        .withDefaultValue(0L)
      vocab.foreach { case (syms, f) =>
        syms.zip(syms.tail).foreach(p => counts(p) += f)
      }
      if (counts.isEmpty) live = false
      else {
        // max count, then lexicographically smallest (a, b) — the
        // tie-break the engine and the generated oracle share
        val ((a, b), cnt) = counts.toSeq
          .sortBy { case ((x, y), c) => (-c, x, y) }.head
        merges += ((a, b, cnt))
        vocab = vocab.toSeq.map { case (s, f) => mergeVec(s, a, b) -> f }
          .groupMapReduce(_._1)(_._2)(_ + _)
      }
      r += 1
    }
    merges.result()
  }

  test("learned merges match the in-memory reference round by round") {
    // the engine trains 50 merges in BATCHES (greedyBatch); the
    // reference is strictly sequential — agreement across all 50 IS
    // the greedy-equivalence certification of the batching
    val texts = graft.Tables.documents(spark, sf)
      .select("text").collect().map(_.getString(0)).toSeq
    val want = referenceMerges(texts, 50)
    assert(want.length === 50, "fixture corpus should sustain 50 merges")
    val got = TextAnalysis.bpeMerges(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(got.length === want.length)
    got.zip(want).foreach { case ((rank, a, b, merged, freq), (wa, wb, wc)) =>
      assert(a === wa && b === wb && freq === wc && merged === wa + wb,
        s"merge $rank diverges: engine ($a,$b,$freq) vs reference ($wa,$wb,$wc)")
    }
    // merged frequencies are non-increasing only per-pair-history, but
    // rank 1 must be the corpus's single most frequent adjacent pair
    assert(got.head._5 >= got.last._5 || got.length === 1)
  }

  test("round-0 pair table matches the reference counts") {
    val texts = graft.Tables.documents(spark, sf)
      .select("text").collect().map(_.getString(0)).toSeq
    val words = texts.flatMap(t =>
      t.toLowerCase.trim.replaceAll("\\s+", " ").split(" ")).filter(_.nonEmpty)
    val counts = scala.collection.mutable.Map[(String, String), Long]()
      .withDefaultValue(0L)
    words.foreach { w =>
      w.zip(w.tail).foreach { case (x, y) =>
        counts((x.toString, y.toString)) += 1L }
    }
    val want = counts.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.take(50)
      .map { case ((a, b), c) => (a, b, c) }
    val got = TextAnalysis.bpePairs(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === want)
  }

  test("applying the merges reproduces the reference segmentation totals") {
    val texts = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val merges = referenceMerges(texts.map(_._2), 50)
    // per-doc totals under reference skip-scan application of the chain
    val want = texts.map { case (id, t) =>
      val words = refWords(Seq(t))
      val nChars = words.map(_.length.toLong).sum
      val nTok = words.map { w =>
        merges.foldLeft(w.map(_.toString).toVector) {
          case (v, (a, b, _)) => mergeVec(v, a, b)
        }.length.toLong
      }.sum
      (id, nChars, nTok)
    }.filter(_._2 > 0).sortBy(_._1)
    val got = graft.operators.TextAnalysis.bpeTokenize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want)
    // the tokenizer is load-bearing: merges strictly reduce the token
    // count below the character count somewhere
    assert(got.exists { case (_, nc, nt) => nt < nc })
  }

  test("the Catalyst merge fold equals the skip-scan reference on adversarial arrays") {
    import org.apache.spark.sql.functions.{col, typedLit}
    // overlap chains, self-pairs, merged-token-lookalike inputs: the
    // cases where a left fold and a skip-scan could diverge if the
    // consumed-pair semantics were off by one
    val arrays = Seq(
      Seq("a"), Seq("a", "a"), Seq("a", "a", "a"), Seq("a", "a", "a", "a"),
      Seq("a", "b", "a", "b"), Seq("b", "a", "b", "a", "b"),
      Seq("a", "b", "b", "a"), Seq("aa", "a", "a"), Seq("a", "aa", "a"),
      Seq("ab", "a", "b"), Seq("a", "b", "ab"), Seq("x", "a", "b", "y", "a", "b"))
    val pairs = Seq(("a", "a"), ("a", "b"), ("b", "a"), ("aa", "a"))
    for ((a, b) <- pairs) {
      import spark.implicits._
      val df = arrays.zipWithIndex.toDF("arr", "i")
      val got = df
        .select(col("i"), TextAnalysis.mergeOnce(col("arr"), a, b).as("m"))
        .orderBy(col("i")).collect()
        .map(_.getSeq[String](1).toVector)
      val want = arrays.map(s => mergeVec(s.toVector, a, b))
      got.zip(want).zip(arrays).foreach { case ((g, w), in) =>
        assert(g === w, s"fold diverges from skip-scan on $in with pair ($a,$b)")
      }
    }
  }

  test("the native merge chain equals the staged mergeOnce folds on adversarial arrays") {
    import org.apache.spark.sql.functions.col
    // the r19 BpeMergeChain expression replaces 50 staged interpreted
    // folds with one native pass per merge; this pins value-identity
    // against the fold CHAIN (not just single merges) on the inputs
    // where greedy/fold semantics could diverge: overlap runs,
    // self-pairs, minted-token lookalikes, empty/singleton arrays,
    // and chains where one round's output feeds the next round's pair
    val arrays = Seq(
      Seq.empty[String], Seq("a"), Seq("a", "a"), Seq("a", "a", "a"),
      Seq("a", "a", "a", "a"), Seq("a", "b", "a", "b"),
      Seq("b", "a", "b", "a", "b"), Seq("a", "b", "b", "a"),
      Seq("aa", "a", "a"), Seq("a", "aa", "a"), Seq("ab", "a", "b"),
      Seq("a", "b", "ab"), Seq("x", "a", "b", "y", "a", "b"),
      Seq("a", "b", "c", "d"), Seq("ab", "c", "d"), Seq("a", "b", "cd"))
    val chain = Seq(("a", "a"), ("a", "b"), ("ab", "c"), ("aa", "a"), ("abc", "d"))
    import spark.implicits._
    val df = arrays.zipWithIndex.toDF("arr", "i")
    var staged = df.select(col("i"), col("arr").as("m"))
    chain.foreach { case (a, b) =>
      staged = staged.select(col("i"), TextAnalysis.mergeOnce(col("m"), a, b).as("m"))
    }
    val want = staged.orderBy(col("i")).collect().map(_.getSeq[String](1).toVector)
    val got = df.select(col("i"),
        graft.plans.BpeMergeChain(col("arr"), chain.map(_._1), chain.map(_._2)).as("m"))
      .orderBy(col("i")).collect().map(_.getSeq[String](1).toVector)
    got.zip(want).zip(arrays).foreach { case ((g, w), in) =>
      assert(g === w, s"native chain diverges from the fold chain on $in")
    }
  }

  test("the native merge chain rejects NULL and empty merge entries at analysis") {
    // an empty side mints a token equal to the other side, which the
    // greedy scan and the fold would then treat differently
    for ((as, bs) <- Seq(("array('a')", "array('')"), ("array('')", "array('b')"),
        ("array(CAST(NULL AS STRING))", "array('b')"),
        ("array('a', 'b')", "array('b', CAST(NULL AS STRING))"))) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT graft_bpe_apply(array('a', 'b'), $as, $bs)").collect()
      }
      assert(e.getMessage.contains("non-null, non-empty"), s"($as, $bs): ${e.getMessage}")
    }
    assert(spark.sql("SELECT graft_bpe_apply(array('a', 'b'), array('a'), array('b'))")
      .collect().head.getSeq[String](0) === Seq("ab"))
  }

  test("the native adjacent-pair expression equals the zip_with-over-slices form") {
    import org.apache.spark.sql.functions.{col, explode, lit, size, slice, struct, zip_with}
    // the zip_with-over-slices reference REJECTS empty arrays (slice
    // length -1); the pipeline never produces them (words are
    // non-empty), so the twin claim covers n >= 1 — the native form's
    // empty-array behavior (empty output) is pinned separately below
    val arrays = Seq(
      Seq("a"), Seq("a", "b"), Seq("a", "b", "c"),
      Seq("ab", "c", "ab", "c"), Seq("x"), Seq("a", "a", "a", "a", "b"))
    import spark.implicits._
    val df = arrays.zipWithIndex.toDF("syms", "i")
    val empty = Seq((Seq.empty[String], 0)).toDF("syms", "i")
      .select(graft.plans.AdjacentSymPairs(col("syms")).as("p")).collect()
    assert(empty.head.getSeq[Any](0).isEmpty)
    def collectPairs(d: org.apache.spark.sql.DataFrame) =
      d.orderBy(col("i")).collect()
        .map(r => (r.getInt(0), r.getStruct(1).getString(0), r.getStruct(1).getString(1)))
        .toSeq
    val want = collectPairs(df.select(col("i"), explode(zip_with(
      slice(col("syms"), lit(1), size(col("syms")) - 1),
      slice(col("syms"), lit(2), size(col("syms")) - 1),
      (x, y) => struct(x.as("a"), y.as("b")))).as("p")))
    val got = collectPairs(df.select(col("i"),
      explode(graft.plans.AdjacentSymPairs(col("syms"))).as("p")))
    assert(got === want)
  }

  test("greedyBatch admits only provably greedy-equivalent prefixes") {
    def gb(ps: Seq[(String, String, Long)], complete: Boolean = true,
        maxN: Int = 16, syms: Set[String] = Set.empty) =
      TextAnalysis.greedyBatch(ps.toIndexedSeq, complete, maxN, syms)
    // disjoint members with strict count steps: the whole list batches
    val clean = Seq(("a", "b", 9L), ("c", "d", 7L), ("e", "f", 5L))
    assert(gb(clean) === clean)
    // a shared symbol cuts the batch BEFORE the conflicting member
    assert(gb(Seq(("a", "b", 9L), ("b", "c", 7L), ("e", "f", 5L)))
      === Seq(("a", "b", 9L)))
    // sharing an earlier member's MERGED token also conflicts: merging
    // (a,b) mints "ab" symbols, so ("ab","x") counts could grow
    assert(gb(Seq(("a", "b", 9L), ("ab", "x", 7L))) === Seq(("a", "b", 9L)))
    // a TIE at a forced cut is rejected (shrinks to the last strict
    // step): a decreased-or-created pair could tie the boundary member
    // and win an unseen tie-break. Here maxN forces the cut between
    // the two 7s
    assert(gb(Seq(("a", "b", 9L), ("c", "d", 7L), ("e", "f", 7L)), maxN = 2)
      === Seq(("a", "b", 9L)))
    // ...but a tie strictly INSIDE the prefix is fine (sorted order is
    // the tie-break order and nothing in the prefix changes counts)
    assert(gb(Seq(("a", "b", 9L), ("c", "d", 9L), ("e", "f", 5L)))
      === Seq(("a", "b", 9L), ("c", "d", 9L), ("e", "f", 5L)))
    // an INCOMPLETE head cannot batch through its own end: unseen
    // pairs may tie the last member
    assert(gb(clean, complete = false) === clean.take(2))
    // maxN (remaining merge budget) caps the batch
    assert(gb(clean, maxN = 2) === clean.take(2))
    // a merged token that already exists as a vocab symbol ends the
    // batch AFTER its member (growth only affects later steps)
    assert(gb(clean, syms = Set("ab")) === clean.take(1))
    assert(gb(clean, syms = Set("cd")) === clean.take(2))
    // single merges are always greedy: even a tied head admits one
    assert(gb(Seq(("a", "b", 9L), ("c", "d", 9L))) ===
      Seq(("a", "b", 9L), ("c", "d", 9L))) // disjoint + complete: both
    assert(gb(Seq(("a", "b", 9L), ("a", "d", 9L))) === Seq(("a", "b", 9L)))
  }

  test("training is memoized per corpus and deterministic across serves") {
    val a = TextAnalysis.bpeMergeList(spark, sf)
    val b = TextAnalysis.bpeMergeList(spark, sf)
    assert(a eq b, "second call must serve the memoized artifact")
    val r1 = TextAnalysis.bpeMerges(spark, sf).collect().map(_.toString).toSeq
    val r2 = TextAnalysis.bpeMerges(spark, sf).collect().map(_.toString).toSeq
    assert(r1 === r2)
  }
}
