package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import graft.operators.{Relational, Similarity, TimeSeries}

/** Physical-plan audits: the properties that decide 100 TB viability —
  * filter pushdown to the scan, column pruning, broadcast side choice,
  * whole-stage codegen — pinned as tests so a refactor that silently
  * regresses the plan fails here, not on the cluster. */
class PlanAuditSpec extends SparkSpec {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("incremental dedup large-batch path is banded — no nested-loop, and row-identical") {
    import graft.operators.Dedup
    // the cross-side banded build must be an equi-join on
    // (band_id, band_key) — never a BroadcastNestedLoopJoin/
    // CartesianProduct over the corpus. Pin the RAW build's plan: the
    // public path memoizes behind a checkpoint, which hides the join
    // topology in an RDD lineage.
    val plan = planOf(Dedup.incrementalBandedRaw(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"large-batch incremental dedup fell back to a nested loop:\n$plan")
    // and the dispatched public path (broadcast ceiling 0, batch size
    // injected so no count job runs) returns rows identical to the
    // broadcast path (banded recall is exact on this corpus — the same
    // differential argument dedup_minhash_lsh's oracle rests on)
    val banded = Dedup.incrementalDedup(spark, sf, maxBroadcastBatch = 0L,
      knownBatchDocs = Some(1L))
    val broadcastPath = Dedup.incrementalDedup(spark, sf)
    assert(banded.collect().map(_.toString).toSeq ===
      broadcastPath.collect().map(_.toString).toSeq)
  }

  test("media header decode is a shuffle-free single scan (both modalities)") {
    import graft.operators.Multimodal
    // construct-bytes -> parse-header is pure per-row work: any
    // Exchange before the presentation sort means someone broke the
    // scan-speed contract of the decode family
    for (df <- Seq(Multimodal.imageMeta(spark, sf), Multimodal.audioMeta(spark, sf))) {
      val plan = planOf(df)
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges <= 1, s"media decode should only exchange for the orderBy:\n$plan")
    }
  }

  test("compressed pixel decode (PNG/GIF/JPEG) is a shuffle-free single scan") {
    import graft.operators.Multimodal
    // the whole codec (inflate / LZW / Huffman+IDCT) runs inside one
    // codegen'd projection over the fixture scan: only the presentation
    // sort may exchange
    for (df <- Seq(Multimodal.pngPixels(spark, sf),
        Multimodal.gifPixelsQ(spark, sf), Multimodal.jpegPixelsQ(spark, sf))) {
      val plan = planOf(df)
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges <= 1, s"pixel decode should only exchange for the orderBy:\n$plan")
      assert(!plan.contains("BatchEvalPython") && !plan.contains("mapPartitions"),
        "pixel decode must stay native")
    }
  }

  test("r13 triage queries (EXIF/FLAC/MP3/tags) are shuffle-free single scans") {
    import graft.operators.Multimodal
    // the whole metadata walk runs inside one codegen'd projection
    // over the fixture scan: only the presentation sort may exchange
    for (df <- Seq(Multimodal.exifMetaQ(spark, sf),
        Multimodal.flacMetaQ(spark, sf), Multimodal.mp3MetaQ(spark, sf),
        Multimodal.flacTagsQ(spark, sf), Multimodal.mp3TagsQ(spark, sf),
        Multimodal.dispatchAll(spark, sf))) {
      val plan = planOf(df)
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges <= 1, s"triage should only exchange for the orderBy:\n$plan")
      assert(!plan.contains("BatchEvalPython") && !plan.contains("mapPartitions"),
        "triage must stay native")
      assert(!plan.contains("Join"), s"triage must not join:\n$plan")
    }
  }

  test("r14 crawl-stack queries are shuffle-free single scans") {
    import graft.operators.{Html, Multimodal}
    // every payload walk — gzip inflate, PDF xref, ZIP directory, WARC
    // split, the composed WARC→HTTP→HTML stack, the robots verdicts —
    // runs inside one codegen'd projection over its fixture scan; only
    // the presentation sort may exchange (robots fixtures ride the
    // documentsParallel spread, so they get that one extra exchange)
    for (df <- Seq(Multimodal.gzipMetaQ(spark, sf),
        Multimodal.pdfMetaQ(spark, sf), Multimodal.zipEntriesQ(spark, sf),
        Multimodal.warcRecordsQ(spark, sf), Multimodal.warcIngest(spark, sf),
        Multimodal.warcHttpIngest(spark, sf))) {
      val plan = planOf(df)
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges <= 1, s"payload triage should only exchange for the orderBy:\n$plan")
      assert(!plan.contains("BatchEvalPython") && !plan.contains("mapPartitions"),
        "payload triage must stay native")
      assert(!plan.contains("Join"), s"payload triage must not join:\n$plan")
    }
    for (df <- Seq(Html.robotsRules(spark, sf), Html.robotsGate(spark, sf))) {
      val plan = planOf(df)
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges <= 2, s"robots pass grew extra shuffles:\n$plan")
      assert(!plan.contains("Join"), s"robots pass must not join:\n$plan")
    }
  }

  test("r15 document-text queries are shuffle-free native scans") {
    import graft.operators.Multimodal
    // pdf: the full xref walk + page-tree traversal + content-stream
    // interpretation inside one codegen'd projection; zip/docx: the
    // CRC-gated extraction + XML walk likewise — posexplode and the
    // presentation sort are the only other operators
    for (df <- Seq(Multimodal.pdfTextQ(spark, sf),
        Multimodal.zipExtractQ(spark, sf), Multimodal.docxIngest(spark, sf),
        Multimodal.xlsxIngest(spark, sf), Multimodal.warcPdfIngest(spark, sf),
        Multimodal.pptxIngest(spark, sf), Multimodal.epubIngest(spark, sf),
        Multimodal.officeIngest(spark, sf), Multimodal.docTriage(spark, sf),
        Multimodal.rtfIngest(spark, sf), Multimodal.odtIngest(spark, sf),
        Multimodal.odsIngest(spark, sf), Multimodal.odpIngest(spark, sf),
        Multimodal.tarEntriesQ(spark, sf), Multimodal.docBinIngest(spark, sf),
        Multimodal.cfbEntriesQ(spark, sf),
        Multimodal.pdfEncryptedTextQ(spark, sf),
        Multimodal.pdfCMapTextQ(spark, sf), Multimodal.xlsBinIngest(spark, sf),
        Multimodal.pptBinIngest(spark, sf))) {
      val plan = planOf(df)
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges <= 1, s"doc text should only exchange for the orderBy:\n$plan")
      assert(!plan.contains("BatchEvalPython") && !plan.contains("mapPartitions"),
        "doc text must stay native")
      assert(!plan.contains("Join"), s"doc text must not join:\n$plan")
    }
  }

  test("text_clean is one scan: repartition spread + presentation sort only") {
    val plan = planOf(graft.operators.TextAnalysis.clean(spark, sf))
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2, s"clean pass grew extra shuffles:\n$plan")
    assert(!plan.contains("Join"), s"clean pass must not join:\n$plan")
  }

  test("events time-range predicates reach the parquet scan as PushedFilters") {
    val plan = planOf(TimeSeries.rangeFilter(spark, sf))
    // on the current layout ts is a native timestamp[us] column, so the
    // tsGte/tsLte literals push down directly as timestamp bounds (no
    // derived-column rewrite needed)
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThanOrEqual(ts,"),
      s"ts lower bound not pushed:\n$plan")
    assert(plan.contains("LessThanOrEqual(ts,"), s"upper bound not pushed:\n$plan")
  }

  test("NATURAL ts filters push native timestamp bounds to the scan") {
    import org.apache.spark.sql.functions.col
    // plain comparisons against string literals — the implicit cast
    // folds to a timestamp literal and must reach the scan; the day the
    // loader reintroduces a derived ts (as the legacy-nanos branch did)
    // this pin catches the silent full-scan
    val df = Tables.events(spark, sf)
      .filter(col("ts") >= "2024-01-10 00:00:00" && col("ts") <= "2024-01-19 23:59:59")
      .select(col("event_id"), col("value"))
    val plan = planOf(df)
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThanOrEqual(ts,2024-01-10"),
      s"lower ts bound not pushed:\n$plan")
    assert(plan.contains("LessThanOrEqual(ts,2024-01-19"),
      s"upper ts bound not pushed:\n$plan")
    // and the rows equal the tsGte/tsLte helper form
    val manual = Tables.events(spark, sf)
      .filter(Tables.tsGte("2024-01-10 00:00:00") && Tables.tsLte("2024-01-19 23:59:59"))
      .select(col("event_id"), col("value"))
    assert(df.collect().map(_.toString).sorted.toSeq ===
      manual.collect().map(_.toString).sorted.toSeq)
  }

  test("far-future sentinel bounds keep every row (no overflow wraparound)") {
    import org.apache.spark.sql.functions.col
    // 9999-01-01 in nanos overflows a long — the legacy rewrite had to
    // skip it; the native path must simply compare correctly. Either
    // way a sentinel upper bound must never silently empty the result.
    val all = Tables.events(spark, sf).count()
    val n = Tables.events(spark, sf)
      .filter(col("ts") <= "9999-01-01 00:00:00").count()
    assert(n === all, s"sentinel upper bound dropped rows: $n of $all")
  }

  test("graft_topk rejects non-positive k at analysis time") {
    Tables.events(spark, sf).limit(1).createOrReplaceTempView("topk_probe")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_topk(value, event_id, 0) FROM topk_probe").collect()
    }
    assert(e.getMessage.contains("k must be"), e.getMessage)
  }

  test("projection prunes the parquet ReadSchema to selected columns") {
    val plan = planOf(TimeSeries.scanProject(spark, sf))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(readSchema.contains("event_id") && readSchema.contains("value"))
    assert(!readSchema.contains("props"),
      s"unprojected wide column read from disk: $readSchema")
  }

  test("dimension joins broadcast the small side (no fact-side shuffle)") {
    val plan = planOf(Relational.q5LocalSupplierVolume(spark, sf))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast joins in q5:\n$plan")
  }

  test("top-k order is TakeOrderedAndProject, not global sort") {
    val plan = planOf(Relational.topKOrders(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"global sort for top-k:\n$plan")
  }

  test("scan-speed text operators stay inside whole-stage codegen") {
    // AQE plans don't show codegen spans before execution; codegen
    // explain mode compiles the stages without running the query
    val df = graft.operators.TextAnalysis.stats(spark, sf)
    val codegen = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen"), s"no codegen span:\n$codegen")
    val plan = planOf(df)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("mapPartitions"),
      "text stats must not leave the codegen path")
  }

  test("similarity scoring uses the native fused-cosine expression") {
    val analyzed = Similarity.knnBruteForce(spark, sf).queryExecution.analyzed.toString
    assert(analyzed.contains("graft_cos"), s"HOF chain crept back in:\n$analyzed")
  }

  test("shuffle partition count follows the session setting, not the 200 default") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") !== "200")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") === "true")
  }

  private def collectScans(p: SparkPlan): Seq[SparkPlan] =
    p.collect { case s if s.nodeName.contains("Scan") => s }

  test("q7 broadcasts its dimension sides (nation twice, supplier once)") {
    val plan = planOf(Relational.q7VolumeShipping(spark, sf))
    val n = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(n >= 3, s"expected >=3 broadcast joins (supplier + nation x2), got $n:\n$plan")
  }

  test("unpivot melts at scan speed: one agg exchange + one sort exchange only") {
    val plan = planOf(Relational.unpivotMeasures(spark, sf))
    assert(plan.contains("Generate"), s"stack() generator missing:\n$plan")
    val n = "Exchange".r.findAllIn(plan).length
    assert(n <= 2, s"unpivot should shuffle only for the agg + sort, got $n exchanges:\n$plan")
  }

  test("frame sampling is shuffle-free up to the presentation sort") {
    val plan = planOf(graft.operators.Multimodal.frameSample(spark, sf))
    val n = "Exchange".r.findAllIn(plan).length
    assert(n <= 1, s"frame sampling must not shuffle before the sort, got $n:\n$plan")
  }

  test("registered knn_ivf serves from the partition-pruned index") {
    val plan = planOf(SparkEntry.queries("knn_ivf")(spark, sf))
    val pf = "PartitionFilters: \\[[^\\]]*cell#[^\\]]*".r
    assert(pf.findFirstIn(plan).isDefined,
      s"served knn_ivf is not pruning index partitions:\n$plan")
  }

  test("q8's dimension star is all broadcast: no fact-side shuffle before the agg") {
    val plan = planOf(Relational.q8MarketShare(spark, sf))
    val n = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(n >= 3, s"expected part+customer-region+supplier-nation broadcasts, got $n:\n$plan")
  }

  test("contamination joins the benchmark gram set broadcast, never doc x doc") {
    val plan = planOf(graft.operators.TextAnalysis.contamination(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"benchmark grams not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"doc x doc product crept in:\n$plan")
  }

  test("doc packing reuses the window's source partitioning for the aggregate") {
    // hashpartitioning(source) satisfies the (source, seq_id) clustered
    // distribution, so the groupBy must NOT re-shuffle: one exchange for
    // the window, one for the final presentation sort
    val plan = planOf(graft.operators.TextAnalysis.docPacking(spark, sf))
    val n = "Exchange".r.findAllIn(plan).length
    assert(n <= 2, s"doc packing should shuffle once + sort, got $n exchanges:\n$plan")
  }

  test("binned range join is an equi-join — no nested loop over the point side") {
    // the naive point-in-interval BETWEEN join plans as a
    // BroadcastNestedLoopJoin; the binned form must be a plain
    // equi-join on the bin key with the BETWEEN as residual
    val plan = planOf(Relational.rangeJoinActivity(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$plan")
    assert(plan.contains("Join"), s"expected a join in:\n$plan")
  }

  test("AQE splits a skewed join partition at runtime") {
    // saltedJoin is the manual answer to skew; the automatic one the
    // session advertises (GraftSession: adaptive.skewJoin.enabled) is
    // AQE's split-and-replicate. Size gates default to 256 MB, so pin
    // the MECHANISM with the gates opened on a deliberately skewed
    // key: one key holding ~95% of the left side must make the final
    // adaptive plan a skew-split sort-merge join.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions.{col, when}
      val skewed = spark.range(0, 200000, 1, 8)
        .select(when(col("id") % 20 =!= 0, 0L).otherwise(col("id") % 32).as("k"),
          col("id").as("v"))
      val dim = spark.range(32).select(col("id").as("k"), (col("id") * 10).as("w"))
      val joined = skewed.join(dim, "k")
      // execute THIS plan tree (count() would plan a separate query
      // and leave `joined`'s adaptive plan unfinalized)
      assert(joined.collect().length === 200000)
      val plan = planOf(joined) // adaptive final plan, post-execution
      assert(plan.contains("skew=true"),
        s"skewed partition was not split by AQE:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter prunes the fact side of a selective non-broadcast join") {
    // at 100 TB a selective dim filter should reach the fact scan as a
    // runtime bloom filter when the join can't broadcast; thresholds
    // are size-gated, so pin the MECHANISM with the gates opened
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions.{col, sum}
      val li = Tables.lineitem(spark, sf)
      val promo = Tables.part(spark, sf).filter(col("p_type") === "PROMO")
      val df = li.join(promo, col("l_partkey") === col("p_partkey"))
        .agg(sum(col("l_extendedprice")).as("s"))
      val optimized = df.queryExecution.optimizedPlan.toString.toLowerCase
      assert(optimized.contains("might_contain"),
        s"no runtime bloom filter injected:\n$optimized")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dynamic partition pruning reaches a partitioned fact scan behind a dim filter") {
    // the 100 TB shape: a date-partitioned fact table joined to a
    // filtered dim must read ONLY the matching partitions — Spark's
    // DPP injects the dim's build side as a partition filter at
    // runtime (reusing the broadcast). Pin the mechanism end to end:
    // the pruning expression in the plan AND the actual file reads.
    import org.apache.spark.sql.functions.{col, count, lit, to_date}
    val factDir = java.nio.file.Files.createTempDirectory("dpp_fact").toString
    val dimDir = java.nio.file.Files.createTempDirectory("dpp_dim").toString
    try {
      Tables.events(spark, sf)
        .withColumn("day", to_date(col("ts")))
        .write.partitionBy("day").mode("overwrite").parquet(factDir)
      val fact = spark.read.parquet(factDir)
      val nDays = fact.select("day").distinct().count()
      assert(nDays > 5, s"fixture spans only $nDays days — DPP pin meaningless")
      // a full day dim with a flag marking 2 days: the QUERY's filter
      // on the flag is the selective predicate DPP requires on the
      // build side (a pre-filtered dim has no filter to prune by)
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.row_number
      fact.select(col("day").as("d")).distinct()
        .withColumn("flag",
          (row_number().over(Window.orderBy(col("d"))) <= 2).cast("int"))
        .write.mode("overwrite").parquet(dimDir)
      val dim = spark.read.parquet(dimDir).filter(col("flag") === 1)
      val joined = fact.join(dim, fact("day") === dim("d"))
        .groupBy(fact("day")).agg(count(lit(1)).as("n"))
      val planStr = joined.queryExecution.executedPlan.toString.toLowerCase
      assert(planStr.contains("dynamicpruning"),
        s"no dynamic partition pruning in the plan:\n$planStr")
      val rows = joined.collect()
      assert(rows.length === 2)
      // the scan really read only the 2 matching day partitions:
      // inputFiles reflects the STATIC index, so read the executed
      // scan's own "number of files read" metric instead
      def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] =
        (p +: p.children.flatMap(allNodes)) ++ (p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            allNodes(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            allNodes(q.plan)
          case _ => Nil
        })
      val factScan = allNodes(joined.queryExecution.executedPlan).collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains(
              new java.io.File(factDir).getName)) => f
      }.getOrElse(fail("no FileSourceScanExec for the fact table in the executed plan"))
      val filesRead = factScan.metrics("numFiles").value
      assert(filesRead < nDays,
        s"DPP did not prune at runtime: read $filesRead files over $nDays days")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(factDir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dimDir))
    }
  }

  test("q_lake_agg_pushdown serves from GraftAggScan — zero data-file opens") {
    val df = graft.operators.Lake.aggPushdown(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("GraftAggScan"),
      s"registered lake aggregate did not push to the zone scan:\n$plan")
    assert(!plan.contains(".parquet"), s"agg plan opens data files:\n$plan")
  }

  test("q_lake_group_pushdown serves grouped rows from GraftAggScan — zero file opens") {
    val df = graft.operators.Lake.groupAggPushdown(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("GraftAggScan"),
      s"registered grouped lake aggregate did not push to the zone scan:\n$plan")
    assert(!plan.contains(".parquet"), s"grouped agg plan opens data files:\n$plan")
  }

  test("q_lake_spj_join: the key join itself shuffles neither scan side") {
    val df = graft.operators.Lake.spjJoin(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("Join"), s"no join in plan:\n$plan")
    // with storage-partitioned joins the ONLY hash exchange left is
    // the small post-join aggregate on bucket; a second one means a
    // join input got re-partitioned and SPJ regressed
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges <= 1,
      s"storage-partitioned join re-shuffled a scan side ($hashExchanges hash exchanges):\n$plan")
  }

  test("q_lake_runtime_prune: the fact scan opens fewer files than it has") {
    val df = graft.operators.Lake.runtimePrune(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("dynamicpruning") || plan.contains("RuntimeFilters: [in"),
      s"no runtime filter reached the fact scan:\n$plan")
    val total = graft.operators.CommitLog.snapshot(spark,
      graft.operators.Lake.groupedTable(spark, sf), None).size
    graft.sources.grafttable.GraftPartitionReader.filesOpened.set(0L)
    assert(df.collect().nonEmpty)
    val opened = graft.sources.grafttable.GraftPartitionReader.filesOpened.get()
    // the dim resolves to bucket {0}, one of the table's four bucket
    // commit groups — the fact side must open strictly fewer files
    // than the table holds (the dim's own orders scan is parquet and
    // not counted)
    assert(opened > 0, "counter saw no graft file opens at all")
    assert(opened < total,
      s"runtime filter pruned nothing: opened $opened of $total files")
  }

  test("q15 aggregates lineitem once: the revenue view is checkpointed, not recomputed") {
    // before the fix both the scalar max and the crossJoin probe side
    // re-derived the per-supplier aggregate from the parquet scan —
    // lineitem was scanned and aggregated twice (VERDICT r6 #1). With
    // the memoized localCheckpoint the final plan reads the checkpoint
    // RDD; no lineitem file scan (and no aggregate over one) remains.
    val plan = planOf(Relational.q15TopSupplier(spark, sf))
    val lineitemScans = collectScans(
      Relational.q15TopSupplier(spark, sf).queryExecution.executedPlan)
      .count(_.toString.contains("lineitem"))
    assert(lineitemScans === 0,
      s"q15 still scans lineitem $lineitemScans time(s) in the serving plan:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"q15 revenue view is not served from the checkpoint:\n$plan")
  }

  test("profileColumns plan has no Expand and matches the multi-DISTINCT computation") {
    import graft.operators.Analytics
    val df = Analytics.profileColumns(spark, sf)
    // THE pin (advice r8-perf): the old plan's six count(DISTINCT)
    // lanes multiplied shuffle input x7 through an Expand; the melt +
    // two-level aggregate must not reintroduce one
    val plan = planOf(df)
    assert(!plan.contains("Expand"),
      s"profileColumns reintroduced the count-DISTINCT Expand:\n$plan")
    // differential: same numbers as the straightforward wide aggregate
    import org.apache.spark.sql.functions._
    val li = graft.Tables.lineitem(spark, sf)
    val expected = Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
      .map { c =>
        val r = li.agg(
          (count(lit(1)) - count(col(c))).as("n"),
          countDistinct(col(c)).as("d"),
          round(min(col(c).cast("double")), 4).as("mn"),
          round(max(col(c).cast("double")), 4).as("mx")).head
        (c, r.getLong(0), r.getLong(1), Option(r.get(2)), Option(r.get(3)))
      } ++ Seq("l_returnflag", "l_linestatus").map { c =>
        val r = li.agg(
          (count(lit(1)) - count(col(c))).as("n"),
          countDistinct(col(c)).as("d")).head
        (c, r.getLong(0), r.getLong(1), None, None)
      }
    val got = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)), Option(r.get(4)))).toSeq
    assert(got.sortBy(_._1) === expected.sortBy(_._1))
  }

  test("sqlite scan carries its pushed range into the scan description") {
    val path = getClass.getResource("/sqlite/stA.sdb").getPath
    val lo = 1709251200L
    val df = spark.read.format("sqlite").load(path)
      .filter(org.apache.spark.sql.functions.col("dateTime") >= lo)
      .select("dateTime", "outTemp")
    val scans = collectScans(df.queryExecution.executedPlan)
    assert(scans.exists(_.toString.contains(s"range=[$lo")),
      s"sqlite rowid pushdown missing:\n${df.queryExecution.executedPlan}")
  }

  test("index-served BM25 keeps the same broadcast discipline, corpus-free") {
    import graft.operators.Search
    Search.searchBm25Indexed(spark, sf).count() // build index + norms tables
    val plan = planOf(Search.searchBm25Indexed(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"bm25-indexed cartesian: $plan")
    assert("BroadcastExchange".r.findAllIn(plan).length >= 2,
      s"bm25-indexed lost its broadcast sides: $plan")
    assert(!plan.contains("documents.parquet"),
      s"bm25-indexed rescans the corpus: $plan")
  }

  test("BM25 serving broadcasts every small side — no postings-side shuffle join") {
    import graft.operators.Search
    Search.postings(spark, sf).count() // build the index artifact
    val plan = planOf(Search.searchBm25(spark, sf))
    // df table + corpus scalars are broadcast by construction; the big
    // dl join may hash — but nothing may nested-loop except the
    // one-row scalar cross join
    assert(!plan.contains("CartesianProduct"), s"bm25 cartesian:\n$plan")
    assert("BroadcastExchange".r.findAllIn(plan).length >= 2,
      s"bm25 lost its broadcast sides:\n$plan")
  }

  test("pagerank iterations are equi-joins over checkpointed frames — no nested loop") {
    import graft.operators.Graph
    val plan = planOf(Graph.pagerankSuppliers(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"pagerank fell back to a nested loop:\n$plan")
  }

  test("IVF-PQ coarse stage prunes index partitions on the probed cells") {
    import graft.operators.Similarity
    val df = Similarity.knnIvfPq(spark, sf)
    // the cell predicate must land as a PARTITION filter on the index
    // scan (plan-time directory pruning, not a post-scan filter). On
    // this tiny fixture the 5 probes' top-2 cells may cover every
    // cell, so pin the mechanism, not the count.
    val plan = planOf(df)
    val scanLine = plan.linesIterator
      .find(l => l.contains("FileScan parquet") && l.contains("cell"))
    val pf = "PartitionFilters: \\[[^\\]]*cell".r
    assert(scanLine.exists(l => pf.findFirstIn(l).isDefined),
      s"index scan lost its cell partition filter:\n$plan")
  }

  test("r12 additions keep their shuffle budgets (bpe, diversity)") {
    import graft.operators.{Similarity, TextAnalysis}
    // bpe pair table: the documentsParallel spread + the word-freq agg
    // + the pair agg — three exchanges; the top-k lowers to
    // TakeOrdered (per-partition heaps), never a global sort
    val pairs = TextAnalysis.bpePairs(spark, sf)
    val pairPlan = planOf(pairs)
    assert("Exchange".r.findAllIn(pairPlan).length <= 3,
      s"bpe pair table grew extra shuffles:\n$pairPlan")
    assert(pairPlan.contains("TakeOrdered"),
      s"bpe pair top-k should lower to TakeOrderedAndProject:\n$pairPlan")
    // tokenizer application: the merge chain is pure per-row expression
    // work — one aggregation exchange plus the presentation sort only
    val tok = TextAnalysis.bpeTokenize(spark, sf)
    val tokPlan = planOf(tok)
    assert("Exchange".r.findAllIn(tokPlan).length <= 3,
      s"bpe tokenize grew extra shuffles:\n$tokPlan")
    assert(!tokPlan.contains("CartesianProduct") &&
      !tokPlan.contains("BroadcastNestedLoopJoin"),
      s"bpe tokenize must stay join-free:\n$tokPlan")
    // diversity sample: one window exchange over the index scan plus
    // the presentation sort; no joins anywhere
    val div = Similarity.diversitySample(spark, sf)
    val divPlan = planOf(div)
    assert("Exchange".r.findAllIn(divPlan).length <= 2,
      s"diversity sample grew extra shuffles:\n$divPlan")
    assert(!divPlan.contains("CartesianProduct") &&
      !divPlan.contains("BroadcastNestedLoopJoin"),
      s"diversity sample must stay join-free:\n$divPlan")
  }
}
