package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Fused dot product as a native Catalyst expression (SURVEY §4: custom
  * work reserved for extensions where a built-in measurably lags).
  *
  * The composed form `aggregate(zip_with(a, b, *), 0.0, +)` allocates an
  * intermediate array and drives a lambda interpreter per element; this
  * expression generates a single scalar loop inside whole-stage codegen
  * (`doGenCode`), which is the hot path of every similarity-search
  * operator. Accumulation order is i = 0..n-1, identical to the HOF
  * chain and to DuckDB's list_dot_product, so swapping it in changes no
  * query result bit.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects (array<double>, array<double>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused cosine similarity: graft_dot(a,b) / (l2Norm(a) * l2Norm(b))
  * in ONE pass instead of three. Bit-identical to the composed form on
  * EVERY input, including the edges:
  *  - each norm sums x_i² over its OWN array's full length (the
  *    composed l2Norm does), while the dot truncates to the common
  *    prefix (graft_dot does);
  *  - a null ELEMENT anywhere makes the result NULL — the composed
  *    form's HOF norms propagate element nulls (x*x -> null ->
  *    acc+null -> null), so the fusion must too;
  *  - each accumulator sums in i = 0..n-1 order and the final
  *    combination is the identical IEEE expression.
  * This is the hot inner loop of the whole similarity family
  * (brute/filtered/rerank/IVF scoring). */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_cos expects (array<double>, array<double>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cos"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements(); val nb = y.numElements()
    val nc = math.min(na, nb)
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < na) {
      if (x.isNullAt(i)) return null
      val xi = x.getDouble(i); aa += xi * xi; i += 1
    }
    i = 0
    while (i < nb) {
      if (y.isNullAt(i)) return null
      val yi = y.getDouble(i); bb += yi * yi; i += 1
    }
    i = 0
    while (i < nc) { ab += x.getDouble(i) * y.getDouble(i); i += 1 }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val nc = ctx.freshName("nc")
      val ab = ctx.freshName("ab")
      val aa = ctx.freshName("aa")
      val bb = ctx.freshName("bb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val bad = ctx.freshName("anyNull")
      s"""
         |int $na = $a.numElements(); int $nb = $b.numElements();
         |int $nc = java.lang.Math.min($na, $nb);
         |double $ab = 0.0; double $aa = 0.0; double $bb = 0.0;
         |boolean $bad = false;
         |for (int $i = 0; $i < $na && !$bad; $i++) {
         |  if ($a.isNullAt($i)) { $bad = true; } else {
         |    double $xi = $a.getDouble($i); $aa += $xi * $xi;
         |  }
         |}
         |for (int $i = 0; $i < $nb && !$bad; $i++) {
         |  if ($b.isNullAt($i)) { $bad = true; } else {
         |    double $yi = $b.getDouble($i); $bb += $yi * $yi;
         |  }
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $nc; $i++) {
         |    $ab += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $ab / (java.lang.Math.sqrt($aa) * java.lang.Math.sqrt($bb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_isect_size(a, b)` → int: the number of DISTINCT values two
  * long arrays share — the sorted-int-array tier of dedup
  * verification (between the 64-symbol bitmask-popcount fast path and
  * nothing: it replaces the generic `array_intersect`, whose per-pair
  * boxed hash-set build measured ~9us on this corpus). One merge pass
  * when both inputs are already ascending (the dedup reprs sort once
  * per DOCUMENT, so the per-PAIR cost is the merge alone); an
  * unsorted input pays a primitive dual-pivot sort — still
  * allocation-light, never a boxed set. Matches
  * `size(array_intersect(a, b))` exactly on null-free arrays
  * (duplicates count once, both sides); null ELEMENTS are skipped
  * (the dedup reprs hash non-null tokens, so none occur). */
case class LongSetIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.{IntegerType, LongType}

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_isect_size expects (array<bigint>, array<bigint>), got ($l, $r)")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_isect_size"

  override def nullSafeEval(a: Any, b: Any): Any =
    LongSetIntersectSize.count(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // the merge loop lives in ONE static JIT-compiled method; codegen
    // just calls it, keeping the expression inside whole-stage codegen
    // without duplicating the algorithm in generated source
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.LongSetIntersectSize.count($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object LongSetIntersectSize {
  /** Non-null longs of `a`, ascending (sorted only when needed). */
  private def sortedLongs(a: ArrayData): Array[Long] = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var m = 0
    var ascending = true
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val v = a.getLong(i)
        if (m > 0 && v < out(m - 1)) ascending = false
        out(m) = v
        m += 1
      }
      i += 1
    }
    val trimmed = if (m == out.length) out else java.util.Arrays.copyOf(out, m)
    if (!ascending) java.util.Arrays.sort(trimmed)
    trimmed
  }

  /** |distinct(a) ∩ distinct(b)| by merge; duplicate runs advance in
    * one step so multiplicities never inflate the count (exactly
    * size(array_intersect)). */
  def count(aRaw: ArrayData, bRaw: ArrayData): Int = {
    val a = sortedLongs(aRaw)
    val b = sortedLongs(bRaw)
    var i = 0
    var j = 0
    var n = 0
    while (i < a.length && j < b.length) {
      val x = a(i)
      val y = b(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        n += 1
        while (i < a.length && a(i) == x) i += 1
        while (j < b.length && b(j) == x) j += 1
      }
    }
    n
  }
}

/** `graft_vocab_words(toks, vocab)` → array<bigint>: the multi-word
  * bitmap of a hashed-token set against an ASCENDING vocabulary array
  * — the dedup verify tier between the 64-symbol single-long mask and
  * the sorted-array merge (Dedup.scala names the gap). Word i bit j is
  * set iff vocab[i*64+j] occurs in `toks`; the output always has
  * ceil(|vocab|/64) words. Tokens absent from the vocabulary set no
  * bit (the cross-side soundness contract: when the vocabulary covers
  * every CORPUS token, any intersecting token is in-vocab, so the
  * masked intersection is exact even when the other side carries
  * out-of-vocab tokens). Lookup is a binary search per token — the
  * vocabulary rides the plan as one ascending literal, same move as
  * the PCA components. Null token elements are skipped (token sets
  * hash non-null tokens, so none occur). */
case class VocabWordsMask(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_vocab_words expects (array<bigint>, array<bigint>), got ($l, $r)")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_vocab_words"

  override def nullSafeEval(a: Any, b: Any): Any =
    VocabWordsMask.mask(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.VocabWordsMask.mask($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VocabWordsMask {
  /** Binary search over an ascending long ArrayData; -1 when absent.
    * (The vocabulary is sorted signed-ascending at collection — the
    * same order `Array.sorted`/`orderBy` produce — so plain signed
    * compares agree with the writer.) */
  private def indexOf(vocab: ArrayData, v: Long): Int = {
    var lo = 0
    var hi = vocab.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val x = vocab.getLong(mid)
      if (x < v) lo = mid + 1
      else if (x > v) hi = mid - 1
      else return mid
    }
    -1
  }

  def mask(toks: ArrayData, vocab: ArrayData): ArrayData = {
    val nWords = (vocab.numElements() + 63) >>> 6
    val words = new Array[Long](nWords)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val idx = indexOf(vocab, toks.getLong(i))
        if (idx >= 0) words(idx >>> 6) |= (1L << (idx & 63))
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(words)
  }
}

/** `graft_words_isect(a, b)` → int: Σ popcount(a[i] & b[i]) over the
  * common prefix — the per-pair intersect of two [[VocabWordsMask]]
  * word arrays: ≤8 ANDs + popcounts per pair at the 512-symbol tier
  * where the merge intersect walks both full token arrays. Distinct
  * semantics are inherent (a bit is one vocabulary symbol). */
case class WordMaskIsectSize(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.{IntegerType, LongType}

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_words_isect expects (array<bigint>, array<bigint>), got ($l, $r)")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_words_isect"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0
    var i = 0
    while (i < n) {
      acc += java.lang.Long.bitCount(x.getLong(i) & y.getLong(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $acc = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += java.lang.Long.bitCount($a.getLong($i) & $b.getLong($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column helpers for the native `graft_*` functions: each one builds
  * its expression from [[GraftFunctions]], so it works in any session. */
object VectorExpressions {
  /** Fused dot product (plans.DotProduct). */
  def dot(a: Column, b: Column): Column =
    GraftFunctions("graft_dot", a, b)

  /** Distinct-intersection size of two long arrays (the sorted-array
    * dedup tier). */
  def isectSize(a: Column, b: Column): Column =
    GraftFunctions("graft_isect_size", a, b)

  /** Multi-word vocabulary bitmap of a hashed-token set (the 512-symbol
    * dedup verify tier); the ascending vocabulary rides the plan as a
    * literal. */
  def vocabWords(toks: Column, vocab: Array[Long]): Column =
    GraftFunctions("graft_vocab_words", toks,
      org.apache.spark.sql.functions.lit(vocab))

  /** Σ popcount(a[i] & b[i]) — word-array intersect size. */
  def wordsIsect(a: Column, b: Column): Column =
    GraftFunctions("graft_words_isect", a, b)

  /** Fused cosine (plans.CosineSim). */
  def cos(a: Column, b: Column): Column =
    GraftFunctions("graft_cos", a, b)

  /** PNG/JPEG header metadata (plans.ImageMeta). */
  def imgMeta(c: Column): Column =
    GraftFunctions("graft_img_meta", c)

  /** GIF header metadata (plans.GifMeta). */
  def gifMeta(c: Column): Column =
    GraftFunctions("graft_gif_meta", c)

  /** WebP triage (plans.WebpMeta). */
  def webpMeta(c: Column): Column =
    GraftFunctions("graft_webp_meta", c)

  /** WebP fixture encoder (plans.WebpEncode). */
  def webpEncode(w: Column, h: Column, seed: Column, variant: Column): Column =
    GraftFunctions("graft_webp_encode", w, h, seed, variant)

  /** WARC record triage (plans.WarcRecords). */
  def warcRecords(c: Column): Column =
    GraftFunctions("graft_warc_records", c)

  /** WARC fixture encoder (plans.WarcEncode). */
  def warcEncode(seed: Column, compressed: Column): Column =
    GraftFunctions("graft_warc_encode", seed, compressed)

  /** First response record's (target_uri, payload) — the ingest hop
    * (plans.WarcResponse). */
  def warcResponse(c: Column): Column =
    GraftFunctions("graft_warc_response", c)

  /** WARC fixture with an explicit response body (plans.WarcWrap). */
  def warcWrap(seed: Column, compressed: Column, body: Column): Column =
    GraftFunctions("graft_warc_wrap", seed, compressed, body)

  /** ZIP central-directory entries (plans.ZipEntries). */
  def zipEntries(c: Column): Column =
    GraftFunctions("graft_zip_entries", c)

  /** ZIP fixture encoder — the JDK ZipOutputStream behind an expression
    * (plans.ZipEncode). */
  def zipEncode(seed: Column, nEntries: Column, comment: Column): Column =
    GraftFunctions("graft_zip_encode", seed, nEntries, comment)

  /** ZIP entry payload extraction (plans.ZipExtract). */
  def zipExtract(zip: Column, name: Column): Column =
    GraftFunctions("graft_zip_extract", zip, name)

  /** ODT text extraction (plans.OdtText). */
  def odtText(c: Column): Column =
    GraftFunctions("graft_odt_text", c)

  /** ODT fixture encoder (plans.OdtEncode). */
  def odtEncode(seed: Column, nParas: Column): Column =
    GraftFunctions("graft_odt_encode", seed, nParas)

  /** ODP slide extraction (plans.OdpSlides). */
  def odpSlides(c: Column): Column =
    GraftFunctions("graft_odp_slides", c)

  /** ODP fixture encoder (plans.OdpEncode). */
  def odpEncode(seed: Column, nSlides: Column): Column =
    GraftFunctions("graft_odp_encode", seed, nSlides)

  /** ODS cell extraction (plans.OdsCells). */
  def odsCells(c: Column): Column =
    GraftFunctions("graft_ods_cells", c)

  /** ODS fixture encoder (plans.OdsEncode). */
  def odsEncode(seed: Column, nRows: Column): Column =
    GraftFunctions("graft_ods_encode", seed, nRows)

  /** Encrypted-PDF fixture encoder (plans.PdfEncryptEncode). */
  def pdfEncryptEncode(seed: Column, nPages: Column, mode: Column): Column =
    GraftFunctions("graft_pdf_encrypt_encode", seed, nPages, mode)

  /** Embedded-CMap composite-font PDF encoder (plans.PdfCMapEncode). */
  def pdfCMapEncode(seed: Column, nPages: Column): Column =
    GraftFunctions("graft_pdf_cmap_encode", seed, nPages)

  /** CFB directory census (plans.CfbEntries). */
  def cfbEntries(c: Column): Column =
    GraftFunctions("graft_cfb_entries", c)

  /** CFB stream-name classifier (plans.CfbKind). */
  def cfbKind(c: Column): Column =
    GraftFunctions("graft_cfb_kind", c)

  /** PowerPoint 97-2003 binary text extraction (plans.PptText). */
  def pptText(c: Column): Column =
    GraftFunctions("graft_ppt_text", c)

  /** PowerPoint 97 binary fixture encoder (plans.PptEncode). */
  def pptEncode(seed: Column, nSlides: Column): Column =
    GraftFunctions("graft_ppt_encode", seed, nSlides)

  /** Excel 97-2003 binary cell extraction (plans.XlsCells). */
  def xlsCells(c: Column): Column =
    GraftFunctions("graft_xls_cells", c)

  /** Excel 97 binary fixture encoder (plans.XlsEncode). */
  def xlsEncode(seed: Column, nRows: Column): Column =
    GraftFunctions("graft_xls_encode", seed, nRows)

  /** Word 97-2003 binary text extraction (plans.DocText). */
  def docText(c: Column): Column =
    GraftFunctions("graft_doc_text", c)

  /** Word 97 binary fixture encoder (plans.DocEncode). */
  def docEncode(seed: Column, nParas: Column): Column =
    GraftFunctions("graft_doc_encode", seed, nParas)

  /** tar member census (plans.TarEntries). */
  def tarEntries(c: Column): Column =
    GraftFunctions("graft_tar_entries", c)

  /** tar fixture encoder (plans.TarEncode). */
  def tarEncode(seed: Column, nEntries: Column): Column =
    GraftFunctions("graft_tar_encode", seed, nEntries)

  /** Plain-text payload decode (plans.PlainText). */
  def plainText(c: Column): Column =
    GraftFunctions("graft_plain_text", c)

  /** RTF text extraction (plans.RtfText). */
  def rtfText(c: Column): Column =
    GraftFunctions("graft_rtf_text", c)

  /** RTF fixture encoder (plans.RtfEncode). */
  def rtfEncode(seed: Column, nParas: Column): Column =
    GraftFunctions("graft_rtf_encode", seed, nParas)

  /** docx text extraction (plans.DocxText). */
  def docxText(c: Column): Column =
    GraftFunctions("graft_docx_text", c)

  /** docx fixture encoder (plans.DocxEncode). */
  def docxEncode(seed: Column, nParas: Column): Column =
    GraftFunctions("graft_docx_encode", seed, nParas)

  /** xlsx cell extraction (plans.XlsxCells). */
  def xlsxCells(c: Column): Column =
    GraftFunctions("graft_xlsx_cells", c)

  /** xlsx fixture encoder (plans.XlsxEncode). */
  def xlsxEncode(seed: Column, nRows: Column): Column =
    GraftFunctions("graft_xlsx_encode", seed, nRows)

  /** pptx slide texts (plans.PptxSlides). */
  def pptxSlides(c: Column): Column =
    GraftFunctions("graft_pptx_slides", c)

  /** pptx fixture encoder (plans.PptxEncode). */
  def pptxEncode(seed: Column, nSlides: Column): Column =
    GraftFunctions("graft_pptx_encode", seed, nSlides)

  /** EPUB chapter texts (plans.EpubChapters). */
  def epubChapters(c: Column): Column =
    GraftFunctions("graft_epub_chapters", c)

  /** EPUB fixture encoder (plans.EpubEncode). */
  def epubEncode(seed: Column, nChapters: Column): Column =
    GraftFunctions("graft_epub_encode", seed, nChapters)

  /** ZIP sub-format detection (plans.ZipKind). */
  def zipKind(c: Column): Column =
    GraftFunctions("graft_zip_kind", c)

  /** sitemap.xml entry list (plans.SitemapUrls). */
  def sitemapUrls(c: Column): Column =
    GraftFunctions("graft_sitemap_urls", c)

  /** robots.txt directive list (plans.RobotsRules). */
  def robotsRules(c: Column): Column =
    GraftFunctions("graft_robots_rules", c)

  /** robots.txt access verdict (plans.RobotsAllowed). */
  def robotsAllowed(txt: Column, agent: Column, path: Column): Column =
    GraftFunctions("graft_robots_allowed", txt, agent, path)

  /** HTTP response-message triage (plans.HttpBody). */
  def httpBody(c: Column): Column =
    GraftFunctions("graft_http_body", c)

  /** Charset-aware body → text decode (plans.HttpText). */
  def httpText(body: Column, charset: Column): Column =
    GraftFunctions("graft_http_text", body, charset)

  /** HTTP response fixture builder (plans.HttpWrap). */
  def httpWrap(seed: Column, status: Column, contentType: Column,
      body: Column, mode: Column, coding: Column): Column =
    GraftFunctions("graft_http_wrap", seed, status, contentType, body, mode,
      coding)

  /** PDF triage (plans.PdfMeta). */
  def pdfMeta(c: Column): Column =
    GraftFunctions("graft_pdf_meta", c)

  /** PDF fixture encoder (plans.PdfEncode). layout: 0 classic xref
    * table, 1 xref stream (predictor), 2 xref stream + object stream. */
  def pdfEncode(seed: Column, nPages: Column, minor: Column,
      encrypted: Column, layout: Column): Column =
    GraftFunctions("graft_pdf_encode", seed, nPages, minor, encrypted, layout)

  /** PDF page-text extraction (plans.PdfPageTexts). */
  def pdfPageTexts(c: Column): Column =
    GraftFunctions("graft_pdf_page_texts", c)

  /** PDF text-fixture encoder (plans.PdfTextEncode). */
  def pdfTextEncode(seed: Column, nPages: Column): Column =
    GraftFunctions("graft_pdf_text_encode", seed, nPages)

  /** Gzip member triage (plans.GzipMeta). */
  def gzipMeta(c: Column): Column =
    GraftFunctions("graft_gzip_meta", c)

  /** Gzip fixture encoder (plans.GzipEncode). */
  def gzipEncode(seed: Column, nPayload: Column, variant: Column,
      members: Column): Column =
    GraftFunctions("graft_gzip_encode", seed, nPayload, variant, members)

  /** AVIF triage (plans.AvifMeta). */
  def avifMeta(c: Column): Column =
    GraftFunctions("graft_avif_meta", c)

  /** AVIF fixture encoder (plans.AvifEncode). */
  def avifEncode(w: Column, h: Column, seed: Column, animated: Column): Column =
    GraftFunctions("graft_avif_encode", w, h, seed, animated)

  /** HTML visible-text extraction (plans.HtmlText). */
  def htmlText(c: Column): Column =
    GraftFunctions("graft_html_text", c)

  /** WAV header metadata (plans.WavMeta). */
  def wavMeta(c: Column): Column =
    GraftFunctions("graft_wav_meta", c)

  /** BMP pixel statistics (plans.BmpStats). */
  def bmpStats(c: Column): Column =
    GraftFunctions("graft_bmp_stats", c)

  /** PNG full pixel decode — inflate + unfilter + channel sums
    * (plans.PngStats). */
  def pngStats(c: Column): Column =
    GraftFunctions("graft_png_stats", c)

  /** Deterministic valid-PNG synthesis (plans.PngEncode). */
  def pngEncode(w: Column, h: Column, seed: Column, alpha: Column): Column =
    GraftFunctions("graft_png_encode", w, h, seed, alpha)

  /** GIF LZW pixel decode — palette indices to channel sums
    * (plans.GifPixels). */
  def gifPixels(c: Column): Column =
    GraftFunctions("graft_gif_pixels", c)

  /** Deterministic valid-GIF synthesis with real LZW (plans.GifEncode). */
  def gifEncode(w: Column, h: Column, seed: Column): Column =
    GraftFunctions("graft_gif_encode", w, h, seed)

  /** Baseline-DCT JPEG pixel decode — Huffman + dequant + IDCT to
    * channel sums (plans.JpegPixels). */
  def jpegPixels(c: Column): Column =
    GraftFunctions("graft_jpeg_pixels", c)

  /** Deterministic exactly-decodable baseline-JPEG synthesis
    * (plans.JpegEncode). */
  def jpegEncode(w: Column, h: Column, seed: Column, restartRows: Column): Column =
    GraftFunctions("graft_jpeg_encode", w, h, seed, restartRows)

  /** Deterministic exactly-decodable COLOR baseline-JPEG synthesis with
    * real subsampling (plans.JpegEncodeColor; mode 0/1/2 = 4:4:4 /
    * 4:2:2 / 4:2:0). */
  def jpegEncodeColor(w: Column, h: Column, seed: Column, mode: Column,
      restartRows: Column): Column =
    GraftFunctions("graft_jpeg_encode_color", w, h, seed, mode, restartRows)

  /** INTERLACED single-frame GIF synthesis. */
  def gifEncodeIlc(w: Column, h: Column, seed: Column): Column =
    GraftFunctions("graft_gif_encode_ilc", w, h, seed)

  /** ADAM7-interlaced PNG synthesis. */
  def pngEncodeAdam7(w: Column, h: Column, seed: Column, alpha: Column): Column =
    GraftFunctions("graft_png_encode_adam7", w, h, seed, alpha)

  /** APNG per-frame pixel decode (plans.PngFrames). */
  def pngFrames(c: Column): Column =
    GraftFunctions("graft_png_frames", c)

  /** Deterministic exactly-decodable APNG synthesis. */
  def pngEncodeApng(w: Column, h: Column, frames: Column, seed: Column): Column =
    GraftFunctions("graft_png_encode_apng", w, h, frames, seed)

  /** Animated-GIF per-frame pixel decode (plans.GifFrames). */
  def gifFrames(c: Column): Column =
    GraftFunctions("graft_gif_frames", c)

  /** Deterministic exactly-decodable MULTI-FRAME GIF synthesis
    * (plans.GifEncodeAnim). */
  def gifEncodeAnim(w: Column, h: Column, frames: Column, seed: Column): Column =
    GraftFunctions("graft_gif_encode_anim", w, h, frames, seed)

  /** Deterministic exactly-decodable PROGRESSIVE-JPEG synthesis
    * (plans.JpegEncodeProgressive; mode 0/1/2 = color subsampling, 3 =
    * grayscale). */
  def jpegEncodeProgressive(w: Column, h: Column, seed: Column, mode: Column,
      restartRows: Column): Column =
    GraftFunctions("graft_jpeg_encode_progressive", w, h, seed, mode,
      restartRows)

  /** Nearest-neighbor BMP resize stats (plans.BmpResize). */
  def bmpResize(c: Column, w2: Column, h2: Column): Column =
    GraftFunctions("graft_bmp_resize", c, w2, h2)

  /** 12-bit blocky SOF1 synthesis (plans.JpegEncode.encodeBlocky12). */
  def jpegEncode12(w: Column, h: Column, seed: Column,
      restartRows: Column): Column =
    GraftFunctions("graft_jpeg_encode12", w, h, seed, restartRows)

  /** Deterministic exactly-decodable LOSSLESS-JPEG synthesis
    * (plans.JpegEncode.encodeLossless: SOF3, predictor 1..7, gray or
    * 3-component). */
  def jpegEncodeLossless(w: Column, h: Column, seed: Column, nComp: Column,
      pred: Column, prec: Column): Column =
    GraftFunctions("graft_jpeg_encode_lossless", w, h, seed, nComp, pred, prec)

  /** AVI header parse (plans.AviMeta). */
  def aviMeta(c: Column): Column =
    GraftFunctions("graft_avi_meta", c)

  /** MJPEG-in-AVI per-frame pixel decode (plans.AviFrames). */
  def aviFrames(c: Column): Column =
    GraftFunctions("graft_avi_frames", c)

  /** Deterministic exactly-decodable MJPEG AVI synthesis
    * (plans.AviEncode). */
  def aviEncode(w: Column, h: Column, nFrames: Column, seed: Column,
      mode: Column): Column =
    GraftFunctions("graft_avi_encode", w, h, nFrames, seed, mode)

  /** Uncompressed-strip TIFF pixel decode (plans.TiffPixels). */
  def tiffPixels(c: Column): Column =
    GraftFunctions("graft_tiff_pixels", c)

  /** Deterministic exactly-decodable baseline-TIFF synthesis
    * (plans.TiffEncode). */
  def tiffEncode(w: Column, h: Column, seed: Column, mode: Column,
      rowsPerStrip: Column): Column =
    GraftFunctions("graft_tiff_encode", w, h, seed, mode, rowsPerStrip)

  /** ISO-BMFF (MP4) box-tree triage (plans.Mp4Meta). */
  def mp4Meta(c: Column): Column =
    GraftFunctions("graft_mp4_meta", c)

  /** Deterministic structurally-valid MP4 synthesis (plans.Mp4Encode). */
  def mp4Encode(w: Column, h: Column, nVideo: Column, nAudio: Column,
      timescale: Column, duration: Column, nFragments: Column,
      samplesPerFrag: Column, seed: Column): Column =
    GraftFunctions("graft_mp4_encode", w, h, nVideo, nAudio, timescale,
      duration, nFragments, samplesPerFrag, seed)

  /** PCM sample decode to channel sums + peak (plans.WavPcm). */
  def wavPcm(c: Column): Column =
    GraftFunctions("graft_wav_pcm", c)

  /** Deterministic exactly-decodable 16-bit PCM WAV synthesis
    * (plans.WavEncode). */
  def wavEncode(nFrames: Column, channels: Column, seed: Column): Column =
    GraftFunctions("graft_wav_encode", nFrames, channels, seed)

  /** IEEE-float WAV sample decode (plans.WavFloat). */
  def wavFloat(c: Column): Column =
    GraftFunctions("graft_wav_float", c)

  /** Deterministic exactly-decodable IEEE-float WAV synthesis
    * (plans.WavFloat.encode). */
  def wavEncodeFloat(nFrames: Column, channels: Column, seed: Column): Column =
    GraftFunctions("graft_wav_encode_float", nFrames, channels, seed)

  /** Deterministic exactly-decodable G.711 WAV synthesis
    * (plans.WavEncode.encodeG711: µ-law when mulaw, else A-law). */
  def wavEncodeG711(nFrames: Column, channels: Column, seed: Column,
      mulaw: Column): Column =
    GraftFunctions("graft_wav_encode_g711", nFrames, channels, seed, mulaw)

  /** Audio tag triage (plans.AudioTags: FLAC VORBIS_COMMENT + MP3 ID3v2
    * text frames). */
  def audioTags(c: Column): Column =
    GraftFunctions("graft_audio_tags", c)

  /** EXIF IFD-chain triage (plans.ExifMeta: orientation,
    * DateTimeOriginal, Make over JPEG/APP1 or bare TIFF). */
  def exifMeta(c: Column): Column =
    GraftFunctions("graft_exif_meta", c)

  /** Deterministic EXIF fixture synthesis (plans.ExifMeta.encode). */
  def exifEncode(seed: Column, le: Column, wrapJpeg: Column,
      orientation: Column, make: Column, dt: Column,
      dtOriginal: Column, latCsec: Column, lonCsec: Column): Column =
    GraftFunctions("graft_exif_encode", seed, le, wrapJpeg, orientation, make,
      dt, dtOriginal, latCsec, lonCsec)

  /** FLAC STREAMINFO + metadata-chain triage (plans.FlacMeta). */
  def flacMeta(c: Column): Column =
    GraftFunctions("graft_flac_meta", c)

  /** Deterministic conformant FLAC fixture synthesis
    * (plans.FlacMeta.encode). */
  def flacEncode(sampleRate: Column, channels: Column, bits: Column,
      totalSamples: Column, seed: Column, padLen: Column): Column =
    GraftFunctions("graft_flac_encode", sampleRate, channels, bits,
      totalSamples, seed, padLen)

  /** MPEG Layer III frame-chain triage (plans.Mp3Meta). */
  def mp3Meta(c: Column): Column =
    GraftFunctions("graft_mp3_meta", c)

  /** Deterministic Layer III fixture synthesis (plans.Mp3Meta.encode). */
  def mp3Encode(nFrames: Column, verSel: Column, rateIdx: Column,
      mono: Column, seed: Column, vbrStep: Column, id3Len: Column,
      id3v1: Column): Column =
    GraftFunctions("graft_mp3_encode", nFrames, verSel, rateIdx, mono, seed,
      vbrStep, id3Len, id3v1)

  /** One-pass MinHash signature (plans.MinhashSignature). */
  def minhash(c: Column, k: Int): Column =
    GraftFunctions("graft_minhash", c, org.apache.spark.sql.functions.lit(k))

  /** One-pass hashed n-gram windows (plans.NgramHashes). */
  def ngramHashes(c: Column, n: Int): Column =
    GraftFunctions("graft_ngram_hashes", c,
      org.apache.spark.sql.functions.lit(n))

  /** First index where two long arrays agree, -1 if none
    * (plans.FirstAgree — the LSH band-dedup primitive). */
  def firstAgree(a: Column, b: Column): Column =
    GraftFunctions("graft_first_agree", a, b)
}
