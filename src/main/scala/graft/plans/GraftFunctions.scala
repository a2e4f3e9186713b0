package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, GraftColumns, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.types._

/** The one definition of every native `graft_*` function: its name, its
  * argument count and the builder of its Catalyst expression.
  *
  * Both call paths read this table. [[GraftExtensions]] injects every
  * entry into each session as a builtin, so SQL can call it; the Column
  * helpers (`VectorExpressions.dot`, `TopKAggregate.topk`, ...) call
  * [[apply]], which builds the expression directly. Neither path
  * registers anything at run time, so a Column helper works in any
  * session, with or without the extensions.
  */
object GraftFunctions {

  /** One function. [[build]] gates the argument count, so a wrong count
    * fails as a clear analysis error, not an IndexOutOfBoundsException
    * from `e(n)` inside the builder. */
  final case class Fn(name: String, arity: Int, className: String,
      builder: Seq[Expression] => Expression) {
    def build(args: Seq[Expression]): Expression = {
      if (args.length != arity) throw new IllegalArgumentException(
        s"$name expects $arity argument(s), got ${args.length}")
      builder(args)
    }
    def injection: (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
      (FunctionIdentifier(name), new ExpressionInfo(className, name), build)
  }

  private def fn[T <: Expression](name: String, arity: Int)(
      builder: Seq[Expression] => T)(implicit t: ClassTag[T]): Fn =
    Fn(name, arity, t.runtimeClass.getName, builder)

  /** A fixture encoder evaluated by [[SynthExpr]]: one argument per
    * expected type, checked at analysis. */
  private def synth(name: String, types: DataType*)(f: Seq[Any] => Any): Fn =
    fn(name, types.length)(e => SynthExpr(e, name, types, f))

  val all: Seq[Fn] = Seq(
    fn("graft_isect_size", 2)(e => LongSetIntersectSize(e(0), e(1))),
    fn("graft_vocab_words", 2)(e => VocabWordsMask(e(0), e(1))),
    fn("graft_words_isect", 2)(e => WordMaskIsectSize(e(0), e(1))),
    fn("graft_dot", 2)(e => DotProduct(e(0), e(1))),
    fn("graft_cos", 2)(e => CosineSim(e(0), e(1))),
    fn("graft_img_meta", 1)(e => ImageMeta(e(0))),
    fn("graft_wav_meta", 1)(e => WavMeta(e(0))),
    fn("graft_bmp_stats", 1)(e => BmpStats(e(0))),
    fn("graft_minhash", 2)(MinhashSignature.fromArgs),
    fn("graft_ngram_hashes", 2)(NgramHashes.fromArgs),
    fn("graft_first_agree", 2)(e => FirstAgree(e(0), e(1))),
    fn("graft_html_text", 1)(e => HtmlText(e(0))),
    fn("graft_gif_meta", 1)(e => GifMeta(e(0))),
    fn("graft_png_stats", 1)(e => PngStats(e(0))),
    fn("graft_png_encode", 4)(e => PngEncode(e(0), e(1), e(2), e(3))),
    fn("graft_gif_pixels", 1)(e => GifPixels(e(0))),
    fn("graft_gif_encode", 3)(e => GifEncode(e(0), e(1), e(2))),
    fn("graft_gif_frames", 1)(e => GifFrames(e(0))),
    fn("graft_png_frames", 1)(e => PngFrames(e(0))),
    synth("graft_png_encode_apng", IntegerType, IntegerType, IntegerType,
        LongType)(vs =>
      PngEncode.encodeApng(vs(0).asInstanceOf[Int], vs(1).asInstanceOf[Int],
        vs(2).asInstanceOf[Int], vs(3).asInstanceOf[Long])),
    synth("graft_gif_encode_ilc", IntegerType, IntegerType, LongType)(vs =>
      GifEncode.encodeInterlaced(vs(0).asInstanceOf[Int],
        vs(1).asInstanceOf[Int], vs(2).asInstanceOf[Long])),
    synth("graft_png_encode_adam7", IntegerType, IntegerType, LongType,
        BooleanType)(vs =>
      PngEncode.encodeAdam7(vs(0).asInstanceOf[Int], vs(1).asInstanceOf[Int],
        vs(2).asInstanceOf[Long], vs(3).asInstanceOf[Boolean])),
    fn("graft_gif_encode_anim", 4)(GifEncodeAnim(_)),
    fn("graft_jpeg_pixels", 1)(e => JpegPixels(e(0))),
    fn("graft_jpeg_encode", 4)(e => JpegEncode(e(0), e(1), e(2), e(3))),
    fn("graft_bmp_resize", 3)(e => BmpResize(e(0), e(1), e(2))),
    synth("graft_jpeg_encode12", IntegerType, IntegerType, LongType,
        BooleanType)(vs =>
      JpegEncode.encodeBlocky12(vs(0).asInstanceOf[Int],
        vs(1).asInstanceOf[Int], vs(2).asInstanceOf[Long],
        vs(3).asInstanceOf[Boolean])),
    fn("graft_jpeg_encode_color", 5)(JpegEncodeColor(_)),
    fn("graft_jpeg_encode_progressive", 5)(JpegEncodeProgressive(_)),
    synth("graft_jpeg_encode_lossless", IntegerType, IntegerType, LongType,
        IntegerType, IntegerType, IntegerType)(vs =>
      JpegEncode.encodeLossless(vs(0).asInstanceOf[Int],
        vs(1).asInstanceOf[Int], vs(2).asInstanceOf[Long],
        vs(3).asInstanceOf[Int], vs(4).asInstanceOf[Int],
        vs(5).asInstanceOf[Int])),
    fn("graft_avi_meta", 1)(e => AviMeta(e(0))),
    fn("graft_avi_frames", 1)(e => AviFrames(e(0))),
    fn("graft_avi_encode", 5)(AviEncode(_)),
    fn("graft_tiff_pixels", 1)(e => TiffPixels(e(0))),
    fn("graft_tiff_encode", 5)(TiffEncode(_)),
    fn("graft_webp_meta", 1)(e => WebpMeta(e(0))),
    fn("graft_webp_encode", 4)(WebpEncode(_)),
    fn("graft_gzip_meta", 1)(e => GzipMeta(e(0))),
    fn("graft_gzip_encode", 4)(GzipEncode(_)),
    fn("graft_pdf_meta", 1)(e => PdfMeta(e(0))),
    fn("graft_pdf_encode", 5)(PdfEncode(_)),
    fn("graft_pdf_page_texts", 1)(e => PdfPageTexts(e(0))),
    fn("graft_pdf_text_encode", 2)(PdfTextEncode(_)),
    fn("graft_warc_records", 1)(e => WarcRecords(e(0))),
    fn("graft_warc_encode", 2)(WarcEncode(_)),
    fn("graft_warc_response", 1)(e => WarcResponse(e(0))),
    fn("graft_warc_wrap", 3)(WarcWrap(_)),
    fn("graft_http_body", 1)(e => HttpBody(e(0))),
    fn("graft_http_wrap", 6)(HttpWrap(_)),
    fn("graft_http_text", 2)(e => HttpText(e(0), e(1))),
    fn("graft_zip_entries", 1)(e => ZipEntries(e(0))),
    fn("graft_zip_encode", 3)(ZipEncode(_)),
    fn("graft_zip_extract", 2)(e => ZipExtract(e(0), e(1))),
    fn("graft_docx_text", 1)(e => DocxText(e(0))),
    fn("graft_docx_encode", 2)(DocxEncode(_)),
    fn("graft_xlsx_cells", 1)(e => XlsxCells(e(0))),
    fn("graft_xlsx_encode", 2)(XlsxEncode(_)),
    fn("graft_pptx_slides", 1)(e => PptxSlides(e(0))),
    fn("graft_pptx_encode", 2)(PptxEncode(_)),
    fn("graft_epub_chapters", 1)(e => EpubChapters(e(0))),
    fn("graft_epub_encode", 2)(EpubEncode(_)),
    fn("graft_rtf_text", 1)(e => RtfText(e(0))),
    fn("graft_rtf_encode", 2)(RtfEncode(_)),
    fn("graft_odt_text", 1)(e => OdtText(e(0))),
    fn("graft_odt_encode", 2)(OdtEncode(_)),
    fn("graft_odp_slides", 1)(e => OdpSlides(e(0))),
    fn("graft_odp_encode", 2)(OdpEncode(_)),
    fn("graft_ods_cells", 1)(e => OdsCells(e(0))),
    fn("graft_ods_encode", 2)(OdsEncode(_)),
    fn("graft_pdf_encrypt_encode", 3)(PdfEncryptEncode(_)),
    fn("graft_pdf_cmap_encode", 2)(PdfCMapEncode(_)),
    fn("graft_cfb_entries", 1)(e => CfbEntries(e(0))),
    fn("graft_cfb_kind", 1)(e => CfbKind(e(0))),
    fn("graft_doc_text", 1)(e => DocText(e(0))),
    fn("graft_doc_encode", 2)(DocEncode(_)),
    fn("graft_ppt_text", 1)(e => PptText(e(0))),
    fn("graft_ppt_encode", 2)(PptEncode(_)),
    fn("graft_xls_cells", 1)(e => XlsCells(e(0))),
    fn("graft_xls_encode", 2)(XlsEncode(_)),
    fn("graft_tar_entries", 1)(e => TarEntries(e(0))),
    fn("graft_plain_text", 1)(e => PlainText(e(0))),
    fn("graft_tar_encode", 2)(TarEncode(_)),
    fn("graft_zip_kind", 1)(e => ZipKind(e(0))),
    fn("graft_sitemap_urls", 1)(e => SitemapUrls(e(0))),
    fn("graft_robots_rules", 1)(e => RobotsRules(e(0))),
    fn("graft_robots_allowed", 3)(e => RobotsAllowed(e(0), e(1), e(2))),
    fn("graft_avif_meta", 1)(e => AvifMeta(e(0))),
    fn("graft_avif_encode", 4)(AvifEncode(_)),
    fn("graft_mp4_meta", 1)(e => Mp4Meta(e(0))),
    fn("graft_mp4_encode", 9)(Mp4Encode(_)),
    fn("graft_wav_pcm", 1)(e => WavPcm(e(0))),
    fn("graft_wav_encode", 3)(e => WavEncode(e(0), e(1), e(2))),
    fn("graft_wav_float", 1)(e => WavFloat(e(0))),
    synth("graft_wav_encode_float", IntegerType, IntegerType, LongType)(vs =>
      WavFloat.encode(vs(0).asInstanceOf[Int], vs(1).asInstanceOf[Int],
        vs(2).asInstanceOf[Long])),
    synth("graft_wav_encode_g711", IntegerType, IntegerType, LongType,
        BooleanType)(vs =>
      WavEncode.encodeG711(vs(0).asInstanceOf[Int], vs(1).asInstanceOf[Int],
        vs(2).asInstanceOf[Long], vs(3).asInstanceOf[Boolean])),
    fn("graft_audio_tags", 1)(e => AudioTags(e(0))),
    fn("graft_exif_meta", 1)(e => ExifMeta(e(0))),
    synth("graft_exif_encode", LongType, BooleanType, BooleanType,
        IntegerType, StringType, StringType, StringType, IntegerType,
        IntegerType)(vs =>
      ExifMeta.encode(vs(0).asInstanceOf[Long], vs(1).asInstanceOf[Boolean],
        vs(2).asInstanceOf[Boolean], vs(3).asInstanceOf[Int], vs(4).toString,
        vs(5).toString, vs(6).toString, vs(7).asInstanceOf[Int],
        vs(8).asInstanceOf[Int])),
    fn("graft_flac_meta", 1)(e => FlacMeta(e(0))),
    fn("graft_mp3_meta", 1)(e => Mp3Meta(e(0))),
    synth("graft_flac_encode", IntegerType, IntegerType, IntegerType,
        LongType, LongType, IntegerType)(vs =>
      FlacMeta.encode(vs(0).asInstanceOf[Int], vs(1).asInstanceOf[Int],
        vs(2).asInstanceOf[Int], vs(3).asInstanceOf[Long],
        vs(4).asInstanceOf[Long], vs(5).asInstanceOf[Int])),
    synth("graft_mp3_encode", IntegerType, IntegerType, IntegerType,
        BooleanType, LongType, IntegerType, IntegerType, BooleanType)(vs =>
      Mp3Meta.encode(vs(0).asInstanceOf[Int], vs(1).asInstanceOf[Int],
        vs(2).asInstanceOf[Int], vs(3).asInstanceOf[Boolean],
        vs(4).asInstanceOf[Long], vs(5).asInstanceOf[Int],
        vs(6).asInstanceOf[Int], vs(7).asInstanceOf[Boolean])),
    fn("graft_topk", 3)(e => TopKNeighbors(e(0), e(1), e(2))),
    fn("graft_bloom", 3)(e => BloomBits(e(0), e(1), e(2))),
    fn("graft_freq_items", 2)(e => FrequentItems(e(0), e(1))),
    fn("graft_bitset", 1)(e => BitsetAggregate(e(0))),
    fn("graft_dv_test", 2)(e => DvTest(e(0), e(1))),
    // snapshots the building session's Hadoop conf (spark.hadoop.*
    // runtime settings included) into the expression the executors
    // deserialize; builders run on the driver with a session active
    fn("graft_dv_load", 1)(e => DvLoad(e(0), new SerializableHadoopConf(
      SparkSession.active.sessionState.newHadoopConf()))),
    fn("graft_bpe_apply", 3)(BpeMergeChain.fromArgs),
    fn("graft_adj_pairs", 1)(e => AdjacentSymPairs(e(0)))
  )

  private val byName: Map[String, Fn] = all.map(f => f.name -> f).toMap

  /** `name(args...)` as a Column, built from the table. Aggregate
    * functions come back wrapped as aggregate expressions, the form
    * the analyzer gives them when they are called from SQL. */
  def apply(name: String, args: Column*): Column =
    GraftColumns.column(
      byName(name).build(args.map(GraftColumns.expression)) match {
        case agg: AggregateFunction => agg.toAggregateExpression()
        case e => e
      })
}
