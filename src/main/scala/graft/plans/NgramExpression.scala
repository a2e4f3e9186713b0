package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_ngram_hashes(array<string>, n)` → `array<long>` of
  * `xxhash64(tok_j ' ' tok_j+1 ... ' ' tok_j+n-1)` for every
  * consecutive n-token window — BIT-IDENTICAL to the composed form
  * (`zip_with` slice chains / `transform(ngrams(...), g => xxhash64(g))`)
  * because the window string is assembled with `UTF8String.concatWs`
  * (the same bytes `concat(a, ' ', b, ...)` produces) and hashed with
  * the same `XXH64.hashUnsafeBytes` seed-42 call Spark's `xxhash64`
  * compiles to.
  *
  * What it removes: the composed form runs n interpreted slice
  * evaluations plus (n-1) interpreted `zip_with` lambda passes per row
  * — the shingle/gram production cost of the sequence-sensitive dedup
  * and contamination paths. This is one pass over the token array.
  * Windows shorter than n yield an EMPTY array (the call sites'
  * `when(size >= n, ...)` guard, folded in). Null tokens inside a
  * window hash like the builtin: concat_ws skips nothing here because
  * the composed form used plain concat — a null token nulls the window
  * string and xxhash64 of a null leaves the seed, mirrored exactly. */
case class NgramHashes(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckFailure(s"graft_ngram_hashes n must be >= 1, got $n")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_ngram_hashes expects array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_ngram_hashes"

  override def nullSafeEval(input: Any): Any =
    NgramHashes.hashes(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = graft.plans.NgramHashes.hashes($a, $n);
    """)

  override protected def withNewChildInternal(newChild: Expression): NgramHashes =
    copy(child = newChild)
}

object NgramHashes {
  private val Space = UTF8String.fromString(" ")

  /** Builder for the function table: n must be a foldable INT
    * literal, rejected with a named error. */
  def fromArgs(exprs: Seq[Expression]): NgramHashes = {
    val nExpr = exprs(1)
    val n = if (nExpr.foldable) nExpr.eval(null) else null
    n match {
      case i: java.lang.Integer => NgramHashes(exprs(0), i)
      case _ => throw new IllegalArgumentException(
        s"graft_ngram_hashes(arr, n): n must be an INT literal, got ${nExpr.sql}")
    }
  }

  def hashes(toks: ArrayData, n: Int): ArrayData = {
    val len = toks.numElements()
    val count = len - n + 1
    if (count <= 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Any](count)
    val window = new Array[UTF8String](n)
    var j = 0
    while (j < count) {
      var anyNull = false
      var i = 0
      while (i < n) {
        if (toks.isNullAt(j + i)) anyNull = true
        else window(i) = toks.getUTF8String(j + i)
        i += 1
      }
      // composed-form parity: concat(a, ' ', b, ...) is NULL if any
      // part is, and xxhash64(NULL) leaves the seed -> 42
      out(j) =
        if (anyNull) 42L
        else {
          val s = UTF8String.concatWs(Space, window: _*)
          XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
        }
      j += 1
    }
    new GenericArrayData(out)
  }
}
