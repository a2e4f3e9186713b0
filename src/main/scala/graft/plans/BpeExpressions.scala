package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_bpe_apply(syms, array(a...), array(b...))` — the WHOLE BPE
  * merge chain applied to one symbol array in a single native pass per
  * merge, replacing the 50 staged `mergeOnce` projections of
  * [[graft.operators.TextAnalysis.bpeTokenize]].
  *
  * Why (optimization guide §1.2 step 2 + §7.3): the staged form costs
  * twice — ~0.35 s of pure driver PLANNING per query for the 50-deep
  * projection chain (StageProfile: text_bpe_tokenize wall 0.455 s vs
  * 0.110 s stage time), and per row each `mergeOnce` is an interpreted
  * `aggregate` HOF whose accumulator is REBUILT (array concat) per
  * element — O(len²) allocations per merge per word, 50 times. This
  * expression applies each merge as one greedy left-to-right scan over
  * a reused buffer: O(len) per merge, no lambda interpreter, one
  * projection in the plan.
  *
  * Value-identical to the fold (pinned in BpeSpec by a differential
  * test): `mergeOnce`'s accumulator merges the element `x` into the
  * accumulator's LAST symbol when (last == a && x == b), consuming
  * both. A minted token `a+b` can never itself equal `a` (b is
  * non-empty), so the fold can never cascade within one round — it IS
  * the greedy non-overlapping left-to-right scan implemented here.
  * NULL handling mirrors the fold exactly: NULL input array → NULL
  * (`when` passes it to the `aggregate` branch, which is null-strict);
  * arrays of size <= 1 return unchanged; NULL elements never compare
  * equal to a merge side (`===` is null-strict, `when` falls to
  * otherwise → element appended untouched). The merge lists ride as
  * foldable array<string> literals, evaluated once per task. */
case class BpeMergeChain(syms: Expression, mergeA: Expression, mergeB: Expression)
    extends TernaryExpression with TernaryLike[Expression] {

  override def first: Expression = syms
  override def second: Expression = mergeA
  override def third: Expression = mergeB

  override def checkInputDataTypes(): TypeCheckResult = {
    def strArray(e: Expression) = e.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (!strArray(syms) || !strArray(mergeA) || !strArray(mergeB))
      TypeCheckResult.TypeCheckFailure(
        s"graft_bpe_apply expects (array<string>, array<string>, array<string>), got " +
          s"(${syms.dataType.catalogString}, ${mergeA.dataType.catalogString}, " +
          s"${mergeB.dataType.catalogString})")
    else if (!mergeA.foldable || !mergeB.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_bpe_apply merge lists must be literals")
    else {
      // a NULL or empty merge side has no greedy-scan meaning: an empty
      // b mints a token equal to a, breaking the fold equivalence above
      def sidesValid(arr: ArrayData) = (0 until arr.numElements()).forall(i =>
        !arr.isNullAt(i) && arr.getUTF8String(i).numBytes() > 0)
      val (as, bs) = (mergeA.eval(), mergeB.eval())
      if (as == null || bs == null)
        TypeCheckResult.TypeCheckFailure("graft_bpe_apply merge lists must be non-null")
      else if (as.asInstanceOf[ArrayData].numElements() !=
               bs.asInstanceOf[ArrayData].numElements())
        TypeCheckResult.TypeCheckFailure(
          "graft_bpe_apply merge lists must have equal length")
      else if (!sidesValid(as.asInstanceOf[ArrayData]) || !sidesValid(bs.asInstanceOf[ArrayData]))
        TypeCheckResult.TypeCheckFailure(
          "graft_bpe_apply merge entries must be non-null, non-empty strings")
      else TypeCheckResult.TypeCheckSuccess
    }
  }

  override def dataType: DataType = syms.dataType
  override def nullable: Boolean = syms.nullable
  override def prettyName: String = "graft_bpe_apply"

  // the evaluated merge tables, shared by eval and the codegen'd call —
  // built once per (deserialized) expression instance, not per row
  @transient private lazy val tables: (Array[UTF8String], Array[UTF8String], Array[UTF8String]) =
    BpeMergeChain.tablesOf(
      mergeA.eval().asInstanceOf[ArrayData],
      mergeB.eval().asInstanceOf[ArrayData])

  override def eval(input: InternalRow): Any = {
    val s = syms.eval(input)
    if (s == null) null
    else {
      val (as, bs, ms) = tables
      BpeMergeChain.applyMerges(s.asInstanceOf[ArrayData], as, bs, ms)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val expr = ctx.addReferenceObj("bpeChain", this, classOf[BpeMergeChain].getName)
    val c = syms.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        ${ev.isNull} ? null : $expr.applyTo(${c.value});
    """)
  }

  /** Codegen entry point: merge tables resolved from the instance. */
  def applyTo(s: ArrayData): ArrayData = {
    val (as, bs, ms) = tables
    BpeMergeChain.applyMerges(s, as, bs, ms)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(syms = newFirst, mergeA = newSecond, mergeB = newThird)
}

/** `graft_adj_pairs(syms)` → `array<struct<a,b>>` of adjacent symbol
  * pairs — one native pass replacing the interpreted
  * `zip_with(slice(syms,1,n-1), slice(syms,2,n-1), struct)` chain
  * (two slice allocations + a lambda interpreter call per element)
  * that every BPE pair aggregation runs per vocab row. Twin semantics
  * exactly: NULL input → NULL; size <= 1 → empty array; NULL elements
  * ride into the structs untouched. */
case class AdjacentSymPairs(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_adj_pairs expects array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = AdjacentSymPairs.resultType
  override def prettyName: String = "graft_adj_pairs"

  override def nullSafeEval(input: Any): Any =
    AdjacentSymPairs.pairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.AdjacentSymPairs.pairs($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AdjacentSymPairs {
  val resultType: ArrayType = ArrayType(StructType(Seq(
    StructField("a", StringType, nullable = true),
    StructField("b", StringType, nullable = true))), containsNull = false)

  def pairs(syms: ArrayData): ArrayData = {
    val n = syms.numElements()
    if (n <= 1) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var prev: UTF8String = if (syms.isNullAt(0)) null else syms.getUTF8String(0)
    var i = 1
    while (i < n) {
      val cur = if (syms.isNullAt(i)) null else syms.getUTF8String(i)
      out(i - 1) = InternalRow(prev, cur)
      prev = cur
      i += 1
    }
    new GenericArrayData(out)
  }

  def apply(syms: Column): Column = GraftFunctions("graft_adj_pairs", syms)
}

object BpeMergeChain {

  private[plans] def tablesOf(as: ArrayData, bs: ArrayData)
      : (Array[UTF8String], Array[UTF8String], Array[UTF8String]) = {
    val n = as.numElements()
    val a = new Array[UTF8String](n)
    val b = new Array[UTF8String](n)
    val m = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      a(i) = as.getUTF8String(i)
      b(i) = bs.getUTF8String(i)
      m(i) = UTF8String.concat(a(i), b(i))
      i += 1
    }
    (a, b, m)
  }

  /** All merges, in order, each as one greedy non-overlapping
    * left-to-right pass (see class doc for the fold-equivalence
    * argument). Buffers are reused across rounds; a round that changes
    * nothing costs one comparison per element. */
  private[plans] def applyMerges(syms: ArrayData, as: Array[UTF8String],
      bs: Array[UTF8String], ms: Array[UTF8String]): ArrayData = {
    var n = syms.numElements()
    if (n <= 1 || as.length == 0) return syms
    var cur = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      cur(i) = if (syms.isNullAt(i)) null else syms.getUTF8String(i)
      i += 1
    }
    var next = new Array[UTF8String](n)
    var r = 0
    while (r < as.length && n > 1) {
      val a = as(r); val b = bs(r); val m = ms(r)
      var in = 0
      var out = 0
      while (in < n) {
        if (in + 1 < n && cur(in) != null && cur(in + 1) != null &&
            a.equals(cur(in)) && b.equals(cur(in + 1))) {
          next(out) = m; in += 2
        } else {
          next(out) = cur(in); in += 1
        }
        out += 1
      }
      val t = cur; cur = next; next = t
      n = out
      r += 1
    }
    val outArr = new Array[Any](n)
    i = 0
    while (i < n) { outArr(i) = cur(i); i += 1 }
    new GenericArrayData(outArr)
  }

  /** Builder for the function table (merge lists must be foldable;
    * checkInputDataTypes refuses the rest). */
  def fromArgs(exprs: Seq[Expression]): BpeMergeChain =
    BpeMergeChain(exprs(0), exprs(1), exprs(2))

  /** Column-API form, built from [[GraftFunctions]]. */
  def apply(syms: Column, as: Seq[String], bs: Seq[String]): Column = {
    import org.apache.spark.sql.functions.typedLit
    GraftFunctions("graft_bpe_apply", syms, typedLit(as), typedLit(bs))
  }
}
