package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `graft_minhash(array<long>, k)` → the k-element MinHash signature
  * `mh_i = min over elements e of xxhash64(e, i)` — bit-identical to the
  * composed-builtins form
  * `array((0 until k).map(i => array_min(transform(toks, e => xxhash64(e, lit(i))))))`
  * (pinned by a differential test), but ONE pass instead of k:
  *
  * the HOF form evaluates k interpreted `transform` passes per row, each
  * recomputing the inner element hash `hashLong(e, 42)` before mixing in
  * the hash index, and k interpreted `array_min` reductions on top. This
  * expression hashes each element once and applies k cheap `hashInt`
  * mixes in a tight loop — the signature step is the map-side cost of
  * every banded-LSH path (unigram, shingle, incremental), which at
  * 100 TB is pure scan-side CPU. Spark's own XXH64 statics (the same
  * ones XxHash64's doGenCode emits calls to) supply the mixes, which
  * is what makes bit-equality with the builtin exact rather than
  * approximate. */
case class MinhashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if numHashes > 0 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckFailure(s"graft_minhash k must be positive, got $numHashes")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_minhash expects array<bigint>, got ${other.catalogString}")
  }
  // containsNull mirrors the HOF form: array_min over an EMPTY array is
  // null, so an empty input yields k nulls; a NULL input array likewise
  // yields k nulls, because the outer array(...) constructor of the HOF
  // form is non-null even when every transform inside it was — the twin
  // semantics hold everywhere, so the expression itself never returns
  // NULL
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash"

  override def eval(input: InternalRow): Any = child.eval(input) match {
    case null => MinhashSignature.nulls(numHashes)
    case a => MinhashSignature.sig(a.asInstanceOf[ArrayData], numHashes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaCode = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        ${c.isNull} ? graft.plans.MinhashSignature.nulls($numHashes)
                    : graft.plans.MinhashSignature.sig(${c.value}, $numHashes);
    """
    ev.copy(code = javaCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}

object MinhashSignature {
  /** Builder for the function table: k must be a foldable
    * integer literal, rejected with a named error instead of an opaque
    * cast/eval crash. */
  def fromArgs(exprs: Seq[Expression]): MinhashSignature = {
    val kExpr = exprs(1)
    val k = if (kExpr.foldable) kExpr.eval(null) else null
    k match {
      case i: java.lang.Integer => MinhashSignature(exprs(0), i)
      case _ => throw new IllegalArgumentException(
        s"graft_minhash(arr, k): k must be an INT literal, got ${kExpr.sql}")
    }
  }

  def nulls(numHashes: Int): ArrayData = new GenericArrayData(new Array[Any](numHashes))

  def sig(arr: ArrayData, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return nulls(numHashes) // k nulls, matching array_min-of-empty
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var j = 0
    while (j < n) {
      // xxhash64(e, i) = hashInt(i, hashLong(e, 42)): the element hash
      // is the per-element invariant — computed once here, k times in
      // the HOF form. A null element leaves the seed untouched (Spark
      // hash functions skip nulls), mirrored exactly.
      val h1 = if (arr.isNullAt(j)) 42L
               else XXH64.hashLong(arr.getLong(j), 42L)
      var i = 0
      while (i < numHashes) {
        val h = XXH64.hashInt(i, h1)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }
}

/** `graft_first_agree(array<long>, array<long>)` → the smallest index
  * where the two arrays carry the same value, or -1 — the band-dedup
  * primitive of every cross/self LSH join. A pair that collides in b
  * bands is emitted b times by the band equi-join; keeping a row only
  * when `graft_first_agree(bks_a, bks_b) = band_id` retains exactly one
  * copy (the join guarantees agreement AT band_id, so the first
  * agreement is <= band_id, with equality iff no earlier band agrees).
  *
  * Replaces the composed filter
  * `!exists(zip_with(slice(bks_a,1,band_id), slice(bks_b,1,band_id), ==), p)`
  * which allocates two sliced arrays plus a boolean array and drives a
  * lambda interpreter PER JOINED ROW — measured ~1us/row = 12 s over the
  * 11M-row band join of the sf0.1 incremental-dedup serve, vs one fused
  * scalar loop here inside whole-stage codegen. Identical keep-set. */
case class FirstAgree(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_first_agree expects (array<long>, array<long>), got ($l, $r)")
    }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_first_agree"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i))
        return i
      i += 1
    }
    -1
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val res = ctx.freshName("res")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $res = -1;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i) &&
         |      $a.getLong($i) == $b.getLong($i)) { $res = $i; break; }
         |}
         |${ev.value} = $res;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
