package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native codegen'd MinHash signature for the FNV/splitmix family:
  * component i = min over shingle hashes h of
  * [[Hashing.derive]](h, i) = mix64(h + i·GOLDEN) — the derivation a
  * Scala UDF used to compute row-at-a-time (kept as the reference
  * implementation in MinHashExprSpec).
  *
  * Why an `Expression` (r19, guide step 4 — eliminate non-codegen
  * closures in the hot path): the UDF deserializes every shingle
  * array into a boxed `Seq[Long]` per document before the loop even
  * starts — on the nightly band-index build that is every (doc ×
  * shingle) boxed per pass. This runs the identical integer
  * arithmetic as a primitive loop inside whole-stage codegen, reading
  * longs straight out of `ArrayData` with zero allocation beyond the
  * k-long output.
  *
  * Exactness: pure 64-bit integer ops — `+`, `*`, `^`, `>>>` wrap
  * identically in Java and Scala, so each component is bit-identical
  * to the UDF's (MinHashExprSpec pins expression ≡ UDF on random
  * inputs). Null semantics replicate the UDF exactly: a NULL or EMPTY
  * input array yields NULL (the UDF returned null for `sh.isEmpty`,
  * and its `Seq[Long]` signature made a null input null out), so
  * callers' `.filter(col("sig").isNotNull)` behaves unchanged. Input
  * arrays never carry null elements (they come from the shingle UDF,
  * which emits primitive longs); nullable elements are still read
  * as 0 defensively rather than skipped — matching what the UDF's
  * deserializer would do — but this path is unreachable from the
  * engine's callers.
  */
case class MinHashDeriveSigExpr(child: Expression, k: Int)
    extends UnaryExpression {

  require(k > 0, s"min_hash_derive_sig: k=$k")

  override def prettyName: String = "min_hash_derive_sig"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> input, got ${other.catalogString}")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = if (arr.isNullAt(j)) 0L else arr.getLong(j)
      var i = 0
      while (i < k) {
        val x = Hashing.derive(h, i)
        if (x < mins(i)) mins(i) = x
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val gad = "org.apache.spark.sql.catalyst.util.GenericArrayData"
    val v = childGen.value
    val n = ctx.freshName("n"); val mins = ctx.freshName("mins")
    val j = ctx.freshName("j"); val i = ctx.freshName("i")
    val h = ctx.freshName("h"); val x = ctx.freshName("x")
    val nullElem =
      if (child.dataType.asInstanceOf[ArrayType].containsNull)
        s"final long $h = $v.isNullAt($j) ? 0L : $v.getLong($j);"
      else s"final long $h = $v.getLong($j);"
    val body =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = true;
        ${CodeGenerator.javaType(dataType)} ${ev.value} = null;
        if (!${childGen.isNull} && $v.numElements() > 0) {
          final int $n = $v.numElements();
          final long[] $mins = new long[$k];
          java.util.Arrays.fill($mins, Long.MAX_VALUE);
          for (int $j = 0; $j < $n; $j++) {
            $nullElem
            for (int $i = 0; $i < $k; $i++) {
              long $x = $h + (long) $i * ${Hashing.Golden}L;
              $x ^= $x >>> 33;
              $x *= ${0xff51afd7ed558ccdL}L;
              $x ^= $x >>> 33;
              if ($x < $mins[$i]) $mins[$i] = $x;
            }
          }
          ${ev.isNull} = false;
          ${ev.value} = new $gad($mins);
        }
      """
    ev.copy(code = body)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : MinHashDeriveSigExpr = copy(child = newChild)
}
