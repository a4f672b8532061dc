package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform

/** Static MinHash-signature kernel: per-permutation minima of seeded
  * xxhash64 over a document's distinct shingles, in ONE compiled pass.
  *
  * Value parity contract (DedupSpec asserts it): element i equals
  * `array_min(transform(shingles, s -> xxhash64(concat_ws('#', 'perm<i>', s))))`
  * — the same bytes ("perm<i>#" ++ shingle, UTF-8) through the same
  * XXH64 with Spark's default seed 42. The HOF formulation evaluated
  * numPerm interpreted lambdas per row (Catalyst HOFs never codegen);
  * this kernel hashes each (prefix, shingle) pair in a tight JVM loop
  * with one scratch buffer per call (r9 — guide §4.1 "prefer built-ins /
  * compiled expressions in the hot path").
  */
object MinhashKernel {
  private val Seed = 42L

  def signature(arr: ArrayData, numPerm: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val prefixes = new Array[Array[Byte]](numPerm)
    var i = 0
    var maxPrefix = 0
    while (i < numPerm) {
      prefixes(i) = ("perm" + i + "#").getBytes("UTF-8")
      if (prefixes(i).length > maxPrefix) maxPrefix = prefixes(i).length
      i += 1
    }
    val mins = Array.fill(numPerm)(Long.MaxValue)
    var buf = new Array[Byte](256)
    var j = 0
    while (j < n) {
      val s = arr.getUTF8String(j)
      val sb = s.getBytes
      val need = maxPrefix + sb.length
      if (buf.length < need) buf = new Array[Byte](need)
      var p = 0
      while (p < numPerm) {
        val pre = prefixes(p)
        System.arraycopy(pre, 0, buf, 0, pre.length)
        System.arraycopy(sb, 0, buf, pre.length, sb.length)
        val h = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET,
          pre.length + sb.length, Seed)
        if (h < mins(p)) mins(p) = h
        p += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }
}

/** `graft_minhash_sigs(shingles, numPerm)` — row-local MinHash signature
  * array (NULL for an empty shingle array, matching the batch path's
  * "no shingles → no signature rows" contract). `numPerm` is fixed at
  * plan time (foldable in SQL, a Scala Int from the API).
  */
case class MinhashSigs(child: Expression, numPerm: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if numPerm >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, numPerm >= 1), got ($t, $numPerm)")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_sigs"

  override protected def nullSafeEval(a: Any): Any =
    MinhashKernel.signature(a.asInstanceOf[ArrayData], numPerm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val code = nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.MinhashKernel.signature($c, $numPerm);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)
    code
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSigs =
    copy(child = newChild)
}
