package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Set/sketch expressions for the dedup hot path.
  *
  * `SortedIntersectCount` replaces `size(array_intersect(a,b))` in the
  * near-dup verify step: array_intersect builds a hash set and an output
  * array per row; the merge-count is O(n+m) with zero allocation — on
  * hundreds of thousands of candidate pairs with ~400-element shingle sets
  * that is the difference between a verify stage that keeps up with the
  * join and one that dominates the query.
  *
  * `MinHashSig` computes the whole k-slot signature in ONE pass: each
  * element is xxhash64'd once, then the k slot values derive from affine
  * mixes (h·A_i + B_i) of that base hash — the classic "one hash, k
  * permutations" construction — instead of k independent string hashes
  * (64× less byte hashing than the higher-order-function formulation).
  */
object SetExpressions {
  def minhashSig(shingles: Column, k: Int): Column =
    Bridge.toColumn(MinHashSig(Bridge.toExpression(shingles), k))

  /** SplitMix64 finalizer — the mix for slot constants. */
  def splitmix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** Count of common elements between two SORTED string arrays (merge scan).
  * Inputs must be sorted ascending (graft.dedup shingle sets are built with
  * array_sort) — unsorted inputs give undefined counts, same contract as a
  * merge join.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"
  override def checkInputDataTypes() = {
    val bad = Seq(left, right).find(_.dataType match {
      case ArrayType(StringType, _) => false; case _ => true
    })
    bad.map(e => TextExpressions.requireType(e, prettyName,
        "array<string>")(_ => false))
      .getOrElse(org.apache.spark.sql.catalyst.analysis
        .TypeCheckResult.TypeCheckSuccess)
  }

  // null elements equal nothing — skip them instead of NPEing on
  // getUTF8String (the type check accepts containsNull arrays, so the
  // SQL surface can legally pass them; array_sort puts nulls last)
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val na = a.numElements(); val nb = b.numElements()
    while (i < na && j < nb) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
        if (cmp == 0) { c += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val cmp = ctx.freshName("cmp")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      s"""
         |int $i = 0, $j = 0, $c = 0;
         |int $na = $a.numElements(), $nb = $b.numElements();
         |while ($i < $na && $j < $nb) {
         |  if ($a.isNullAt($i)) { $i++; }
         |  else if ($b.isNullAt($j)) { $j++; }
         |  else {
         |    int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |    if ($cmp == 0) { $c++; $i++; $j++; }
         |    else if ($cmp < 0) { $i++; } else { $j++; }
         |  }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedIntersectCount = copy(l, r)
}

/** k-slot MinHash signature of a string array, one base hash per element. */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def checkInputDataTypes() =
    TextExpressions.requireType(child, prettyName, "array<string>") {
      case ArrayType(StringType, _) => true; case _ => false
    }

  // Affine mix constants per slot, fixed by the seed. A_i forced odd so the
  // multiply is a bijection on Z/2^64.
  private lazy val as: Array[Long] =
    Array.tabulate(k)(i => SetExpressions.splitmix64(2L * i + 1) | 1L)
  private lazy val bs: Array[Long] =
    Array.tabulate(k)(i => SetExpressions.splitmix64(2L * i + 2))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(k)(Long.MaxValue)
    var e = 0
    while (e < arr.numElements()) {
      if (!arr.isNullAt(e)) {
        val s = arr.getUTF8String(e)
        val h = XXH64.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes, TextExpressions.Seed)
        var i = 0
        while (i < k) {
          val v = h * as(i) + bs(i)
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      e += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val aConst = ctx.addReferenceObj("minhashA", as, "long[]")
      val bConst = ctx.addReferenceObj("minhashB", bs, "long[]")
      val mins = ctx.freshName("mins")
      val e = ctx.freshName("e"); val i = ctx.freshName("i")
      val h = ctx.freshName("h"); val v = ctx.freshName("v")
      val s = ctx.freshName("s")
      s"""
         |long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $e = 0; $e < $arr.numElements(); $e++) {
         |  if (!$arr.isNullAt($e)) {
         |    UTF8String $s = $arr.getUTF8String($e);
         |    long $h = org.apache.spark.sql.catalyst.expressions.XXH64
         |      .hashUnsafeBytes($s.getBaseObject(), $s.getBaseOffset(),
         |                       $s.numBytes(), ${TextExpressions.Seed}L);
         |    for (int $i = 0; $i < $k; $i++) {
         |      long $v = $h * $aConst[$i] + $bConst[$i];
         |      if ($v < $mins[$i]) $mins[$i] = $v;
         |    }
         |  }
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
}
