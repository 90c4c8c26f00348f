package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native set arithmetic over SORTED long-array set representations.
  *
  * Dedup verification evaluates Jaccard similarity for millions of candidate
  * pairs. The composable form — `size(array_intersect(a, b)) /
  * size(array_union(a, b))` — builds two hash sets and materializes two
  * result arrays per pair. When both inputs are sorted distinct longs
  * (token/shingle hashes), one fused merge-walk computes the same value with
  * zero allocation: |A∪B| = |A| + |B| − |A∩B|.
  *
  * Inputs MUST be sorted ascending and duplicate-free (as produced by
  * `array_sort(array_distinct(...))`); null elements are not expected.
  * Returns null when both sets are empty (0/0), matching the null-division
  * result of the composable form under non-ANSI semantics.
  */
case class SortedSetJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sorted_set_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n1 = x.numElements()
    val n2 = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < n1 && j < n2) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    val denom = n1 + n2 - c
    if (denom == 0) null else c.toDouble / denom
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n1 = ctx.freshName("n1"); val n2 = ctx.freshName("n2")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv"); val denom = ctx.freshName("denom")
      s"""
         |int $n1 = $x.numElements();
         |int $n2 = $y.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $n1 && $j < $n2) {
         |  long $xv = $x.getLong($i);
         |  long $yv = $y.getLong($j);
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else { $c++; $i++; $j++; }
         |}
         |int $denom = $n1 + $n2 - $c;
         |if ($denom == 0) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((double) $c) / $denom; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** First position where two long arrays hold equal elements, or the
  * shorter length when no position does — the LSH first-matching-band
  * test in one pass. A collision joined on band `b` survives pair dedup
  * exactly when `first_equal_index(keys_a, keys_b) >= b`: no earlier band
  * also matched. The composable form is an OR of `element_at` pairs per
  * earlier band (two array reads each, re-dispatched per band). Null
  * elements never compare equal; a null array gives null.
  */
case class FirstEqualIndex(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_first_equal_index"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    while (i < n && (x.isNullAt(i) || y.isNullAt(i) || x.getLong(i) != y.getLong(i)))
      i += 1
    i
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |int $i = 0;
         |while ($i < $n && ($x.isNullAt($i) || $y.isNullAt($i) ||
         |    $x.getLong($i) != $y.getLong($i))) {
         |  $i++;
         |}
         |${ev.value} = $i;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused MinHash signature: all k affine-family minima
  * (min over x of (a_i·(x mod p) + b_i) mod p) computed in ONE pass over
  * the token-hash array. The composable form — k × `transform`+`array_min`
  * over a shared `transform`-folded array — evaluates interpreted lambdas
  * k·n times per row AND re-derives the folded array per hash function
  * (expression trees are duplicated, not shared, inside one projection).
  */
case class MinhashSignature(child: Expression, as: Array[Long], bs: Array[Long], p: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(as.length == bs.length && as.nonEmpty)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.sql}")
  }
  // containsNull: an empty input yields all-null minima (array_min parity)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash_signature"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val k = as.length
    val mins = Array.fill(k)(Long.MaxValue)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val folded = java.lang.Math.floorMod(hs.getLong(i), p)
      var j = 0
      while (j < k) {
        val v = java.lang.Math.floorMod(as(j) * folded + bs(j), p)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    // empty input -> nulls, matching array_min over an empty array
    if (n == 0) new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.fill[Any](k)(null))
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs => {
      val asRef = ctx.addReferenceObj("minhashAs", as, "long[]")
      val bsRef = ctx.addReferenceObj("minhashBs", bs, "long[]")
      val k = as.length
      val mins = ctx.freshName("mins"); val n = ctx.freshName("n")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val folded = ctx.freshName("folded"); val v = ctx.freshName("v")
      val arr = ctx.freshName("arr")
      s"""
         |int $n = $hs.numElements();
         |long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $folded = java.lang.Math.floorMod($hs.getLong($i), ${p}L);
         |  for (int $j = 0; $j < $k; $j++) {
         |    long $v = java.lang.Math.floorMod($asRef[$j] * $folded + $bsRef[$j], ${p}L);
         |    if ($v < $mins[$j]) $mins[$j] = $v;
         |  }
         |}
         |if ($n == 0) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[$k]);
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused feature-hash ("hashing trick") counts: slot i of the output counts
  * input hashes with floorMod(h, dim) == i — one pass, versus dim
  * interpreted `filter` lambdas per row.
  */
case class FeatureHashCounts(child: Expression, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(dim > 0)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.sql}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.FloatType, containsNull = false)
  override def prettyName: String = "graft_feature_hash_counts"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val counts = new Array[Float](dim)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      counts(java.lang.Math.floorMod(hs.getLong(i), dim).toInt) += 1f
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(counts)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs => {
      val counts = ctx.freshName("counts"); val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      s"""
         |int $n = $hs.numElements();
         |float[] $counts = new float[$dim];
         |for (int $i = 0; $i < $n; $i++) {
         |  $counts[(int) java.lang.Math.floorMod($hs.getLong($i), $dim)] += 1f;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($counts);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SetExpressions {
  /** Jaccard similarity of two sorted-distinct long-array columns. */
  def sortedSetJaccard(a: Column, b: Column): Column =
    GraftSqlBridge.column(SortedSetJaccard(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** First index where two long arrays are equal, else the shorter length. */
  def firstEqualIndex(a: Column, b: Column): Column =
    GraftSqlBridge.column(FirstEqualIndex(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** k-min MinHash signature of a token-hash array in one pass. */
  def minhashSignature(hashes: Column, as: Array[Long], bs: Array[Long], p: Long): Column =
    GraftSqlBridge.column(MinhashSignature(
      GraftSqlBridge.expression(hashes), as, bs, p))

  /** Feature-hash count vector (dim slots) of a token-hash array. */
  def featureHashCounts(hashes: Column, dim: Int): Column =
    GraftSqlBridge.column(FeatureHashCounts(
      GraftSqlBridge.expression(hashes), dim))
}
