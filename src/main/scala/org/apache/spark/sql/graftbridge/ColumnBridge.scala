package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Column ⇄ Expression bridge plus native Catalyst expressions (with
  * doGenCode) for the hottest scalar kernels of the LLM-pipeline
  * operators. Lives inside the org.apache.spark.sql namespace because
  * Spark 4 made Column construction, AbstractDataType and
  * `Dataset.ofRows` private[sql] — the standard pattern for libraries
  * shipping native expressions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `SparkSession.sql` for a plan the caller has already parsed. */
  def sql(spark: SparkSession, parsed: LogicalPlan): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    s.withActive(classic.Dataset.ofRows(s, parsed))
  }
}

/** Cosine similarity of two double arrays (single fused pass computing
  * dot product and both norms). Null if either side is null, if the
  * dimensions differ, or if either vector has zero norm — never NaN, so
  * downstream round()/ordering can't hit engine-dependent NaN placement.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = $a.getDouble($i);
         |    double $yi = $b.getDouble($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  if ($na == 0.0 || $nb == 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Jaccard similarity |A∩B| / |A∪B| of two string arrays that are already
  * deduplicated (as produced by array_distinct / shingle builders).
  * Single hash-set pass instead of array_intersect + array_union.
  */
case class JaccardSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    val set = new java.util.HashSet[UTF8String](nx * 2)
    var i = 0
    while (i < nx) { set.add(x.getUTF8String(i)); i += 1 }
    var inter = 0
    i = 0
    while (i < ny) { if (set.contains(y.getUTF8String(i))) inter += 1; i += 1 }
    val union = nx + ny - inter
    if (union == 0) 0.0 else inter.toDouble / union.toDouble
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val set = ctx.freshName("set"); val inter = ctx.freshName("inter"); val union = ctx.freshName("union")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |java.util.HashSet<org.apache.spark.unsafe.types.UTF8String> $set =
         |  new java.util.HashSet<org.apache.spark.unsafe.types.UTF8String>($nx * 2);
         |for (int $i = 0; $i < $nx; $i++) { $set.add($a.getUTF8String($i)); }
         |int $inter = 0;
         |for (int $i = 0; $i < $ny; $i++) { if ($set.contains($b.getUTF8String($i))) $inter++; }
         |int $union = $nx + $ny - $inter;
         |${ev.value} = $union == 0 ? 0.0 : (double) $inter / (double) $union;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}


/** Static SimHash kernel shared by interpreted eval and generated code. */
object SimHashKernel {
  def compute(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      // Same hash family as the xxhash64() SQL function (seed 42).
      val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** 64-bit SimHash over a (whitespace-tokenized) string array — native
  * replacement for 64 interpreted per-bit aggregate() lambdas; the
  * generated code is a single static call into [[SimHashKernel]].
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(a: Any): Any =
    SimHashKernel.compute(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graftbridge.SimHashKernel.compute($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Raw dot product of two double arrays — the decomposable half of
  * cosine (PQ's asymmetric-distance scoring sums per-subspace dots, so
  * it needs the unnormalized form). Null on dimension mismatch.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    dot
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** FarmHash Fingerprint64 over a string or byte payload — BigQuery's
  * FARM_FINGERPRINT. One static call into [[graft.functions.FarmHash]]
  * from both interpreted eval and generated code.
  */
case class FarmFingerprint64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(StringType, BinaryType))
  override def dataType: DataType = LongType
  override def prettyName: String = "farm_fingerprint"

  override def nullSafeEval(a: Any): Any = child.dataType match {
    case StringType => graft.functions.FarmHash.hash(a.asInstanceOf[UTF8String].getBytes)
    case _ => graft.functions.FarmHash.hash(a.asInstanceOf[Array[Byte]])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => child.dataType match {
      case StringType => s"graft.functions.FarmHash.hash($c.getBytes())"
      case _ => s"graft.functions.FarmHash.hash($c)"
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Merge-count kernel for two SORTED ASCENDING distinct long arrays. */
object SortedLongJaccardKernel {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) 0.0 else inter.toDouble / union.toDouble
  }

  def intersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter
  }
}

/** Intersection COUNT over pre-sorted distinct long arrays — the
  * asymmetric-similarity primitive (containment = |A∩B| / |A|) sharing
  * the same O(n) merge as the Jaccard kernel.
  */
case class IntersectCountSortedLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "intersect_count_sorted_long"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedLongJaccardKernel.intersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graftbridge.SortedLongJaccardKernel.intersectCount($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Sign-bit Hamming distance of two double arrays — the scoring kernel
  * of 1-bit binary-quantized retrieval: counts positions where the sign
  * bits (x > 0) disagree. Pure integer output, so the candidate search
  * has no float-divergence surface at all. Null on dimension mismatch.
  * Native because the zip_with+aggregate HOF formulation runs
  * interpreted per element — this is one codegen'd branch-free loop.
  */
case class SignBitHamming(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "sign_bit_hamming"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var h = 0L; var i = 0
    while (i < n) {
      if ((x.getDouble(i) > 0.0) != (y.getDouble(i) > 0.0)) h += 1L
      i += 1
    }
    h
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val h = ctx.freshName("h")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $h = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (($a.getDouble($i) > 0.0) != ($b.getDouble($i) > 0.0)) $h++;
         |  }
         |  ${ev.value} = $h;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Jaccard over pre-sorted distinct long arrays (hashed shingles): a
  * single O(n) merge with primitive comparisons — the pair-verification
  * fast path for near-dup detection at scale.
  */
case class JaccardSortedLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted_long"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedLongJaccardKernel.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graftbridge.SortedLongJaccardKernel.compute($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
