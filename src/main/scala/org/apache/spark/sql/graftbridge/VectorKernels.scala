package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the LSH / MinHash / shingle hot paths. Each
  * replaces a higher-order-function expression stack that Catalyst
  * evaluates INTERPRETED per array element — the SimHash64 lesson
  * applied to the three remaining per-row HOF loops of the dedup/ANN
  * tier:
  *
  *  - [[LshKeysKernel]]: multi-table random-hyperplane bucket keys.
  *    The HOF form (transform over tables → aggregate over reversed
  *    planes → zip_with dot + fold) allocated one zipped array per
  *    (table, plane) per row and ran tables×planes×dim interpreted
  *    multiply-adds. Identical math in identical order: per table, a
  *    Horner fold acc·2 + [dot(v, plane) > 0] over the REVERSED plane
  *    list, dot accumulated in index order, key = bucket·tables + t.
  *  - [[MinHashSigKernel]]: k affine-permutation minima over a hashed
  *    shingle array in ONE pass (the HOF form ran k separate
  *    transform+array_min evaluations). Element i =
  *    min_h pmod(pmod(h, P)·m(i) + a(i), P) — exact integer arithmetic,
  *    bit-identical; an empty input yields k NULL elements exactly like
  *    array_min over an empty array.
  *  - [[NgramHashesSortedKernel]]: distinct word n-grams → xxhash64
  *    (seed 42, the SQL function's) → ascending sort, fusing the
  *    array_sort(transform(array_distinct(transform(...)))) stack into
  *    one pass. Distinctness is by n-gram STRING (hash collisions keep
  *    both hashes, exactly like the expression form); n-gram text is
  *    concat_ws(" ", ...) with null elements skipped.
  *
  * VectorKernelSpec pins each kernel's bit-equality against the HOF
  * formulation it replaced on the real corpus.
  */
object VectorKernels {

  def lshKeys(v: ArrayData, planes: Array[Array[Array[Double]]], tables: Int): ArrayData = {
    val out = new Array[Any](planes.length)
    var t = 0
    while (t < planes.length) {
      val tbl = planes(t)
      var acc = 0L
      var p = tbl.length - 1
      while (p >= 0) {
        val plane = tbl(p)
        var dot = 0.0
        var j = 0
        while (j < plane.length) { dot += v.getDouble(j) * plane(j); j += 1 }
        acc = acc * 2 + (if (dot > 0.0) 1L else 0L)
        p -= 1
      }
      out(t) = acc * tables.toLong + t.toLong
      t += 1
    }
    new GenericArrayData(out)
  }

  def minhashSig(hs: ArrayData, ms: Array[Long], as0: Array[Long], p: Long): ArrayData = {
    val k = ms.length
    val out = new Array[Any](k)
    val n = hs.numElements()
    if (n == 0) return new GenericArrayData(out) // k nulls, like array_min([])
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      var hp = hs.getLong(i) % p
      if (hp < 0) hp += p
      var j = 0
      while (j < k) {
        val v = (hp * ms(j) + as0(j)) % p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    var j = 0
    while (j < k) { out(j) = mins(j); j += 1 }
    new GenericArrayData(out)
  }

  def ngramHashesSorted(toks: ArrayData, n: Int): ArrayData = {
    val sz = toks.numElements()
    if (sz < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.HashSet[UTF8String](sz * 2)
    val hashes = new java.util.ArrayList[java.lang.Long](sz)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= sz - n) {
      sb.setLength(0)
      var j = 0
      var first = true
      while (j < n) {
        val tok = toks.getUTF8String(i + j)
        if (tok != null) { // concat_ws skips NULL elements
          if (!first) sb.append(' ')
          sb.append(tok.toString)
          first = false
        }
        j += 1
      }
      val g = UTF8String.fromString(sb.toString)
      if (seen.add(g)) hashes.add(XxHash64Function.hash(g, StringType, 42L))
      i += 1
    }
    val arr = new Array[Long](hashes.size())
    var x = 0
    while (x < arr.length) { arr(x) = hashes.get(x); x += 1 }
    java.util.Arrays.sort(arr)
    val out = new Array[Any](arr.length)
    x = 0
    while (x < arr.length) { out(x) = arr(x); x += 1 }
    new GenericArrayData(out)
  }

  /** Minimum long present in BOTH arrays, boxed (null when the
    * intersection is empty) — the value of
    * array_min(array_intersect(a, b)) on arrays with no null elements
    * (a null element would read as 0; [[MinSharedBand]] rejects such
    * inputs at analysis), without
    * array_intersect's per-call hash-set and result-array allocation
    * (the arrays here are the ≤`tables`-element LSH key lists, so the
    * nested membership scan is a handful of compares).
    */
  def minSharedLong(a: ArrayData, b: ArrayData): java.lang.Long = {
    val na = a.numElements(); val nb = b.numElements()
    var best = Long.MaxValue
    var found = false
    var i = 0
    while (i < na) {
      val x = a.getLong(i)
      if (!found || x < best) {
        var j = 0
        var in = false
        while (j < nb && !in) { if (b.getLong(j) == x) in = true; j += 1 }
        if (in) { best = x; found = true }
      }
      i += 1
    }
    if (found) java.lang.Long.valueOf(best) else null
  }
}

/** array_min(array_intersect(a, b)) over long arrays in one
  * allocation-free pass (see VectorKernels.minSharedLong). Both arrays
  * must be declared `containsNull = false`: the kernel reads elements
  * unboxed, so an array that may hold nulls is rejected at analysis.
  */
case class MinSharedBand(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType, containsNull = false), ArrayType(LongType, containsNull = false))

  // Type acceptance ignores element nullability, so check it here.
  override def checkInputDataTypes(): TypeCheckResult =
    super.checkInputDataTypes() match {
      case ok if ok.isSuccess =>
        children.find(_.dataType.asInstanceOf[ArrayType].containsNull) match {
          case Some(c) => TypeCheckResult.TypeCheckFailure(
            s"$prettyName needs arrays without null elements; ${c.sql} may contain nulls")
          case None => ok
        }
      case failed => failed
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "min_shared_band"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.minSharedLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("minShared")
      s"""
         |java.lang.Long $boxed =
         |  org.apache.spark.sql.graftbridge.VectorKernels.minSharedLong($a, $b);
         |if ($boxed == null) { ${ev.isNull} = true; } else { ${ev.value} = $boxed.longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Multi-table LSH bucket keys of a double vector (see VectorKernels). */
case class LshKeysNative(child: Expression, planes: Seq[Seq[Seq[Double]]], tables: Int)
    extends UnaryExpression with ExpectsInputTypes {

  @transient private lazy val planeArr: Array[Array[Array[Double]]] =
    planes.map(_.map(_.toArray).toArray).toArray

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_keys"

  override def nullSafeEval(a: Any): Any =
    VectorKernels.lshKeys(a.asInstanceOf[ArrayData], planeArr, tables)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshPlanes", planeArr, "double[][][]")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graftbridge.VectorKernels.lshKeys($c, $ref, $tables)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** k-permutation MinHash signature of a hashed-shingle array. */
case class MinHashSigNative(child: Expression, ms: Seq[Long], as0: Seq[Long], p: Long)
    extends UnaryExpression with ExpectsInputTypes {

  @transient private lazy val mArr: Array[Long] = ms.toArray
  @transient private lazy val aArr: Array[Long] = as0.toArray

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(a: Any): Any =
    VectorKernels.minhashSig(a.asInstanceOf[ArrayData], mArr, aArr, p)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mr = ctx.addReferenceObj("mhMs", mArr, "long[]")
    val ar = ctx.addReferenceObj("mhAs", aArr, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graftbridge.VectorKernels.minhashSig($c, $mr, $ar, ${p}L)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Sorted xxhash64 hashes of the distinct word n-grams of a token array. */
case class NgramHashesSorted(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_hashes_sorted"

  override def nullSafeEval(a: Any): Any =
    VectorKernels.ngramHashesSorted(a.asInstanceOf[ArrayData], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graftbridge.VectorKernels.ngramHashesSorted($c, $n)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
