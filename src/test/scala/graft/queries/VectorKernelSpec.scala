package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bit-equality pins for the native LSH / MinHash / shingle kernels
  * (graftbridge.VectorKernels) against the interpreted HOF formulations
  * they replaced, on the real test tables plus edge fixtures.
  */
class VectorKernelSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("lshKeys native == HOF reference across plane/table geometries") {
    val e = graft.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
    for ((planes, tables) <- Seq((3, 8), (5, 8), (4, 2))) {
      val diff = e.select(
          VectorOps.lshKeys(col("v"), planes, tables).as("a"),
          VectorOps.lshKeysRef(col("v"), planes, tables).as("b"))
        .filter(col("a") =!= col("b"))
        .count()
      assert(diff === 0L, s"planes=$planes tables=$tables")
    }
  }

  test("minhashSignature native == HOF reference, incl. empty input") {
    import spark.implicits._
    val hs = graft.Tables(spark, dir, "documents")
      .select(split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(TextOps.sortedShingleHashes(col("toks")).as("hs"))
      .union(Seq(Seq.empty[Long]).toDF("hs"))
    val diff = hs.select(
        TextOps.minhashSignature(col("hs"), 32).as("a"),
        TextOps.minhashSignatureRef(col("hs"), 32).as("b"))
      .filter(not(col("a") <=> col("b")))
      .count()
    assert(diff === 0L)
  }

  test("sortedShingleHashes native == array_sort(transform(array_distinct)) stack") {
    import spark.implicits._
    val real = graft.Tables(spark, dir, "documents")
      .select(split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
    // Edge fixtures: exactly n tokens, repeated shingles, empty-string
    // tokens from doubled spaces.
    val edge = Seq(
      "a b c",
      "a b c a b c a b c",
      "x  y z  x",
      "one two three four five").toDF("text")
      .select(split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
    val diff = real.union(edge).select(
        TextOps.sortedShingleHashes(col("toks")).as("a"),
        array_sort(TextOps.shingleHashes(TextOps.shinglesFromToks(col("toks")))).as("b"))
      .filter(not(col("a") <=> col("b")))
      .count()
    assert(diff === 0L)
  }

  test("minSharedBand native == array_min(array_intersect), incl. empty intersection") {
    // The graph-ANN minimal-band emission filter. Pairs come from the
    // real LSH key lists (guaranteed ≥1 shared band within a band
    // bucket) plus disjoint fixtures for the empty-intersection (null)
    // semantics.
    import spark.implicits._
    val e = graft.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
      .select(col("vec_id"), VectorOps.lshKeys(col("v"), 4, 8).as("keys"))
      .limit(40)
    val pairs = e.select(col("vec_id").as("ia"), col("keys").as("ka"))
      .join(e.select(col("vec_id").as("ib"), col("keys").as("kb")), col("ia") < col("ib"))
      .unionByName(Seq(
        (-1L, Seq(1L, 2L), -2L, Seq(3L, 4L)),          // empty intersection
        (-3L, Seq.empty[Long], -4L, Seq(1L)),           // empty side
        (-5L, Seq(7L, 5L, 9L), -6L, Seq(9L, 5L)))       // unsorted overlap
        .toDF("ia", "ka", "ib", "kb"))
    val diff = pairs.select(
        graft.functions.GraftFunctions.minSharedBand(col("ka"), col("kb")).as("a"),
        array_min(array_intersect(col("ka"), col("kb"))).as("b"))
      .filter(not(col("a") <=> col("b")))
      .count()
    assert(diff === 0L)
  }

  test("minSharedBand rejects arrays that may hold null elements at analysis") {
    // The kernel reads elements unboxed, so a null would compare as 0;
    // the expression refuses such input types instead.
    import spark.implicits._
    val nullable = Seq((Seq[java.lang.Long](1L, null), Seq(1L))).toDF("ka", "kb")
    assert(nullable.schema("ka").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, containsNull = true))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      nullable.select(graft.functions.GraftFunctions.minSharedBand(col("ka"), col("kb")))
    }
    assert(e.getMessage.contains("without null elements"), e.getMessage)
    // The same data declared non-null on both sides analyses and runs.
    val ok = Seq((Seq(1L, 3L), Seq(3L, 1L))).toDF("ka", "kb")
      .select(graft.functions.GraftFunctions.minSharedBand(col("ka"), col("kb")))
      .collect()
    assert(ok.head.getLong(0) == 1L)
  }
}
