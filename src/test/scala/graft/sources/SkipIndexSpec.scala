package graft.sources

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The skip index must (a) actually prune files for a selective range,
  * (b) never change results vs a full scan with the same predicate —
  * pruning is an optimization, not a semantics change.
  */
class SkipIndexSpec extends SparkSpec {

  private val dir = sf("lineitem")

  private lazy val laidOut: String = {
    val out = graft.Scratch.dir("skipidx-spec-").toString
    Tables(spark, dir, "lineitem")
      .select("l_shipdate", "l_extendedprice", "l_discount", "l_quantity")
      .repartitionByRange(8, col("l_shipdate"))
      .write.mode("overwrite").parquet(out)
    out
  }

  test("index prunes most files for a one-quarter range") {
    val idx = SkipIndex.build(spark, laidOut, "l_shipdate")
    val (kept, total) = SkipIndex.survivingFiles(idx, "1995-01-01", "1995-04-01")
    assert(total >= 4, s"expected several data files, got $total")
    assert(kept < total, s"index kept all $total files — no pruning happened")
    assert(kept >= 1, "pruning must keep at least the overlapping files")
  }

  test("pruned read returns exactly the full-scan result") {
    val idx = SkipIndex.build(spark, laidOut, "l_shipdate")
    val pruned = SkipIndex.prunedRead(spark, idx, "l_shipdate", "1995-01-01", "1995-04-01")
      .orderBy("l_shipdate", "l_extendedprice", "l_quantity", "l_discount")
      .collect()
    val full = spark.read.parquet(laidOut)
      .filter(col("l_shipdate") >= "1995-01-01" && col("l_shipdate") < "1995-04-01")
      .orderBy("l_shipdate", "l_extendedprice", "l_quantity", "l_discount")
      .collect()
    assert(pruned.length == full.length)
    assert(pruned.sameElements(full))
  }

  test("a range outside every file raises rather than silently scanning") {
    val idx = SkipIndex.build(spark, laidOut, "l_shipdate")
    intercept[IllegalArgumentException] {
      SkipIndex.prunedRead(spark, idx, "l_shipdate", "2090-01-01", "2091-01-01")
    }
  }

  test("block sampling estimates within tolerance from a quarter of the files") {
    val out = SkipIndex.defs("q_block_sample_est").run(spark, dir).collect()(0)
    assert(out.getLong(0) > 0)
    assert(out.getBoolean(2), "row-count estimate outside ±10%")
    assert(out.getBoolean(3), "revenue estimate outside ±10%")
  }
}
