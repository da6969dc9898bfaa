package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Z-order (Morton-curve) data layout: multi-dimensional clustering so
  * that files written from a z-sorted frame carry tight min/max ranges
  * on EVERY clustered dimension — the layout prerequisite for file- and
  * row-group-level skipping when queries filter boxes in (x, y) rather
  * than prefixes of a lexicographic sort.
  *
  * At 100 TB this is the difference between "predicate pushdown prunes
  * 99% of row groups" and "every file straddles the whole key range and
  * nothing prunes": a lexicographic ORDER BY (x, y) gives tight ranges
  * on x only, while the interleaved curve bounds both. The write path is
  * `repartitionByRange(zval)` + sort-within-partitions — a single range
  * shuffle, exactly what a daily compaction job would run.
  *
  * The z-value itself is a pure bit-interleave over Catalyst shift/mask
  * primitives — codegen'd, no UDF, usable inside any filter/projection.
  */
object LayoutOps {

  /** Morton value of two non-negative integer columns, `bits` bits each:
    * bit i of x lands at position 2i, bit i of y at 2i+1.
    */
  def zValue(x: Column, y: Column, bits: Int = 16): Column =
    zValueN(Seq(x, y), bits)

  /** N-dimensional Morton value: bit i of dimension d lands at position
    * i*n + d, so all dimensions interleave evenly. n*bits must fit in a
    * long (≤ 63 bits). Pure shift/mask Catalyst primitives — codegen'd.
    */
  def zValueN(dims: Seq[Column], bits: Int = 16): Column = {
    val n = dims.size
    require(n >= 2, s"need at least 2 dimensions, got $n")
    require(bits >= 1 && n * bits <= 63, s"$n dims × $bits bits exceeds a long")
    (for {
      (d, dIdx) <- dims.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(shiftright(d.cast("long"), i).bitwiseAND(lit(1L)), i * n + dIdx))
      .reduce(_.bitwiseOR(_))
  }

  /** Write `df` clustered along the curve: one range shuffle on the
    * z-value, sorted inside each partition so parquet row groups inherit
    * the locality. `partitions` ≈ target file count.
    */
  def writeZClustered(
      df: DataFrame, x: Column, y: Column, path: String,
      partitions: Int, maxRecordsPerFile: Long = 0L): Unit = {
    val withZ = df.withColumn("__z", zValue(x, y))
    val writer = withZ
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write
      .mode("overwrite")
    (if (maxRecordsPerFile > 0)
       writer.option("maxRecordsPerFile", maxRecordsPerFile)
     else writer).parquet(path)
  }

  /** Small-file compaction: rewrite a parquet directory into files of
    * ~`targetBytes` (sized from the actual on-disk footprint), optionally
    * re-clustering on `sortCols` while at it. The everyday 100 TB hygiene
    * job — streaming sinks and fine-grained partition writes accrete
    * small files whose per-file open + footer cost comes to dominate
    * scans; compaction is one read + one (optional range) shuffle.
    * Returns the partition count it rewrote to.
    */
  def compact(
      s: SparkSession, inPath: String, outPath: String,
      targetBytes: Long, sortCols: Seq[String] = Nil): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val hp = new org.apache.hadoop.fs.Path(inPath)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(hp).getLength
    val nParts = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val df = s.read.parquet(inPath)
    val shaped =
      if (sortCols.nonEmpty)
        df.repartitionByRange(nParts, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.head, sortCols.tail: _*)
      else df.repartition(nParts)
    shaped.write.mode("overwrite").parquet(outPath)
    nParts
  }

  val defs: Map[String, QDef] = Map(

    // The z-value computation itself, oracle-checked bit-for-bit: both
    // engines interleave the low 16 bits of two derived dimensions.
    "q_zorder_value" -> QDef(
      (s, dir) => {
        val x = pmod(col("user_id"), lit(256L))
        val y = pmod(col("event_id"), lit(256L))
        Tables(s, dir, "events")
          .select(
            col("event_id"),
            x.as("zx"), y.as("zy"),
            zValue(x, y).as("zval"))
          .orderBy("event_id")
      },
      """SELECT event_id, user_id % 256 AS zx, event_id % 256 AS zy,
        |  CAST(list_sum(list_transform(range(0, 16),
        |    i -> (((user_id % 256 >> i) & 1) << (2 * i))
        |       + (((event_id % 256 >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS zval
        |FROM events ORDER BY event_id""".stripMargin),

    // §2 25gn Hilbert-curve index (the locality-preserving sibling of
    // q_zorder_value — a Hilbert walk never takes Z-order's long
    // diagonal jumps, so clustered range scans touch fewer runs): the
    // native order-256 xy2d kernel (Hilbert.scala, one static call in
    // generated code); all-integer level fold with quadrant rotation,
    // replicated EXACTLY by the oracle as eight UNROLLED chained CTEs —
    // one plain projection per level, bit-for-bit, no tolerance. (The
    // fold was originally a struct-accumulator list_reduce; DuckDB
    // 1.0.0's vectorized list_reduce silently miscomputes ~6% of rows
    // once the table passes ~10M rows — caught by the r10 sf10 sweep
    // against the ground-truth xy2d lookup, where THIS plan was exact
    // on all 10M rows and the lambda form was not.)
    "q_hilbert_value" -> QDef(
      (s, dir) => {
        val x = pmod(col("user_id"), lit(256L))
        val y = pmod(col("event_id"), lit(256L))
        Tables(s, dir, "events")
          .select(
            col("event_id"),
            x.as("hx"), y.as("hy"),
            graft.functions.GraftFunctions.hilbert(x, y).as("hval"))
          .orderBy("event_id")
      }, {
        def step(i: Int, s: Int): String = {
          val p = if (i > 1) s"h${i - 1}" else "h0src"
          s"""h$i AS (
             |  SELECT event_id, hx, hy,
             |    CASE WHEN (y & $s) != 0 THEN x
             |         WHEN (x & $s) != 0 THEN $s - 1 - y ELSE y END AS x,
             |    CASE WHEN (y & $s) != 0 THEN y
             |         WHEN (x & $s) != 0 THEN $s - 1 - x ELSE x END AS y,
             |    d + CASE WHEN (y & $s) != 0 THEN
             |               $s * $s * (CASE WHEN (x & $s) != 0 THEN 2 ELSE 1 END)
             |             WHEN (x & $s) != 0 THEN $s * $s * 3 ELSE 0 END AS d
             |  FROM $p)""".stripMargin
        }
        val ctes = Seq(128, 64, 32, 16, 8, 4, 2, 1).zipWithIndex
          .map { case (s, i) => step(i + 1, s) }.mkString(",\n")
        s"""WITH h0src AS (
           |  SELECT event_id, user_id % 256 AS hx, event_id % 256 AS hy,
           |    CAST(user_id % 256 AS BIGINT) AS x,
           |    CAST(event_id % 256 AS BIGINT) AS y,
           |    CAST(0 AS BIGINT) AS d
           |  FROM events),
           |$ctes
           |SELECT event_id, hx, hy, d AS hval FROM h8 ORDER BY event_id""".stripMargin
      })
  )
}
