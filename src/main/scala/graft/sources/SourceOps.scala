package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Scratch, Tables}
import graft.queries.QDef

/** Source/sink coverage: CSV and JSON-lines round-trips with explicit
  * schemas, and a Hive-style partitioned parquet write + pruned read.
  *
  * Each operator WRITES a derived dataset to a scratch directory, reads
  * it back through the corresponding Spark source, and aggregates — the
  * oracle computes the same aggregate straight from the original parquet,
  * so a lossy serialization (type drift, header mishandling, partition
  * column loss) fails the hash gate. Mirrors the reference's loader
  * surface (reference: src/loader.rs — CSV/JSON ingestion paths) on
  * splittable, schema-explicit Spark sources.
  */
object SourceOps {

  val defs: Map[String, QDef] = Map(

    // CSV round-trip: header + explicit read schema (never inferSchema —
    // an extra pass over the data and nondeterministic typing at scale).
    "src_csv_roundtrip" -> QDef(
      (s, dir) => {
        val path = Scratch.dir("csv-").toString
        Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag"))
          .write.mode("overwrite").option("header", "true").csv(path)
        s.read
          .option("header", "true")
          .schema("l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE, l_returnflag STRING")
          .csv(path)
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("cnt"),
            round(sum("l_quantity"), 2).as("sum_qty"),
            sum("l_orderkey").as("sum_key"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag, COUNT(*) AS cnt,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_key
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // JSON-lines round-trip with an explicit schema (schema inference on
    // JSON is a full extra scan at scale).
    "src_json_roundtrip" -> QDef(
      (s, dir) => {
        val path = Scratch.dir("json-").toString
        Tables(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("value"))
          .write.mode("overwrite").json(path)
        s.read
          .schema("event_id BIGINT, event_type STRING, value DOUBLE")
          .json(path)
          .groupBy("event_type")
          // Money discipline (see src_orc_roundtrip): per-type groups
          // are corpus-scale; value is 2-dp exact → lossless decimal.
          .agg(count(lit(1)).as("cnt"),
            round(sum(col("value").cast("decimal(12,2)")), 2)
              .cast("double").as("sum_value"))
          .orderBy("event_type")
      },
      """SELECT event_type, COUNT(*) AS cnt,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // ORC round-trip: Spark's second columnar format (predicate pushdown
    // and column pruning work the same as parquet).
    "src_orc_roundtrip" -> QDef(
      (s, dir) => {
        val path = Scratch.dir("orc-").toString
        Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .write.mode("overwrite").orc(path)
        s.read.orc(path)
          .groupBy("o_orderstatus")
          // Money discipline: per-status groups are corpus-scale (5M rows
          // at sf10), where a double SUM's partial-agg order costs ~0.3
          // of absolute error — at sf10 the two engines rounded cents
          // apart. o_totalprice is 2-dp exact, so
          // the DECIMAL(12,2) cast is lossless and the sum exact.
          .agg(count(lit(1)).as("cnt"),
            round(sum(col("o_totalprice").cast("decimal(12,2)")), 2)
              .cast("double").as("sum_price"))
          .orderBy("o_orderstatus")
      },
      """SELECT o_orderstatus, COUNT(*) AS cnt,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // Hive-style partitioned write + partition-pruned read: the IN filter
    // on the partition column must prune directories at planning time
    // (PartitionFilters in the scan, not a post-scan Filter) — the layout
    // that makes 100 TB event tables queryable by day/type.
    "src_partitioned_scan" -> QDef(
      (s, dir) => {
        val path = Scratch.dir("part-").toString
        Tables(s, dir, "events")
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
          .write.mode("overwrite").partitionBy("event_type").parquet(path)
        s.read.parquet(path)
          .filter(col("event_type").isin("click", "error"))
          .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy("event_type", "day")
      },
      """SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, COUNT(*) AS cnt
        |FROM events WHERE event_type IN ('click', 'error')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  )
}
