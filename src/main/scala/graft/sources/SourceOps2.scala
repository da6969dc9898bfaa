package graft.sources

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.QDef

/** Source operators: schema-evolution reads. */
object SourceOps2 {

  val defs: Map[String, QDef] = Map(

    // §2 25hl parquet schema evolution: two writer generations land in
    // one table directory — generation 1 without o_orderpriority,
    // generation 2 with it — and a mergeSchema read reconciles them
    // (old files surface NULL for the added column; Spark's default
    // non-merging read would pick ONE footer's schema at random). The
    // aggregate proves both that no rows were lost across generations
    // and that the evolved column is populated exactly on the new
    // generation. Oracle replays the generation split arithmetically
    // over the source table.
    "src_merge_schema" -> QDef(
      (s, dir) => {
        val path = graft.Scratch.dir("evolve-").toString
        val o = Tables(s, dir, "orders")
        o.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_totalprice")
          .write.mode("overwrite").parquet(s"$path/gen=1")
        o.filter(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
          .write.mode("overwrite").parquet(s"$path/gen=2")
        s.read.option("mergeSchema", "true").parquet(path)
          .groupBy(col("o_orderpriority").isNotNull.as("has_priority"))
          .agg(count(lit(1)).as("cnt"),
            sum("o_orderkey").as("sum_key"),
            round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
              .as("sum_price"))
          .orderBy("has_priority")
      },
      """SELECT (o_orderkey % 2 = 1) AS has_priority, COUNT(*) AS cnt,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
