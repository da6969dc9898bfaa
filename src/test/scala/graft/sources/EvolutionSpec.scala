package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Reader-robustness contracts a lakehouse depends on: additive schema
  * evolution across parquet batches, and malformed-record quarantine on
  * JSON ingestion — both must degrade per-record, never per-batch.
  */
class EvolutionSpec extends SparkSpec {

  test("mergeSchema reads old and new parquet batches as one evolved schema") {
    import spark.implicits._
    val dir = graft.Scratch.dir("evolve-").toString
    // Batch 1: (id). Batch 2 adds a column (id, score).
    Seq(1L, 2L).toDF("id").write.parquet(s"$dir/b=1")
    Seq((3L, 0.5)).toDF("id", "score").write.parquet(s"$dir/b=2")
    val out = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(out.columns.sorted.toSeq == Seq("b", "id", "score"))
    // Old rows surface the new column as null — not an error, not 0.
    val nulls = out.filter(col("score").isNull).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(nulls == Seq(1L, 2L))
    assert(out.filter(col("score") === 0.5).count() == 1)
  }

  test("permissive JSON ingestion quarantines corrupt lines instead of failing the batch") {
    val dir = graft.Scratch.dir("corrupt-json-").toString
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/data.jsonl"),
      """{"id": 1, "v": "ok"}
        |{"id": 2 "v": "missing comma"}
        |{"id": 3, "v": "fine"}
        |""".stripMargin.getBytes)
    val schema = "id BIGINT, v STRING, _corrupt_record STRING"
    val out = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
      .cache() // corrupt-record column requires the parsed+raw rows together
    assert(out.count() == 3)
    val bad = out.filter(col("_corrupt_record").isNotNull).collect()
    assert(bad.length == 1, "exactly the malformed line quarantines")
    assert(bad(0).getString(bad(0).fieldIndex("_corrupt_record")).contains("missing comma"))
    val good = out.filter(col("_corrupt_record").isNull)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(good == Seq(1L, 3L))
    out.unpersist()
    ()
  }
}
