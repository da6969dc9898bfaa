package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class WapSpec extends SparkSpec {

  private def auditNonEmpty(df: DataFrame): Seq[String] =
    if (df.count() == 0) Seq("empty batch") else Nil

  private def auditNoNegatives(df: DataFrame): Seq[String] = {
    val n = df.filter(col("v") < 0).count()
    if (n > 0) Seq(s"$n negative values") else Nil
  }

  test("clean audit publishes; readers see the new batch") {
    import spark.implicits._
    val dest = graft.Scratch.dir("wap-ok-").toString
    val r = Wap.writeAuditPublish(spark, Seq(1L, 2L, 3L).toDF("v"), dest, auditNonEmpty)
    assert(r.isRight)
    assert(spark.read.parquet(dest).count() == 3)
    // A second publish replaces the first atomically.
    val r2 = Wap.writeAuditPublish(spark, Seq(7L).toDF("v"), dest, auditNonEmpty)
    assert(r2.isRight)
    assert(spark.read.parquet(dest).as[Long].collect().toSeq == Seq(7L))
  }

  test("failed audit keeps the previous publication and removes staging") {
    import spark.implicits._
    val dest = graft.Scratch.dir("wap-bad-").toString
    assert(Wap.writeAuditPublish(spark, Seq(5L).toDF("v"), dest, auditNoNegatives).isRight)
    val bad = Wap.writeAuditPublish(spark, Seq(-1L).toDF("v"), dest, auditNoNegatives)
    assert(bad.isLeft, "negative batch must not publish")
    assert(spark.read.parquet(dest).as[Long].collect().toSeq == Seq(5L),
      "previous publication was disturbed by a failed audit")
    val parent = new java.io.File(dest).getParentFile
    val strays = Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(new java.io.File(dest).getName + ".staging"))
    assert(strays.isEmpty, s"staging dirs left behind: ${strays.mkString(",")}")
  }

  test("dynamic partition overwrite replaces only the partitions a replay touches") {
    // The replay-idempotence contract for partitioned batch outputs:
    // re-running one day's load must not clobber sibling partitions.
    import spark.implicits._
    val dest = graft.Scratch.dir("dyn-overwrite-").toString
    Seq(("a", 1L), ("a", 2L), ("b", 10L)).toDF("k", "v")
      .write.partitionBy("k").mode("overwrite").parquet(dest)
    // Replay partition a with corrected values; STATIC overwrite would
    // drop partition b entirely.
    Seq(("a", 5L)).toDF("k", "v")
      .write.partitionBy("k").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(dest)
    val out = spark.read.parquet(dest).as[(Long, String)].collect().toSet
    assert(out == Set((5L, "a"), (10L, "b")),
      s"dynamic overwrite corrupted sibling partitions: $out")
  }
}
