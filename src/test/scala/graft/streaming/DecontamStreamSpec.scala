package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, size, split}

import graft.{SparkSpec, Tables}
import graft.queries.TextOps

object DecontamStreamSpec {
  final case class Doc(doc_id: Long, text: String)
}

class DecontamStreamSpec extends SparkSpec {
  import DecontamStreamSpec.Doc

  test("streaming decontamination reloads the benchmark gram table every batch: grams registered mid-stream flag the next batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("decontam").toString
    val benchDir = s"$base/bench"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"

    Seq("w1 w2 w3 w4").toDF("g").write.parquet(benchDir)

    val input = MemoryStream[Doc]
    def drain(): Unit =
      DecontamStream.decontamSink(input.toDF(), benchDir, outDir, ckpt)
        .awaitTermination()
    def flags(): Map[Long, (Long, Boolean)] =
      spark.read.parquet(s"$outDir/batch_*").collect()
        .map(r => r.getLong(r.fieldIndex("doc_id")) ->
          (r.getLong(r.fieldIndex("n_matched")), r.getBoolean(r.fieldIndex("contaminated"))))
        .toMap

    // batch 0: doc 10 shares the registered gram; 11 is clean; 12 holds
    // the gram that will only be registered AFTER this batch.
    input.addData(
      Doc(10L, "w1 w2 w3 w4 x"),
      Doc(11L, "clean words only here now"),
      Doc(12L, "p q r s t"))
    drain()
    assert(flags() == Map(
      10L -> (1L, true), 11L -> (0L, false), 12L -> (0L, false)))

    // Register a new eval gram BETWEEN batches (append, no restart).
    Seq("p q r s").toDF("g").write.mode("append").parquet(benchDir)

    // batch 1: the same text that passed in batch 0 now flags — the gram
    // table was reloaded, not frozen at stream start. A sub-n-token doc
    // flags clean instead of erroring on an empty shingle range.
    input.addData(Doc(13L, "p q r s t"), Doc(14L, "one two"))
    drain()
    assert(flags() == Map(
      10L -> (1L, true), 11L -> (0L, false), 12L -> (0L, false),
      13L -> (1L, true), 14L -> (0L, false)))

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("three micro-batches of sf0.001 documents flag as text_decontaminate does") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("decontam-sf").toString
    val docs = Tables(spark, sf("documents"), "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    // text_decontaminate's benchmark set: the 4-grams of docs below 20.
    val benchToks = docs.filter(col("doc_id") < 20)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 4)
    TextOps.docGrams(benchToks, 4).select("g").distinct().write.parquet(s"$base/bench")
    val corpus = docs.filter(col("doc_id") >= 20).orderBy("doc_id").as[Doc].collect()
    val parts = corpus.grouped((corpus.length + 2) / 3).toSeq
    assert(parts.size == 3)
    val input = MemoryStream[Doc]
    parts.foreach { part =>
      input.addData(part.toSeq)
      DecontamStream.decontamSink(input.toDF(), s"$base/bench", s"$base/out", s"$base/ckpt")
        .awaitTermination()
    }
    def flags(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Boolean)] =
      df.collect().map(r => r.getLong(r.fieldIndex("doc_id")) ->
        (r.getLong(r.fieldIndex("n_matched")), r.getBoolean(r.fieldIndex("contaminated")))).toMap
    val streamed = flags(spark.read.parquet(s"$base/out/batch_*"))
    val batch = flags(TextOps.decontaminate(spark, sf("documents")))
    assert(batch.values.exists(_._2) && batch.values.exists(!_._2))
    // The key leaves out docs under 4 tokens; the stream flags them clean.
    assert(streamed.keySet == corpus.map(_.doc_id).toSet)
    assert(streamed.filter { case (id, _) => batch.contains(id) } == batch)
    assert(streamed.filter { case (id, _) => !batch.contains(id) }.values.forall(_ == ((0L, false))))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }
}
