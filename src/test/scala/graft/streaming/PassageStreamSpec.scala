package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

object PassageStreamSpec {
  final case class Doc(doc_id: Long, text: String)
}

class PassageStreamSpec extends SparkSpec {
  import PassageStreamSpec.Doc

  // 8+ tokens so each doc produces passages; d1 and the batch-2 reprint
  // share ALL passages, d3 shares none.
  private val t1 = "alpha beta gamma delta epsilon zeta eta theta iota"
  private val t3 = "one two three four five six seven eight nine"

  test("arriving docs are tagged against passages seen in EARLIER batches only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("passage").toString
    val table = s"$base/counts"; val out = s"$base/tagged"; val ckpt = s"$base/ckpt"
    val input = MemoryStream[Doc]
    def drain(): Unit =
      PassageStream.dupTagSink(input.toDF(), table, out, ckpt).awaitTermination()

    // Batch 0: nothing seen before — dup_frac 0 for both docs, even
    // though they arrive together (the tag means "seen in EARLIER
    // batches", not "duplicated within my batch").
    input.addData(Doc(1L, t1), Doc(3L, t3))
    drain()
    val b0 = PassageStream.readTagged(spark, out, 0L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // t1 has 9 tokens → 2 passages; t3 has 9 tokens → 2 passages.
    assert(b0(1L) == ((2L, 0L, 0.0)), s"got $b0")
    assert(b0(3L) == ((2L, 0L, 0.0)), s"got $b0")

    // Batch 1: doc 7 reprints t1 verbatim (dup_frac 1), doc 8 is fresh.
    input.addData(Doc(7L, t1), Doc(8L, "totally different words appear here in this new sentence"))
    drain()
    val b1 = PassageStream.readTagged(spark, out, 1L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(b1(7L) == ((2L, 2L, 1.0)), s"got $b1")
    assert(b1(8L)._2 == 0L && b1(8L)._3 == 0.0, s"got $b1")

    // The maintained counts equal a full recompute over all four docs.
    val snap = SnapshotStore.latest(spark, table).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val all = Seq(1L -> t1, 3L -> t3, 7L -> t1,
      8L -> "totally different words appear here in this new sentence")
    val recomputed = PassageStream
      .passagesForTest(all.toDF("doc_id", "text"))
      .groupBy("ph").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(snap == recomputed, s"snapshot $snap vs recompute $recomputed")

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("three micro-batches leave nothing cached or persisted behind") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("passage-release").toString
    val input = MemoryStream[Doc]
    val before = contextHolds()
    Seq(Seq(Doc(1L, t1), Doc(3L, t3)), Seq(Doc(7L, t1)), Seq(Doc(9L, t3))).foreach { docs =>
      input.addData(docs)
      PassageStream.dupTagSink(input.toDF(), s"$base/counts", s"$base/tagged", s"$base/ckpt")
        .awaitTermination()
    }
    assert(PassageStream.readTagged(spark, s"$base/tagged", 2L).count() == 1)
    assertHeldNoMoreThan(before)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }
}
