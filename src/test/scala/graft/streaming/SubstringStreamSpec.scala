package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{Materialize, SparkSpec}
import graft.queries.SubstringDedupOps

object SubstringStreamSpec {
  final case class Doc(doc_id: Long, text: String)
}

class SubstringStreamSpec extends SparkSpec {
  import SubstringStreamSpec.Doc

  // An 8-token span shared verbatim across documents (K = 8).
  private val span8 = "the quick brown fox jumps over the lazy"
  private val t1 = span8 + " dog tonight again"
  private val shared = "alpha beta gamma delta epsilon zeta eta theta"
  private val d2 = "completely unrelated content appears within this very sentence now"
  private val d3 = shared + " extra stuff here"
  private val d4 = "prefix words " + shared
  private val d7 = "fresh opening words here " + span8 + " and closing remarks"
  private val d8 = "nothing of this text was ever observed before right"

  test("arriving docs lose spans shared with history or batch-mates; " +
    "newcomer output byte-equals the batch apply over the union") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("substr").toString
    val table = s"$base/anchors"; val out = s"$base/clean"; val ckpt = s"$base/ckpt"
    val input = MemoryStream[Doc]
    def drain(): Unit =
      SubstringStream.cleanSink(input.toDF(), table, out, ckpt).awaitTermination()
    val before = contextHolds()

    // Batch 0: d3 and d4 share `shared` WITHIN the batch — both lose it
    // (the batch operator's own cross-doc rule); d1 and d2 are unique
    // and untouched.
    input.addData(Doc(1L, t1), Doc(2L, d2), Doc(3L, d3), Doc(4L, d4))
    drain()
    val b0 = SubstringStream.readCleaned(spark, out, 0L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(b0(1L) == ((11L, 11L, t1)), s"got ${b0(1L)}")
    assert(b0(2L) == ((9L, 9L, d2)), s"got ${b0(2L)}")
    assert(b0(3L) == ((11L, 3L, "extra stuff here")), s"got ${b0(3L)}")
    assert(b0(4L) == ((10L, 2L, "prefix words")), s"got ${b0(4L)}")

    // Batch 1: d7 embeds d1's 8-token span mid-text — the span (and
    // only the span) is removed against HISTORY; d8 is fresh.
    input.addData(Doc(7L, d7), Doc(8L, d8))
    drain()
    val b1 = SubstringStream.readCleaned(spark, out, 1L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(b1(7L) == ((15L, 7L, "fresh opening words here and closing remarks")),
      s"got ${b1(7L)}")
    assert(b1(8L) == ((9L, 9L, d8)), s"got ${b1(8L)}")

    // Parity: for newcomers whose duplicated spans cross OTHER
    // documents, streaming output equals the batch apply over the union
    // of everything ingested, byte for byte.
    val all = Seq(1L -> t1, 2L -> d2, 3L -> d3, 4L -> d4, 7L -> d7, 8L -> d8)
      .toDF("doc_id", "text")
    val t = SubstringDedupOps.tokens(all)
    val (_, scope) = Materialize.scope {
      val anchors = Materialize.cache(SubstringDedupOps.anchorsOf(t))
      val dup = anchors.join(
        anchors.groupBy("ph").agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2).select("ph"),
        Seq("ph")).select("doc_id", "pos")
      val batchApply = SubstringDedupOps
        .cleanWith(t, SubstringDedupOps.fuseSpans(dup))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      assert(batchApply(7L) == b1(7L), s"batch ${batchApply(7L)} vs stream ${b1(7L)}")
      assert(batchApply(8L) == b1(8L), s"batch ${batchApply(8L)} vs stream ${b1(8L)}")

      // The maintained history equals a recompute over all ingested docs.
      val snap = SnapshotStore.latest(spark, table).get
        .select("ph").collect().map(_.getLong(0)).toSet
      val recomputed = anchors.select("ph").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(snap == recomputed, s"snapshot ${snap.size} vs recompute ${recomputed.size}")
    }
    scope.release()
    assertHeldNoMoreThan(before)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("three micro-batches leave nothing cached or persisted behind") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("substr-release").toString
    val input = MemoryStream[Doc]
    val before = contextHolds()
    Seq(Seq(Doc(1L, t1), Doc(3L, d3), Doc(4L, d4)), Seq(Doc(7L, d7)), Seq(Doc(8L, d8))).foreach { docs =>
      input.addData(docs)
      SubstringStream.cleanSink(input.toDF(), s"$base/anchors", s"$base/clean", s"$base/ckpt")
        .awaitTermination()
    }
    assert(SubstringStream.readCleaned(spark, s"$base/clean", 2L).count() == 1)
    assertHeldNoMoreThan(before)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }
}
