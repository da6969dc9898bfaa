package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

object KMeansStreamSpec {
  final case class KVec(vec_id: Long, v: Seq[Double])
}

class KMeansStreamSpec extends SparkSpec {
  import KMeansStreamSpec.KVec

  // k=3 init centroids at the unit axes of a 3-dim space — every
  // assignment below is checkable by eye.
  private val init = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0), Seq(0.0, 0.0, 1.0))

  private def cents(table: String): Map[Int, (Long, Seq[Double])] =
    KMeansStream.centroids(spark, table).collect()
      .map(r => r.getInt(r.fieldIndex("cid")) ->
        (r.getLong(r.fieldIndex("n")), r.getSeq[Double](r.fieldIndex("cv")))).toMap

  test("mini-batch state absorbs batches incrementally; empty cluster serves init; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("kmstream").toString
    val table = s"$base/state"; val ckpt = s"$base/ckpt"
    val input = MemoryStream[KVec]
    def drain(): Unit =
      KMeansStream.kmeansSink(input.toDF(), init, table, ckpt, retainSnapshots = 2)
        .awaitTermination()

    // batch 0: two points near axis 0, one near axis 1; axis 2 empty.
    input.addData(KVec(1L, Seq(0.9, 0.1, 0.0)), KVec(2L, Seq(0.7, 0.1, 0.0)),
      KVec(3L, Seq(0.1, 0.8, 0.0)))
    drain()
    val c1 = cents(table)
    assert(c1(0)._1 == 2L && c1(1)._1 == 1L && c1(2)._1 == 0L)
    // Cluster 0 mean: exactly round((0.9+0.7)/2, 6) etc. — exact decimals.
    assert(c1(0)._2 == Seq(0.8, 0.1, 0.0))
    assert(c1(1)._2 == Seq(0.1, 0.8, 0.0))
    // Empty cluster 2 serves its INIT centroid, not an undefined mean.
    assert(c1(2)._2 == Seq(0.0, 0.0, 1.0))

    // batch 1: assignment runs against the UPDATED centroids (0.8,...),
    // and a point near axis 2 finally populates cluster 2.
    input.addData(KVec(4L, Seq(0.8, 0.2, 0.0)), KVec(5L, Seq(0.0, 0.1, 0.9)))
    drain()
    val c2 = cents(table)
    assert(c2(0)._1 == 3L && c2(1)._1 == 1L && c2(2)._1 == 1L)
    // Cluster 0 state is the SUM over both batches: (0.9+0.7+0.8)/3.
    assert(c2(0)._2 == Seq(0.8, math.rint(0.4 / 3 * 1e6) / 1e6, 0.0))
    assert(c2(2)._2 == Seq(0.0, 0.1, 0.9))

    // Replay with nothing new: AvailableNow drains zero batches and the
    // committed state is unchanged.
    drain()
    assert(cents(table) == c2)
  }

  test("ragged batch vector dimensions fail the batch loudly instead of corrupting state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("kmstream3").toString
    val table = s"$base/state"; val ckpt = s"$base/ckpt"
    val input = MemoryStream[KVec]
    // Two vectors near axis 0 land in the SAME cluster with DIFFERENT
    // dimensionality: pre-guard this silently merged max(count) with
    // null-padded sums; now the batch must raise instead of committing.
    input.addData(KVec(1L, Seq(0.9, 0.1, 0.0)), KVec(2L, Seq(0.8, 0.1)))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      KMeansStream.kmeansSink(input.toDF(), init, table, ckpt).awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(m =>
      m.contains("ragged batch vector dimensions") || m.contains("state dimension")))
    // Nothing committed: no snapshot readable.
    assert(SnapshotStore.latest(spark, table).isEmpty)
  }

  test("one-batch stream state equals one batch Lloyd update from the same init") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("kmstream2").toString
    val table = s"$base/state"; val ckpt = s"$base/ckpt"
    val data = Seq(KVec(1L, Seq(0.9, 0.2, 0.1)), KVec(2L, Seq(0.2, 0.9, 0.0)),
      KVec(3L, Seq(0.1, 0.1, 1.1)), KVec(4L, Seq(0.6, 0.5, 0.0)))
    val input = MemoryStream[KVec]
    input.addData(data: _*)
    KMeansStream.kmeansSink(input.toDF(), init, table, ckpt).awaitTermination()
    val streamed = cents(table).view.mapValues(_._2).toMap

    // Batch twin: one assignment against init + one exact-decimal mean.
    val e = data.toDF("vec_id", "v")
    val c0 = init.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cid", "cv")
    val batch = graft.queries.KMeansOps
      .update(e, graft.queries.KMeansOps.assign(e, c0))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    // Clusters the batch update produced must match the stream exactly
    // (same 6-dp quantization, same exact-decimal sums).
    batch.foreach { case (cid, cv) => assert(streamed(cid) == cv, s"cid $cid") }
  }
}
