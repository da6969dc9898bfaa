package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.PqOps
import graft.queries.PqOps.PqModel

object AnnStreamSpec {
  final case class AnnVec(vec_id: Long, v: Seq[Double])
  final case class AnnVecOp(vec_id: Long, v: Seq[Double], deleted: Boolean)
}

class AnnStreamSpec extends SparkSpec {
  import AnnStreamSpec.{AnnVec, AnnVecOp}

  // Frozen 4-dim model: 2 subspaces × 2 codes, codebooks the unit axes —
  // encoding is transparent (sub-vector closer to (1,0) → code 0, to
  // (0,1) → code 1), so every stored code below is checkable by eye.
  private val model = PqModel(m = 2, sub = 2,
    books = Seq(
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))))

  private val vecA = AnnVec(1L, Seq(1.0, 0.0, 1.0, 0.0)) // codes (0,0)
  private val vecB = AnnVec(2L, Seq(0.0, 1.0, 0.0, 1.0)) // codes (1,1)
  private val vecC = AnnVec(3L, Seq(1.0, 0.0, 0.0, 1.0)) // codes (0,1)

  test("streaming PQ index absorbs batches incrementally: searchable after each batch, frozen codebooks, no re-encode of existing rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("annidx").toString
    val table = s"$base/index"; val ckpt = s"$base/ckpt"
    val input = MemoryStream[AnnVec]
    def drain(): Unit =
      AnnStream.pqIndexSink(input.toDF(), model, table, ckpt, retainSnapshots = 1)
        .awaitTermination() // AvailableNow: drains what's present, stops
    def codes(): Map[Long, Seq[Int]] =
      SnapshotStore.latest(spark, table).get.collect()
        .map(r => r.getLong(r.fieldIndex("vec_id")) ->
          r.getSeq[Int](r.fieldIndex("code"))).toMap
    def top1(qv: Seq[Double]): Long =
      AnnStream.searchIndex(spark, table, model, Seq((100L, qv)), k = 1)
        .collect().head.getAs[Long]("neighbor_id")

    // batch 0: A and B land; both immediately searchable.
    input.addData(vecA, vecB)
    drain()
    assert(codes() == Map(1L -> Seq(0, 0), 2L -> Seq(1, 1)))
    assert(top1(Seq(1.0, 0.0, 1.0, 0.0)) == 1L)
    // The stored codes are exactly what the frozen model encodes — the
    // index state is reproducible from (model, vectors) alone.
    val reEnc = PqOps.encode(Seq(vecA, vecB).toDF("vec_id", "v"), model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes() == reEnc)

    // Poison A's STORED code in the snapshot to a value the model would
    // never produce for A's vector. If any later batch re-encoded the
    // existing corpus, the next snapshot would restore (0,0); only a
    // true pass-through merge preserves the poison.
    val snap0 = spark.read.parquet(s"$table/snap_0")
    val poisonedRows = snap0.withColumn("code",
        when(col("vec_id") === 1L, typedLit(Seq(1, 0))).otherwise(col("code")))
      .collect()
    spark.createDataFrame(
        spark.sparkContext.parallelize(poisonedRows.toIndexedSeq), snap0.schema)
      .write.mode("overwrite").parquet(s"$table/snap_0")

    // batch 1: C lands. Batch work is encode(C) + keyed merge — A and B
    // flow through from the previous snapshot with their stored codes.
    input.addData(vecC)
    drain()
    assert(codes() == Map(1L -> Seq(1, 0), 2L -> Seq(1, 1), 3L -> Seq(0, 1)))
    // New vector is searchable right after its batch; old ones remain
    // (exact re-rank uses raw vectors, so even poisoned A ranks right).
    assert(top1(Seq(1.0, 0.0, 0.0, 1.0)) == 3L)
    assert(top1(Seq(1.0, 0.0, 1.0, 0.0)) == 1L)

    // batch 2: A re-sent with a NEW vector — an upsert, not an append:
    // still 3 rows, A's code is the fresh encode of the new vector.
    input.addData(AnnVec(1L, Seq(0.0, 1.0, 0.0, 1.0)))
    drain()
    assert(codes() == Map(1L -> Seq(1, 1), 2L -> Seq(1, 1), 3L -> Seq(0, 1)))

    // Snapshot chain is pruned (retain=1, floored to 2): the latest and
    // its replay predecessor remain — snap_0 is gone.
    val snaps = Option(new java.io.File(table).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("snap_")).map(_.getName).sorted.toSeq
    assert(snaps == Seq("snap_1", "snap_2"), snaps.toString)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("streaming IVF index: map-only cell assignment per batch, stored cids never reassigned, nprobe search over the latest snapshot") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ivfidx").toString
    val table = s"$base/index"; val ckpt = s"$base/ckpt"
    // Frozen quantizer: the two unit axes. Assignment is transparent —
    // a vector closer to (1,0) lands in cell 0, closer to (0,1) cell 1.
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val input = MemoryStream[AnnVec]
    def drain(): Unit =
      AnnStream.ivfIndexSink(input.toDF(), cents, table, ckpt, retainSnapshots = 1)
        .awaitTermination()
    def cids(): Map[Long, Int] =
      SnapshotStore.latest(spark, table).get.collect()
        .map(r => r.getLong(r.fieldIndex("vec_id")) -> r.getInt(r.fieldIndex("cid"))).toMap
    // nprobe=1: ONLY the query's nearest cell is scanned, so a vector
    // stored under the wrong cid is invisible to that query — which is
    // exactly what makes the poison check below conclusive.
    def top1(qv: Seq[Double]): Long =
      AnnStream.searchIvfIndex(spark, table, cents, Seq((100L, qv)), k = 1, nprobe = 1)
        .collect().head.getAs[Long]("neighbor_id")

    // batch 0: one vector per cell; both searchable from their cell.
    input.addData(AnnVec(1L, Seq(1.0, 0.1)), AnnVec(2L, Seq(0.1, 1.0)))
    drain()
    assert(cids() == Map(1L -> 0, 2L -> 1))
    assert(top1(Seq(1.0, 0.0)) == 1L)
    assert(top1(Seq(0.0, 1.0)) == 2L)

    // Poison vector 1's STORED cell to 1. If a later batch reassigned
    // the existing corpus, vec 1 would return to cell 0 and win the
    // cell-0 query below (its cosine to (1,0) beats vec 3's).
    val snap0 = spark.read.parquet(s"$table/snap_0")
    val poisoned = snap0.withColumn("cid",
        when(col("vec_id") === 1L, lit(1)).otherwise(col("cid"))).collect()
    spark.createDataFrame(
        spark.sparkContext.parallelize(poisoned.toIndexedSeq), snap0.schema)
      .write.mode("overwrite").parquet(s"$table/snap_0")

    // batch 1: vec 3 joins cell 0. The cell-0 query sees ONLY vec 3 —
    // poisoned vec 1 stayed in cell 1 through the merge (no reassign).
    input.addData(AnnVec(3L, Seq(0.9, 0.2)))
    drain()
    assert(cids() == Map(1L -> 1, 2L -> 1, 3L -> 0))
    assert(top1(Seq(1.0, 0.0)) == 3L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("streaming IVF-PQ composed index: per-batch map-only (cid, code) encode, stored pairs never recomputed, probed-cell ADC search over the latest snapshot") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ivfpqidx").toString
    val table = s"$base/index"; val ckpt = s"$base/ckpt"
    // Frozen composed model: 2 coarse cells on the 4-dim axes pairs +
    // the transparent 2×2 PQ model above, which now quantizes RESIDUALS
    // (v − centroid): a vector sitting exactly on its centroid has the
    // zero residual, whose sub-codes tie to code 0 — still checkable by
    // eye.
    val composed = graft.queries.IvfPqOps.IvfPqModel(
      cents = Seq(Seq(1.0, 0.0, 1.0, 0.0), Seq(0.0, 1.0, 0.0, 1.0)),
      pq = model)
    val input = MemoryStream[AnnVec]
    def drain(): Unit =
      AnnStream.ivfpqIndexSink(input.toDF(), composed, table, ckpt, retainSnapshots = 1)
        .awaitTermination()
    def rows(): Map[Long, (Int, Seq[Int])] =
      SnapshotStore.latest(spark, table).get.collect()
        .map(r => r.getLong(r.fieldIndex("vec_id")) ->
          (r.getInt(r.fieldIndex("cid")), r.getSeq[Int](r.fieldIndex("code")))).toMap
    // nprobe=1: only the query's nearest cell is ADC-scanned — a vector
    // stored under the wrong cid is invisible, making the poison check
    // conclusive for the composed index too.
    def top1(qv: Seq[Double]): Long =
      AnnStream.searchIvfPqIndex(spark, table, composed, Seq((100L, qv)), k = 1, nprobe = 1)
        .collect().head.getAs[Long]("neighbor_id")

    // batch 0: A and B each sit exactly on their centroid — cells 0 and
    // 1, zero residuals, sub-codes tie to (0,0) — one map-only pass
    // produced BOTH index columns.
    input.addData(vecA, vecB)
    drain()
    assert(rows() == Map(1L -> ((0, Seq(0, 0))), 2L -> ((1, Seq(0, 0)))))
    assert(top1(Seq(1.0, 0.0, 1.0, 0.0)) == 1L)
    assert(top1(Seq(0.0, 1.0, 0.0, 1.0)) == 2L)

    // Poison A's stored cell. If any later batch re-encoded the corpus,
    // A would return to cell 0 and win the cell-0 query over the weaker
    // newcomer; pass-through merges keep it hidden in cell 1.
    val snap0 = spark.read.parquet(s"$table/snap_0")
    val poisoned = snap0.withColumn("cid",
        when(col("vec_id") === 1L, lit(1)).otherwise(col("cid"))).collect()
    spark.createDataFrame(
        spark.sparkContext.parallelize(poisoned.toIndexedSeq), snap0.schema)
      .write.mode("overwrite").parquet(s"$table/snap_0")

    input.addData(AnnVec(3L, Seq(0.9, 0.1, 0.9, 0.1)))
    drain()
    assert(rows().view.mapValues(_._1).toMap == Map(1L -> 1, 2L -> 1, 3L -> 0))
    assert(top1(Seq(1.0, 0.0, 1.0, 0.0)) == 3L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("tombstones revoke vectors: a deleted vec_id is gone from every later snapshot and search; re-insert revives it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("anntomb").toString
    val table = s"$base/index"; val ckpt = s"$base/ckpt"
    val input = MemoryStream[AnnVecOp]
    def drain(): Unit =
      AnnStream.pqIndexSink(input.toDF(), model, table, ckpt, retainSnapshots = 1)
        .awaitTermination()
    def ids(): Set[Long] =
      SnapshotStore.latest(spark, table).get.collect()
        .map(_.getAs[Long]("vec_id")).toSet
    def search(qv: Seq[Double], k: Int): Seq[Long] =
      AnnStream.searchIndex(spark, table, model, Seq((100L, qv)), k = k)
        .collect().map(_.getAs[Long]("neighbor_id")).toSeq

    // batch 0: A, B, C live.
    input.addData(
      AnnVecOp(1L, vecA.v, deleted = false),
      AnnVecOp(2L, vecB.v, deleted = false),
      AnnVecOp(3L, vecC.v, deleted = false))
    drain()
    assert(ids() == Set(1L, 2L, 3L))

    // batch 1: takedown of A (tombstone carries no payload requirement —
    // the id suffices). A leaves the snapshot ENTIRELY (no tombstone row
    // persists) and no search over any later snapshot can return it.
    input.addData(AnnVecOp(1L, Seq(0.0, 0.0, 0.0, 0.0), deleted = true))
    drain()
    assert(ids() == Set(2L, 3L))
    // Even a search FOR A's exact vector, asking for every remaining row:
    assert(!search(vecA.v, k = 3).contains(1L))

    // batch 2: same-batch delete+upsert of id 2 — delete wins
    // (deterministic conservative takedown), while a fresh insert of the
    // previously-deleted id 1 revives it.
    input.addData(
      AnnVecOp(2L, vecB.v, deleted = false),
      AnnVecOp(2L, vecB.v, deleted = true),
      AnnVecOp(1L, vecA.v, deleted = false))
    drain()
    assert(ids() == Set(1L, 3L))
    assert(search(vecA.v, k = 1) == Seq(1L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }
}
