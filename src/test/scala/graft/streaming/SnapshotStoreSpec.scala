package graft.streaming

import java.nio.file.Files

import graft.SparkSpec

/** Direct contract tests for the shared snapshot chain — the semantics
  * every sink (mergeSink, the ANN indexes, the other stream sinks) inherits.
  */
class SnapshotStoreSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("snapstore").toString

  test("latest takes the highest COMMITTED snapshot; uncommitted ignored") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/snap_0")
    Seq((2L, "b")).toDF("k", "v").write.parquet(s"$dir/snap_1")
    // snap_2 exists but has no _SUCCESS → not committed, must be ignored.
    Seq((3L, "c")).toDF("k", "v").write.parquet(s"$dir/snap_2")
    val (fs, root) = SnapshotStore.fsOf(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/snap_2/_SUCCESS"), false)
    assert(SnapshotStore.latest(spark, dir).get.as[(Long, String)].collect().toSet ==
      Set((2L, "b")))
    // A replaying batch 1 must read strictly below itself: snap_0.
    assert(SnapshotStore.latest(spark, dir, below = Some(1L)).get
      .as[(Long, String)].collect().toSet == Set((1L, "a")))
    assert(SnapshotStore.latest(spark, dir, below = Some(0L)).isEmpty)
  }

  test("prune keeps the replay predecessor even at retain=1") {
    import spark.implicits._
    val dir = tmp()
    (0L to 4L).foreach { id =>
      Seq((id, "x")).toDF("k", "v").write.parquet(s"$dir/snap_$id")
    }
    // Floor of 2: after batch 4's prune with retain=1, snap_3 (the
    // strictly-below predecessor a replayed 4 would need) survives.
    SnapshotStore.prune(spark, dir, batchId = 4L, retainSnapshots = 1)
    val (fs, root) = SnapshotStore.fsOf(spark, dir)
    val left = SnapshotStore.committedIds(fs, root, "snap_").sorted
    assert(left == Seq(3L, 4L), s"retained $left")
  }

  test("snapshot ids parse from prefix; foreign children ignored") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/snap_7")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/landing_9")
    val (fs, root) = SnapshotStore.fsOf(spark, dir)
    assert(SnapshotStore.committedIds(fs, root, "snap_") == Seq(7L))
    assert(SnapshotStore.committedIds(fs, root, "landing_") == Seq(9L))
    assert(SnapshotStore.committedIds(fs,
      new org.apache.hadoop.fs.Path(dir, "missing"), "snap_").isEmpty)
  }
}
