package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.streaming.StreamOps.Ev

object StreamOpsSpec {
  final case class IdEv(event_id: Long, user_id: Long, ts: Timestamp)
  final case class TextEv(event_id: Long, ts: Timestamp, text: String)
}

class StreamOpsSpec extends SparkSpec {

  // Offset by 1h: an event at epoch 0 would be dropped as late (initial
  // watermark is 0).
  private def ts(minute: Int) = new Timestamp((60 + minute) * 60L * 1000)

  test("tumbling window aggregation over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val query = StreamOps.tumblingAgg(input.toDF(), windowLen = "1 hour")
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(
        Ev(1, ts(5), "click", 1.0), Ev(1, ts(20), "click", 2.0),
        Ev(2, ts(65), "view", 5.0), Ev(1, ts(70), "click", 4.0))
      query.processAllAvailable()
      val rows = spark.table("tumbling_out")
        .collect()
        .map(r => (r.getTimestamp(0).getTime / 60000 - 60, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows == Set((0L, "click", 2L, 3.0), (60L, "view", 1L, 5.0), (60L, "click", 1L, 4.0)))
    } finally query.stop()
  }

  test("windowed HLL sketch merges across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val query = StreamOps.windowSketchAgg(input.toDF(), windowLen = "1 hour")
      .writeStream.format("memory").queryName("sketch_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      // users 1..4 in window 0, user 4 twice ACROSS batches: the merged
      // sketch must not double-count, and at this cardinality the HLL
      // (rsd 0.02) is exact
      input.addData(Ev(1, ts(5), "c", 1.0), Ev(2, ts(10), "c", 1.0))
      query.processAllAvailable()
      input.addData(Ev(3, ts(20), "c", 1.0), Ev(4, ts(25), "c", 1.0),
        Ev(4, ts(40), "c", 1.0), Ev(5, ts(65), "c", 1.0))
      query.processAllAvailable()
      val rows = spark.table("sketch_out")
        .collect()
        .map(r => (r.getTimestamp(0).getTime / 60000 - 60, r.getLong(1), r.getLong(2)))
        .toSet
      assert(rows == Set((0L, 4L, 5L), (60L, 1L, 1L)))
    } finally query.stop()
  }

  test("stateful sessionization closes sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val query = StreamOps.sessionize(input.toDS(), gapSecs = 1800)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // Session 1: minutes 0-10 (3 events). Then a 50-minute gap.
      input.addData(Ev(7, ts(0), "click", 1.0), Ev(7, ts(5), "click", 2.0), Ev(7, ts(10), "click", 3.0))
      query.processAllAvailable()
      // The gap event closes session 1 and starts session 2.
      input.addData(Ev(7, ts(60), "click", 10.0))
      query.processAllAvailable()
      val rows = spark.table("sessions_out").as[StreamOps.SessionOut].collect()
      assert(rows.length == 1, rows.mkString(","))
      val s1 = rows(0)
      assert(s1.user_id == 7L)
      assert(s1.session_start == ts(0).getTime / 1000 && s1.session_end == ts(10).getTime / 1000)
      assert(s1.n_events == 3L && s1.sum_value == 6.0)
    } finally query.stop()
  }

  test("native session_window agg matches the stateful sessionize on the same stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val query = StreamOps.sessionWindowAgg(input.toDF(), gap = "30 minutes")
      .writeStream.format("memory").queryName("native_sessions_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // Same shape as the sessionize spec: session 1 at minutes 0-10,
      // then a 50-minute gap; user 8 contributes one singleton session.
      input.addData(
        Ev(7, ts(0), "click", 1.0), Ev(7, ts(5), "click", 2.0),
        Ev(7, ts(10), "click", 3.0), Ev(8, ts(2), "view", 9.0))
      query.processAllAvailable()
      // Watermark (2h behind max ts) must pass the session ends before
      // append emits them: push it forward with a far-future event.
      input.addData(Ev(99, ts(300), "click", 0.0))
      query.processAllAvailable()
      val rows = spark.table("native_sessions_out").collect()
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[Timestamp]("session_start").getTime / 1000,
          r.getAs[Timestamp]("session_end").getTime / 1000,
          r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toSet
      // session_window end = last event + gap (vs sessionize's
      // last-event time): user 7's 3 events merge into ONE session
      // [t0, t10+30min); user 8 gets a singleton [t2, t2+30min).
      assert(rows == Set(
        (7L, ts(0).getTime / 1000, ts(10).getTime / 1000 + 1800, 3L, 6.0),
        (8L, ts(2).getTime / 1000, ts(2).getTime / 1000 + 1800, 1L, 9.0)),
        rows.toString)
    } finally query.stop()
  }

  test("streaming dedup drops repeats within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val query = StreamOps.dedupStream(input.toDF(), Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Ev(1, ts(1), "click", 1.0), Ev(1, ts(1), "click", 1.0), // exact repeat
        Ev(1, ts(2), "view", 2.0), Ev(2, ts(1), "click", 3.0))
      query.processAllAvailable()
      val n = spark.table("dedup_out").count()
      assert(n == 3, s"expected 3 deduped rows, got $n")
    } finally query.stop()
  }

  test("stream-static enrichment joins a dimension per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[Ev]
    val query = StreamOps.enrich(input.toDF(), dim, Seq("user_id"))
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Ev(1, ts(1), "click", 1.0), Ev(2, ts(2), "view", 2.0), Ev(3, ts(3), "view", 9.0))
      query.processAllAvailable()
      val rows = spark.table("enrich_out").select("user_id", "tier").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows == Set((1L, "gold"), (2L, "silver"))) // user 3 has no dim row
    } finally query.stop()
  }

  test("streaming near-dedup drops simhash-identical texts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamOpsSpec.TextEv
    val input = MemoryStream[TextEv]
    val query = StreamOps.nearDedupStream(input.toDF(), "text")
      .writeStream.format("memory").queryName("neardedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        TextEv(1, ts(1), "the quick brown fox jumps over the lazy dog"),
        TextEv(2, ts(2), "the quick brown fox jumps over the lazy dog"), // exact text repeat
        TextEv(3, ts(3), "an entirely different sentence about spark streams"))
      query.processAllAvailable()
      val ids = spark.table("neardedup_out").select("event_id").collect().map(_.getLong(0)).toSet
      assert(ids.size == 2 && ids.contains(3L), ids.toString)
    } finally query.stop()
  }

  test("stream-stream interval join matches events within the range") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import StreamOpsSpec.IdEv
    val clicks = MemoryStream[IdEv]
    val errors = MemoryStream[IdEv]
    val joined = StreamOps.intervalJoin(
      errors.toDF().withColumnRenamed("event_id", "err_id"),
      clicks.toDF().withColumnRenamed("event_id", "click_id"),
      key = "user_id", range = "60 seconds")
      .select(col("err_id"), col("click_id"))
    val query = joined.writeStream.format("memory").queryName("interval_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // Clicks at minute 1 and 5; an error 30s after the first click
      // (catches it) and one at minute 10 (nothing within 60s before).
      clicks.addData(IdEv(101, 1, ts(1)), IdEv(102, 1, ts(5)))
      errors.addData(
        IdEv(201, 1, new Timestamp(ts(1).getTime + 30000)),
        IdEv(202, 1, ts(10)))
      query.processAllAvailable()
      val rows = spark.table("interval_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((201L, 101L)), rows.toString)
    } finally query.stop()
  }

  test("streaming merge sink keeps the latest row per key across batches and restarts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("merge").toString
    val table = s"$base/table"; val ckpt = s"$base/ckpt"
    val input = MemoryStream[Ev]
    def drain(): Unit = {
      val q = StreamOps.mergeSink(input.toDF(), table, ckpt, retainSnapshots = 1)
      q.awaitTermination() // AvailableNow: drains what's present, stops
    }
    def snapDirs(): Seq[String] =
      Option(new java.io.File(table).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("snap_")).map(_.getName).sorted.toSeq
    input.addData(Ev(1, ts(5), "a", 1.0), Ev(2, ts(6), "a", 2.0))
    drain()
    def state(): Map[Long, (String, Double)] =
      SnapshotStore.latest(spark, table).get
        .collect().map(r => r.getLong(0) -> (r.getString(2), r.getDouble(3))).toMap
    assert(state() == Map(1L -> ("a", 1.0), 2L -> ("a", 2.0)))
    // second run (restart: same checkpoint): user 1 updated, user 3 new
    input.addData(Ev(1, ts(9), "b", 9.0), Ev(3, ts(7), "a", 3.0))
    drain()
    assert(state() == Map(1L -> ("b", 9.0), 2L -> ("a", 2.0), 3L -> ("a", 3.0)))
    // retention (retain=1, floored to 2): snap_0 SURVIVES batch 1's
    // prune — a replay of batch 1 needs the latest snapshot strictly
    // below it, so the newest predecessor is never deleted.
    assert(snapDirs() == Seq("snap_0", "snap_1"), snapDirs().toString)
    // idle restart: nothing new to process, state unchanged
    drain()
    assert(state() == Map(1L -> ("b", 9.0), 2L -> ("a", 2.0), 3L -> ("a", 3.0)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("file ETL is exactly-once across restarts (checkpointed source)") {
    val root = java.nio.file.Files.createTempDirectory("graft_etl").toString
    val (in, out, ck) = (s"$root/in", s"$root/out", s"$root/ck")
    new java.io.File(in).mkdirs()
    def land(name: String, lines: Seq[String]): Unit = {
      val f = new java.io.File(in, name)
      val w = new java.io.PrintWriter(f)
      try lines.foreach(w.println) finally w.close()
    }
    land("batch1.json", Seq(
      """{"event_id":1,"ts":"2024-06-15T10:00:00Z","event_type":"click","value":1.0}""",
      """{"event_id":2,"ts":"2024-06-16T11:00:00Z","event_type":"view","value":2.0}"""))
    val q1 = StreamOps.fileEtl(spark, in, out, ck)
    q1.awaitTermination()
    assert(spark.read.parquet(out).count() == 2)
    // Restart with the SAME checkpoint after a new file lands: only the
    // new file is processed (no duplicates of batch1).
    land("batch2.json", Seq(
      """{"event_id":3,"ts":"2024-06-15T12:00:00Z","event_type":"click","value":3.0}"""))
    val q2 = StreamOps.fileEtl(spark, in, out, ck)
    q2.awaitTermination()
    val rows = spark.read.parquet(out)
    assert(rows.count() == 3, "restart must process only the new file")
    assert(rows.select("event_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // Day-partitioned layout on disk.
    assert(new java.io.File(out).listFiles().exists(_.getName.startsWith("day=2024-06-15")))
  }

  test("sessionization keeps independent state per user") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val query = StreamOps.sessionize(input.toDS(), gapSecs = 1800)
      .writeStream.format("memory").queryName("sessions_multi")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Ev(1, ts(0), "a", 1.0), Ev(2, ts(1), "a", 2.0))
      query.processAllAvailable()
      input.addData(Ev(1, ts(90), "a", 3.0), Ev(2, ts(95), "a", 4.0))
      query.processAllAvailable()
      val rows = spark.table("sessions_multi").as[StreamOps.SessionOut].collect()
      assert(rows.map(_.user_id).sorted.toSeq == Seq(1L, 2L))
      assert(rows.forall(_.n_events == 1L))
    } finally query.stop()
  }
}
