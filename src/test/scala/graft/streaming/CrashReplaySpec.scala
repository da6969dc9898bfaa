package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec
import graft.queries.PqOps.PqModel

/** Failure-injection replay proof for the SnapshotStore chain: the
  * sinks CLAIM replay-idempotence by design (strictly-below reads,
  * _SUCCESS gating, overwrite-own-id); this spec actually kills a run
  * mid-write and checks the claim byte-for-byte.
  *
  * Scenario, per sink (PQ ANN index, MinHash-LSH near-dup): two
  * identical pipelines drain the same file-source staging directory — a
  * CONTROL that never fails, and a CRASH twin that, after its second
  * batch commits, is rolled back to the exact on-disk state of a
  * process that died mid-write:
  *
  *  - the checkpoint's `commits/<N>` marker is deleted (died after the
  *    sink's foreachBatch but before the engine committed the batch —
  *    the window the chain's strictly-below read exists for), and
  *  - `snap_<N>` loses its _SUCCESS marker and one data file (died
  *    halfway through the parquet write itself).
  *
  * Between crash and restart the READER must not see the torn snapshot
  * (committedIds demands _SUCCESS). On restart the engine replays batch
  * N from its recorded offsets; the merge re-reads the same
  * strictly-below state and overwrites its own output. After one more
  * normal batch on both twins, the crash pipeline's final state must
  * equal the control's EXACTLY — same rows, same values (the reference
  * analog: materialization retry in the reference's pipeline DAG,
  * session/pipeline.rs retry semantics).
  */
class CrashReplaySpec extends SparkSpec {

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
    df.selectExpr(cols: _*).collect().map(_.toString).sorted.toSeq
  }

  /** Delete the newest commit marker + tear the matching snapshot. */
  private def injectCrash(table: String, ckpt: String): Long = {
    val commits = new java.io.File(s"$ckpt/commits")
    val last = commits.listFiles().map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(new java.io.File(commits, last.toString).delete())
    // The local checksum FS keeps a `.N.crc` sidecar per file; a real
    // crash loses both together (they are one logical write), and a
    // stale sidecar would make the replay's commit rename fail.
    new java.io.File(commits, s".$last.crc").delete()
    val snap = new java.io.File(s"$table/snap_$last")
    assert(new java.io.File(snap, "_SUCCESS").delete())
    new java.io.File(snap, "._SUCCESS.crc").delete()
    val part = snap.listFiles().filter(_.getName.startsWith("part-")).head
    new java.io.File(snap, s".${part.getName}.crc").delete()
    assert(part.delete())
    last
  }

  /** Drive the control/crash twin pipelines over three batches with the
    * crash injected after batch 1 (the second batch) on the crash twin.
    */
  private def runScenario(
      label: String,
      schemaDDL: String,
      batches: Seq[Seq[org.apache.spark.sql.Row]],
      mkSink: (DataFrame, String, String) => StreamingQuery,
      readState: String => DataFrame): Unit = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Files.createTempDirectory(s"crash-$label").toString
    val staging = s"$base/staging"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(schemaDDL)
    def drain(which: String): Unit =
      mkSink(
        spark.readStream.schema(schema).parquet(staging),
        s"$base/$which/table", s"$base/$which/ckpt").awaitTermination()
    def addBatch(rows: Seq[org.apache.spark.sql.Row]): Unit =
      spark.createDataFrame(rows.asJava, schema)
        .coalesce(1).write.mode("append").parquet(staging)

    addBatch(batches(0)); drain("control"); drain("crash")
    addBatch(batches(1)); drain("control"); drain("crash")

    val torn = injectCrash(s"$base/crash/table", s"$base/crash/ckpt")
    // The torn snapshot is invisible to readers: the latest committed
    // state is the one from BEFORE the crashed batch.
    val (fs, root) = SnapshotStore.fsOf(spark, s"$base/crash/table")
    assert(!SnapshotStore.committedIds(fs, root, "snap_").contains(torn),
      s"$label: torn snap_$torn still reads as committed")

    drain("crash") // replay of the crashed batch from checkpointed offsets
    addBatch(batches(2)); drain("control"); drain("crash")

    val control = canon(readState(s"$base/control/table"))
    val crashed = canon(readState(s"$base/crash/table"))
    assert(control.nonEmpty, s"$label: control state is empty — scenario proves nothing")
    assert(crashed == control,
      s"$label: crash+replay diverged from the no-crash run\n" +
        s"control: $control\ncrashed: $crashed")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  private def row(vs: Any*) = org.apache.spark.sql.Row(vs: _*)

  test("PQ ANN index converges through a mid-write crash + replay") {
    val model = PqModel(m = 2, sub = 2,
      books = Seq(
        Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),
        Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))))
    runScenario(
      "ann",
      "vec_id BIGINT, v ARRAY<DOUBLE>",
      Seq(
        Seq(row(1L, Seq(1.0, 0.0, 1.0, 0.0)), row(2L, Seq(0.0, 1.0, 0.0, 1.0))),
        Seq(row(3L, Seq(1.0, 0.0, 0.0, 1.0)), row(1L, Seq(0.0, 1.0, 1.0, 0.0))),
        Seq(row(4L, Seq(0.0, 1.0, 1.0, 0.0)))),
      (src, table, ckpt) => AnnStream.pqIndexSink(src, model, table, ckpt),
      table => SnapshotStore.latest(spark, table).get)
  }

  test("MinHash-LSH near-dup state (index + pair ledger) converges through a mid-write crash + replay") {
    val doc = "the quick brown fox jumps over the lazy dog again and again in the yard"
    val nearDup = doc.replace("yard", "garden")
    val other = "completely different content about spark structured streaming state stores"
    runScenario(
      "minhash",
      "doc_id BIGINT, text STRING",
      Seq(
        Seq(row(1L, doc), row(2L, other)),
        Seq(row(3L, nearDup)),
        Seq(row(4L, doc + " extra"))),
      (src, table, ckpt) => MinhashStream.minhashSink(src, table, ckpt),
      table => SnapshotStore.latest(spark, table).get)
  }
}
