package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{Materialize, SparkSpec, Tables}
import graft.queries.SketchOps2.{CmsDepth, CmsWidth, cmsCells, cmsProbes}

object CmsStreamSpec {
  final case class Ev(user_id: Long)
}

class CmsStreamSpec extends SparkSpec {
  import CmsStreamSpec.Ev

  private def cells(df: org.apache.spark.sql.DataFrame): Map[(Int, Long), Long] =
    df.collect().map(r => (r.getInt(r.fieldIndex("r")), r.getLong(r.fieldIndex("b"))) ->
      r.getLong(r.fieldIndex("c"))).toMap

  test("streaming CMS: fixed-size state, exact linear merge, one-sided estimates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("cms").toString
    val table = s"$base/sketch"; val ckpt = s"$base/ckpt"
    val input = MemoryStream[Ev]
    def drain(): Unit = CmsStream.cmsSink(input.toDF(), table, ckpt).awaitTermination()
    val before = contextHolds()

    val b0 = Seq.tabulate(40)(i => Ev(i.toLong % 7))   // users 0..6, skewed
    val b1 = Seq.tabulate(25)(i => Ev(i.toLong % 5 + 3)) // users 3..7 overlap
    input.addData(b0: _*)
    drain()
    input.addData(b1: _*)
    drain()

    val (_, scope) = Materialize.scope {
      // 1. Fixed-size state: never more than d × w cell rows.
      val snap = Materialize.cache(SnapshotStore.latest(spark, table).get)
      assert(snap.count() <= CmsDepth.toLong * CmsWidth)

      // 2. Linearity: the maintained sketch equals a full recompute over
      //    everything that flowed through — cell-for-cell.
      assert(cells(snap) == cells(cmsCells(cmsProbes((b0 ++ b1).toDF()))))

      // 3. One-sided estimate: est ≥ exact count for every seen user.
      val exact = (b0 ++ b1).groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
      val keys = exact.keys.toSeq.toDF("user_id")
      val est = CmsStream.estimate(spark, table, keys).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      exact.foreach { case (u, c) =>
        assert(est(u) >= c, s"user $u: est ${est(u)} < exact $c")
      }
    }
    scope.release()
    assertHeldNoMoreThan(before)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("three micro-batches of sf0.001 events maintain curate_cms_counts' sketch, cell for cell") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("cms-sf").toString
    val events = Tables(spark, sf("events"), "events")
    val users = events.orderBy("event_id").select("user_id").as[Long].collect()
    val parts = users.grouped((users.length + 2) / 3).toSeq
    assert(parts.size == 3)
    val input = MemoryStream[Ev]
    val before = contextHolds()
    parts.foreach { part =>
      input.addData(part.map(Ev(_)).toSeq)
      CmsStream.cmsSink(input.toDF(), s"$base/sketch", s"$base/ckpt").awaitTermination()
    }
    val maintained = cells(SnapshotStore.latest(spark, s"$base/sketch").get)
    assert(maintained == cells(cmsCells(cmsProbes(events))))
    assert(maintained.values.sum == users.length.toLong * CmsDepth)
    assertHeldNoMoreThan(before)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }
}
