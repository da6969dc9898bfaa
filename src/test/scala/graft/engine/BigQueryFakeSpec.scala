package graft.engine

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** BigQueryResolver integration against the recorded-response fake
  * connector: the resolver's FULL surface —
  * resolve / query / statement / persist / loadParquet — moves real
  * bytes through Spark's DSv2 scan and write machinery with the exact
  * option contracts the real spark-bigquery-connector documents; the
  * fake enforces those contracts (viewsEnabled + materializationDataset
  * on query reads, writeMethod/temporaryGcsBucket coupling on writes),
  * so a drift in the resolver's option maps fails here with bytes, not
  * just in the map-equality contract spec. The typed connector-absent
  * failure paths are UNCHANGED (ExecutorSpec still runs the default
  * "bigquery" format, which stays unregistered).
  */
class BigQueryFakeSpec extends SparkSpec {

  private val fmt = classOf[FakeBigQueryProvider].getName

  private def resolver = new BigQueryResolver(
    defaultProject = Some("proj"), defaultDataset = Some("ds"),
    materializationDataset = Some("mat"), connectorFormat = fmt)

  private def seeded(): Unit = {
    FakeBigQueryStore.reset()
    FakeBigQueryStore.tables.put("proj.ds.people",
      Seq(1L -> "ada", 2L -> "grace", 3L -> "edsger"))
    FakeBigQueryStore.queries.put("SELECT id, name FROM ds.people WHERE id < 3",
      Seq(1L -> "ada", 2L -> "grace"))
    FakeBigQueryStore.queries.put("DELETE FROM ds.people WHERE id = 3",
      Seq(3L -> "edsger"))
  }

  test("resolve reads recorded table bytes with the documented reader options") {
    seeded()
    val rows = resolver.resolve(spark, "people")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(rows == Seq(1L -> "ada", 2L -> "grace", 3L -> "edsger"))
    val opts = FakeBigQueryStore.readOptions.asScala.last
    assert(opts("table") == "proj.ds.people")
    assert(opts("parentproject") == "proj" || opts("parentProject") == "proj")
    assert(opts.exists { case (k, v) => k.equalsIgnoreCase("materializationDataset") && v == "mat" })
  }

  test("query pushes SQL as a job read; statement returns the affected count") {
    seeded()
    val q = resolver.query(spark, "SELECT id, name FROM ds.people WHERE id < 3")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(q == Seq(1L, 2L))
    val opts = FakeBigQueryStore.readOptions.asScala.last
    assert(opts.exists { case (k, v) => k.equalsIgnoreCase("viewsEnabled") && v == "true" })
    assert(resolver.statement(spark, "DELETE FROM ds.people WHERE id = 3") == 1L)
  }

  test("persist truncate-writes through the write path; loadParquet round-trips a file") {
    seeded()
    import spark.implicits._
    resolver.persist(
      Seq(10L -> "hopper", 11L -> "lovelace").toDF("id", "name"), "out")
    assert(FakeBigQueryStore.tables.get("proj.ds.out") ==
      Seq(10L -> "hopper", 11L -> "lovelace"))
    val w = FakeBigQueryStore.writeOptions.asScala.last
    assert(w.exists { case (k, v) => k.equalsIgnoreCase("writeMethod") && v == "direct" })

    val dir = java.nio.file.Files.createTempDirectory("fakebq").toString
    Seq(20L -> "knuth").toDF("id", "name").write.mode("overwrite").parquet(dir)
    assert(resolver.loadParquet(spark, "loaded", dir) == 1L)
    assert(FakeBigQueryStore.tables.get("proj.ds.loaded") == Seq(20L -> "knuth"))
    // resolve sees what persist wrote — the DAG-materialization loop.
    assert(resolver.resolve(spark, "loaded").count() == 1L)
  }

  test("indirect write method carries the staging bucket; contract violations fail") {
    seeded()
    import spark.implicits._
    val staged = new BigQueryResolver(
      defaultProject = Some("proj"), defaultDataset = Some("ds"),
      temporaryGcsBucket = Some("gs-stage"), connectorFormat = fmt)
    staged.persist(Seq(1L -> "x").toDF("id", "name"), "staged_out")
    val w = FakeBigQueryStore.writeOptions.asScala.last
    assert(w.exists { case (k, v) => k.equalsIgnoreCase("writeMethod") && v == "indirect" })
    assert(w.exists { case (k, v) => k.equalsIgnoreCase("temporaryGcsBucket") && v == "gs-stage" })
    // A query read missing the materialization dataset violates the
    // connector contract — the fake rejects it (and the resolver wraps
    // connector-layer failures into the typed taxonomy elsewhere).
    val bare = new BigQueryResolver(
      defaultProject = Some("proj"), defaultDataset = Some("ds"), connectorFormat = fmt)
    intercept[Exception] {
      bare.query(spark, "SELECT id, name FROM ds.people WHERE id < 3").collect()
    }
  }
}
