package graft.sources

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.engine.SessionManager

class DirectoryCatalogSpec extends SparkSpec {

  /** Build a root/project/dataset tree with one parquet and one sql. */
  private def buildTree(): Path = {
    import spark.implicits._
    val root = Files.createTempDirectory("dircat")
    val ds = root.resolve("proj1/analytics")
    Files.createDirectories(ds)
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag")
      .coalesce(1).write.mode("overwrite").parquet(ds.resolve("items.parquet").toString)
    Files.writeString(ds.resolve("big_items.sql"), "SELECT id, tag FROM items WHERE id >= 2")
    root
  }

  test("discover finds parquet and sql files with project/dataset naming") {
    val root = buildTree()
    val found = DirectoryCatalog.discover(root.toString)
    assert(found.map(d => (d.project, d.dataset, d.table, d.isSql)) ==
      Seq(("proj1", "analytics", "big_items", true), ("proj1", "analytics", "items", false)))
  }

  test("loadParquetDirectory registers qualified and bare views") {
    val root = buildTree()
    val s = new SessionManager(spark).create()
    val names = DirectoryCatalog.loadParquetDirectoryInfo(s, root.toString).map(_._1.fullName)
    assert(names == Seq("proj1_analytics_items"))
    assert(s.sql("SELECT COUNT(*) FROM proj1_analytics_items").collect()(0).getLong(0) == 3L)
    assert(s.sql("SELECT COUNT(*) FROM items").collect()(0).getLong(0) == 3L)
  }

  test("sibling schema.json declares column types and order (reference load_schema)") {
    import spark.implicits._
    val root = Files.createTempDirectory("dircat_schema")
    val ds = root.resolve("p/d")
    Files.createDirectories(ds)
    Seq((1, 1.5f), (2, 2.5f)).toDF("id", "score")
      .coalesce(1).write.mode("overwrite").parquet(ds.resolve("t.parquet").toString)
    // Declared: score first, FLOAT64; id INT64 (parquet has int32/float).
    Files.writeString(ds.resolve("t.schema.json"),
      """[{"name": "score", "type": "FLOAT64"}, {"name": "id", "type": "INT64"}]""")
    val s = new SessionManager(spark).create()
    DirectoryCatalog.loadParquetDirectoryInfo(s, root.toString)
    val df = s.sql("SELECT * FROM t")
    assert(df.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq ==
      Seq(("score", "double"), ("id", "bigint")))
    assert(df.collect().map(_.getDouble(0)).sorted.toSeq == Seq(1.5, 2.5))
  }

  test("loadDag wires sql files as derived tables over parquet sources") {
    val root = buildTree()
    val s = new SessionManager(spark).create()
    val dag = DirectoryCatalog.loadDagFrom(s, root.toString)._1
    val tables = dag.getTables
    assert(tables.find(_._1 == "big_items").get._4 == Seq("items"))
    val res = dag.run()
    assert(res.allSucceeded, res.toString)
    assert(s.sql("SELECT COUNT(*) FROM big_items").collect()(0).getLong(0) == 2L)
  }
}
