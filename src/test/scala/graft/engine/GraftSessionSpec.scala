package graft.engine

import graft.SparkSpec
import graft.functions.BQCompat

class GraftSessionSpec extends SparkSpec {

  test("createTable + insert + query round-trip") {
    val s = new SessionManager(spark).create()
    s.createTable("users", Seq("id" -> "INT64", "name" -> "STRING"))
    s.insert("users", Seq(Seq(1, "Alice"), Seq(2, "Bob")))
    val rows = s.sql("SELECT * FROM users ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "Alice"), (2L, "Bob")))
  }

  test("sessions are isolated: same table name, different data") {
    val m = new SessionManager(spark)
    val s1 = m.create()
    val s2 = m.create()
    s1.createTable("t", Seq("v" -> "INT64"))
    s2.createTable("t", Seq("v" -> "INT64"))
    s1.insert("t", Seq(Seq(1)))
    s2.insert("t", Seq(Seq(99)))
    assert(s1.sql("SELECT v FROM t").collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(s2.sql("SELECT v FROM t").collect().map(_.getLong(0)).toSeq == Seq(99L))
  }

  test("null / bool / float / date values survive insert") {
    val s = new SessionManager(spark).create()
    s.createTable("mixed", Seq("id" -> "INT64", "flag" -> "BOOL", "x" -> "FLOAT64", "d" -> "DATE", "note" -> "STRING"))
    s.insert("mixed", Seq(
      Seq(1, true, 1.5, "2024-01-15", "hello"),
      Seq(2, false, 2.25, "2024-02-01", null)))
    val rows = s.sql("SELECT * FROM mixed ORDER BY id").collect()
    assert(rows(0).getBoolean(1))
    assert(rows(1).getDouble(2) == 2.25)
    assert(rows(1).isNullAt(4))
    assert(rows(0).getDate(3).toString == "2024-01-15")
  }

  test("incremental insert accumulates rows") {
    val s = new SessionManager(spark).create()
    s.createTable("acc", Seq("n" -> "INT64"))
    s.insert("acc", Seq(Seq(1)))
    s.insert("acc", Seq(Seq(2), Seq(3)))
    assert(s.sql("SELECT SUM(n) FROM acc").collect()(0).getLong(0) == 6L)
  }

  test("listTables and describeTable") {
    val s = new SessionManager(spark).create()
    s.createTable("aaa", Seq("x" -> "INT64"))
    s.createTable("bbb", Seq("y" -> "STRING", "z" -> "FLOAT64"))
    s.insert("bbb", Seq(Seq("v", 1.0)))
    assert(s.listTables().contains("aaa"))
    assert(s.listTables().contains("bbb"))
    val (schema, count) = s.describeTable("bbb")
    assert(schema == Seq("y" -> "STRING", "z" -> "FLOAT64"))
    assert(count == 1L)
  }

  test("destroy removes the session") {
    val m = new SessionManager(spark)
    val s = m.create()
    val id = s.id
    assert(m.list().contains(id))
    assert(m.destroy(id))
    assert(!m.list().contains(id))
    assert(!m.destroy(id))
  }

  test("SAFE_CAST syntax rewrites to TRY_CAST with BigQuery type names mapped") {
    val s = new SessionManager(spark).create()
    val r = s.sql(
      "SELECT SAFE_CAST('12' AS INT64) a, SAFE_CAST('nope' AS INT64) b, " +
        "SAFE_CAST('1.5' AS FLOAT64) c, CAST('true' AS BOOL) d").collect()(0)
    assert(r.getLong(0) == 12L && r.isNullAt(1))
    assert(r.getDouble(2) == 1.5 && r.getBoolean(3))
    // the rewrite is textual — verify it leaves ordinary SQL alone
    assert(BQCompat.rewriteBqSyntax("SELECT broadcast FROM t") ==
      "SELECT broadcast FROM t")
    // type names map only in cast-tail position (`AS INT64)`): a column
    // alias that happens to be named INT64/BOOL survives the pass.
    assert(BQCompat.rewriteBqSyntax("SELECT a AS INT64, b AS BOOL FROM t") ==
      "SELECT a AS INT64, b AS BOOL FROM t")
    assert(BQCompat.rewriteBqSyntax("SELECT CAST(a AS INT64) FROM t") ==
      "SELECT CAST(a AS BIGINT) FROM t")
  }

  test("rewrite patterns never fire inside literals, identifiers or comments") {
    import BQCompat.rewriteBqSyntax
    // String literals survive verbatim — including rewrite-pattern text,
    // which a raw-text rewrite would change.
    assert(rewriteBqSyntax("SELECT 'SAFE_CAST(x AS INT64)' AS s FROM t") ==
      "SELECT 'SAFE_CAST(x AS INT64)' AS s FROM t")
    assert(rewriteBqSyntax("SELECT \"CAST(a AS BOOL)\" FROM t") ==
      "SELECT \"CAST(a AS BOOL)\" FROM t")
    // …while the same pattern OUTSIDE the literal still rewrites.
    assert(rewriteBqSyntax("SELECT SAFE_CAST(x AS INT64), 'AS INT64)' FROM t") ==
      "SELECT TRY_CAST(x AS BIGINT), 'AS INT64)' FROM t")
    // Escapes: doubled quotes and backslash escapes stay inside one token.
    assert(rewriteBqSyntax("SELECT 'it''s AS INT64)' FROM t") ==
      "SELECT 'it''s AS INT64)' FROM t")
    assert(rewriteBqSyntax("SELECT 'a\\' AS BOOL)' FROM t") ==
      "SELECT 'a\\' AS BOOL)' FROM t")
    // Backtick identifiers and comments are opaque to the patterns.
    assert(rewriteBqSyntax("SELECT `SAFE_CAST(y` FROM t -- SAFE_CAST(z AS INT64)") ==
      "SELECT `SAFE_CAST(y` FROM t -- SAFE_CAST(z AS INT64)")
    assert(rewriteBqSyntax("SELECT /* CAST(a AS INT64) */ b FROM t") ==
      "SELECT /* CAST(a AS INT64) */ b FROM t")
    // UNNEST arrays still rewrite WITH string elements — even ones
    // containing ']', which terminated the bracket match pre-lexer.
    assert(rewriteBqSyntax("SELECT * FROM UNNEST(['a]b', 'c']) AS v") ==
      "SELECT * FROM (SELECT explode(array('a]b', 'c')) AS v)")
  }

  test("BigQuery type mapping covers arrays and rejects junk") {
    import org.apache.spark.sql.types._
    assert(GraftSession.bqType("ARRAY<INT64>") == ArrayType(LongType))
    assert(GraftSession.bqType("bool") == BooleanType)
    assertThrows[graft.api.GraftError.InvalidParams](GraftSession.bqType("WIBBLE"))
  }
}
