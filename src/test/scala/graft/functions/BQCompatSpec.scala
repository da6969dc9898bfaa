package graft.functions

import graft.SparkSpec
import graft.engine.SessionManager

/** The dialect as engine sessions run it: every query goes through one
  * engine session's `sql`, which parses BigQuery SQL and resolves names
  * in the session's own registry. The shared session is never changed.
  */
class BQCompatSpec extends SparkSpec {

  private lazy val bq = new SessionManager(spark).create()

  test("FARM_FINGERPRINT matches the independent FarmHash implementation bit-for-bit") {
    // Guava ships farmHashFingerprint64 — the same published algorithm,
    // independently implemented. Deterministic pseudo-random payloads at
    // every length 0..200 exercise all branches (empty, 1-3, 4-7, 8-16,
    // 17-32, 33-64, single >64 chunk, multi-chunk + overlapping tail),
    // plus large sizes with every (len-1)%64 class hit above.
    val guava = com.google.common.hash.Hashing.farmHashFingerprint64()
    val rnd = new scala.util.Random(42)
    for (len <- (0 to 200) ++ Seq(1000, 4096, 4099)) {
      val bytes = new Array[Byte](len)
      rnd.nextBytes(bytes)
      assert(
        FarmHash.hash(bytes) == guava.hashBytes(bytes).asLong(),
        s"farmhash mismatch at len=$len")
    }
    // SQL surface: string input hashes its UTF-8 bytes (incl. multibyte)
    val s = "café 日本語"
    val viaSql = bq.sql(s"SELECT FARM_FINGERPRINT('$s') h").collect()(0).getLong(0)
    assert(viaSql == guava.hashBytes(s.getBytes("UTF-8")).asLong())
    // codegen path over a column (not constant-folded)
    val es = bq.spark
    import es.implicits._
    val fromCol = Seq("a", "bb", s).toDF("t")
      .selectExpr("FARM_FINGERPRINT(t) h").collect().map(_.getLong(0)).toSeq
    assert(fromCol == Seq("a", "bb", s).map(x =>
      guava.hashBytes(x.getBytes("UTF-8")).asLong()))
  }

  test("TIMESTAMP_ADD/SUB with interval literals") {
    val r = bq.sql(
      """SELECT TIMESTAMP_ADD(TIMESTAMP '2024-01-01 00:00:00', INTERVAL 90 MINUTE) a,
        |       TIMESTAMP_SUB(TIMESTAMP '2024-01-01 00:00:00', INTERVAL 1 DAY) b""".stripMargin).collect()(0)
    assert(r.getTimestamp(0).toString.startsWith("2024-01-01 01:30:00"))
    assert(r.getTimestamp(1).toString.startsWith("2023-12-31 00:00:00"))
  }

  test("UNIX_SECONDS/MILLIS/MICROS extract the epoch") {
    val r = bq.sql(
      "SELECT UNIX_SECONDS(TIMESTAMP '1970-01-01 00:01:00+00') s, " +
        "UNIX_MILLIS(TIMESTAMP '1970-01-01 00:01:00+00') ms, " +
        "UNIX_MICROS(TIMESTAMP '1970-01-01 00:01:00+00') us").collect()(0)
    assert(r.getLong(0) == 60L && r.getLong(1) == 60000L && r.getLong(2) == 60000000L)
  }

  test("JSON_EXTRACT_SCALAR / JSON_VALUE return unquoted scalars, NULL on non-scalars") {
    val r = bq.sql(
      """SELECT JSON_EXTRACT_SCALAR('{"a": {"b": 7}, "s": "x"}', '$.a.b') a,
        |       JSON_VALUE('{"a": {"b": 7}, "s": "x"}', '$.s') b,
        |       JSON_EXTRACT_SCALAR('{"a": {"b": 7}}', '$.a') c,
        |       JSON_VALUE('"plain"') d""".stripMargin).collect()(0)
    assert(r.getString(0) == "7" && r.getString(1) == "x")
    // objects/arrays are not scalars: BigQuery returns NULL, and so do
    // we (the jsonScalar wrapper nulls results whose text opens '{'/'[').
    assert(r.isNullAt(2))
    assert(r.getString(3) == "plain")
    val arr = bq.sql(
      """SELECT JSON_EXTRACT_SCALAR('{"a": [1, 2]}', '$.a') x""").collect()(0)
    assert(arr.isNullAt(0))
  }

  test("SAFE_ADD/SUBTRACT/MULTIPLY go NULL on overflow, DIV divides integrally") {
    val r = bq.sql(
      "SELECT SAFE_ADD(9223372036854775807, 1) a, SAFE_MULTIPLY(9223372036854775807, 2) b, " +
        "SAFE_SUBTRACT(10, 3) c, DIV(7, 2) d").collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
    // IntegralDivide always yields LongType; plain int arithmetic stays Int
    assert(r.getInt(2) == 7 && r.getLong(3) == 3L)
  }

  test("APPROX_TOP_COUNT reshapes to value/count structs; APPROX_QUANTILES spans min..max") {
    val es = bq.spark
    import es.implicits._
    Seq("a", "a", "a", "b", "b", "c").toDF("s").createOrReplaceTempView("letters")
    val top = bq.sql(
      "SELECT APPROX_TOP_COUNT(s, 2) t FROM letters").collect()(0)
      .getSeq[org.apache.spark.sql.Row](0)
    assert(top.map(r => (r.getString(0), r.get(1).toString.toLong)) ==
      Seq(("a", 3L), ("b", 2L)))
    assert(top.head.schema.fieldNames.toSeq == Seq("value", "count"))
    // int input -> int quantiles (percentile sketch preserves input type)
    val q = bq.sql(
      "SELECT APPROX_QUANTILES(x, 4) q FROM (SELECT explode(sequence(1, 100)) x)")
      .collect()(0).getSeq[Int](0)
    assert(q.length == 5 && q.head == 1 && q.last == 100)
    assert(q(2) >= 40 && q(2) <= 60) // median of 1..100
    intercept[Exception] {
      bq.sql("SELECT APPROX_QUANTILES(x, 0) FROM (SELECT 1 x)").collect()
    }
  }

  test("REGEXP_CONTAINS behaves like the BigQuery function") {
    val r = bq.sql("SELECT REGEXP_CONTAINS('hello123', '[0-9]+') a, REGEXP_CONTAINS('hello', '[0-9]+') b").collect()(0)
    assert(r.getBoolean(0) && !r.getBoolean(1))
  }

  test("SAFE_DIVIDE returns NULL on zero divisor") {
    val r = bq.sql("SELECT SAFE_DIVIDE(10, 4) a, SAFE_DIVIDE(1, 0) b").collect()(0)
    assert(r.getDouble(0) == 2.5)
    assert(r.isNullAt(1))
  }

  test("FORMAT_DATE with BigQuery %-patterns") {
    val r = bq.sql("SELECT FORMAT_DATE('%Y-%m-%d', DATE '2024-06-15') d").collect()(0)
    assert(r.getString(0) == "2024-06-15")
  }

  test("PARSE_DATE with BigQuery %-patterns") {
    val r = bq.sql("SELECT PARSE_DATE('%Y-%m-%d', '2024-01-25') d").collect()(0)
    assert(r.getDate(0).toString == "2024-01-25")
  }

  test("FARM_FINGERPRINT is deterministic and spreads") {
    val r = bq.sql("SELECT FARM_FINGERPRINT('abc') a, FARM_FINGERPRINT('abc') b, FARM_FINGERPRINT('abd') c").collect()(0)
    assert(r.getLong(0) == r.getLong(1))
    assert(r.getLong(0) != r.getLong(2))
  }

  // The 'UNIT' string-literal spelling; bare units (DAY) are covered by
  // ReferenceParitySpec.
  test("TIMESTAMP_DIFF with string-literal units") {
    val r = bq.sql(
      "SELECT TIMESTAMP_DIFF(TIMESTAMP '2024-01-02 03:00:00', TIMESTAMP '2024-01-01 00:00:00', 'HOUR') h, " +
        "TIMESTAMP_DIFF(TIMESTAMP '2024-01-03 00:00:00', TIMESTAMP '2024-01-01 12:00:00', 'DAY') d, " +
        "TIMESTAMP_DIFF(TIMESTAMP '2024-01-01 00:01:30', TIMESTAMP '2024-01-01 00:00:00', 'SECOND') s, " +
        "TIMESTAMP_DIFF(TIMESTAMP '2024-01-01 00:00:00.123', TIMESTAMP '2024-01-01 00:00:00', 'MILLISECOND') ms, " +
        "TIMESTAMP_DIFF(TIMESTAMP '2024-01-01 00:00:00.000456', TIMESTAMP '2024-01-01 00:00:00', 'MICROSECOND') us").collect()(0)
    assert(r.getLong(0) == 27L)
    assert(r.getLong(1) == 1L) // 1.5 days truncates toward zero
    assert(r.getLong(2) == 90L)
    assert(r.getLong(3) == 123L)
    assert(r.getLong(4) == 456L)
  }

  test("DATE_DIFF counts unit boundaries like BigQuery") {
    val r = bq.sql(
      "SELECT DATE_DIFF(DATE '2024-03-01', DATE '2024-02-28', 'DAY') d, " +
        "DATE_DIFF(DATE '2024-03-01', DATE '2024-01-31', 'MONTH') m, " +
        "DATE_DIFF(DATE '2025-01-01', DATE '2024-12-31', 'YEAR') y, " +
        // 2024-01-06 is a Saturday, 2024-01-07 a Sunday: one week boundary.
        "DATE_DIFF(DATE '2024-01-07', DATE '2024-01-06', 'WEEK') w1, " +
        "DATE_DIFF(DATE '2024-01-13', DATE '2024-01-07', 'WEEK') w0, " +
        "DATE_DIFF(DATE '2024-07-01', DATE '2024-03-31', 'QUARTER') q").collect()(0)
    assert(r.getLong(0) == 2L)
    assert(r.getLong(1) == 2L) // Jan→Mar crosses two month boundaries
    assert(r.getLong(2) == 1L) // Dec 31 → Jan 1 crosses the year boundary
    assert(r.getLong(3) == 1L) // Sat → Sun crosses a (Sunday-start) week boundary
    assert(r.getLong(4) == 0L) // Sun → following Sat stays inside the week
    assert(r.getLong(5) == 2L) // Q1 → Q3
  }

  test("unsupported or non-static units fail loudly, never silently default") {
    val e1 = intercept[Exception](
      bq.sql("SELECT TIMESTAMP_DIFF(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-01', 'MONTH')").collect())
    assert(e1.getMessage.contains("MONTH") || e1.getCause.getMessage.contains("MONTH"))
    val e2 = intercept[Exception](
      bq.sql("SELECT DATE_DIFF(DATE '2024-01-01', DATE '2024-01-01', 'FORTNIGHT')").collect())
    assert(e2.getMessage.contains("FORTNIGHT") || e2.getCause.getMessage.contains("FORTNIGHT"))
  }

  test("TIMESTAMP_TRUNC and BigQuery-order DATE_TRUNC") {
    val r = bq.sql(
      "SELECT TIMESTAMP_TRUNC(TIMESTAMP '2024-06-15 13:45:31', 'HOUR') h, " +
        "DATE_TRUNC(DATE '2024-06-15', 'MONTH') m, " +
        "DATE_TRUNC('month', TIMESTAMP '2024-06-15 13:45:31') spark_native").collect()(0)
    assert(r.getTimestamp(0).toString.startsWith("2024-06-15 13:00:00"))
    assert(r.getDate(1).toString == "2024-06-01")
    assert(r.getTimestamp(2).toString.startsWith("2024-06-01 00:00:00"))
  }

  test("ARRAY_LENGTH / GENERATE_ARRAY / TO_JSON_STRING") {
    val r = bq.sql(
      "SELECT ARRAY_LENGTH(GENERATE_ARRAY(1, 5)) n, " +
        "GENERATE_ARRAY(0, 10, 5) g, " +
        "TO_JSON_STRING(NAMED_STRUCT('a', 1, 'b', 'x')) j").collect()(0)
    assert(r.getInt(0) == 5)
    assert(r.getSeq[Any](1).toList.map(_.toString) == List("0", "5", "10"))
    assert(r.getString(2) == """{"a":1,"b":"x"}""")
  }

  // The builtin-name OVERRIDES live in the engine session's own
  // registry: the shared session other suites run Spark-semantics SQL
  // on keeps the builtins.
  test("dialect tier: SPLIT treats a literal delimiter literally, not as regex") {
    val r = bq.sql("SELECT SPLIT('a.b.c', '.') s, SPLIT('x||y', '|') p").collect()(0)
    assert(r.getSeq[String](0).toList == List("a", "b", "c"))
    assert(r.getSeq[String](1).toList == List("x", "", "y"))
    // The shared session keeps Spark's regex semantics.
    assert(spark.sql("SELECT SPLIT('a.b.c', '.') s").collect()(0).getSeq[String](0).forall(_.isEmpty))
  }

  test("dialect tier: REGEXP_EXTRACT returns NULL on no match, group on match") {
    val r = bq.sql(
      "SELECT REGEXP_EXTRACT('red widget', '(red|blue)') a, " +
        "REGEXP_EXTRACT('hot gear', '(red|blue)') b, " +
        "REGEXP_EXTRACT('abc123', '[0-9]+') whole, " +
        "REGEXP_EXTRACT('a1b2', '([a-z])([0-9])', 2) spark_shape").collect()(0)
    assert(r.getString(0) == "red")
    assert(r.isNullAt(1))
    assert(r.getString(2) == "123") // no capturing group → whole match
    assert(r.getString(3) == "1")   // 3-arg call keeps Spark builtin shape
  }

  test("dialect tier: REGEXP_EXTRACT rejects >1 capture group and computed patterns like BigQuery") {
    val multi = intercept[Exception](
      bq.sql("SELECT REGEXP_EXTRACT('a1', '([a-z])([0-9])')").collect())
    assert((multi.getMessage + Option(multi.getCause).map(_.getMessage).getOrElse(""))
      .contains("at most one capturing group"))
    val computed = intercept[Exception](
      bq.sql("SELECT REGEXP_EXTRACT('a1', CONCAT('[a-z]', '+'))").collect())
    assert((computed.getMessage + Option(computed.getCause).map(_.getMessage).getOrElse(""))
      .contains("string literal"))
  }

  test("FORMAT_TIMESTAMP / PARSE_TIMESTAMP reject computed formats with a clear error") {
    val e = intercept[Exception](
      bq.sql("SELECT FORMAT_TIMESTAMP(CONCAT('%Y', '-%m'), TIMESTAMP '2024-01-02 03:04:05')").collect())
    assert((e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
      .contains("format must be a string literal"))
    val p = intercept[Exception](
      bq.sql("SELECT PARSE_TIMESTAMP(CONCAT('%Y', '-%m'), '2024-01')").collect())
    assert((p.getMessage + Option(p.getCause).map(_.getMessage).getOrElse(""))
      .contains("format must be a string literal"))
  }

  test("STRPOS / ENDS_WITH / STARTS_WITH / ARRAY_REVERSE / ARRAY_CONCAT") {
    val r = bq.sql(
      "SELECT STRPOS('hello', 'l') p, STRPOS('hello', 'z') z, " +
        "ENDS_WITH('widget', 't') e, STARTS_WITH('widget', 'wid') s, " +
        "ARRAY_REVERSE(ARRAY(1, 2, 3)) rev, " +
        "ARRAY_CONCAT(ARRAY(1), ARRAY(2, 3)) cat").collect()(0)
    assert(r.getInt(0) == 3 && r.getInt(1) == 0)
    assert(r.getBoolean(2) && r.getBoolean(3))
    assert(r.getSeq[Int](4).toList == List(3, 2, 1))
    assert(r.getSeq[Int](5).toList == List(1, 2, 3))
  }

  test("FORMAT_TIMESTAMP / PARSE_TIMESTAMP with BigQuery %-patterns") {
    val r = bq.sql(
      "SELECT FORMAT_TIMESTAMP('%Y-%m-%d %H:%M:%S', TIMESTAMP '2024-06-15 13:45:31') f, " +
        "PARSE_TIMESTAMP('%Y-%m-%d %H:%M:%S', '2024-06-15 13:45:31') p").collect()(0)
    assert(r.getString(0) == "2024-06-15 13:45:31")
    assert(r.getTimestamp(1).toString.startsWith("2024-06-15 13:45:31"))
  }

  test("compat functions stay codegen-native (no UDF nodes in plan)") {
    val plan = bq.sql("SELECT SAFE_DIVIDE(x, 2) FROM VALUES (4.0) t(x)")
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("batchevalpython") && !plan.toLowerCase.contains("scalaudf"))
  }
}
