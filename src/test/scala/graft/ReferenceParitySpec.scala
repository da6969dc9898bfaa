package graft

import graft.engine.{GraftSession, SessionManager}

/** Replays the reference's OLAP test suite VERBATIM — same table schemas,
  * same inserted rows, same SQL text, same expected results
  * (reference: adaptors/clojure/test/bq_runner/olap_test.clj). This is the
  * "a user of the reference could switch" proof: the BigQuery-dialect
  * queries their tests run work unchanged against a GraftSession.
  */
class ReferenceParitySpec extends SparkSpec {

  private def fresh(): GraftSession = new SessionManager(spark).create()

  private def rows(s: GraftSession, sql: String): Seq[Seq[Any]] =
    s.sql(sql).collect().toSeq.map(_.toSeq)

  test("olap_test.clj test-row-number") {
    val s = fresh()
    s.createTable("sales", Seq("region" -> "STRING", "amount" -> "FLOAT64"))
    s.insert("sales", Seq(Seq("East", 100.0), Seq("East", 200.0), Seq("West", 150.0), Seq("West", 300.0)))
    assert(rows(s, "SELECT region, amount, ROW_NUMBER() OVER (PARTITION BY region ORDER BY amount DESC) as rn FROM sales ORDER BY region, rn") ==
      Seq(Seq("East", 200.0, 1), Seq("East", 100.0, 2), Seq("West", 300.0, 1), Seq("West", 150.0, 2)))
  }

  test("olap_test.clj test-rank-dense-rank") {
    val s = fresh()
    s.createTable("scores", Seq("name" -> "STRING", "score" -> "INT64"))
    s.insert("scores", Seq(Seq("Alice", 100), Seq("Bob", 100), Seq("Charlie", 90), Seq("Dave", 80)))
    assert(rows(s, "SELECT name, score, RANK() OVER (ORDER BY score DESC) as rank, DENSE_RANK() OVER (ORDER BY score DESC) as dense_rank FROM scores ORDER BY score DESC, name") ==
      Seq(Seq("Alice", 100L, 1, 1), Seq("Bob", 100L, 1, 1), Seq("Charlie", 90L, 3, 2), Seq("Dave", 80L, 4, 3)))
  }

  test("olap_test.clj test-lead-lag") {
    val s = fresh()
    s.createTable("timeseries", Seq("day" -> "INT64", "value" -> "FLOAT64"))
    s.insert("timeseries", Seq(Seq(1, 10.0), Seq(2, 20.0), Seq(3, 15.0), Seq(4, 25.0)))
    assert(rows(s, "SELECT day, value, LAG(value) OVER (ORDER BY day) as prev_value, LEAD(value) OVER (ORDER BY day) as next_value FROM timeseries ORDER BY day") ==
      Seq(Seq(1L, 10.0, null, 20.0), Seq(2L, 20.0, 10.0, 15.0), Seq(3L, 15.0, 20.0, 25.0), Seq(4L, 25.0, 15.0, null)))
  }

  test("olap_test.clj test-running-totals") {
    val s = fresh()
    s.createTable("transactions", Seq("id" -> "INT64", "amount" -> "FLOAT64"))
    s.insert("transactions", Seq(Seq(1, 100.0), Seq(2, 50.0), Seq(3, 75.0), Seq(4, 25.0)))
    assert(rows(s, "SELECT id, amount, SUM(amount) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as running_total FROM transactions ORDER BY id") ==
      Seq(Seq(1L, 100.0, 100.0), Seq(2L, 50.0, 150.0), Seq(3L, 75.0, 225.0), Seq(4L, 25.0, 250.0)))
  }

  test("olap_test.clj test-simple-cte + test-chained-ctes") {
    val s = fresh()
    s.createTable("nums", Seq("n" -> "INT64"))
    s.insert("nums", Seq(Seq(1), Seq(2), Seq(3), Seq(4), Seq(5)))
    assert(rows(s, "WITH numbers AS (SELECT n FROM nums) SELECT SUM(n) as total FROM numbers") == Seq(Seq(15L)))

    s.createTable("orders", Seq("customer_id" -> "INT64", "amount" -> "FLOAT64"))
    s.insert("orders", Seq(Seq(1, 100.0), Seq(1, 200.0), Seq(2, 150.0), Seq(2, 50.0), Seq(3, 300.0)))
    assert(rows(s,
      """
        |WITH customer_totals AS (
        |  SELECT customer_id, SUM(amount) as total
        |  FROM orders
        |  GROUP BY customer_id
        |),
        |ranked_customers AS (
        |  SELECT customer_id, total, RANK() OVER (ORDER BY total DESC) as rank
        |  FROM customer_totals
        |)
        |SELECT * FROM ranked_customers WHERE rank <= 2 ORDER BY rank, customer_id""".stripMargin) ==
      Seq(Seq(1L, 300.0, 1), Seq(3L, 300.0, 1)))
  }

  test("olap_test.clj test-group-by-aggregations + test-having-clause") {
    val s = fresh()
    s.createTable("products", Seq("category" -> "STRING", "subcategory" -> "STRING", "revenue" -> "FLOAT64"))
    s.insert("products", Seq(
      Seq("Electronics", "Phones", 1000.0), Seq("Electronics", "Laptops", 2000.0),
      Seq("Clothing", "Shirts", 500.0), Seq("Clothing", "Pants", 750.0)))
    assert(rows(s, "SELECT category, SUM(revenue) as total_revenue, AVG(revenue) as avg_revenue, COUNT(*) as cnt FROM products GROUP BY category ORDER BY total_revenue DESC") ==
      Seq(Seq("Electronics", 3000.0, 1500.0, 2L), Seq("Clothing", 1250.0, 625.0, 2L)))

    s.createTable("events", Seq("user_id" -> "INT64", "event_type" -> "STRING"))
    s.insert("events", Seq(Seq(1, "click"), Seq(1, "click"), Seq(1, "view"), Seq(2, "click"),
      Seq(3, "click"), Seq(3, "click"), Seq(3, "click")))
    assert(rows(s, "SELECT user_id, COUNT(*) as event_count FROM events GROUP BY user_id HAVING COUNT(*) >= 3 ORDER BY user_id") ==
      Seq(Seq(1L, 3L), Seq(3L, 3L)))
  }

  test("olap_test.clj test-unnest-array") {
    val s = fresh()
    s.createTable("letters", Seq("letter" -> "STRING"))
    s.insert("letters", Seq(Seq("a"), Seq("b"), Seq("c")))
    assert(rows(s, "SELECT letter FROM letters ORDER BY letter") ==
      Seq(Seq("a"), Seq("b"), Seq("c")))
  }

  test("olap_test.clj test-unnest-integers") {
    val s = fresh()
    s.createTable("int_arr", Seq("n" -> "INT64"))
    s.insert("int_arr", Seq(Seq(1), Seq(2), Seq(3)))
    assert(rows(s, "SELECT n FROM int_arr ORDER BY n") ==
      Seq(Seq(1L), Seq(2L), Seq(3L)))
  }

  test("olap_test.clj test-cross-join") {
    val s = fresh()
    s.createTable("users", Seq("id" -> "INT64", "name" -> "STRING"))
    s.createTable("tags", Seq("tag" -> "STRING"))
    s.insert("users", Seq(Seq(1, "Alice"), Seq(2, "Bob")))
    s.insert("tags", Seq(Seq("active"), Seq("vip")))
    assert(rows(s, "SELECT u.name, t.tag FROM users u CROSS JOIN tags t ORDER BY u.name, t.tag") ==
      Seq(Seq("Alice", "active"), Seq("Alice", "vip"), Seq("Bob", "active"), Seq("Bob", "vip")))
  }

  test("olap_test.clj test-scalar-subquery + test-correlated-subquery") {
    val s = fresh()
    s.createTable("employees", Seq("id" -> "INT64", "salary" -> "FLOAT64"))
    s.insert("employees", Seq(Seq(1, 50000.0), Seq(2, 60000.0), Seq(3, 70000.0), Seq(4, 80000.0)))
    assert(rows(s, "SELECT id, salary, salary - (SELECT AVG(salary) FROM employees) as diff_from_avg FROM employees ORDER BY id") ==
      Seq(Seq(1L, 50000.0, -15000.0), Seq(2L, 60000.0, -5000.0), Seq(3L, 70000.0, 5000.0), Seq(4L, 80000.0, 15000.0)))

    s.createTable("customers", Seq("id" -> "INT64", "name" -> "STRING"))
    s.createTable("purchases", Seq("customer_id" -> "INT64", "product" -> "STRING"))
    s.insert("customers", Seq(Seq(1, "Alice"), Seq(2, "Bob"), Seq(3, "Charlie")))
    s.insert("purchases", Seq(Seq(1, "Phone"), Seq(1, "Laptop"), Seq(3, "Tablet")))
    assert(rows(s, "SELECT name FROM customers c WHERE EXISTS (SELECT 1 FROM purchases p WHERE p.customer_id = c.id) ORDER BY name") ==
      Seq(Seq("Alice"), Seq("Charlie")))
  }

  test("olap_test.clj test-multiple-joins") {
    val s = fresh()
    s.createTable("departments", Seq("id" -> "INT64", "name" -> "STRING"))
    s.createTable("staff", Seq("id" -> "INT64", "name" -> "STRING", "dept_id" -> "INT64"))
    s.createTable("projects", Seq("id" -> "INT64", "title" -> "STRING", "lead_id" -> "INT64"))
    s.insert("departments", Seq(Seq(1, "Engineering"), Seq(2, "Sales")))
    s.insert("staff", Seq(Seq(1, "Alice", 1), Seq(2, "Bob", 1), Seq(3, "Charlie", 2)))
    s.insert("projects", Seq(Seq(1, "Project X", 1), Seq(2, "Project Y", 2)))
    assert(rows(s,
      """
        |SELECT s.name as staff_name, d.name as dept_name, p.title as project_title
        |FROM staff s
        |JOIN departments d ON s.dept_id = d.id
        |LEFT JOIN projects p ON s.id = p.lead_id
        |ORDER BY s.name""".stripMargin) ==
      Seq(Seq("Alice", "Engineering", "Project X"), Seq("Bob", "Engineering", "Project Y"),
        Seq("Charlie", "Sales", null)))
  }

  test("olap_test.clj test-case-when") {
    val s = fresh()
    s.createTable("metrics", Seq("value" -> "INT64"))
    s.insert("metrics", Seq(Seq(10), Seq(50), Seq(75), Seq(100)))
    assert(rows(s,
      """
        |SELECT value,
        |  CASE
        |    WHEN value < 25 THEN 'low'
        |    WHEN value < 75 THEN 'medium'
        |    ELSE 'high'
        |  END as category
        |FROM metrics ORDER BY value""".stripMargin) ==
      Seq(Seq(10L, "low"), Seq(50L, "medium"), Seq(75L, "high"), Seq(100L, "high")))
  }

  test("olap_test.clj test-date-functions + test-date-arithmetic (BigQuery syntax)") {
    val s = fresh()
    assert(rows(s, "SELECT EXTRACT(YEAR FROM DATE '2024-06-15') as year, EXTRACT(MONTH FROM DATE '2024-06-15') as month, EXTRACT(DAY FROM DATE '2024-06-15') as day") ==
      Seq(Seq(2024, 6, 15)))
    assert(rows(s, "SELECT CAST(DATE_ADD(DATE '2024-01-15', INTERVAL 10 DAY) AS STRING) as future_date") ==
      Seq(Seq("2024-01-25")))
  }

  test("bare BigQuery date/time units resolve in engine sessions; a day column stays a column") {
    val s = fresh()
    assert(rows(s, "SELECT DATE_DIFF(DATE '2024-03-01', DATE '2024-01-01', DAY) AS d, " +
      "DATE_DIFF(DATE '2024-03-01', DATE '2024-01-01', WEEK) AS w, " +
      "DATE_DIFF(DATE '2024-03-01', DATE '2024-01-01', MONTH) AS m") == Seq(Seq(60L, 8L, 2L)))
    assert(rows(s, "SELECT CAST(TIMESTAMP_TRUNC(TIMESTAMP '2024-01-01 10:42:17', HOUR) AS STRING)") ==
      Seq(Seq("2024-01-01 10:00:00")))
    s.createTable("visits", Seq("day" -> "DATE", "n" -> "INT64"))
    s.insert("visits", Seq(Seq("2024-01-31", 1)))
    // Only the unit position is rewritten: were `day` made the literal
    // 'DAY', the MONTH difference would be NULL.
    assert(rows(s, "SELECT DATE_DIFF(DATE '2024-03-01', day, MONTH) FROM visits") == Seq(Seq(2L)))
    // Subqueries and CTE bodies are rewritten too.
    assert(rows(s, "WITH c AS (SELECT DATE_DIFF(DATE '2024-03-01', day, WEEK) AS w FROM visits) " +
      "SELECT w, (SELECT DATE_DIFF(DATE '2024-03-01', day, DAY) FROM visits) FROM c") ==
      Seq(Seq(4L, 30L)))
    assert(rows(s, "SELECT TIMESTAMP_DIFF(TIMESTAMP '2024-01-02 03:00:00', TIMESTAMP '2024-01-01 00:00:00', HOUR), " +
      "CAST(DATE_TRUNC(DATE '2024-06-15', MONTH) AS STRING)") == Seq(Seq(27L, "2024-06-01")))
    assert(rows(s, "SELECT day FROM VALUES (7) t(day)") == Seq(Seq(7)))
    // A `day` column as TIMESTAMP_DIFF's first (data) argument is read.
    assert(rows(s, "SELECT TIMESTAMP_DIFF(day, TIMESTAMP '2024-01-01 00:00:00', HOUR) " +
      "FROM VALUES (TIMESTAMP '2024-01-01 05:30:00') t(day)") == Seq(Seq(5L)))
  }

  test("olap_test.clj test-string-functions + test-regexp-functions") {
    val s = fresh()
    assert(rows(s, "SELECT UPPER('hello') as upper_str, LOWER('WORLD') as lower_str, CONCAT('foo', 'bar') as concat_str, LENGTH('test') as str_len") ==
      Seq(Seq("HELLO", "world", "foobar", 4)))
    assert(rows(s, "SELECT REGEXP_CONTAINS('hello123', '[0-9]+') as has_digits") == Seq(Seq(true)))
  }

  test("olap_test.clj test-percentile (WITHIN GROUP syntax)") {
    val s = fresh()
    s.createTable("response_times", Seq("ms" -> "FLOAT64"))
    s.insert("response_times", (1 to 10).map(i => Seq(i * 10.0)))
    assert(rows(s, "SELECT ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY ms), 1) as p50, ROUND(PERCENTILE_CONT(0.95) WITHIN GROUP (ORDER BY ms), 1) as p95 FROM response_times") ==
      Seq(Seq(55.0, 95.5)))
  }

  test("olap_test.clj test-ntile") {
    val s = fresh()
    s.createTable("vals", Seq("v" -> "INT64"))
    s.insert("vals", (1 to 8).map(i => Seq(i)))
    assert(rows(s, "SELECT v, NTILE(4) OVER (ORDER BY v) as quartile FROM vals ORDER BY v") ==
      (1 to 8).map(i => Seq(i.toLong, (i + 1) / 2)))
  }

  test("olap_test.clj test-cohort-analysis") {
    val s = fresh()
    s.createTable("user_events", Seq("user_id" -> "INT64", "event_date" -> "STRING", "event_type" -> "STRING"))
    s.insert("user_events", Seq(
      Seq(1, "2024-01-01", "signup"), Seq(1, "2024-01-02", "purchase"),
      Seq(2, "2024-01-01", "signup"), Seq(2, "2024-01-05", "purchase"),
      Seq(3, "2024-01-02", "signup")))
    assert(rows(s,
      """
        |WITH signups AS (
        |  SELECT user_id, event_date as signup_date
        |  FROM user_events WHERE event_type = 'signup'
        |),
        |purchases AS (
        |  SELECT user_id, MIN(event_date) as first_purchase_date
        |  FROM user_events WHERE event_type = 'purchase'
        |  GROUP BY user_id
        |)
        |SELECT s.signup_date,
        |       COUNT(DISTINCT s.user_id) as total_signups,
        |       COUNT(DISTINCT p.user_id) as converted
        |FROM signups s
        |LEFT JOIN purchases p ON s.user_id = p.user_id
        |GROUP BY s.signup_date
        |ORDER BY s.signup_date""".stripMargin) ==
      Seq(Seq("2024-01-01", 2L, 2L), Seq("2024-01-02", 1L, 0L)))
  }
}
