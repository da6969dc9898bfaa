"""Test cases the rpc_testsuite workload replays against the server.

They are the reference client's OLAP, client and DAG test cases (the
ones ReferenceParitySpec and ReferenceDagClientParitySpec replay), with
the same schemas and SQL text, but with about a thousand seeded rows per
table instead of a handful. Each query carries the form DuckDB runs over
the same rows (None when the text is the same), and an ORDER BY that
makes its rows comparable one for one.

A case is a dict:
  name      -- the reference test it replays
  tables    -- [(table, [(column, BigQuery type)], rows)] created with
               bq.createTable and filled with bq.insert batches
  dag       -- optional [(table, sql)] derived tables; when present the
               tables are registered as DAG sources with bq.registerDag
               and the DAG is run with bq.runDag instead
  directory -- optional: the tables are written as parquet and the dag
               SQL as .sql files under one project/dataset directory,
               loaded with bq.loadDagFromDirectory and run with
               bq.runDag, then cleared with bq.clearDag
  queries   -- [(BigQuery-dialect SQL, DuckDB SQL or None)]
  describe  -- the case ends with bq.describeTable on its first table
               (every other case) or with bq.listTables (the rest)
"""
import random

INSERT_BATCH = 500


def _distinct_amounts(rng, n, scale=1.25):
    vals = list(range(1, n + 1))
    rng.shuffle(vals)
    return [round(v * scale + 10, 2) for v in vals]


def _case(name, tables, queries, dag=None, directory=False):
    return {"name": name, "tables": tables, "queries": queries, "dag": dag, "directory": directory}


def build(seed):
    """All cases, with rows drawn from `seed`."""
    rng = random.Random(seed)
    regions = ["East", "West", "North", "South", "Central", "Coast", "Hills", "Plains"]
    cases = []

    n = 1000
    amounts = _distinct_amounts(rng, n)
    cases.append(_case("olap_test.clj test-row-number", [
        ("sales", [("region", "STRING"), ("amount", "FLOAT64")],
         [[rng.choice(regions), a] for a in amounts])], [
        ("SELECT region, amount, ROW_NUMBER() OVER (PARTITION BY region ORDER BY amount DESC) as rn "
         "FROM sales ORDER BY region, rn", None)]))

    cases.append(_case("olap_test.clj test-simple-cte + test-chained-ctes", [
        ("nums", [("n", "INT64")], [[rng.randint(1, 1000)] for _ in range(n)]),
        # Whole amounts: the sums that RANK orders are exact in both engines,
        # so a tie is a tie in both.
        ("orders", [("customer_id", "INT64"), ("amount", "FLOAT64")],
         [[rng.randint(1, 200), float(rng.randint(10, 500))] for _ in range(n)])], [
        ("WITH numbers AS (SELECT n FROM nums) SELECT SUM(n) as total FROM numbers", None),
        ("WITH customer_totals AS (SELECT customer_id, SUM(amount) as total FROM orders GROUP BY customer_id), "
         "ranked_customers AS (SELECT customer_id, total, RANK() OVER (ORDER BY total DESC) as rank "
         "FROM customer_totals) SELECT * FROM ranked_customers WHERE rank <= 20 ORDER BY rank, customer_id", None)]))

    cases.append(_case("olap_test.clj test-scalar-subquery + test-correlated-subquery", [
        ("employees", [("id", "INT64"), ("salary", "FLOAT64")],
         [[i, float(rng.randint(300, 1500) * 100)] for i in range(n)]),
        ("customers", [("id", "INT64"), ("name", "STRING")], [[i, f"cust_{i:04d}"] for i in range(400)]),
        ("purchases", [("customer_id", "INT64"), ("product", "STRING")],
         [[rng.randint(0, 599), rng.choice(["Phone", "Laptop", "Tablet"])] for _ in range(600)])], [
        ("SELECT id, salary, salary - (SELECT AVG(salary) FROM employees) as diff_from_avg "
         "FROM employees ORDER BY id", None),
        ("SELECT name FROM customers c WHERE EXISTS (SELECT 1 FROM purchases p WHERE p.customer_id = c.id) "
         "ORDER BY name", None)]))

    cases.append(_case("olap_test.clj test-date-functions + test-date-arithmetic", [
        ("dates", [("id", "INT64"), ("d", "DATE")],
         [[i, f"{rng.randint(2015, 2025)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"] for i in range(n)])], [
        ("SELECT id, EXTRACT(YEAR FROM d) as year, EXTRACT(MONTH FROM d) as month, EXTRACT(DAY FROM d) as day "
         "FROM dates ORDER BY id", None),
        ("SELECT id, CAST(DATE_ADD(d, INTERVAL 10 DAY) AS STRING) as future_date FROM dates ORDER BY id",
         "SELECT id, CAST(CAST(d + INTERVAL 10 DAY AS DATE) AS VARCHAR) as future_date FROM dates ORDER BY id")]))

    cohort_rows = []
    for u in range(400):
        cohort_rows.append([u, f"2024-01-{rng.randint(1, 20):02d}", "signup"])
        for _ in range(rng.randint(0, 2)):
            cohort_rows.append([u, f"2024-01-{rng.randint(1, 28):02d}", "purchase"])
    cases.append(_case("olap_test.clj test-cohort-analysis", [
        ("user_events", [("user_id", "INT64"), ("event_date", "STRING"), ("event_type", "STRING")], cohort_rows)], [
        ("WITH signups AS (SELECT user_id, event_date as signup_date FROM user_events WHERE event_type = 'signup'), "
         "purchases AS (SELECT user_id, MIN(event_date) as first_purchase_date FROM user_events "
         "WHERE event_type = 'purchase' GROUP BY user_id) "
         "SELECT s.signup_date, COUNT(DISTINCT s.user_id) as total_signups, COUNT(DISTINCT p.user_id) as converted "
         "FROM signups s LEFT JOIN purchases p ON s.user_id = p.user_id GROUP BY s.signup_date "
         "ORDER BY s.signup_date", None)]))

    cases.append(_case("client_test.clj test-simple-query + test-bigquery-syntax", [
        ("kv", [("k", "INT64"), ("v", "STRING")], [[i, f"v{rng.randint(0, 50)}"] for i in range(n)])], [
        ("SELECT 1 AS num, 'hello' AS greeting", None),
        ("SELECT * FROM UNNEST([1, 2, 3]) AS num ORDER BY num",
         "SELECT * FROM (SELECT UNNEST([1, 2, 3]) AS num) ORDER BY num"),
        ("SELECT v, COUNT(*) AS cnt FROM kv GROUP BY v ORDER BY v", None)]))

    cases.append(_case("dag_test.clj test-dag-complex-pipeline", [
        ("events", [("user_id", "INT64"), ("event_type", "STRING"), ("value", "FLOAT64")],
         [[rng.randint(1, 200), rng.choice(["click", "view", "buy"]), float(rng.randint(0, 50))]
          for _ in range(n)])], [
        ("SELECT * FROM event_counts ORDER BY event_type", None),
        ("SELECT * FROM top_user", None)], dag=[
        ("event_counts", "SELECT event_type, COUNT(*) as cnt FROM events GROUP BY event_type"),
        ("user_stats", "SELECT user_id, SUM(value) as total_value FROM events GROUP BY user_id"),
        ("top_user", "SELECT user_id, total_value FROM user_stats ORDER BY total_value DESC, user_id LIMIT 1")]))

    cases.append(_case("bq.loadDagFromDirectory loads parquet AND sql", [
        ("facts", [("id", "INT64"), ("kind", "STRING"), ("amount", "FLOAT64")],
         [[i, rng.choice(["a", "b", "c", "d"]), round(rng.uniform(1, 100), 2)] for i in range(n)])], [
        ("SELECT * FROM report", None),
        ("SELECT * FROM by_kind ORDER BY kind", None)], dag=[
        ("report", "SELECT COUNT(*) AS cnt, SUM(amount) AS total FROM facts"),
        ("by_kind", "SELECT kind, COUNT(*) AS cnt, AVG(amount) AS mean FROM facts GROUP BY kind")],
        directory=True))
    for i, c in enumerate(cases):
        c["describe"] = i % 2 == 0
    return cases


def write_directory(case, root):
    """Lay a directory case out as root/project/dataset/{table.parquet, derived.sql}."""
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = os.path.join(root, "suite", "facts")
    os.makedirs(d, exist_ok=True)
    arrow = {"INT64": pa.int64(), "FLOAT64": pa.float64(), "STRING": pa.string()}
    for name, schema, rows in case["tables"]:
        cols = list(zip(*rows))
        pq.write_table(pa.table({c: pa.array(cols[i], arrow[t]) for i, (c, t) in enumerate(schema)}),
                       os.path.join(d, f"{name}.parquet"))
    for name, sql in case["dag"]:
        with open(os.path.join(d, f"{name}.sql"), "w") as f:
            f.write(sql + "\n")
    return root


def failing_case():
    """A case whose query the server must reject (the self-test's erroring request)."""
    return dict(_case("self-test: query over a table that does not exist", [
        ("present", [("x", "INT64")], [[1], [2]])], [
        ("SELECT * FROM absent_table", None)]), describe=True)


DUCK_TYPES = {"INT64": "BIGINT", "FLOAT64": "DOUBLE", "STRING": "VARCHAR", "DATE": "DATE", "BOOL": "BOOLEAN"}


def expected(case):
    """The DuckDB answer to each query of `case`, plus each table's row count."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for name, schema, rows in case["tables"]:
        frame = pd.DataFrame(rows, columns=[c for c, _ in schema])
        con.register("incoming", frame)
        cols = ", ".join(f'CAST("{c}" AS {DUCK_TYPES[t]}) AS "{c}"' for c, t in schema)
        con.execute(f"CREATE TABLE {name} AS SELECT {cols} FROM incoming")
        con.unregister("incoming")
    for name, sql in case["dag"] or []:
        con.execute(f"CREATE VIEW {name} AS {sql}")
    answers = []
    for bq_sql, duck_sql in case["queries"]:
        try:
            answers.append(con.execute(duck_sql or bq_sql).fetchall())
        except Exception:  # the self-test's erroring query has no answer
            answers.append(None)
    con.close()
    return answers
