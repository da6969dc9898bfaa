"""Seeded input generation for the benchmark.

Everything the engine reads is made here from the run's seed: the star
schema and the text/vector tables the operator suite reads (same names,
types and value ranges as the repository's test tables), and the
directory tree the DAG workload loads. The same seed gives the same
bytes.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
P_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "bright"]
P_NOUN = ["ring", "bolt", "plate", "gear", "nut", "spring", "valve", "pipe"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "de", "fr", "es"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start, end):
    """n midnight timestamps uniform in [start, end), as numpy datetime64[us]."""
    span = (end - start).days
    d = rng.integers(0, span, n)
    return np.datetime64(start, "us") + d.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, n):
    return np.array([f"{prefix}#{i:09d}" for i in range(n)], dtype=object)


def tables(seed, sf):
    """Every input table at scale factor `sf`, as {name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_line, n_evt = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_docs, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    p_name = np.char.add(np.char.add(rng.choice(P_ADJ, n_part), " "), rng.choice(P_NOUN, n_part))
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": p_name.astype(object),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).astype(object),
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(_days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 2)), pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": pa.array(_days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 5)), pa.timestamp("us"))})
    month_us = 30 * 86400 * 1000000
    ts = np.sort(rng.integers(0, month_us, n_evt)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(100, int(15000 * sf)), n_evt),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(rng.gamma(2.0, 40.0, n_evt), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], dtype=object)})
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.002:
            texts.append(texts[int(rng.integers(0, i))])  # an exact duplicate
            continue
        words = list(rng.choice(WORDS, int(rng.integers(10, 101))))
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def write_tables(tabs, out_dir, names=None):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tabs.items():
        if names is None or name in names:
            pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# The DAG workload's derived tables: two independent branches, at least
# four levels, joined by a UNION ALL summary. The SQL is the same text
# the engine and the DuckDB oracle run.
DAG_SOURCES = {"tpch": ["lineitem", "orders", "customer", "nation", "region", "part", "supplier"],
               "web": ["events"]}
DAG_SQL = {
    ("sales", "order_revenue"): """
SELECT o.o_orderkey, o.o_custkey, SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
       COUNT(*) AS line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderkey, o.o_custkey""",
    ("sales", "customer_revenue"): """
SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment, SUM(r.revenue) AS revenue,
       COUNT(*) AS order_count
FROM order_revenue r JOIN customer c ON r.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_nationkey, c.c_mktsegment""",
    ("sales", "nation_revenue"): """
SELECT n.n_name, g.r_name AS region, SUM(cr.revenue) AS revenue, COUNT(*) AS customer_count
FROM customer_revenue cr
JOIN nation n ON cr.c_nationkey = n.n_nationkey
JOIN region g ON n.n_regionkey = g.r_regionkey
GROUP BY n.n_name, g.r_name""",
    ("sales", "nation_rank"): """
SELECT region, n_name, revenue,
       RANK() OVER (PARTITION BY region ORDER BY revenue DESC) AS rnk
FROM nation_revenue""",
    ("sales", "segment_leaders"): """
SELECT c_mktsegment, c_custkey, revenue, rn FROM (
  SELECT c_mktsegment, c_custkey, revenue,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY revenue DESC, c_custkey) AS rn
  FROM customer_revenue) t
WHERE rn <= 5""",
    ("activity", "daily_events"): """
SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS event_count,
       COUNT(DISTINCT user_id) AS user_count, SUM(value) AS value_sum
FROM events
GROUP BY CAST(ts AS DATE), event_type""",
    ("activity", "daily_totals"): """
SELECT day, SUM(event_count) AS event_count, SUM(user_count) AS user_sum, SUM(value_sum) AS value_sum
FROM daily_events
GROUP BY day""",
    ("activity", "moving_average"): """
SELECT day, event_count,
       AVG(event_count) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS events_7d,
       AVG(value_sum) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS value_7d
FROM daily_totals""",
    ("activity", "type_mix"): """
SELECT event_type, SUM(event_count) AS event_count, MAX(user_count) AS peak_users
FROM daily_events
GROUP BY event_type""",
    ("reports", "summary"): """
SELECT 'nation' AS kind, n_name AS name, revenue AS metric FROM nation_rank WHERE rnk <= 2
UNION ALL
SELECT 'day' AS kind, CAST(day AS STRING) AS name, events_7d AS metric FROM moving_average""",
}
# Leaves (no derived table reads them) and the ORDER BY that makes each
# leaf's rows comparable one for one.
DAG_LEAVES = {
    "segment_leaders": "c_mktsegment, rn",
    "type_mix": "event_type",
    "summary": "kind, name",
}


def write_dag_tree(tabs, root):
    """Sources as project/dataset/table.parquet, derived tables as .sql."""
    for dataset, names in DAG_SOURCES.items():
        d = os.path.join(root, "bench", dataset)
        write_tables(tabs, d, names)
    for (dataset, name), sql in DAG_SQL.items():
        d = os.path.join(root, "bench", dataset)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{name}.sql"), "w") as f:
            f.write(sql.strip() + "\n")
