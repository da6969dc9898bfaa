package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Market-basket and customer-scoring analytics: association rules
  * (support/confidence/lift), RFM quintile segmentation, and
  * weight-of-evidence binning.
  *
  * Scale posture: pair generation stays INSIDE each order's bounded
  * item array (never a fact×fact self-join shuffle); global ranks go
  * through the bucket-offset composition (Buckets.globalRowNumber) so
  * no window ever sees a single partition of customer-scale data. All
  * ratios are single fixed-order double expressions over exact integer
  * or DECIMAL aggregates.
  *
  * Reference scope: the BigQuery analytics surface (reference
  * src/yacht/ SQL tests) — these are the canonical retail scoring
  * queries run on that dialect.
  */
object BasketOps {

  val defs: Map[String, QDef] = Map(

    // §2 25gt association rules over order baskets: co-occurring part
    // pairs with support / confidence / lift. Baskets reduce to ONE
    // sorted item array per order (items-per-order is bounded by the
    // order's line count); unordered pairs are generated inside the
    // array — per-order work is |basket|², never a fact self-join.
    // Min support is the Apriori-conventional ABSOLUTE occurrence count
    // (3): the synthetic baskets are unclustered, so the pair space
    // grows quadratically with the part dimension and co-occurrence
    // counts do NOT scale with corpus size — a corpus-relative
    // threshold would empty the result at larger SFs. Lift and
    // confidence are fixed-order doubles from exact counts; top 20 by
    // (lift DESC, pair ASC) — lift compares identically on both
    // engines because both compute the identical double expression.
    "q_assoc_rules" -> QDef(
      (s, dir) => {
        val items = Tables(s, dir, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct()
        val nOrders = items.select(countDistinct("o").as("n"))
        // Part-dim scale, referenced twice (antecedent + consequent
        // joins): cache so the fact-scale distinct feeding it runs once
        // for both references.
        val supp = Materialize.cache(items.groupBy("p").agg(count(lit(1)).as("sa")))
        val pairs = items
          .groupBy("o").agg(sort_array(collect_set(col("p"))).as("its"))
          .filter(size(col("its")) >= 2)
          .select(explode(expr(
            """flatten(transform(its, (x, i) ->
              |  transform(slice(its, i + 2, size(its)), y -> struct(x AS a, y AS b))))"""
              .stripMargin)).as("pr"))
          .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
          .agg(count(lit(1)).as("sab"))
        pairs
          .crossJoin(broadcast(nOrders))
          .filter(col("sab") >= 3)
          .join(supp.withColumnRenamed("p", "a").withColumnRenamed("sa", "ca"), "a")
          .join(supp.withColumnRenamed("p", "b").withColumnRenamed("sa", "cb"), "b")
          .select(col("a"), col("b"), col("sab"),
            (col("sab").cast("double") * col("n").cast("double") /
              (col("ca").cast("double") * col("cb").cast("double"))).as("liftx"),
            round(col("sab").cast("double") / col("ca").cast("double"), 6)
              .as("confidence"))
          .orderBy(col("liftx").desc, col("a").asc, col("b").asc)
          .limit(20)
          .select(col("a"), col("b"), col("sab").as("support"),
            round(col("liftx"), 6).as("lift"), col("confidence"))
      },
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |n AS (SELECT COUNT(DISTINCT o) AS n FROM items),
        |supp AS (SELECT p, COUNT(*) AS sa FROM items GROUP BY p),
        |pairs AS (
        |  SELECT x.p AS a, y.p AS b, COUNT(*) AS sab
        |  FROM items x JOIN items y ON x.o = y.o AND x.p < y.p
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT a, b, sab,
        |    CAST(sab AS DOUBLE) * CAST(n.n AS DOUBLE)
        |      / (CAST(ca.sa AS DOUBLE) * CAST(cb.sa AS DOUBLE)) AS liftx,
        |    ROUND(CAST(sab AS DOUBLE) / CAST(ca.sa AS DOUBLE), 6) AS confidence
        |  FROM pairs CROSS JOIN n
        |  JOIN supp ca ON ca.p = pairs.a
        |  JOIN supp cb ON cb.p = pairs.b
        |  WHERE sab >= 3)
        |SELECT a, b, sab AS support, ROUND(liftx, 6) AS lift, confidence
        |FROM scored ORDER BY liftx DESC, a ASC, b ASC LIMIT 20""".stripMargin),

    // §2 25gu RFM quintile segmentation: per-customer recency (days
    // from last order to the corpus max date), frequency (order count)
    // and monetary (exact DECIMAL revenue), each ranked globally via
    // the bucket-offset composition (THREE deployments — never a
    // global window over customers), scored into quintiles by the
    // exact integer formula 1 + ⌊5·(rank−1)/n⌋, then rolled up into
    // the ≤125 RFM segments. r_score 1 = most recent, f/m_score 5 =
    // most orders / highest spend.
    "q_rfm_segments" -> QDef(
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val maxd = o.agg(max(to_date(col("o_orderdate"))).as("mx"))
        val cust = o
          .groupBy("o_custkey")
          .agg(max(to_date(col("o_orderdate"))).as("last"),
            count(lit(1)).as("freq"),
            sum(col("o_totalprice").cast("decimal(18,2)")).as("mon"))
          .crossJoin(broadcast(maxd))
          .withColumn("rec", datediff(col("mx"), col("last")))
          .drop("mx", "last")
        // Cache the customer-dim frame ONCE and hang the three rank
        // pipelines off it as INDEPENDENT branches joined back on
        // o_custkey (customer-scale equi-joins, co-partitioned by the
        // join key). Chaining the ranks instead (score(score(score(…)))
        // re-derives the whole upstream inside every Buckets.assign
        // min/max aggregate and DOUBLES the plan tree per level — the
        // chained form planned 326 exchanges; this one is linear.
        val cc = Materialize.cache(cust)
        // |customers| rides along as a broadcast one-row aggregate, not
        // a driver-side count() — one action, one fused execution.
        val nrow = broadcast(cc.agg(count(lit(1)).as("nc")))
        // All three metrics rank through ONE partitioned bucket-offset
        // pipeline: unpivot to (metric, value) rows as EXACT BIGINTs
        // (rec/freq are integers; mon is a 2-dp DECIMAL scaled ×100) so
        // the rank order is exact at any scale — a double unpivot would
        // collide distinct monetary sums above 2⁵³/100 and tie-break by
        // custkey while the oracle tie-breaks by true value — then
        // per-metric min/max, per-(metric, bucket) prefix offsets, and
        // one windowed row_number partitioned by (metric, bucket).
        // Three separate rank branches plan ~3× the stages for identical
        // output; the fused pipeline is ~6 shuffles of 3·|customers|
        // tiny rows.
        val nb = 32
        val metrics = cc.select(col("o_custkey"), expr(
          """stack(3, 'r', cast(rec       as bigint),
            |         'f', cast(freq      as bigint),
            |         'm', cast(mon * 100 as bigint)) AS (met, v)""".stripMargin))
        val mm = metrics.groupBy("met").agg(min("v").as("lo"), max("v").as("hi"))
        val bucketed = metrics.join(broadcast(mm), "met")
          .withColumn("b", least(lit(nb - 1),
            floor((col("v") - col("lo")) / ((col("hi") - col("lo") + 0.001) / nb))
              .cast("int")))
        val offs = bucketed.groupBy("met", "b").agg(count(lit(1)).as("bn"))
          .withColumn("off_n", coalesce(sum("bn").over(
            Window.partitionBy("met").orderBy("b")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("met", "b", "off_n")
        val ranked = bucketed.join(broadcast(offs), Seq("met", "b"))
          .withColumn("i", col("off_n") + row_number().over(
            Window.partitionBy("met", "b").orderBy(col("v"), col("o_custkey"))))
          .crossJoin(nrow)
          .withColumn("sc",
            (lit(1) + floor(lit(5) * (col("i") - 1) / col("nc"))).cast("int"))
        val scored = ranked.groupBy("o_custkey")
          .agg(max(when(col("met") === "r", col("sc"))).as("r_score"),
            max(when(col("met") === "f", col("sc"))).as("f_score"),
            max(when(col("met") === "m", col("sc"))).as("m_score"))
          .join(cc.select("o_custkey", "mon"), "o_custkey")
        scored.groupBy("r_score", "f_score", "m_score")
          .agg(count(lit(1)).as("n_customers"),
            round(sum("mon").cast("double"), 2).as("revenue"))
          .orderBy("r_score", "f_score", "m_score")
      },
      """WITH maxd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mx FROM orders),
        |cust AS (
        |  SELECT o_custkey,
        |    date_diff('day', MAX(CAST(o_orderdate AS DATE)), (SELECT mx FROM maxd)) AS rec,
        |    COUNT(*) AS freq,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
        |  FROM orders GROUP BY o_custkey),
        |n AS (SELECT COUNT(*) AS n FROM cust),
        |ranked AS (
        |  SELECT o_custkey, mon,
        |    1 + CAST(FLOOR(5 * (ROW_NUMBER() OVER (ORDER BY rec, o_custkey) - 1) / n.n) AS INT)
        |      AS r_score,
        |    1 + CAST(FLOOR(5 * (ROW_NUMBER() OVER (ORDER BY freq, o_custkey) - 1) / n.n) AS INT)
        |      AS f_score,
        |    1 + CAST(FLOOR(5 * (ROW_NUMBER() OVER (ORDER BY mon, o_custkey) - 1) / n.n) AS INT)
        |      AS m_score
        |  FROM cust CROSS JOIN n)
        |SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
        |       ROUND(CAST(SUM(mon) AS DOUBLE), 2) AS revenue
        |FROM ranked GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // §2 25gv weight-of-evidence binning of order value against the
    // urgent-priority outcome — the classic credit-scoring feature
    // transform. Ten fixed-width bins over o_totalprice (the SAME
    // min/max + epsilon formula as Buckets.assign, mirrored verbatim in
    // the oracle); per-bin good/bad are exact integers; WOE =
    // ln(good·bad_tot / (bad·good_tot)) is one fixed-order double. The
    // +0.5 Laplace half-count keeps empty cells finite — identically on
    // both sides.
    "q_woe_binning" -> QDef(
      (s, dir) => {
        val o = Tables(s, dir, "orders")
          .select(col("o_totalprice").as("x"),
            (col("o_orderpriority") === "1-URGENT").cast("int").as("g"))
        val binned = Buckets.assign(o, col("x"), 10)
        val cells = binned.groupBy("b")
          .agg(sum("g").as("good"), sum(lit(1) - col("g")).as("bad"))
        val tot = cells.agg(sum("good").as("gt"), sum("bad").as("bt"))
        cells.crossJoin(broadcast(tot))
          .select(col("b").as("bin"), col("good"), col("bad"),
            round(log((col("good").cast("double") + 0.5) * col("bt").cast("double") /
              ((col("bad").cast("double") + 0.5) * col("gt").cast("double"))), 6)
              .as("woe"))
          .orderBy("bin")
      },
      """WITH o AS (
        |  SELECT CAST(o_totalprice AS DOUBLE) AS x,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
        |  FROM orders),
        |mm AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM o),
        |binned AS (
        |  SELECT LEAST(9, CAST(FLOOR((x - lo) / ((hi - lo + 0.001) / 10)) AS INT)) AS b, g
        |  FROM o CROSS JOIN mm),
        |cells AS (
        |  SELECT b, CAST(SUM(g) AS BIGINT) AS good, CAST(SUM(1 - g) AS BIGINT) AS bad FROM binned GROUP BY b),
        |tot AS (SELECT SUM(good) AS gt, SUM(bad) AS bt FROM cells)
        |SELECT b AS bin, good, bad,
        |  ROUND(LN((CAST(good AS DOUBLE) + 0.5) * CAST(bt AS DOUBLE) /
        |        ((CAST(bad AS DOUBLE) + 0.5) * CAST(gt AS DOUBLE))), 6) AS woe
        |FROM cells CROSS JOIN tot ORDER BY bin""".stripMargin)
  )
}
