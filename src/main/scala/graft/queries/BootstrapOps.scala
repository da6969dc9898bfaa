package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Poisson bootstrap confidence interval (Chamandy et al. 2012, "Estimating
  * Uncertainty for Massive Data Streams" — THE distributed bootstrap: a
  * classical resample needs N draws coordinated across the cluster, but
  * Poisson(1) per-row weights are iid, so each replica is one weighted
  * aggregation and all B replicas ride a single pass). B=32 replicas of
  * mean(o_totalprice); the 95% CI is the (2nd, 31st) order statistics of
  * the replica means.
  *
  * Determinism: the per-(row, replica) Poisson(1) draw inverts the CDF
  * at a uniform derived from md5(orderkey ':' b) — the first 8 hex chars
  * compared LEXICOGRAPHICALLY against literal hex thresholds
  * floor(cdf·2³²) computed once in Scala and spliced into both engines
  * (same-length lowercase hex compares as its numeric value, so no hex
  * parsing and no float in the draw at all). Weighted sums are exact
  * DECIMAL (weight is an integer, the price quantized to 2-dp); doubles
  * appear only in the final per-replica division.
  *
  * 100 TB posture: the replica explode is map-side (B weight draws per
  * row) feeding a partial-mergeable aggregation that reduces to B rows
  * per partition BEFORE the exchange — the shuffle carries B×partitions
  * rows, never B× the corpus; the order statistics run over the B-row
  * replica table.
  */
object BootstrapOps {

  private val B = 32

  /** Poisson(1) CDF at k = 0..8 as 8-hex-char thresholds of floor(c·2³²):
    * the weight is the number of thresholds at or below the uniform.
    */
  private[queries] val HexThresholds: Seq[String] = {
    val pdf = Iterator.iterate((0, math.exp(-1.0))) { case (k, p) => (k + 1, p / (k + 1)) }
    val cdf = pdf.take(9).map(_._2).scanLeft(0.0)(_ + _).drop(1)
    cdf.map(c => f"${math.floor(c * 4294967296.0).toLong}%08x").toSeq
  }

  /** Numeric thresholds for the native kernel: the same floor(cdf·2³²)
    * integers the 8-hex-char literals encode (the hex string compare on
    * fixed-width lowercase hex IS the unsigned-integer compare — the
    * parity argument in the class doc).
    */
  private[queries] val LongThresholds: Seq[Long] =
    HexThresholds.map(java.lang.Long.parseLong(_, 16))

  def defs: Map[String, QDef] = Map(
    "q_poisson_bootstrap" -> QDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val o = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice").cast("decimal(18,2)").as("x"))
        // All B weights per ROW in one native pass
        // (graftbridge.PoissonKernel — one reused digest; the expression
        // form exploded B rows per order and re-built string + fresh-
        // MessageDigest md5 + 9 hex-string compares per exploded row),
        // then the B replica sums ride ONE partial aggregation as 2B sum
        // columns (the SpectralOps matvec shape) instead of a B×corpus
        // exploded groupBy. Weight values and the decimal/long sums are
        // identical integers/decimals (kernel equality pinned by
        // BootstrapKernelSpec; decimal addition order-independent), so
        // every mean_b is bit-identical.
        val wArr = o.withColumn("w",
          graft.functions.GraftFunctions.poissonWeights(col("o_orderkey"), B, LongThresholds))
        val aggs = (0 until B).flatMap(b => Seq(
          sum(element_at(col("w"), b + 1) * col("x")).as(s"swx$b"),
          sum(element_at(col("w"), b + 1)).as(s"sw$b")))
        val sums = wArr.agg(aggs.head, aggs.tail: _*)
        val means = sums.select(explode(array((0 until B).map(b =>
            struct(lit(b).as("b"),
              round(col(s"swx$b").cast("double") / col(s"sw$b"), 6).as("mean_b"))): _*)).as("e"))
          .select(col("e.b").as("b"), col("e.mean_b").as("mean_b"))
        // Order statistics over the B-row replica table (tiny window).
        val ranked = means.withColumn("rk",
          row_number().over(Window.orderBy(col("mean_b"), col("b"))))
        val ci = ranked.agg(
          min(when(col("rk") === 2, col("mean_b"))).as("ci_lo"),
          min(when(col("rk") === B - 1, col("mean_b"))).as("ci_hi"))
        o.agg(count(lit(1)).as("n"), sum("x").as("sx"))
          .select(col("n"),
            round(col("sx").cast("double") / col("n"), 6).as("mean"),
            lit(B.toLong).as("b_replicas"))
          .crossJoin(broadcast(ci))
          .select(col("n"), col("mean"), col("b_replicas"), col("ci_lo"), col("ci_hi"))
      },
      s"""WITH o AS (
        |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS x FROM orders),
        |rep AS (
        |  SELECT o_orderkey, x, unnest(range(0, $B)) AS b FROM o),
        |u AS (
        |  SELECT b, x,
        |    substr(md5(CAST(o_orderkey AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 8)
        |      AS u
        |  FROM rep),
        |wts AS (
        |  SELECT b, x,
        |    ${HexThresholds.map(t => s"(CASE WHEN u >= '$t' THEN 1 ELSE 0 END)")
        .mkString(" + ")} AS w
        |  FROM u),
        |means AS (
        |  SELECT b, ROUND(CAST(SUM(w * x) AS DOUBLE) / SUM(w), 6) AS mean_b
        |  FROM wts GROUP BY b),
        |ranked AS (
        |  SELECT mean_b, ROW_NUMBER() OVER (ORDER BY mean_b, b) AS rk FROM means),
        |ci AS (
        |  SELECT MIN(CASE WHEN rk = 2 THEN mean_b END) AS ci_lo,
        |         MIN(CASE WHEN rk = ${B - 1} THEN mean_b END) AS ci_hi
        |  FROM ranked)
        |SELECT COUNT(*) AS n,
        |  ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS mean,
        |  CAST($B AS BIGINT) AS b_replicas, ci.ci_lo, ci.ci_hi
        |FROM o CROSS JOIN ci
        |GROUP BY ci.ci_lo, ci.ci_hi""".stripMargin)
  )
}
