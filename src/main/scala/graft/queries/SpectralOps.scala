package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Distributed POWER ITERATION on the embedding second-moment matrix
  * M = Σ v·vᵀ — the top principal direction of a corpus, the building
  * block for PCA whitening, spectral outlier pruning and low-rank
  * compression of embedding stores.
  *
  * Scale shape: M (d×d) is NEVER materialized. Each iteration computes
  * y = M·x = Σ v·(v·x) as one map pass (per-row dot against the literal
  * x) plus one partial-aggregated shuffle keyed by the d vector
  * positions; the d-vector comes back to the driver (d doubles — the
  * codebook-scale collect this repo's ANN tier already uses), gets
  * normalized, and feeds the next iteration as a literal. Three
  * iterations = three passes over the corpus, each embarrassingly
  * parallel — the identical plan at 100 TB.
  *
  * Verification (tolerance-gate pattern, like the ANN/HLL rows): the
  * mathematical contracts of power iteration on a PSD matrix, emitted
  * as booleans — unit norm, Rayleigh-quotient monotonicity across
  * iterations, convergence alignment, and top-eigenvalue dominance over
  * the average eigenvalue (trace/d) — plus exact row/dim anchors DuckDB
  * recomputes.
  */
object SpectralOps {

  import VectorOps.asDouble

  private def emb(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "embeddings")

  /** One matvec: y = Σ v·(v·x) with x a literal — a single job (map
    * pass + d-key partial-agg shuffle). The Rayleigh numerator needs no
    * second pass: with |x| = 1, xᵀMx = x·(Mx) = x·y, a d-length driver
    * dot product.
    */
  private def matvec(vecs: DataFrame, x: Seq[Double]): (Seq[Double], Double) = {
    val xl = typedlit(x)
    // y's d components as d sum columns of ONE partial aggregation
    // (same per-row products v[j]·(v·x), same partition-wise partial-sum
    // merge class) instead of posexplode → n×d rows → a d-key exchange →
    // collect_list/sort. One codegen'd map stage and a 1-row merge per
    // iteration; at 100 TB the shuffle carries d doubles per partition
    // either way, but the n×d row materialization is gone.
    val sums = (0 until x.length).map(j =>
      sum(element_at(col("v"), j + 1) * col("dp")).as(s"y$j"))
    val row = vecs
      .select(col("v"), graft.functions.GraftFunctions.dot(col("v"), xl).as("dp"))
      .agg(sums.head, sums.tail: _*)
      .head()
    val y = (0 until x.length).map(row.getDouble)
    val rayleigh = x.zip(y).map { case (a, b) => a * b }.sum
    (y, rayleigh)
  }

  private def normalize(y: Seq[Double]): Seq[Double] = {
    val n = math.sqrt(y.map(x => x * x).sum)
    if (n == 0.0) y else y.map(_ / n)
  }

  /** Block matvec: (M·x1, M·x2) in ONE corpus pass — two per-row dots
    * against the literal block, one posexplode, one d-key partial agg
    * carrying both component sums. Returns the two images and their
    * Rayleigh quotients x·(Mx). Subspace iteration's whole point at
    * scale: k directions cost ONE pass, not k.
    */
  private def matvec2(vecs: DataFrame, x1: Seq[Double], x2: Seq[Double])
      : (Seq[Double], Seq[Double], Double, Double) = {
    // Same shape as [[matvec]]: 2d sum columns in ONE partial
    // aggregation replace the posexplode + d-key exchange.
    val d = x1.length
    val sums = (0 until d).map(j =>
      sum(element_at(col("v"), j + 1) * col("d1")).as(s"a$j")) ++
      (0 until d).map(j =>
        sum(element_at(col("v"), j + 1) * col("d2")).as(s"b$j"))
    val row = vecs
      .select(col("v"),
        graft.functions.GraftFunctions.dot(col("v"), typedlit(x1)).as("d1"),
        graft.functions.GraftFunctions.dot(col("v"), typedlit(x2)).as("d2"))
      .agg(sums.head, sums.tail: _*)
      .head()
    val y1 = (0 until d).map(row.getDouble)
    val y2 = (0 until d).map(j => row.getDouble(d + j))
    (y1, y2,
      x1.zip(y1).map { case (a, b) => a * b }.sum,
      x2.zip(y2).map { case (a, b) => a * b }.sum)
  }

  val defs: Map[String, QDef] = Map(

    // §2 25fj top principal direction of the embedding corpus.
    "emb_top_eigvec" -> QDef(
      (s, dir) => {
        val vecs = Materialize.cache(Eval.barrier(Eval.fanOut(
          emb(s, dir).select(col("vec_id"), asDouble(col("embedding")).as("v")))))
        val d = vecs.select(size(col("v"))).head().getInt(0)
        // Deterministic start: uniform direction.
        var x: Seq[Double] = normalize(Seq.fill(d)(1.0))
        var rayleighs = Vector.empty[Double]
        var prev = x
        // 8 iterations: the synthetic embeddings have a FLAT spectrum
        // (λ2/λ1 ≈ 0.98), so convergence is slow by construction —
        // measured alignment after 8 rounds is ~0.9967 at sf0.01 and
        // ~0.9985 at sf0.1 against the 0.99 gate.
        for (_ <- 1 to 8) {
          val (y, r) = matvec(vecs, x)
          rayleighs :+= r
          prev = x
          x = normalize(y)
        }
        val anchors = vecs.agg(
          sum(graft.functions.GraftFunctions.dot(col("v"), col("v"))).as("trace"),
          count(lit(1)).as("n")).head()
        val trace = anchors.getDouble(0)
        val nvec = anchors.getLong(1)
        val align = math.abs(x.zip(prev).map { case (a, b) => a * b }.sum)
        val norm = math.sqrt(x.map(a => a * a).sum)
        import s.implicits._
        Seq((nvec, d.toLong,
          math.abs(norm - 1.0) < 1e-9,
          rayleighs.sliding(2).forall(w => w(1) >= w(0) * (1 - 1e-12)),
          align >= 0.99,
          rayleighs.last >= trace / d))
          .toDF("n_vec", "dim", "norm_ok", "rayleigh_monotone_ok", "align_ok", "dominance_ok")
      },
      """SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_vec,
        |  CAST((SELECT MIN(len(embedding)) FROM embeddings) AS BIGINT) AS dim,
        |  true AS norm_ok, true AS rayleigh_monotone_ok,
        |  true AS align_ok, true AS dominance_ok""".stripMargin),

    // §2 25je top-2 principal directions via BLOCK power iteration
    // (subspace iteration with per-step Gram-Schmidt — the PCA step
    // beyond 25fj's single direction): the 2-column block [x1 x2]
    // multiplies through M in ONE corpus pass per iteration (matvec2),
    // then re-orthonormalizes on the driver (d-scale work), so M (d×d)
    // is never materialized and the whole walk costs 8 passes — the
    // same as 25fj's single direction, which is the point of blocking.
    // Contracts emitted as the tolerance-gate booleans of the 25fj
    // pattern: both directions unit norm, mutually orthogonal, second
    // Rayleigh sequence monotone, λ2 ≤ 1.02·λ1, and the top-2
    // explained-variance share within (0, 1].
    "emb_pca_top2" -> QDef(
      (s, dir) => {
        val vecs = Materialize.cache(Eval.barrier(Eval.fanOut(
          emb(s, dir).select(col("vec_id"), asDouble(col("embedding")).as("v")))))
        val d = vecs.select(size(col("v"))).head().getInt(0)
        def orth(y: Seq[Double], u: Seq[Double]): Seq[Double] = {
          val c = y.zip(u).map { case (a, b) => a * b }.sum
          y.zip(u).map { case (a, b) => a - c * b }
        }
        // Deterministic start block: uniform direction + alternating
        // signs (orthogonal by construction for even d).
        var x1: Seq[Double] = normalize(Seq.fill(d)(1.0))
        var x2: Seq[Double] =
          normalize(orth(Seq.tabulate(d)(i => if (i % 2 == 0) 1.0 else -1.0), x1))
        var r1 = Vector.empty[Double]
        var r2 = Vector.empty[Double]
        for (_ <- 1 to 8) {
          val (y1, y2, ra, rb) = matvec2(vecs, x1, x2)
          r1 :+= ra
          r2 :+= rb
          x1 = normalize(y1)
          x2 = normalize(orth(y2, x1))
        }
        val trace = vecs.agg(
          sum(graft.functions.GraftFunctions.dot(col("v"), col("v"))).as("trace"),
          count(lit(1)).as("n")).head()
        val (tr, nvec) = (trace.getDouble(0), trace.getLong(1))
        val share = (r1.last + r2.last) / tr
        def unit(x: Seq[Double]) = math.abs(math.sqrt(x.map(a => a * a).sum) - 1.0) < 1e-9
        val ortho = math.abs(x1.zip(x2).map { case (a, b) => a * b }.sum) < 1e-9
        import s.implicits._
        Seq((nvec, d.toLong,
          unit(x1) && unit(x2),
          ortho,
          r2.sliding(2).forall(w => w(1) >= w(0) * (1 - 1e-6)),
          // The synthetic spectrum is FLAT (λ2/λ1 ≈ 0.98 — see 25fj's
          // convergence note), so 8-iteration Rayleigh estimates of two
          // near-equal eigenvalues can cross inside the gap; the order
          // gate allows that 2% band and still catches gross breakage
          // (a deflation bug hands v2 the λ1 direction at ratio ≈ 1.0
          // with ortho_ok false, not a within-gap crossing).
          r2.last <= r1.last * 1.02,
          share > 0.0 && share <= 1.0 + 1e-9))
          .toDF("n_vec", "dim", "norm_ok", "ortho_ok", "rayleigh_monotone_ok",
            "order_ok", "share_ok")
      },
      """SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_vec,
        |  CAST((SELECT MIN(len(embedding)) FROM embeddings) AS BIGINT) AS dim,
        |  true AS norm_ok, true AS ortho_ok, true AS rayleigh_monotone_ok,
        |  true AS order_ok, true AS share_ok""".stripMargin),

    // §2 25jg per-DIMENSION whitening statistics — the diagonal of the
    // feature-standardization transform (complementing emb_norm_stats'
    // per-VECTOR norms and feeding the whitening use-case 25fj/25je
    // exist for): per coordinate, mean and standard deviation from
    // exact-decimal Σx and Σx² (6-dp-quantized components; the decimal
    // products are exact, so the moments are order-independent at any
    // partitioning — doubles appear only in the final mean/var
    // expression, written identically on both engines). ONE map pass +
    // one d-key partial aggregation; the output is d rows.
    "emb_whiten_stats" -> QDef(
      (s, dir) => {
        val x6 = round(col("x"), 6).cast("decimal(14,6)")
        emb(s, dir)
          .select(posexplode(asDouble(col("embedding"))).as(Seq("i", "x")))
          .groupBy("i")
          .agg(count(lit(1)).as("n"), sum(x6).as("sx"), sum(x6 * x6).as("sxx"))
          .select((col("i") + 1).cast("long").as("dim"), col("n"),
            round(col("sx").cast("double") / col("n"), 6).as("mean"),
            round(sqrt(greatest(lit(0.0),
              col("sxx").cast("double") / col("n") -
                (col("sx").cast("double") / col("n")) *
                (col("sx").cast("double") / col("n")))), 6).as("std"))
          .orderBy("dim")
      },
      """WITH x AS (
        |  SELECT unnest(range(1, len(embedding) + 1)) AS dim,
        |         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE), 6) AS DECIMAL(14,6)) AS x
        |  FROM embeddings)
        |SELECT CAST(dim AS BIGINT) AS dim, COUNT(*) AS n,
        |  ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS mean,
        |  ROUND(SQRT(GREATEST(0.0,
        |    CAST(SUM(x * x) AS DOUBLE) / COUNT(*)
        |      - (CAST(SUM(x) AS DOUBLE) / COUNT(*))
        |      * (CAST(SUM(x) AS DOUBLE) / COUNT(*)))), 6) AS std
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin)
  )
}
