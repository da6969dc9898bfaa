package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** fastText-style discriminative quality/language classifier over hashed
  * bag-of-words features (Joulin et al. 2016; the filtering family GPT-3
  * and LLaMA used for pretraining-data selection: train a cheap linear
  * classifier to recognize a trusted slice, keep what scores high). This
  * is the DISCRIMINATIVE complement to `curate_dsir_weights`' generative
  * importance ratio: same 256-bucket md5 feature hashing, but the score
  * is a logistic-regression probability fit by T=3 unrolled full-batch
  * gradient-descent iterations (η=4, chosen in-band: η=1 underfits the
  * 3-pass budget, η=16 oscillates past the optimum).
  *
  * Features are the fastText shape: per-doc bucket frequencies
  * x = cnt/n_tok (so the margin is a weighted average, invariant to
  * document length) plus an explicit intercept bucket `__` with x=1
  * (absorbs class imbalance — without it every weight fights the base
  * rate instead of the vocabulary signal).
  *
  * Determinism discipline (the ml_logreg_newton recipe, multivariate):
  * every sum that feeds the model is EXACT DECIMAL — features quantized
  * to DECIMAL(8,6) once, residuals to DECIMAL(8,6) per iteration,
  * weights on a 12-dp DECIMAL(26,12) grid — so gradient and margin sums
  * are order-independent at any partitioning and corpus size. The only
  * float ops are the per-iteration libm exp() (both engines see
  * bit-identical double inputs cast from exact decimals; the 6-dp grids
  * absorb any ≤1-ulp libm divergence) and the η·g/N step (12-dp grid,
  * same absorption). Iteration 1 is closed-form: at w=0 every sigmoid
  * is exactly 1/2, so the first gradient is Σ x·(y − 0.5) — pure
  * decimal, no exp at all.
  *
  * 100 TB posture: the token explode partial-aggregates to the
  * (doc, bucket) feature frame ONCE (cached — T iterations re-read it,
  * the fanOut-rule multi-pass shape); each iteration is one doc-scale
  * margin aggregation plus one bucket-scale gradient aggregation, both
  * partial-mergeable; the 257-row weight vector is broadcast into every
  * join and never grows with the corpus. No windows, no vocabulary-scale
  * state, no driver loop over data — training is T plan stages, not
  * collects. Each iteration's weight frame is localCheckpoint'd (a
  * 257-row model, never data-scale): margins and the next step both
  * consume it, so without the lineage cut the uncached plan subtree
  * doubles per unrolled iteration (~2^T plan size — at T=3 that was 7
  * re-planned one-row crossJoins and a 10 s bench entry; checkpointing
  * makes plan size and work linear in T and lets T grow).
  */
object ClassifierOps {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "documents")

  private val T = 3
  private val Eta = 4.0

  private def q12(c: Column): Column = round(c, 12).cast("decimal(26,12)")

  /** (doc_id, y, b, x): 6-dp bucket frequencies plus the intercept
    * bucket, and (doc_id, y, n_tok) per-doc sizes.
    */
  private def features(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val cnts = docs(s, dir)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("doc_id"),
        when(col("lang") === "en", 1).otherwise(0).as("y"),
        substring(md5(col("w")), 1, 2).as("b"))
      .groupBy("doc_id", "y", "b")
      .agg(count(lit(1)).as("cnt"))
    val ntk = cnts.groupBy("doc_id", "y").agg(sum(col("cnt")).as("n_tok"))
    val feat = cnts.join(ntk.select("doc_id", "n_tok"), "doc_id")
      .select(col("doc_id"), col("y"), col("b"),
        round(col("cnt").cast("double") / col("n_tok"), 6).cast("decimal(8,6)").as("x"))
      .unionByName(ntk.select(col("doc_id"), col("y"), lit("__").as("b"),
        lit(BigDecimal(1)).cast("decimal(8,6)").as("x")))
    (feat, ntk)
  }

  /** One gradient step: w + q12(η·Σ_d x·resid / N) per bucket. `resid`
    * is (doc_id, resid) with resid an exact DECIMAL(8,6).
    */
  private def step(feat: DataFrame, nDocs: DataFrame, w: DataFrame,
      resid: DataFrame): DataFrame =
    feat.join(resid, "doc_id")
      .groupBy("b").agg(sum(col("x") * col("resid")).as("g"))
      .crossJoin(broadcast(nDocs))
      .join(w, Seq("b"))
      .select(col("b"),
        (col("wv") + q12(lit(Eta) * col("g").cast("double") / col("n")))
          .cast("decimal(26,12)").as("wv"))

  /** Per-doc margins Σ_b x·w_b under weight frame `w` (exact decimal). */
  private def margins(feat: DataFrame, w: DataFrame): DataFrame =
    feat.join(broadcast(w), Seq("b"))
      .groupBy("doc_id", "y")
      .agg(sum(col("x") * col("wv")).as("m"))

  /** 6-dp sigmoid of an exact-decimal margin — the one libm call. */
  private def p6(m: Column): Column =
    round(lit(1.0) / (lit(1.0) + exp(-m.cast("double"))), 6).cast("decimal(8,6)")

  def defs: Map[String, QDef] = Map(
    "ml_text_classifier" -> QDef(
      (s, dir) => {
        val (feat0, ntk) = features(s, dir)
        val feat = Materialize.cache(feat0)
        // Two-step distinct-then-count instead of a global
        // countDistinct — the keyed hash agg partial-dedupes map-side in
        // codegen; the single-group distinct builds per-partition object
        // hash sets (§6s heap lesson). Identical integer.
        val nDocs = Materialize.checkpoint(feat.select(col("doc_id")).distinct()
          .agg(count(lit(1)).as("n")), eager = true)
        // Iteration 1, closed-form (w=0 ⇒ p=1/2 exactly): pure decimal.
        val w1 = Materialize.checkpoint(feat
          .groupBy("b")
          .agg(sum(col("x") * (col("y").cast("decimal(2,1)") - lit(BigDecimal("0.5")))).as("g"))
          .crossJoin(broadcast(nDocs))
          .select(col("b"), q12(lit(Eta) * col("g").cast("double") / col("n")).as("wv")), eager = true)
        // Iterations 2..T: margins → 6-dp sigmoid residual → gradient.
        // Each step is checkpointed: the 257-row model is consumed twice
        // (margins + next step), so the lineage cut keeps plan size
        // linear in T instead of doubling per iteration.
        val wT = (2 to T).foldLeft(w1) { (w, _) =>
          val resid = margins(feat, w)
            .select(col("doc_id"),
              (col("y").cast("decimal(8,6)") - p6(col("m"))).as("resid"))
          Materialize.checkpoint(step(feat, nDocs, w, resid), eager = true)
        }
        margins(feat, wT)
          .join(ntk.select("doc_id", "n_tok"), "doc_id")
          .select(col("doc_id"),
            col("y").cast("long").as("label_en"),
            col("n_tok").cast("long").as("n_tok"),
            round(lit(1.0) / (lit(1.0) + exp(-col("m").cast("double"))), 4).as("p_en"),
            (p6(col("m")) > lit(BigDecimal("0.5"))).as("pred_en"))
          .orderBy("doc_id")
      },
      """WITH tok AS (
        |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |         substr(md5(u.w), 1, 2) AS b
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |        FROM documents) u
        |  WHERE len(u.w) > 0),
        |cnts AS (SELECT doc_id, y, b, COUNT(*) AS cnt FROM tok GROUP BY 1, 2, 3),
        |ntk AS (SELECT doc_id, y, SUM(cnt) AS n_tok FROM cnts GROUP BY 1, 2),
        |feat AS (
        |  SELECT c.doc_id, c.y, c.b,
        |         CAST(ROUND(CAST(c.cnt AS DOUBLE) / n.n_tok, 6) AS DECIMAL(8,6)) AS x
        |  FROM cnts c JOIN ntk n ON c.doc_id = n.doc_id
        |  UNION ALL
        |  SELECT doc_id, y, '__' AS b, CAST(1 AS DECIMAL(8,6)) AS x FROM ntk),
        |nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM feat),
        |w1 AS (
        |  SELECT b, CAST(ROUND(4.0 * CAST(SUM(x * (CAST(y AS DECIMAL(2,1)) - CAST(0.5 AS DECIMAL(2,1)))) AS DOUBLE) / nn.n, 12) AS DECIMAL(26,12)) AS wv
        |  FROM feat CROSS JOIN nn GROUP BY b, nn.n),
        |m2 AS (SELECT doc_id, y, SUM(x * wv) AS m FROM feat JOIN w1 USING (b) GROUP BY 1, 2),
        |r2 AS (SELECT doc_id, CAST(y AS DECIMAL(8,6)) - CAST(ROUND(1.0 / (1.0 + EXP(-CAST(m AS DOUBLE))), 6) AS DECIMAL(8,6)) AS resid FROM m2),
        |g2 AS (SELECT b, SUM(x * resid) AS g FROM feat JOIN r2 USING (doc_id) GROUP BY b),
        |w2 AS (
        |  SELECT w1.b, CAST(w1.wv + CAST(ROUND(4.0 * CAST(g2.g AS DOUBLE) / nn.n, 12) AS DECIMAL(26,12)) AS DECIMAL(26,12)) AS wv
        |  FROM w1 JOIN g2 ON w1.b = g2.b CROSS JOIN nn),
        |m3 AS (SELECT doc_id, y, SUM(x * wv) AS m FROM feat JOIN w2 USING (b) GROUP BY 1, 2),
        |r3 AS (SELECT doc_id, CAST(y AS DECIMAL(8,6)) - CAST(ROUND(1.0 / (1.0 + EXP(-CAST(m AS DOUBLE))), 6) AS DECIMAL(8,6)) AS resid FROM m3),
        |g3 AS (SELECT b, SUM(x * resid) AS g FROM feat JOIN r3 USING (doc_id) GROUP BY b),
        |w3 AS (
        |  SELECT w2.b, CAST(w2.wv + CAST(ROUND(4.0 * CAST(g3.g AS DOUBLE) / nn.n, 12) AS DECIMAL(26,12)) AS DECIMAL(26,12)) AS wv
        |  FROM w2 JOIN g3 ON w2.b = g3.b CROSS JOIN nn),
        |mf AS (SELECT doc_id, y, SUM(x * wv) AS m FROM feat JOIN w3 USING (b) GROUP BY 1, 2)
        |SELECT mf.doc_id, CAST(mf.y AS BIGINT) AS label_en,
        |  CAST(ntk.n_tok AS BIGINT) AS n_tok,
        |  ROUND(1.0 / (1.0 + EXP(-CAST(m AS DOUBLE))), 4) AS p_en,
        |  CAST(ROUND(1.0 / (1.0 + EXP(-CAST(m AS DOUBLE))), 6) AS DECIMAL(8,6)) > CAST(0.5 AS DECIMAL(2,1)) AS pred_en
        |FROM mf JOIN ntk ON mf.doc_id = ntk.doc_id
        |ORDER BY mf.doc_id""".stripMargin)
  )
}
