package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Distributed ML beyond closed-form: kNN auto-labeling through the
  * bounded top-k kernel, and iterative Newton logistic regression whose
  * per-row gradient/Hessian contributions are quantized to DECIMAL
  * before summation — the trick that makes an ITERATIVE float algorithm
  * engine-exact (exact sums are order-independent, so partitioning
  * cannot change the fit, and the 12-dp quantization absorbs libm
  * 1-ulp divergence between engines).
  */
object MlOps {

  private def emb(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "embeddings")

  /** (q_id, true_label, pred_label, votes) for the 50-vector holdout —
    * the 5-NN majority pipeline shared by ml_knn_label and
    * ml_eval_metrics.
    */
  private def knnPredictions(s: SparkSession, dir: String): DataFrame = {
    val e = Eval.barrier(Eval.fanOut(
      emb(s, dir).select(col("vec_id"), col("label").cast("long").as("label"),
        VectorOps.asDouble(col("embedding")).as("v"))))
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("label").as("true_label"),
        col("v").as("qv"))
    val corpus = e.filter(col("vec_id") >= 50)
    val scored = corpus.crossJoin(broadcast(q.select("q_id", "qv")))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(VectorOps.cosine(col("qv"), col("v")), 6).as("cosine"))
    val top = VectorOps.topKPerQuery(scored, "cosine", 5)
    val votes = e.select(col("vec_id"), col("label"))
      .join(broadcast(top), col("vec_id") === col("neighbor_id"))
      .groupBy("q_id", "label").agg(count(lit(1)).as("cnt"))
    votes
      .groupBy("q_id")
      .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
      .select(col("q_id"), (-col("m.nl")).as("pred_label"),
        col("m.cnt").as("votes"))
      .join(broadcast(q.select("q_id", "true_label")), "q_id")
      .select(col("q_id"), col("true_label"), col("pred_label"), col("votes"))
  }

  /** The knn oracle's shared CTE chain (through per-query argmax). */
  private val knnOracleCtes =
    """WITH e AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |q AS (SELECT vec_id AS q_id, label AS true_label, v AS qv FROM e WHERE vec_id < 50),
      |c AS (SELECT * FROM e WHERE vec_id >= 50),
      |scored AS (
      |  SELECT q_id, c.vec_id AS nid, c.label AS nlabel,
      |    ROUND(list_cosine_similarity(qv, c.v), 6) AS cos
      |  FROM q CROSS JOIN c),
      |top AS (
      |  SELECT q_id, nlabel,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, nid) AS rk
      |  FROM scored),
      |votes AS (
      |  SELECT q_id, nlabel, COUNT(*) AS cnt FROM top WHERE rk <= 5 GROUP BY 1, 2),
      |best AS (
      |  SELECT q_id, nlabel, cnt,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cnt DESC, nlabel ASC) AS vr
      |  FROM votes),
      |preds AS (
      |  SELECT q.q_id, q.true_label, b.nlabel AS pred_label, b.cnt AS votes
      |  FROM best b JOIN q ON q.q_id = b.q_id
      |  WHERE b.vr = 1)""".stripMargin

  /** (y, xd, x) training frame for the logistic fit. */
  private def logregInput(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders").select(
      (col("o_orderpriority") === "1-URGENT").cast("int").as("y"),
      col("o_totalprice").cast("decimal(18,2)").as("xd"))
      .withColumn("x", col("xd").cast("double") / 100000.0)

  private def q12(c: Column): Column = round(c, 12).cast("decimal(26,12)")

  /** One row (n, b0f, b1f): the UNROUNDED two-step Newton fit shared by
    * ml_logreg_newton and ml_calibration. Identical across engines
    * because every sum feeding it is exact DECIMAL (see the QDef doc).
    */
  private def logregFit(s: SparkSession, dir: String): DataFrame = {
    val o = logregInput(s, dir)
    // Step 1: exact-decimal Gram/gradient at β = 0.
    val s1 = o.agg(
      count(lit(1)).as("n"), sum("y").as("sy"),
      sum("xd").as("sx"), sum(col("xd") * col("xd")).as("sxx"),
      sum(col("y") * col("xd")).as("sxy"))
      .select(col("n"),
        (col("sy").cast("double") - lit(0.5) * col("n").cast("double")).as("g0"),
        ((col("sxy") - lit(BigDecimal("0.5")) * col("sx")).cast("double") /
          100000.0).as("g1"),
        (lit(0.25) * col("n").cast("double")).as("h00"),
        (lit(0.25) * (col("sx").cast("double") / 100000.0)).as("h01"),
        (lit(0.25) * (col("sxx").cast("double") / 10000000000.0)).as("h11"))
      .select(col("n"), col("g0"), col("g1"), col("h00"), col("h01"), col("h11"),
        (col("h00") * col("h11") - col("h01") * col("h01")).as("det"))
      .select(col("n"),
        ((col("g0") * col("h11") - col("g1") * col("h01")) / col("det")).as("b0"),
        ((col("g1") * col("h00") - col("g0") * col("h01")) / col("det")).as("b1"))
    // Step 2: quantized-decimal contributions at β = (b0, b1).
    o.crossJoin(broadcast(s1))
      .withColumn("p",
        lit(1.0) / (lit(1.0) + exp(-(col("b0") + col("b1") * col("x")))))
      .agg(
        max("n").as("n"), max("b0").as("b0"), max("b1").as("b1"),
        sum(q12(col("y") - col("p"))).as("g0d"),
        sum(q12((col("y") - col("p")) * col("x"))).as("g1d"),
        sum(q12(col("p") * (lit(1.0) - col("p")))).as("h00d"),
        sum(q12(col("p") * (lit(1.0) - col("p")) * col("x"))).as("h01d"),
        sum(q12(col("p") * (lit(1.0) - col("p")) * col("x") * col("x"))).as("h11d"))
      .select(col("n"), col("b0"), col("b1"),
        col("g0d").cast("double").as("g0"), col("g1d").cast("double").as("g1"),
        col("h00d").cast("double").as("h00"), col("h01d").cast("double").as("h01"),
        col("h11d").cast("double").as("h11"))
      .select(col("n"), col("b0"), col("b1"),
        (col("h00") * col("h11") - col("h01") * col("h01")).as("det"),
        col("g0"), col("g1"), col("h00"), col("h01"), col("h11"))
      .select(col("n"),
        (col("b0") +
          (col("g0") * col("h11") - col("g1") * col("h01")) / col("det")).as("b0f"),
        (col("b1") +
          (col("g1") * col("h00") - col("g0") * col("h01")) / col("det")).as("b1f"))
  }

  /** The logreg oracle's shared CTE chain, ending in betaf(n, b0f, b1f). */
  private val logregOracleCtes =
    """WITH o AS (
      |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS xd,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) / 100000.0 AS x
      |  FROM orders),
      |a1 AS (
      |  SELECT COUNT(*) AS n, SUM(y) AS sy, SUM(xd) AS sx,
      |         SUM(xd * xd) AS sxx, SUM(y * xd) AS sxy
      |  FROM o),
      |m1 AS (
      |  SELECT n,
      |    CAST(sy AS DOUBLE) - 0.5 * CAST(n AS DOUBLE) AS g0,
      |    CAST(sxy - 0.5 * sx AS DOUBLE) / 100000.0 AS g1,
      |    0.25 * CAST(n AS DOUBLE) AS h00,
      |    0.25 * (CAST(sx AS DOUBLE) / 100000.0) AS h01,
      |    0.25 * (CAST(sxx AS DOUBLE) / 10000000000.0) AS h11
      |  FROM a1),
      |b1s AS (
      |  SELECT n,
      |    (g0 * h11 - g1 * h01) / (h00 * h11 - h01 * h01) AS b0,
      |    (g1 * h00 - g0 * h01) / (h00 * h11 - h01 * h01) AS b1
      |  FROM m1),
      |p2 AS (
      |  SELECT n, b0, b1, y, x,
      |    1.0 / (1.0 + EXP(-(b0 + b1 * x))) AS p
      |  FROM o CROSS JOIN b1s),
      |a2 AS (
      |  SELECT MAX(n) AS n, MAX(b0) AS b0, MAX(b1) AS b1,
      |    SUM(CAST(ROUND(y - p, 12) AS DECIMAL(26,12))) AS g0d,
      |    SUM(CAST(ROUND((y - p) * x, 12) AS DECIMAL(26,12))) AS g1d,
      |    SUM(CAST(ROUND(p * (1.0 - p), 12) AS DECIMAL(26,12))) AS h00d,
      |    SUM(CAST(ROUND(p * (1.0 - p) * x, 12) AS DECIMAL(26,12))) AS h01d,
      |    SUM(CAST(ROUND(p * (1.0 - p) * x * x, 12) AS DECIMAL(26,12))) AS h11d
      |  FROM p2),
      |m2 AS (
      |  SELECT n, b0, b1,
      |    CAST(g0d AS DOUBLE) AS g0, CAST(g1d AS DOUBLE) AS g1,
      |    CAST(h00d AS DOUBLE) AS h00, CAST(h01d AS DOUBLE) AS h01,
      |    CAST(h11d AS DOUBLE) AS h11
      |  FROM a2),
      |betaf AS (
      |  SELECT n,
      |    b0 + (g0 * h11 - g1 * h01) / (h00 * h11 - h01 * h01) AS b0f,
      |    b1 + (g1 * h00 - g0 * h01) / (h00 * h11 - h01 * h01) AS b1f
      |  FROM m2)""".stripMargin

  val defs: Map[String, QDef] = Map(

    // §2 25hb kNN auto-labeling (weak supervision): the 50-vector
    // holdout is classified by majority label of its 5 nearest corpus
    // neighbors (cosine, 6-dp rounded before ranking like every ANN
    // path). Scoring is a map-only broadcast pass; the rank goes
    // through the bounded top-k aggregate, so the only per-query
    // exchange carries partitions × 50 × 5 entries; labels join back
    // against the corpus by broadcasting the 250-row top-k table.
    // Vote argmax ties break toward the smaller label on both engines.
    "ml_knn_label" -> QDef(
      (s, dir) =>
        knnPredictions(s, dir)
          .select(col("q_id"), col("true_label"), col("pred_label"), col("votes"),
            when(col("true_label") === col("pred_label"), 1L).otherwise(0L)
              .as("correct"))
          .orderBy("q_id"),
      s"""$knnOracleCtes
        |SELECT q_id, true_label, pred_label, CAST(votes AS BIGINT) AS votes,
        |       CASE WHEN true_label = pred_label THEN 1 ELSE 0 END AS correct
        |FROM preds ORDER BY q_id""".stripMargin),

    // §2 25hm classifier evaluation report: per-class precision /
    // recall / F1 over the kNN predictions. Two label-scale partial
    // aggregations (by true class, by predicted class) full-outer-join
    // into the ≤|labels| report; every ratio is a guarded fixed-order
    // double over exact integer counts (F1 in the single-expression
    // 2tp/(n_true+n_pred) form — no intermediate P/R rounding).
    "ml_eval_metrics" -> QDef(
      (s, dir) => {
        val preds = Materialize.cache(knnPredictions(s, dir))
        val byTrue = preds.groupBy(col("true_label").as("label"))
          .agg(count(lit(1)).as("n_true"),
            sum((col("true_label") === col("pred_label")).cast("long")).as("tp_t"))
        val byPred = preds.groupBy(col("pred_label").as("label"))
          .agg(count(lit(1)).as("n_pred"),
            sum((col("true_label") === col("pred_label")).cast("long")).as("tp_p"))
        byTrue.join(byPred, Seq("label"), "full_outer")
          .select(col("label"),
            coalesce(col("n_true"), lit(0L)).as("n_true"),
            coalesce(col("n_pred"), lit(0L)).as("n_pred"),
            coalesce(col("tp_t"), col("tp_p"), lit(0L)).as("tp"))
          .select(col("label"), col("n_true"), col("n_pred"), col("tp"),
            when(col("n_pred") > 0,
              round(col("tp").cast("double") / col("n_pred").cast("double"), 6))
              .as("precision"),
            when(col("n_true") > 0,
              round(col("tp").cast("double") / col("n_true").cast("double"), 6))
              .as("recall"),
            when(col("n_true") + col("n_pred") > 0,
              round(lit(2.0) * col("tp").cast("double") /
                (col("n_true") + col("n_pred")).cast("double"), 6)).as("f1"))
          .orderBy("label")
      },
      s"""$knnOracleCtes,
        |bytrue AS (
        |  SELECT true_label AS label, COUNT(*) AS n_true,
        |    SUM(CASE WHEN true_label = pred_label THEN 1 ELSE 0 END) AS tp_t
        |  FROM preds GROUP BY 1),
        |bypred AS (
        |  SELECT pred_label AS label, COUNT(*) AS n_pred,
        |    SUM(CASE WHEN true_label = pred_label THEN 1 ELSE 0 END) AS tp_p
        |  FROM preds GROUP BY 1),
        |joined AS (
        |  SELECT COALESCE(bytrue.label, bypred.label) AS label,
        |    COALESCE(n_true, 0) AS n_true, COALESCE(n_pred, 0) AS n_pred,
        |    COALESCE(tp_t, tp_p, 0) AS tp
        |  FROM bytrue FULL OUTER JOIN bypred ON bytrue.label = bypred.label)
        |SELECT label, CAST(n_true AS BIGINT) AS n_true,
        |  CAST(n_pred AS BIGINT) AS n_pred, CAST(tp AS BIGINT) AS tp,
        |  CASE WHEN n_pred > 0
        |    THEN ROUND(CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE), 6) END AS precision,
        |  CASE WHEN n_true > 0
        |    THEN ROUND(CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE), 6) END AS recall,
        |  CASE WHEN n_true + n_pred > 0
        |    THEN ROUND(2.0 * CAST(tp AS DOUBLE) / CAST(n_true + n_pred AS DOUBLE), 6) END
        |    AS f1
        |FROM joined ORDER BY label""".stripMargin),

    // §2 25jh chance-corrected agreement of the kNN classifier: Cohen's
    // kappa and the multiclass Matthews correlation (Gorodkin's R_K) —
    // the single-number summaries that stay honest under class imbalance
    // where accuracy and even macro-F1 inflate. Everything reduces to
    // the per-class marginals ml_eval_metrics already aggregates
    // (n_true, n_pred, tp — exact integers at label scale):
    //   kappa = (N·ΣTP − Σ t_c·p_c) / (N² − Σ t_c·p_c)
    //   mcc   = (N·ΣTP − Σ t_c·p_c) / √((N²−Σp_c²)(N²−Σt_c²))
    // Exact arithmetic throughout: the marginal products t·p, t², p² are
    // computed in DECIMAL(38,0) (operand cast BEFORE the multiply, so a
    // class with ≳3e9 members cannot wrap a 64-bit product), summed
    // exactly, and only the final kappa/mcc expressions run in double —
    // with identical operation order on both engines.
    "ml_kappa_mcc" -> QDef(
      (s, dir) => {
        val preds = Materialize.cache(knnPredictions(s, dir))
        val byTrue = preds.groupBy(col("true_label").as("label"))
          .agg(count(lit(1)).as("n_true"),
            sum((col("true_label") === col("pred_label")).cast("long")).as("tp_t"))
        val byPred = preds.groupBy(col("pred_label").as("label"))
          .agg(count(lit(1)).as("n_pred"),
            sum((col("true_label") === col("pred_label")).cast("long")).as("tp_p"))
        val j = byTrue.join(byPred, Seq("label"), "full_outer")
          .select(coalesce(col("n_true"), lit(0L)).as("t"),
            coalesce(col("n_pred"), lit(0L)).as("p"),
            coalesce(col("tp_t"), col("tp_p"), lit(0L)).as("tp"))
        val nD = col("n").cast("double")
        val num = nD * col("agree") - col("stp")
        j.agg(sum("t").cast("long").as("n"), sum("tp").cast("long").as("agree"),
          sum(col("t").cast("decimal(20,0)") * col("p")).as("stp"),
          sum(col("t").cast("decimal(20,0)") * col("t")).as("st2"),
          sum(col("p").cast("decimal(20,0)") * col("p")).as("sp2"))
          .select(col("n"), col("agree"),
            when(nD * nD - col("stp") =!= 0.0,
              round(num / (nD * nD - col("stp")), 6)).as("kappa"),
            when((nD * nD - col("sp2")) * (nD * nD - col("st2")) > 0.0,
              round(num / sqrt((nD * nD - col("sp2")) * (nD * nD - col("st2"))), 6))
              .as("mcc"))
      },
      s"""$knnOracleCtes,
        |bytrue AS (
        |  SELECT true_label AS label, COUNT(*) AS n_true,
        |    SUM(CASE WHEN true_label = pred_label THEN 1 ELSE 0 END) AS tp_t
        |  FROM preds GROUP BY 1),
        |bypred AS (
        |  SELECT pred_label AS label, COUNT(*) AS n_pred,
        |    SUM(CASE WHEN true_label = pred_label THEN 1 ELSE 0 END) AS tp_p
        |  FROM preds GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(n_true, 0) AS t, COALESCE(n_pred, 0) AS p,
        |    COALESCE(tp_t, tp_p, 0) AS tp
        |  FROM bytrue FULL OUTER JOIN bypred ON bytrue.label = bypred.label),
        |m AS (
        |  SELECT CAST(SUM(t) AS BIGINT) AS n, CAST(SUM(tp) AS BIGINT) AS agree,
        |    SUM(CAST(t AS DECIMAL(20,0)) * p) AS stp,
        |    SUM(CAST(t AS DECIMAL(20,0)) * t) AS st2,
        |    SUM(CAST(p AS DECIMAL(20,0)) * p) AS sp2
        |  FROM j)
        |SELECT n, agree,
        |  CASE WHEN CAST(n AS DOUBLE) * n - stp <> 0.0
        |    THEN ROUND((CAST(n AS DOUBLE) * agree - stp)
        |      / (CAST(n AS DOUBLE) * n - stp), 6) END AS kappa,
        |  CASE WHEN (CAST(n AS DOUBLE) * n - sp2) * (CAST(n AS DOUBLE) * n - st2) > 0.0
        |    THEN ROUND((CAST(n AS DOUBLE) * agree - stp)
        |      / SQRT((CAST(n AS DOUBLE) * n - sp2) * (CAST(n AS DOUBLE) * n - st2)), 6)
        |    END AS mcc
        |FROM m""".stripMargin),

    // §2 25hr hard-negative mining for contrastive training: for each
    // holdout query, the 3 nearest corpus vectors whose label DIFFERS
    // from the query's — the pairs a contrastive objective needs most.
    // Same map-only broadcast scoring + bounded-top-k rank as the kNN
    // path; the label-mismatch filter runs before ranking, so the heap
    // never wastes slots on positives.
    "ml_hard_negatives" -> QDef(
      (s, dir) => {
        val e = Eval.barrier(Eval.fanOut(
          emb(s, dir).select(col("vec_id"), col("label").cast("long").as("label"),
            VectorOps.asDouble(col("embedding")).as("v"))))
        val q = e.filter(col("vec_id") < 50)
          .select(col("vec_id").as("q_id"), col("label").as("true_label"),
            col("v").as("qv"))
        val scored = e.filter(col("vec_id") >= 50)
          .crossJoin(broadcast(q))
          .filter(col("label") =!= col("true_label"))
          .select(col("q_id"), col("vec_id").as("neighbor_id"),
            round(VectorOps.cosine(col("qv"), col("v")), 6).as("cosine"))
        VectorOps.topKPerQuery(scored, "cosine", 3)
          .orderBy("q_id", "rank")
      },
      """WITH e AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, label AS true_label, v AS qv FROM e WHERE vec_id < 50),
        |scored AS (
        |  SELECT q_id, c.vec_id AS neighbor_id,
        |    ROUND(list_cosine_similarity(qv, c.v), 6) AS cosine
        |  FROM q CROSS JOIN e c
        |  WHERE c.vec_id >= 50 AND c.label <> q.true_label),
        |ranked AS (
        |  SELECT q_id, neighbor_id, cosine,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id)
        |      AS BIGINT) AS rank
        |  FROM scored)
        |SELECT q_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin),

    // §2 25hc logistic regression by TWO unrolled Newton steps
    // (urgent-priority ~ scaled order value). Step 1 is closed-form
    // (β=0 ⇒ p=½, W=¼I): every sum is exact DECIMAL. Step 2's per-row
    // gradient/Hessian contributions pass through q12 (round to 12 dp,
    // cast DECIMAL(26,12)) BEFORE summation: the sums become exact and
    // order-independent, and the 12-dp grid absorbs the ≤1-ulp libm
    // differences in exp() between engines (a flipped quantization
    // needs a value within 1 ulp of a 5e-13 boundary; the final 5-dp
    // rounding sits 7 orders of magnitude above any residual). Each
    // Newton step is one partial-agg pass over the fact table — the
    // honest iterative-ML shape (no fact-scale caching).
    "ml_logreg_newton" -> QDef(
      (s, dir) =>
        logregFit(s, dir).select(col("n"),
          round(col("b0f"), 5).as("b0"), round(col("b1f"), 5).as("b1")),
      s"""$logregOracleCtes
        |SELECT n, ROUND(b0f, 5) AS b0, ROUND(b1f, 5) AS b1
        |FROM betaf""".stripMargin),

    // §2 25hp probability calibration curve: the fitted model's
    // predictions bin into ten fixed [0,1) deciles; each bin reports
    // observed urgent rate vs mean predicted probability — the
    // reliability diagram that closes the train→predict→evaluate loop.
    // The UNROUNDED β is shared with ml_logreg_newton (bit-identical
    // across engines because every sum feeding it is exact DECIMAL);
    // mean predicted p per bin goes through the same q12 quantization.
    "ml_calibration" -> QDef(
      (s, dir) => {
        val beta = broadcast(logregFit(s, dir))
        // Bins span the OBSERVED probability range (a weak-signal model
        // concentrates p near the base rate, emptying absolute [0,1)
        // deciles). Quantize p to 12-dp DECIMAL FIRST: min/max and the
        // bin arithmetic then run on bit-identical values on both
        // engines — raw double p differs by libm ulps.
        val pred = logregInput(s, dir).crossJoin(beta)
          .withColumn("pq", q12(
            lit(1.0) / (lit(1.0) + exp(-(col("b0f") + col("b1f") * col("x"))))))
        val mm = pred.agg(min("pq").as("lo"), max("pq").as("hi"))
        pred.crossJoin(broadcast(mm))
          .withColumn("bin", least(lit(9),
            floor((col("pq") - col("lo")).cast("double") * 10.0 /
              ((col("hi") - col("lo")).cast("double") + 1e-9)).cast("int")))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), sum("y").as("k"), sum("pq").as("sp"))
          .select(col("bin"), col("n"), col("k"),
            round(col("k").cast("double") / col("n").cast("double"), 6).as("obs_rate"),
            round(col("sp").cast("double") / col("n").cast("double"), 6).as("mean_p"))
          .orderBy("bin")
      },
      s"""$logregOracleCtes,
        |pred AS (
        |  SELECT y,
        |    CAST(ROUND(1.0 / (1.0 + EXP(-(b0f + b1f * x))), 12) AS DECIMAL(26,12)) AS pq
        |  FROM o CROSS JOIN betaf),
        |mm AS (SELECT MIN(pq) AS lo, MAX(pq) AS hi FROM pred),
        |binned AS (
        |  SELECT LEAST(9, CAST(FLOOR(CAST(pq - lo AS DOUBLE) * 10.0
        |    / (CAST(hi - lo AS DOUBLE) + 1e-9)) AS INT)) AS bin, y, pq
        |  FROM pred CROSS JOIN mm)
        |SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS k,
        |  ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS obs_rate,
        |  ROUND(CAST(SUM(pq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_p
        |FROM binned GROUP BY bin ORDER BY bin""".stripMargin),

    // §2 25ic exact ROC-AUC of the shared logreg classifier via the
    // Mann-Whitney rank statistic: AUC = (#concordant pos-neg pairs +
    // ½·#ties) / (n_pos·n_neg), computed WITHOUT enumerating pairs —
    // per distinct predicted score (the 12-dp-quantized pq, so scores
    // are bit-identical across engines), 2U = Σ_s np(s)·(2·nn_below(s)
    // + nn(s)) over exact integers; the ONLY float op is the final
    // division. nn_below comes from the bucket-offset prefix
    // composition (per-bucket sums, a ≤nb-row offset window, a
    // per-bucket cumulative window) — never an unpartitioned window
    // over the corpus-scale distinct-score table.
    "ml_auc" -> QDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val beta = broadcast(logregFit(s, dir))
        val pred = logregInput(s, dir).crossJoin(beta)
          .withColumn("pq", q12(
            lit(1.0) / (lit(1.0) + exp(-(col("b0f") + col("b1f") * col("x"))))))
        val scored = pred.groupBy("pq").agg(
          sum("y").cast("long").as("np"),
          (count(lit(1)) - sum("y")).cast("long").as("nn"))
        val nb = 32
        val mm = scored.agg(min(col("pq").cast("double")).as("lo"),
          max(col("pq").cast("double")).as("hi"))
        // Double-cast bucketing is monotone in the exact decimal (cast
        // collisions just co-bucket; within-bucket order is exact pq).
        val bucketed = scored.crossJoin(broadcast(mm))
          .withColumn("b", least(lit(nb - 1),
            floor((col("pq").cast("double") - col("lo")) /
              ((col("hi") - col("lo") + 0.001) / nb)).cast("int")))
        val offs = bucketed.groupBy("b").agg(sum("nn").as("bnn"))
          .withColumn("off_nn", coalesce(sum("bnn").over(
            Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("b", "off_nn")
        val wb = Window.partitionBy("b").orderBy("pq")
          .rowsBetween(Window.unboundedPreceding, -1)
        bucketed.join(broadcast(offs), "b")
          .withColumn("cum_lt", col("off_nn") + coalesce(sum("nn").over(wb), lit(0L)))
          .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"),
            sum(col("np") * (lit(2L) * col("cum_lt") + col("nn"))).as("u2"))
          .select(col("n_pos"), col("n_neg"),
            round(col("u2").cast("double") /
              (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")), 6)
              .as("auc"))
      },
      s"""$logregOracleCtes,
        |pred AS (
        |  SELECT y,
        |    CAST(ROUND(1.0 / (1.0 + EXP(-(b0f + b1f * x))), 12) AS DECIMAL(26,12)) AS pq
        |  FROM o CROSS JOIN betaf),
        |scored AS (
        |  SELECT pq, CAST(SUM(y) AS BIGINT) AS np,
        |         CAST(COUNT(*) - SUM(y) AS BIGINT) AS nn
        |  FROM pred GROUP BY pq),
        |cum AS (
        |  SELECT np, nn, COALESCE(SUM(nn) OVER (ORDER BY pq
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_lt
        |  FROM scored)
        |SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
        |  ROUND(CAST(SUM(np * (2 * cum_lt + nn)) AS DOUBLE)
        |    / (2.0 * CAST(SUM(np) AS DOUBLE) * CAST(SUM(nn) AS DOUBLE)), 6) AS auc
        |FROM cum""".stripMargin),

    // §2 25io average precision (area under the precision-recall curve,
    // the class-imbalance-robust complement to ml_auc's ROC-AUC) of the
    // shared logreg classifier, at distinct-score granularity:
    // AP = Σ_s (np(s)/N_pos) · precision_at(s) where precision_at(s) =
    // pos_ge(s)/(pos_ge(s)+neg_ge(s)) over scores ≥ s. Everything is
    // exact integers until the per-group precision division; each
    // group's term is quantized to a 10-dp decimal before the final sum,
    // so the sum is order-independent. The ≥-s cumulative counts come
    // from the same bucket-offset prefix composition as ml_auc (≤nb
    // offset rows + per-bucket windows — never an unpartitioned window
    // over the corpus-scale distinct-score table), inverted against the
    // one-row totals.
    "ml_pr_auc" -> QDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val beta = broadcast(logregFit(s, dir))
        val pred = logregInput(s, dir).crossJoin(beta)
          .withColumn("pq", q12(
            lit(1.0) / (lit(1.0) + exp(-(col("b0f") + col("b1f") * col("x"))))))
        val scored = pred.groupBy("pq").agg(
          sum("y").cast("long").as("np"),
          (count(lit(1)) - sum("y")).cast("long").as("nn"))
        val nb = 32
        val mm = scored.agg(min(col("pq").cast("double")).as("lo"),
          max(col("pq").cast("double")).as("hi"),
          sum("np").as("tp"), sum("nn").as("tn"))
        val bucketed = scored.crossJoin(broadcast(mm))
          .withColumn("b", least(lit(nb - 1),
            floor((col("pq").cast("double") - col("lo")) /
              ((col("hi") - col("lo") + 0.001) / nb)).cast("int")))
        val offs = bucketed.groupBy("b")
          .agg(sum("np").as("bnp"), sum("nn").as("bnn"))
          .withColumn("off_np", coalesce(sum("bnp").over(
            Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("off_nn", coalesce(sum("bnn").over(
            Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("b", "off_np", "off_nn")
        val wb = Window.partitionBy("b").orderBy("pq")
          .rowsBetween(Window.unboundedPreceding, -1)
        bucketed.join(broadcast(offs), "b")
          .withColumn("pos_ge",
            col("tp") - (col("off_np") + coalesce(sum("np").over(wb), lit(0L))))
          .withColumn("neg_ge",
            col("tn") - (col("off_nn") + coalesce(sum("nn").over(wb), lit(0L))))
          .withColumn("term", round(
            col("np").cast("double") * col("pos_ge").cast("double") /
              (col("pos_ge") + col("neg_ge")).cast("double"), 10)
            .cast("decimal(28,10)"))
          .agg(max("tp").as("n_pos_l"), max("tn").as("n_neg_l"),
            sum("term").as("tsum"))
          .select(col("n_pos_l").cast("long").as("n_pos"),
            col("n_neg_l").cast("long").as("n_neg"),
            round(col("tsum").cast("double") / col("n_pos_l").cast("double"), 6)
              .as("ap"))
      },
      s"""$logregOracleCtes,
        |pred AS (
        |  SELECT y,
        |    CAST(ROUND(1.0 / (1.0 + EXP(-(b0f + b1f * x))), 12) AS DECIMAL(26,12)) AS pq
        |  FROM o CROSS JOIN betaf),
        |scored AS (
        |  SELECT pq, CAST(SUM(y) AS BIGINT) AS np,
        |         CAST(COUNT(*) - SUM(y) AS BIGINT) AS nn
        |  FROM pred GROUP BY pq),
        |tot AS (SELECT SUM(np) AS tp, SUM(nn) AS tn FROM scored),
        |cum AS (
        |  SELECT np, nn,
        |    tp - COALESCE(SUM(np) OVER (ORDER BY pq
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos_ge,
        |    tn - COALESCE(SUM(nn) OVER (ORDER BY pq
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_ge,
        |    tp, tn
        |  FROM scored CROSS JOIN tot),
        |terms AS (
        |  SELECT tp, tn,
        |    CAST(ROUND(CAST(np AS DOUBLE) * CAST(pos_ge AS DOUBLE)
        |      / CAST(pos_ge + neg_ge AS DOUBLE), 10) AS DECIMAL(28,10)) AS term
        |  FROM cum)
        |SELECT CAST(MAX(tp) AS BIGINT) AS n_pos, CAST(MAX(tn) AS BIGINT) AS n_neg,
        |  ROUND(CAST(SUM(term) AS DOUBLE) / CAST(MAX(tp) AS DOUBLE), 6) AS ap
        |FROM terms""".stripMargin)
  )
}
