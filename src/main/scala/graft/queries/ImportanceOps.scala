package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** DSIR-style importance weighting for data selection (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"): to
  * pick pretraining documents that LOOK LIKE a small trusted target
  * corpus, fit cheap bag-of-hashed-ngram unigram models over a target
  * sample and over the raw pool, and score every pool document by its
  * per-token average log importance ratio Σ log(p̂_target(b)/p̂_pool(b)).
  * Selection is then just a sort/threshold over the weight — the
  * resampling step of the paper — so the weight column IS the operator.
  *
  * Realization on this corpus: target = the `lang = 'en'` slice (the
  * trusted-domain stand-in), pool = everything; features = unigrams
  * hashed into 256 buckets by the repo's md5-prefix bucketing (the
  * engine-portable deterministic hash also used by curate_split), with
  * add-one smoothing over the bucket space.
  *
  * 100 TB posture: token explode partial-aggregates to the 256-bucket
  * table before either exchange (two bucket-scale shuffles + one 2-row
  * total); the per-doc scoring joins the BROADCAST 256-row log-ratio
  * table map-side and reduces per doc_id — no vocabulary-scale state,
  * no windows, no driver loops. Per-bucket log ratios are quantized to
  * 12 dp (the one libm `ln` call, same discipline as curate_dp_counts)
  * so both engines enter the per-doc average with identical values.
  */
object ImportanceOps {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "documents")

  def defs: Map[String, QDef] = Map(
    "curate_dsir_weights" -> QDef(
      (s, dir) => {
        val toks = Materialize.cache(docs(s, dir)
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) > 0)
          .select(col("doc_id"), col("lang"), substring(md5(col("w")), 1, 2).as("b")))
        val pool = toks.groupBy("b").agg(count(lit(1)).as("cs"))
        val tgt = toks.filter(col("lang") === "en")
          .groupBy("b").agg(count(lit(1)).as("ct"))
        val tot = toks.agg(
          count(lit(1)).as("ns"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("nt"))
        val ratio = pool.join(tgt, Seq("b"), "left").crossJoin(broadcast(tot))
          .select(col("b"), round(
            log((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("nt") + lit(256))) -
              log((col("cs") + lit(1.0)) / (col("ns") + lit(256))), 12).as("r"))
        toks.join(broadcast(ratio), "b")
          .groupBy("doc_id")
          // + 0.0 canonicalizes IEEE signed zero (see Relational4's
          // bal_share note): a tiny negative average rounds to -0.0 in
          // one engine and +0.0 in the other.
          .agg(count(lit(1)).as("n_tok"),
            (round(avg(col("r")), 4) + lit(0.0)).as("dsir_w"))
          .select(col("doc_id"), col("n_tok").cast("long").as("n_tok"), col("dsir_w"))
          .orderBy("doc_id")
      },
      """WITH tok2 AS (
        |  SELECT doc_id, lang, substr(md5(u.w), 1, 2) AS b FROM (
        |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |    FROM documents) u
        |  WHERE len(u.w) > 0),
        |pool AS (SELECT b, COUNT(*) AS cs FROM tok2 GROUP BY 1),
        |tgt AS (SELECT b, COUNT(*) AS ct FROM tok2 WHERE lang = 'en' GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS ns,
        |  COUNT(*) FILTER (lang = 'en') AS nt FROM tok2),
        |ratio AS (
        |  SELECT p.b,
        |    ROUND(ln((COALESCE(t.ct, 0) + 1.0) / (tot.nt + 256))
        |      - ln((p.cs + 1.0) / (tot.ns + 256)), 12) AS r
        |  FROM pool p LEFT JOIN tgt t USING (b) CROSS JOIN tot)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |  ROUND(AVG(r), 4) + 0.0 AS dsir_w
        |FROM tok2 JOIN ratio USING (b)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )
}
