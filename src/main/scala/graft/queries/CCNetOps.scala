package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** CCNet-style perplexity bucketing (Wenzek et al. 2020 — the CommonCrawl
  * curation recipe behind CCNet/LLaMA data: score every document under a
  * reference language model and split the corpus into head/middle/tail
  * TERCILES of the score distribution; training mixes oversample head,
  * drop or downweight tail). The reference LM here is the corpus unigram
  * model of `text_unigram_logprob` (same score expression, but over ALL
  * documents rather than its id<100 demo slice); the split is by exact
  * GLOBAL RANK terciles rather than approximate thresholds, so the cut
  * is reproducible.
  *
  * Determinism: the score is the established 4-dp-rounded avg-logprob
  * (integral corpus frequencies; ln sums round-absorbed — the recipe the
  * sf1/sf10 sweeps proved stable); ranking ties break on doc_id; the
  * tercile boundary is pure integer arithmetic on (rank, N).
  *
  * 100 TB posture: frequencies partial-aggregate to the vocabulary and
  * broadcast back; the global rank comes from the curate_global_index
  * bucket-offset composition over VALUE-RANGE buckets (per-bucket
  * counts → ≤nb-row offset window → per-bucket local ranks) — never a
  * single-partition window over the corpus.
  */
object CCNetOps {

  private val Nb = 16

  /** (doc_id, n_toks, avg_logprob, rank, bucket) — the tercile
    * assignment shared by `text_ccnet_buckets` and
    * `curate_anneal_schedule`. Unordered; callers order/project.
    */
  private[queries] def ccnetRanked(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val cw = tok.groupBy("w").agg(count(lit(1)).as("cw"))
    val tot = cw.agg(sum("cw").as("t"))
    val lp = tok.join(cw, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum(log(col("cw"))).as("slc"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_toks"),
        round((col("slc") - col("n_toks") * log(col("t"))) / col("n_toks"), 4)
          .as("avg_logprob"))
    rankFromLp(lp)
  }

  /** Per-doc (doc_id, w, c) term counts — the maintained state shape of
    * the streaming anneal twin ([[graft.streaming.AnnealStream]]): the
    * tokenization is done ONCE per arriving doc, and every global
    * quantity (word frequencies, scores, terciles, budgets) derives
    * from this table, so history is never re-tokenized.
    */
  private[graft] def docWord(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))

  /** ccnetRanked recomputed from a docWord table: identical integer
    * counts; the score's ln-sum runs over TYPES (c·ln cw) instead of
    * tokens — same value up to float associativity, absorbed by the
    * established 4-dp round exactly like partition-order noise.
    */
  private[graft] def ccnetRankedFromDocWord(dw: DataFrame): DataFrame = {
    val cw = dw.groupBy("w").agg(sum("c").as("cw"))
    val tot = cw.agg(sum("cw").as("t"))
    val lp = dw.join(cw, "w")
      .groupBy("doc_id")
      .agg(sum("c").as("n_toks"), sum(col("c") * log(col("cw"))).as("slc"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_toks"),
        round((col("slc") - col("n_toks") * log(col("t"))) / col("n_toks"), 4)
          .as("avg_logprob"))
    rankFromLp(lp)
  }

  private def rankFromLp(lp: DataFrame): DataFrame = {
    val mm = lp.agg(min("avg_logprob").as("lo"), max("avg_logprob").as("hi"),
      count(lit(1)).as("nd"))
    // Head = highest score, so bucket by distance below the max.
    val bucketed = lp.crossJoin(broadcast(mm))
      .withColumn("b", least(lit(Nb - 1),
        floor((col("hi") - col("avg_logprob")) /
          ((col("hi") - col("lo") + 0.001) / Nb)).cast("int")))
    val offsets = bucketed.groupBy("b").agg(count(lit(1)).as("bc"))
      .withColumn("off", coalesce(sum("bc").over(
        Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("b", "off")
    bucketed.join(broadcast(offsets), "b")
      .withColumn("rn", row_number().over(
        Window.partitionBy("b").orderBy(col("avg_logprob").desc, col("doc_id")))
        .cast("long"))
      .withColumn("rank", col("off") + col("rn"))
      .select(col("doc_id"), col("n_toks"), col("avg_logprob"), col("rank"),
        when(floor(lit(3) * (col("rank") - 1) / col("nd")) === 0, "head")
          .when(floor(lit(3) * (col("rank") - 1) / col("nd")) === 1, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** The 25jv two-phase curriculum from a tercile-ranked frame (see
    * the `curate_anneal_schedule` QDef doc below for the full recipe
    * and scale posture) — shared by the batch operator and the
    * streaming twin [[graft.streaming.AnnealStream]], which re-runs
    * it per micro-batch over the maintained docWord state.
    */
  private[graft] def annealScheduleFromRanked(rankedIn: DataFrame): DataFrame = {
    val ranked = Materialize.cache(rankedIn
      .select(col("doc_id"), col("n_toks"), col("bucket"),
        substring(md5(col("doc_id").cast("string")), 1, 12).as("h")))
    val bud = ranked.agg(sum("n_toks").as("total"))
      .withColumn("t_budget", floor(col("total") * 2 / 5))
      .withColumn("m_budget", floor(col("t_budget") * 4 / 5))
      .withColumn("a_budget", col("t_budget") - col("m_budget"))
      .withColumn("qm_head", floor(col("m_budget") * 40 / 100))
      .withColumn("qm_middle", floor(col("m_budget") * 35 / 100))
      .withColumn("qm_tail", col("m_budget") - col("qm_head") - col("qm_middle"))
      .withColumn("qa_head", floor(col("a_budget") * 70 / 100))
      .withColumn("qa_middle", floor(col("a_budget") * 25 / 100))
      .withColumn("qa_tail", col("a_budget") - col("qa_head") - col("qa_middle"))
    // Sub-bucketed prefix sum: sb is h's first hex char, so ordering
    // by h within (bucket, sb) composes with the sb-ordered offsets
    // into the exact per-tercile h-order running sum.
    val sub = ranked.withColumn("sb", substring(col("h"), 1, 1))
    val offs = sub.groupBy("bucket", "sb").agg(sum("n_toks").as("st"))
      .withColumn("toff", coalesce(sum("st").over(
        Window.partitionBy("bucket").orderBy("sb")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "sb", "toff")
    val cum = Materialize.cache(sub.join(broadcast(offs), Seq("bucket", "sb"))
      .withColumn("prev", col("toff") + coalesce(sum("n_toks").over(
        Window.partitionBy("bucket", "sb").orderBy("h", "doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(bud))
      .withColumn("qm", when(col("bucket") === "head", col("qm_head"))
        .when(col("bucket") === "middle", col("qm_middle"))
        .otherwise(col("qm_tail")))
      .withColumn("qa", when(col("bucket") === "head", col("qa_head"))
        .when(col("bucket") === "middle", col("qa_middle"))
        .otherwise(col("qa_tail")))
      .withColumn("is_main", col("prev") < col("qm")))
    val mt = cum.groupBy("bucket")
      .agg(sum(when(col("is_main"), col("n_toks")).otherwise(lit(0L))).as("mt"))
    cum.join(broadcast(mt), "bucket")
      .withColumn("phase", when(col("is_main"), "main")
        .when(col("prev") - col("mt") < col("qa"), "anneal"))
      .filter(col("phase").isNotNull)
      .select(col("phase"), col("bucket"), col("doc_id"), col("n_toks"),
        when(col("is_main"), col("qm")).otherwise(col("qa")).as("quota_toks"),
        (col("prev") - when(col("is_main"), lit(0L)).otherwise(col("mt")))
          .as("phase_cum_before"))
      .orderBy("phase", "bucket", "doc_id")
  }

  def defs: Map[String, QDef] = Map(
    "text_ccnet_buckets" -> QDef(
      (s, dir) => ccnetRanked(s, dir).orderBy("doc_id"),
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |cw AS (SELECT w, COUNT(*) AS cw FROM tok GROUP BY w),
        |tot AS (SELECT SUM(cw) AS t FROM cw),
        |lp AS (
        |  SELECT doc_id, COUNT(*) AS n_toks,
        |    ROUND((SUM(ln(cw.cw)) - COUNT(*) * ln(t)) / COUNT(*), 4) AS avg_logprob
        |  FROM tok JOIN cw USING (w) CROSS JOIN tot
        |  GROUP BY doc_id, t),
        |nd AS (SELECT COUNT(*) AS nd FROM lp),
        |ranked AS (
        |  SELECT doc_id, n_toks, avg_logprob,
        |    CAST(ROW_NUMBER() OVER (ORDER BY avg_logprob DESC, doc_id) AS BIGINT)
        |      AS rank
        |  FROM lp)
        |SELECT doc_id, n_toks, avg_logprob, rank,
        |  CASE FLOOR(3 * (rank - 1) / nd)
        |    WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM ranked CROSS JOIN nd
        |ORDER BY doc_id""".stripMargin),

    // §2 25jv ANNEAL-PHASE MIXTURE SCHEDULE — the two-phase data
    // curriculum every frontier-lab pipeline now runs (MiniCPM / Llama-3
    // style: train the bulk of the token budget on the broad mix, then
    // "anneal" the last slice on upweighted high-quality data). Composes
    // the CCNet terciles with curate_mixture's deterministic hash-rank
    // membership: token budget T = 40% of corpus tokens, main phase
    // M = 80% of T at (head 40 / middle 35 / tail 25)%, anneal phase
    // A = T − M at (head 70 / middle 25 / tail 5)% — every quota exact
    // integer arithmetic (floor-of-double, exact below 2^53), remainders
    // folded into the tail quota so the phase budgets add up exactly.
    // Selection inside each tercile is the h-ordered greedy prefix
    // (take docs while tokens-before < quota, the curate_pack rule);
    // the anneal phase CONTINUES the same order after main's prefix —
    // single-epoch curriculum, disjoint by construction.
    //
    // 100 TB posture: no corpus-scale single-partition window anywhere —
    // the per-tercile running token sum uses the 25jc bucket-offset
    // composition (16 hash sub-shards per tercile, ≤48-row offset
    // window); budgets are a 1-row broadcast; main-phase token totals a
    // 3-row broadcast. All counts integral → exact cross-engine hash.
    "curate_anneal_schedule" -> QDef(
      (s, dir) => annealScheduleFromRanked(ccnetRanked(s, dir)),
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |cw AS (SELECT w, COUNT(*) AS cw FROM tok GROUP BY w),
        |tot AS (SELECT SUM(cw) AS t FROM cw),
        |lp AS (
        |  SELECT doc_id, COUNT(*) AS n_toks,
        |    ROUND((SUM(ln(cw.cw)) - COUNT(*) * ln(t)) / COUNT(*), 4) AS avg_logprob
        |  FROM tok JOIN cw USING (w) CROSS JOIN tot
        |  GROUP BY doc_id, t),
        |nd AS (SELECT COUNT(*) AS nd FROM lp),
        |ranked AS (
        |  SELECT doc_id, n_toks,
        |    CASE FLOOR(3 * (CAST(ROW_NUMBER() OVER (ORDER BY avg_logprob DESC, doc_id)
        |      AS BIGINT) - 1) / nd)
        |      WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
        |  FROM lp CROSS JOIN nd),
        |bud AS (
        |  SELECT CAST(FLOOR((SUM(n_toks) * 2) / 5) AS BIGINT) AS t_budget,
        |    CAST(FLOOR((t_budget * 4) / 5) AS BIGINT) AS m_budget,
        |    t_budget - m_budget AS a_budget,
        |    CAST(FLOOR((m_budget * 40) / 100) AS BIGINT) AS qm_head,
        |    CAST(FLOOR((m_budget * 35) / 100) AS BIGINT) AS qm_middle,
        |    m_budget - qm_head - qm_middle AS qm_tail,
        |    CAST(FLOOR((a_budget * 70) / 100) AS BIGINT) AS qa_head,
        |    CAST(FLOOR((a_budget * 25) / 100) AS BIGINT) AS qa_middle,
        |    a_budget - qa_head - qa_middle AS qa_tail
        |  FROM lp),
        |cum AS (
        |  SELECT doc_id, n_toks, bucket,
        |    CAST(SUM(n_toks) OVER (PARTITION BY bucket
        |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_toks
        |      AS prev
        |  FROM ranked),
        |flag AS (
        |  SELECT cum.*,
        |    CASE bucket WHEN 'head' THEN qm_head WHEN 'middle' THEN qm_middle
        |      ELSE qm_tail END AS qm,
        |    CASE bucket WHEN 'head' THEN qa_head WHEN 'middle' THEN qa_middle
        |      ELSE qa_tail END AS qa,
        |    prev < qm AS is_main
        |  FROM cum CROSS JOIN bud),
        |mtv AS (
        |  SELECT bucket,
        |    CAST(COALESCE(SUM(CASE WHEN is_main THEN n_toks END), 0) AS BIGINT) AS mt
        |  FROM flag GROUP BY bucket)
        |SELECT CASE WHEN is_main THEN 'main' ELSE 'anneal' END AS phase,
        |  bucket, doc_id, n_toks,
        |  CASE WHEN is_main THEN qm ELSE qa END AS quota_toks,
        |  prev - CASE WHEN is_main THEN 0 ELSE mt END AS phase_cum_before
        |FROM flag JOIN mtv USING (bucket)
        |WHERE is_main OR (prev - mt < qa)
        |ORDER BY phase, bucket, doc_id""".stripMargin)
  )
}
