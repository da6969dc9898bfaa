package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.engine.{DagTable, GraftSession, SessionManager}

/** The full curation chain — Gopher quality rules → CCNet perplexity
  * terciles → exact dedup → benchmark decontamination → language
  * mixture → BPE-budgeted packing — composed as one dependency DAG and
  * executed by the engine's own scheduler ([[graft.engine.Dag]]:
  * topological slot-based streaming execution, each derived stage
  * materialized as the session's insert snapshot, as the reference
  * pipeline materializes derived tables with CREATE TABLE + INSERT). `llm_curate_e2e` proved three operators
  * compose in one query plan; this proves the real thing: the
  * individually-verified operators compose THROUGH the engine — each
  * stage a registered `DagTable` with parsed dependencies, scheduled by
  * `Dag.run`, snapshotted, and re-read by its dependents — and the final
  * packed output still hash-matches DuckDB replaying the identical
  * chain (including the full batched BPE training).
  *
  * Scale shape: every stage keeps the discipline of the operator it is
  * built from — Gopher/dedup/decontam are map-side or hash-keyed
  * (never a global window); the CCNet tercile uses the bucket-offset
  * global rank (per-bucket ROW_NUMBER + a ≤nb-row offset window — no
  * corpus-scale single-partition window); mixture and packing window
  * PER LANGUAGE; BPE training is batched vocabulary-sized shuffles.
  * Materialization between stages is an eager in-memory snapshot, so a
  * dependent re-reads computed rows, never the stage's plan.
  *
  * Each run gets its own engine session, which holds the stage
  * snapshots. A run closes the previous run's session, so one JVM holds
  * at most one run's snapshots; the caller has consumed the previous
  * result by then.
  */
object PipelineE2E2 {

  private val previous = new java.util.concurrent.atomic.AtomicReference[GraftSession]()

  /** Spark-dialect stage SQL. Mirrored 1:1 by the DuckDB CTEs in the
    * oracle below — same predicates, same thresholds, same tie-breaks.
    */
  private val GopherSql =
    """WITH t AS (SELECT doc_id, lang, text, split(text, ' ') AS toks FROM docs),
      |m AS (
      |  SELECT doc_id, lang, text,
      |    CAST(size(toks) AS BIGINT) AS n_words,
      |    CAST(aggregate(toks, CAST(0 AS BIGINT), (acc, w) -> acc + length(w)) AS BIGINT) AS sum_len,
      |    CAST(size(filter(toks, w -> w IN ('the','a','of','and','to','in'))) AS BIGINT) AS stop_cnt,
      |    CAST(size(filter(toks, w -> w rlike '^[a-z]+$')) AS BIGINT) AS n_alpha
      |  FROM t)
      |SELECT doc_id, lang, text FROM m
      |WHERE n_words BETWEEN 50 AND 100000
      |  AND ROUND(CAST(sum_len AS DOUBLE) / n_words, 4) BETWEEN 3.0 AND 10.0
      |  AND stop_cnt >= 2
      |  AND ROUND(CAST(n_alpha AS DOUBLE) / n_words, 4) >= 0.8""".stripMargin

  private val CcnetSql =
    """WITH tok AS (SELECT doc_id, explode(split(text, ' ')) AS w FROM gopher),
      |cw AS (SELECT w, COUNT(*) AS cw FROM tok GROUP BY w),
      |tot AS (SELECT SUM(cw) AS t FROM cw),
      |scored AS (
      |  SELECT doc_id, ROUND((SUM(ln(cw)) - COUNT(*) * ln(t)) / COUNT(*), 4) AS lp
      |  FROM tok JOIN cw USING (w) CROSS JOIN tot GROUP BY doc_id, t),
      |n AS (SELECT COUNT(*) AS n FROM scored),
      |b AS (SELECT doc_id, lp, CAST(FLOOR((lp + 20.0) * 4) AS INT) AS bkt FROM scored),
      |bc AS (SELECT bkt, COUNT(*) AS c FROM b GROUP BY bkt),
      |bo AS (SELECT bkt, SUM(c) OVER (ORDER BY bkt
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS off FROM bc),
      |r AS (
      |  SELECT b.doc_id,
      |    COALESCE(bo.off, 0) +
      |      ROW_NUMBER() OVER (PARTITION BY b.bkt ORDER BY b.lp, b.doc_id) AS rk
      |  FROM b JOIN bo USING (bkt))
      |SELECT g.doc_id, g.lang, g.text
      |FROM gopher g JOIN r ON g.doc_id = r.doc_id CROSS JOIN n
      |WHERE r.rk > CAST(FLOOR(n.n / 3.0) AS BIGINT)""".stripMargin

  private val DedupSql =
    """WITH d AS (SELECT doc_id, lang, text,
      |  ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM ccnet)
      |SELECT doc_id, lang, text FROM d WHERE rn = 1""".stripMargin

  private val BenchmarkSql =
    "SELECT md5(text) AS h FROM docs WHERE doc_id % 97 = 3"

  private val DecontamSql =
    """SELECT d.doc_id, d.lang, d.text FROM deduped d
      |WHERE NOT EXISTS (SELECT 1 FROM benchmark b WHERE b.h = md5(d.text))""".stripMargin

  private val MixtureSql =
    """WITH ranked AS (
      |  SELECT doc_id, lang,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY substr(md5(CAST(doc_id AS STRING)), 1, 12), doc_id) AS pick_rank
      |  FROM decontam)
      |SELECT doc_id, lang FROM ranked
      |WHERE pick_rank <= CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 20
      |  WHEN 'es' THEN 15 WHEN 'de' THEN 10 WHEN 'fr' THEN 5 ELSE 0 END""".stripMargin

  private val PackedSql =
    """WITH j AS (
      |  SELECT m.doc_id, m.lang, b.n_tok, b.merges
      |  FROM mixture m JOIN bpe b ON m.doc_id = b.doc_id),
      |c AS (
      |  SELECT doc_id, lang, n_tok, merges,
      |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM j)
      |SELECT lang, CAST((cum - n_tok) div 512 AS BIGINT) AS bin,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc, MIN(merges) AS merges
      |FROM c GROUP BY 1, 2""".stripMargin

  /** Every derived-stage SQL this operator registers, in dependency
    * order. Exposed for BQCompatShadowSpec: these strings run inside a
    * DIALECT session (engine sessions install BQCompat.dialectOverrides),
    * so any call to an overridden builtin name must be vetted for
    * identical semantics under both registries.
    */
  private[graft] val DagSqls: Seq[(String, String)] = Seq(
    "gopher" -> GopherSql, "ccnet" -> CcnetSql, "deduped" -> DedupSql,
    "benchmark" -> BenchmarkSql, "decontam" -> DecontamSql,
    "mixture" -> MixtureSql, "packed" -> PackedSql)

  /** Build + run the DAG in a fresh child session; returns the packed
    * summary read from the engine's own materialized snapshot.
    */
  def runChain(s: SparkSession, dir: String): DataFrame =
    runChainSession(s, dir).spark.table("packed").orderBy("lang", "bin")

  /** Run the DAG and return the child session holding every stage view
    * (the spec inspects intermediate stages through it).
    */
  private[graft] def runChainSession(s: SparkSession, dir: String): GraftSession = {
    val gs = new SessionManager(s).create()
    Option(previous.getAndSet(gs)).foreach(_.close())
    val docsDf = Tables(gs.spark, dir, "documents")
    // encodeStats' training loop collects per round; as a view it is
    // built inside its scheduler slot, so it overlaps the
    // gopher→ccnet→…→mixture chain (the two branches only meet at
    // `packed`).
    gs.dag.register(Seq(
      DagTable.view("docs", docsDf),
      DagTable.view("bpe", BpeOps.encodeStats(docsDf))) ++
      DagSqls.map { case (name, sql) => DagTable.derived(name, sql) })
    val res = gs.dag.run()
    require(res.allSucceeded,
      s"curate DAG failed: ${res.failed.mkString(", ")}; skipped: ${res.skipped.mkString(", ")}")
    gs
  }

  val defs: Map[String, QDef] = Map(
    "llm_curate_e2e_v2" -> QDef(
      runChain,
      s"""${BpeOps.trainSqlCtes(BpeOps.Rounds, BpeOps.PerRound, BpeOps.TopM)},
        |enc AS (
        |  SELECT doc_id,
        |    len(string_split(substr(s, 2, greatest(length(s) - 2, 0)), chr(31) || chr(31))) AS n_tok
        |  FROM t${BpeOps.Rounds}),
        |bpe AS (
        |  SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |    (SELECT merges FROM mm) AS merges FROM enc),
        |gt AS (SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents),
        |gm AS (
        |  SELECT doc_id, lang, text,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(toks, w -> len(w))) AS BIGINT) AS sum_len,
        |    CAST(len(list_filter(toks, w -> w IN ('the','a','of','and','to','in'))) AS BIGINT) AS stop_cnt,
        |    CAST(len(list_filter(toks, w -> regexp_full_match(w, '[a-z]+'))) AS BIGINT) AS n_alpha
        |  FROM gt),
        |gopher AS (
        |  SELECT doc_id, lang, text FROM gm
        |  WHERE n_words BETWEEN 50 AND 100000
        |    AND ROUND(CAST(sum_len AS DOUBLE) / n_words, 4) BETWEEN 3.0 AND 10.0
        |    AND stop_cnt >= 2
        |    AND ROUND(CAST(n_alpha AS DOUBLE) / n_words, 4) >= 0.8),
        |ctok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM gopher),
        |ccw AS (SELECT w, COUNT(*) AS cw FROM ctok GROUP BY w),
        |ctot AS (SELECT SUM(cw) AS t FROM ccw),
        |cscored AS (
        |  SELECT doc_id, ROUND((SUM(ln(cw)) - COUNT(*) * ln(t)) / COUNT(*), 4) AS lp
        |  FROM ctok JOIN ccw USING (w) CROSS JOIN ctot GROUP BY doc_id, t),
        |cn AS (SELECT COUNT(*) AS n FROM cscored),
        |cb AS (SELECT doc_id, lp, CAST(FLOOR((lp + 20.0) * 4) AS INT) AS bkt FROM cscored),
        |cbc AS (SELECT bkt, COUNT(*) AS c FROM cb GROUP BY bkt),
        |cbo AS (SELECT bkt, SUM(c) OVER (ORDER BY bkt
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS off FROM cbc),
        |cr AS (
        |  SELECT cb.doc_id,
        |    COALESCE(cbo.off, 0) +
        |      ROW_NUMBER() OVER (PARTITION BY cb.bkt ORDER BY cb.lp, cb.doc_id) AS rk
        |  FROM cb JOIN cbo USING (bkt)),
        |ccnet AS (
        |  SELECT g.doc_id, g.lang, g.text
        |  FROM gopher g JOIN cr ON g.doc_id = cr.doc_id CROSS JOIN cn
        |  WHERE cr.rk > CAST(FLOOR(cn.n / 3.0) AS BIGINT)),
        |dd AS (SELECT doc_id, lang, text,
        |  ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM ccnet),
        |deduped AS (SELECT doc_id, lang, text FROM dd WHERE rn = 1),
        |benchmark AS (SELECT md5(text) AS h FROM documents WHERE doc_id % 97 = 3),
        |decontam AS (
        |  SELECT d.doc_id, d.lang, d.text FROM deduped d
        |  WHERE NOT EXISTS (SELECT 1 FROM benchmark b WHERE b.h = md5(d.text))),
        |mranked AS (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), doc_id) AS pick_rank
        |  FROM decontam),
        |mixture AS (
        |  SELECT doc_id, lang FROM mranked
        |  WHERE pick_rank <= CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 20
        |    WHEN 'es' THEN 15 WHEN 'de' THEN 10 WHEN 'fr' THEN 5 ELSE 0 END),
        |pj AS (
        |  SELECT m.doc_id, m.lang, b.n_tok, b.merges
        |  FROM mixture m JOIN bpe b ON m.doc_id = b.doc_id),
        |pc AS (
        |  SELECT doc_id, lang, n_tok, merges,
        |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM pj)
        |SELECT lang, CAST((cum - n_tok) // 512 AS BIGINT) AS bin,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc, MIN(merges) AS merges
        |FROM pc GROUP BY 1, 2
        |ORDER BY lang, bin""".stripMargin)
  )
}
