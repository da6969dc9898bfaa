package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** EXACT-SUBSTRING cross-document deduplication (Lee et al. 2021,
  * "Deduplicating Training Data Makes Language Models Better"): find —
  * and remove — every verbatim token span of length ≥ K that a document
  * shares with at least one OTHER document. This is the dedup family
  * that catches licence boilerplate, quote chains and templated headers
  * that MinHash/SimHash whole-doc similarity misses (a 40-token licence
  * block in a 2000-token doc moves Jaccard by ~2%) and that
  * `text_dup_fraction` only MEASURES in aggregate.
  *
  * The reference implementation builds a corpus-wide suffix array — a
  * global sort over every byte, single-node. The Spark-first shape
  * replaces the suffix sort with K-GRAM ANCHORS + INTEGER-OFFSET
  * EXTENSION, all distributed primitives:
  *
  *  1. anchor: every K-token window hashes map-side to (doc_id, pos,
  *     ph) — one row per position, O(tokens) total;
  *  2. mark: one passage-vocabulary partial-agg shuffle counts distinct
  *     docs per hash; anchors whose hash appears in ≥ 2 docs are
  *     duplicated (any shared substring of length L ≥ K is exactly a
  *     run of L − K + 1 duplicated anchors, so no shared span can hide);
  *  3. extend: per document, maximal runs of duplicated anchors merge
  *     into spans by pure integer arithmetic — anchor at `pos` covers
  *     [pos, pos+K−1], and a gap-and-island window PARTITIONED BY
  *     doc_id (never global — the window's working set is one
  *     document's anchor list) fuses overlapping/adjacent covers into
  *     maximal [s0, e0] spans.
  *
  * `dedup_substring` emits the removal PLAN (per doc: token count,
  * maximal span count, covered tokens, retained fraction);
  * `dedup_substring_apply` executes it, emitting the CLEANED text with
  * every covered position dropped — the complement filter is an
  * anti-join on (doc_id, pos) plus a per-doc ordered reassembly, both
  * doc-partitioned.
  *
  * 100 TB posture: shuffle #1 carries the K-gram vocabulary (partial
  * aggregation folds repeats map-side), the mark join is keyed by the
  * 8-byte hash, and the only windows/regroupings are doc-partitioned.
  * Nothing ever sorts or collects the corpus globally — the suffix
  * array's one global structure is replaced by the anchor-count table,
  * which shards by hash. ShuffleBudgetSpec pins both volumes.
  */
object SubstringDedupOps {

  /** Minimum duplicated run, in tokens (Lee et al. use 50 BPE tokens at
    * web scale; 8 matches this corpus's passage operators).
    */
  private[graft] val K = 8

  private def docs(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "documents")

  /** (doc_id, toks) token arrays of a (doc_id, text) frame. */
  private[graft] def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))

  /** Anchor rows: (doc_id, pos, hash of toks[pos..pos+K-1]) — one row
    * per K-token window position, built map-side.
    */
  private[graft] def anchorsOf(t: DataFrame): DataFrame =
    t.filter(size(col("toks")) >= K)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - (K - 1)),
        i => struct(i.as("pos"), xxhash64(concat_ws(" ",
          (0 until K).map(o => element_at(col("toks"), i + o)): _*)).as("ph"))))
        .as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.ph").as("ph"))

  /** Integer-offset extension of duplicated anchor marks (doc_id, pos)
    * into maximal spans (doc_id, span_id, s0, e0): anchor pos covers
    * [pos, pos+K-1]; a new span starts where the gap to the furthest
    * cover so far exceeds adjacency. Both windows partition by doc_id —
    * the working set is one document's anchor list.
    */
  private[graft] def fuseSpans(dup: DataFrame): DataFrame = {
    val wPrev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dup
      .withColumn("prev_end", max(col("pos") + (K - 1)).over(wPrev))
      .withColumn("brk",
        when(col("prev_end").isNull || col("pos") > col("prev_end") + 1, 1).otherwise(0))
      .withColumn("span_id", sum("brk").over(wRun))
      .groupBy("doc_id", "span_id")
      .agg(min("pos").as("s0"), (max("pos") + (K - 1)).as("e0"))
  }

  /** Execute a span removal plan: spans fold to ONE array row per
    * affected doc (span-scale), join the tokenized corpus by doc_id
    * once, and the complement filter is a map-only array lambda —
    * O(n_tok × n_spans) per doc, zero token-level shuffle. Returns
    * (doc_id, n_tokens, kept_tokens, clean_text).
    */
  private[graft] def cleanWith(t: DataFrame, spans: DataFrame): DataFrame = {
    val base = t.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
    val spanArr = spans.groupBy("doc_id")
      .agg(collect_list(struct(col("s0"), col("e0"))).as("sp"))
    val kept = t.join(spanArr, Seq("doc_id"), "left")
      .withColumn("sp", coalesce(col("sp"), array()))
      .withColumn("kept", filter(
        transform(col("toks"), (w, i) => struct((i + 1).as("pos"), w.as("w"))),
        x => !exists(col("sp"), sp =>
          x.getField("pos") >= sp.getField("s0") &&
            x.getField("pos") <= sp.getField("e0"))))
    base.join(
        kept.select(col("doc_id"),
          size(col("kept")).cast("long").as("kept_tokens"),
          array_join(transform(col("kept"), x => x.getField("w")), " ").as("clean_text")),
        Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("kept_tokens"), col("clean_text"))
  }

  /** Tokenized corpus, per-doc sizes, and the maximal duplicated spans
    * (doc_id, s0, e0) — the shared front half of plan and apply.
    */
  private def spanFrames(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val t = tokens(docs(s, dir))
    val base = t.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
    // Cached — the mark stage reads it twice (count table + join
    // back), and without the cache the whole explode re-runs.
    val anchors = Materialize.cache(anchorsOf(t))
    val dupKeys = anchors.groupBy("ph")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("ph")
    val dup = anchors.join(dupKeys, "ph").select("doc_id", "pos")
    (t, base, fuseSpans(dup))
  }

  /** The shared oracle front half: CTEs `t` (tokens), `base` (sizes),
    * `spans` (maximal duplicated spans). DuckDB has no xxhash64 — the
    * K-gram TEXT itself is the key (same counts, engine-local key
    * representation).
    */
  private val spanSqlCtes: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (
      |  SELECT doc_id, u.pos AS pos, u.ph AS ph FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(toks) - 6),
      |      i -> {'pos': i,
      |            'ph': toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
      |              || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]})) AS u
      |    FROM t WHERE len(toks) >= 8)),
      |nd AS (SELECT ph FROM g GROUP BY ph HAVING COUNT(DISTINCT doc_id) >= 2),
      |d AS (SELECT doc_id, pos FROM g JOIN nd USING (ph)),
      |mk AS (
      |  SELECT doc_id, pos,
      |    MAX(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |  FROM d),
      |sp AS (
      |  SELECT doc_id, pos,
      |    SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      |  FROM mk),
      |spans AS (
      |  SELECT doc_id, span_id, MIN(pos) AS s0, MAX(pos) + 7 AS e0
      |  FROM sp GROUP BY 1, 2),
      |base AS (SELECT doc_id, len(toks) AS n_tokens FROM t)""".stripMargin

  def defs: Map[String, QDef] = Map(
    "dedup_substring" -> QDef(
      (s, dir) => {
        val (_, base, spans) = spanFrames(s, dir)
        val perDoc = spans.groupBy("doc_id").agg(
          count(lit(1)).as("n_spans"),
          sum(col("e0") - col("s0") + 1).as("dup_tokens"))
        base.join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("n_spans"), lit(0L)).cast("long").as("n_spans"),
            coalesce(col("dup_tokens"), lit(0L)).cast("long").as("dup_tokens"),
            round(lit(1.0) - coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens").cast("double"), 4)
              .as("keep_frac"))
          .orderBy("doc_id")
      },
      spanSqlCtes + ",\n" +
        """pd AS (
        |  SELECT doc_id, COUNT(*) AS n_spans, SUM(e0 - s0 + 1) AS dup_tokens
        |  FROM spans GROUP BY 1)
        |SELECT b.doc_id AS doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(pd.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(COALESCE(pd.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  ROUND(1.0 - COALESCE(pd.dup_tokens, 0) * 1.0 / b.n_tokens, 4) AS keep_frac
        |FROM base b
        |LEFT JOIN pd USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // The removal itself: drop every covered token position and
    // reassemble the surviving tokens in order — the step that actually
    // produces the training corpus. NOT an anti-join on (doc_id, pos):
    // that would shuffle every corpus token through an exchange. The
    // spans fold to ONE array row per affected doc (span-scale), join
    // the tokenized corpus by doc_id once, and the complement filter is
    // a map-only array lambda — O(n_tok × n_spans) per doc, zero
    // token-level shuffle.
    "dedup_substring_apply" -> QDef(
      (s, dir) => {
        val (t, _, spans) = spanFrames(s, dir)
        cleanWith(t, spans).orderBy("doc_id")
      },
      // The oracle mirrors the Spark shape — spans fold to one list per
      // doc, the complement filter is a per-row list lambda — instead of
      // exploding every token position into a corpus-sized join +
      // string_agg (that formulation OOM'd DuckDB at sf10: 100M-row
      // tokpos × cov join; the lambda form runs the same sweep in 52 s
      // flat with per-row memory).
      spanSqlCtes + ",\n" +
        """sarr AS (
        |  SELECT doc_id, list({'s0': s0, 'e0': e0}) AS sp FROM spans GROUP BY doc_id),
        |cl AS (
        |  SELECT t.doc_id,
        |    list_filter(list_transform(range(1, len(toks) + 1),
        |        i -> {'pos': i, 'w': toks[i]}),
        |      x -> len(list_filter(COALESCE(sarr.sp, []),
        |             s -> x.pos >= s.s0 AND x.pos <= s.e0)) = 0) AS kept
        |  FROM t LEFT JOIN sarr USING (doc_id))
        |SELECT b.doc_id AS doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(len(cl.kept) AS BIGINT) AS kept_tokens,
        |  COALESCE(array_to_string(list_transform(cl.kept, x -> x.w), ' '), '') AS clean_text
        |FROM base b JOIN cl USING (doc_id)
        |ORDER BY doc_id""".stripMargin)
  )
}
