package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** MODIFIED Kneser-Ney trigram scoring (Chen & Goodman 1999 §3, the
  * KenLM formulation production perplexity filters actually ship): the
  * single absolute discount d=0.75 of `text_kn_trigram` is replaced by
  * THREE count-dependent discounts per level, estimated from the
  * level's count-of-counts (n_k = number of types seen exactly k
  * times):
  *
  *   Y  = n1 / (n1 + 2·n2)
  *   D1 = 1 − 2·Y·n2/n1      (applied to types with count 1)
  *   D2 = 2 − 3·Y·n3/n2      (count 2)
  *   D3+= 3 − 4·Y·n4/n3      (count ≥ 3)
  *
  * and the back-off mass of a history h becomes
  *   γ(h) = (D1·N1(h·) + D2·N2(h·) + D3+·N3+(h·)) / c(h·)
  * where N_k(h·) counts the continuations of h seen exactly k times.
  * Each level of the interpolated recursion (trigram → continuation
  * bigram → continuation unigram → uniform 1/V) applies its OWN
  * discounts estimated from its OWN count table — the lower levels'
  * "counts" are the KN TYPE counts, exactly as in `text_kn_trigram`
  * (TextOps2.scala:165), whose count-table construction this reuses.
  *
  * Scale shape identical to 25ju: the trigram token table is
  * corpus-scale map-side work; every count / count-of-counts /
  * per-history bucket table is a vocabulary-scale partial-agg shuffle
  * ("N1/N2/N3+ per history are one more vocabulary-scale agg each");
  * the three discount sets are 1-row broadcasts; the score join back
  * is keyed by trigram after the doc filter. Discounts are clamped
  * into [0,1]/[0,2]/[0,3] with max(n_k,1) denominators — identical
  * guards on both engines, so degenerate tiny-corpus count-of-counts
  * (n3=n4=0) stay NaN-free and every discounted numerator stays ≥ 0
  * (the probability keeps the strictly-positive back-off floor, so
  * log2 is total — KnModifiedSpec pins the probability axioms). All
  * inputs are exact integer aggregates; one identical parenthesized
  * expression shape on both engines, avg rounded 4dp.
  */
object KnModifiedOps {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "documents")

  private def tokd(s: SparkSession, dir: String): DataFrame =
    Eval.barrier(
      Eval.fanOut(
        docs(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 3)))

  /** The three modified discounts from a level's count-of-counts
    * columns n1..n4. max(·,1) denominators keep the arithmetic total
    * on degenerate counts; a NON-POSITIVE Chen-Goodman estimate
    * (possible when a level's count-of-counts geometry is degenerate,
    * e.g. n4 large relative to a tiny n3 — observed at the quadgram
    * level on the sf0.001 corpus) falls back to the classic absolute
    * discount 0.75 instead of clamping to ZERO: a zero discount hands
    * a single-continuation history its full undiscounted mass and the
    * scored probability lands EXACTLY on 1.0 (surprisal 0), breaking
    * the strict (0,1) axiom KnModifiedSpec pins. 0 < Dk ≤ k always
    * holds, so every discounted numerator stays ≥ 0 with a strictly
    * positive back-off γ — p strictly inside (0,1) by induction.
    */
  private def discountCols(pfx: String): Seq[Column] = {
    val (n1, n2, n3, n4) = (col("n1"), col("n2"), col("n3"), col("n4"))
    val y = n1 / greatest(n1 + n2 * 2L, lit(1L)).cast("double")
    def d(k: Double, raw: Column): Column =
      when(raw > 0.0, least(lit(k), raw)).otherwise(lit(0.75))
    Seq(
      d(1.0, lit(1.0) - y * 2.0 * n2 / greatest(n1, lit(1L)).cast("double")).as(s"${pfx}d1"),
      d(2.0, lit(2.0) - y * 3.0 * n3 / greatest(n2, lit(1L)).cast("double")).as(s"${pfx}d2"),
      d(3.0, lit(3.0) - y * 4.0 * n4 / greatest(n3, lit(1L)).cast("double")).as(s"${pfx}d3"))
  }

  /** Count-of-counts n1..n4 over a count table's `cCol` (1 row). */
  private def countOfCounts(t: DataFrame, cCol: String): DataFrame =
    t.agg(
      sum(when(col(cCol) === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col(cCol) === 2, 1L).otherwise(0L)).as("n2"),
      sum(when(col(cCol) === 3, 1L).otherwise(0L)).as("n3"),
      sum(when(col(cCol) === 4, 1L).otherwise(0L)).as("n4"))

  /** Per-history total + N1/N2/N3+ continuation buckets over `cCol`. */
  private def historyBuckets(t: DataFrame, keys: Seq[String], cCol: String,
      pfx: String, totName: String): DataFrame =
    t.groupBy(keys.map(col): _*).agg(
      sum(col(cCol)).as(totName),
      sum(when(col(cCol) === 1, 1L).otherwise(0L)).as(s"${pfx}n1"),
      sum(when(col(cCol) === 2, 1L).otherwise(0L)).as(s"${pfx}n2"),
      sum(when(col(cCol) >= 3, 1L).otherwise(0L)).as(s"${pfx}np"))

  /** Per-trigram-token scored frame (doc_id, w1, w2, w3, p3) for docs
    * below `docLimit` — split out so KnModifiedSpec can assert the
    * probability axioms on the raw scores.
    */
  private[queries] def scored(s: SparkSession, dir: String, docLimit: Int = 100): DataFrame = {
    val t = tokd(s, dir)
    val tri = Materialize.cache(t.select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 2),
          i => struct(
            element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2"),
            element_at(col("toks"), i + 2).as("w3")))).as("g"))
      .select(col("doc_id"), col("g.w1").as("w1"),
        col("g.w2").as("w2"), col("g.w3").as("w3")))
    // The 25ju count-table stack: trigram types, mid-level (w2,w3) type
    // counts, low-level continuation counts.
    val ct = Materialize.cache(tri.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("ctv")))
    val nm = Materialize.cache(ct.groupBy("w2", "w3").agg(count(lit(1)).as("nm")))
    val nb = Materialize.cache(nm.groupBy("w3").agg(count(lit(1)).as("nb")))
    val h3 = historyBuckets(ct, Seq("w1", "w2"), "ctv", "h3", "ch3")
    val h2 = historyBuckets(nm, Seq("w2"), "nm", "h2", "nc2")
    // Per-level discounts (1-row broadcasts). The low level also
    // carries its global N-buckets (single empty history), the
    // bigram-type total and the vocabulary size.
    val gd3 = countOfCounts(ct, "ctv").select(discountCols("t"): _*)
    val gd2 = countOfCounts(nm, "nm").select(discountCols("m"): _*)
    val g1 = nb.agg(
        sum(when(col("nb") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("nb") === 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("nb") === 3, 1L).otherwise(0L)).as("n3"),
        sum(when(col("nb") === 4, 1L).otherwise(0L)).as("n4"),
        sum(when(col("nb") >= 3, 1L).otherwise(0L)).as("np"),
        sum(col("nb")).as("btypes"),
        count(lit(1)).as("vsz"))
      .select(discountCols("u") ++ Seq(col("n1").as("un1"),
        col("n2").as("un2"), col("np").as("unp"),
        col("btypes"), col("vsz")): _*)

    val base = tri.filter(col("doc_id") < docLimit)
      .join(ct, Seq("w1", "w2", "w3"))
      .join(h3, Seq("w1", "w2"))
      .join(nm, Seq("w2", "w3"))
      .join(h2, Seq("w2"))
      .join(nb, Seq("w3"))
      .crossJoin(broadcast(gd3))
      .crossJoin(broadcast(gd2))
      .crossJoin(broadcast(g1))
    def dsel(c: Column, d1: Column, d2: Column, d3: Column): Column =
      when(c === 1, d1).when(c === 2, d2).otherwise(d3)
    val p1 = (col("nb") - dsel(col("nb"), col("ud1"), col("ud2"), col("ud3"))) /
      col("btypes").cast("double") +
      ((col("ud1") * col("un1") + col("ud2") * col("un2") + col("ud3") * col("unp")) /
        col("btypes").cast("double")) * (lit(1.0) / col("vsz").cast("double"))
    val p2 = (col("nm") - dsel(col("nm"), col("md1"), col("md2"), col("md3"))) /
      col("nc2").cast("double") +
      ((col("md1") * col("h2n1") + col("md2") * col("h2n2") + col("md3") * col("h2np")) /
        col("nc2").cast("double")) * p1
    val p3 = (col("ctv") - dsel(col("ctv"), col("td1"), col("td2"), col("td3"))) /
      col("ch3").cast("double") +
      ((col("td1") * col("h3n1") + col("td2") * col("h3n2") + col("td3") * col("h3np")) /
        col("ch3").cast("double")) * p2
    base.select(col("doc_id"), col("w1"), col("w2"), col("w3"), p3.as("p3"))
  }

  /** Per-quadgram-token scored frame (doc_id, w1..w4, p4) — the
    * order-4 generalization of [[scored]] (SURVEY §7c2 item 4): one
    * more level on the same recursion. Raw quadgram
    * counts at the top; the trigram/bigram/unigram levels below are
    * all KN TYPE (continuation) counts; every level estimates its OWN
    * three discounts from its OWN count-of-counts. Scale shape is the
    * trigram's with one more vocabulary-scale partial-agg tier: the
    * quadgram token table is corpus-scale map-side work, all count /
    * history tables are vocabulary-scale, discounts are 1-row
    * broadcasts, the score join back is keyed by quadgram after the
    * doc filter.
    */
  /** The per-doc quadgram token frame (doc_id, w1..w4) over `base`. */
  private def quadTokens(base: DataFrame): DataFrame =
    base.select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 3),
          i => struct(
            element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2"),
            element_at(col("toks"), i + 2).as("w3"),
            element_at(col("toks"), i + 3).as("w4")))).as("g"))
      .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2"),
        col("g.w3").as("w3"), col("g.w4").as("w4"))

  private[queries] def scoredQuad(s: SparkSession, dir: String, docLimit: Int = 100): DataFrame = {
    // The corpus-scale exploded quadgram frame is not cached. Its only
    // consumer is the cq count table
    // (the scored side below re-scans the parquet with doc_id <
    // docLimit PUSHED to the scan — identical rows, the filter commutes
    // with the per-row split/explode — instead of filtering a cached
    // corpus-scale explode), so the ~4-strings-per-token columnar cache
    // write was pure overhead. The vocabulary-scale tiers stay cached:
    // each is read by 2-3 consumers and an uncached variant re-ran the
    // quad shuffle ×4 (ReusedExchange did not dedupe across the
    // differently-aggregated subtrees — measured 83.6 MB shuffle vs
    // 21.7 MB, 9.3 s vs 6.4 s).
    val t = Eval.barrier(
      Eval.fanOut(
        docs(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 4)))
    val quad = quadTokens(t)
    // Count-table stack: raw quadgram counts, then per-level
    // continuation TYPE counts (Chen & Goodman: lower levels count the
    // distinct extended contexts, not raw occurrences).
    val cq = Materialize.cache(quad.groupBy("w1", "w2", "w3", "w4").agg(count(lit(1)).as("cqv")))
    val nt = Materialize.cache(cq.groupBy("w2", "w3", "w4").agg(count(lit(1)).as("nt")))
    val nm = Materialize.cache(nt.groupBy("w3", "w4").agg(count(lit(1)).as("nm")))
    val nb = Materialize.cache(nm.groupBy("w4").agg(count(lit(1)).as("nb")))
    val h4 = historyBuckets(cq, Seq("w1", "w2", "w3"), "cqv", "h4", "ch4")
    val h3 = historyBuckets(nt, Seq("w2", "w3"), "nt", "h3", "ct3")
    val h2 = historyBuckets(nm, Seq("w3"), "nm", "h2", "nc2")
    val gd4 = countOfCounts(cq, "cqv").select(discountCols("q"): _*)
    val gd3 = countOfCounts(nt, "nt").select(discountCols("t"): _*)
    val gd2 = countOfCounts(nm, "nm").select(discountCols("m"): _*)
    val g1 = nb.agg(
        sum(when(col("nb") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("nb") === 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("nb") === 3, 1L).otherwise(0L)).as("n3"),
        sum(when(col("nb") === 4, 1L).otherwise(0L)).as("n4"),
        sum(when(col("nb") >= 3, 1L).otherwise(0L)).as("np"),
        sum(col("nb")).as("btypes"),
        count(lit(1)).as("vsz"))
      .select(discountCols("u") ++ Seq(col("n1").as("un1"),
        col("n2").as("un2"), col("np").as("unp"),
        col("btypes"), col("vsz")): _*)

    val scoredToks = quadTokens(
      docs(s, dir).filter(col("doc_id") < docLimit)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 4))
    val base = scoredToks
      .join(cq, Seq("w1", "w2", "w3", "w4"))
      .join(h4, Seq("w1", "w2", "w3"))
      .join(nt, Seq("w2", "w3", "w4"))
      .join(h3, Seq("w2", "w3"))
      .join(nm, Seq("w3", "w4"))
      .join(h2, Seq("w3"))
      .join(nb, Seq("w4"))
      .crossJoin(broadcast(gd4))
      .crossJoin(broadcast(gd3))
      .crossJoin(broadcast(gd2))
      .crossJoin(broadcast(g1))
    def dsel(c: Column, d1: Column, d2: Column, d3: Column): Column =
      when(c === 1, d1).when(c === 2, d2).otherwise(d3)
    val p1 = (col("nb") - dsel(col("nb"), col("ud1"), col("ud2"), col("ud3"))) /
      col("btypes").cast("double") +
      ((col("ud1") * col("un1") + col("ud2") * col("un2") + col("ud3") * col("unp")) /
        col("btypes").cast("double")) * (lit(1.0) / col("vsz").cast("double"))
    val p2 = (col("nm") - dsel(col("nm"), col("md1"), col("md2"), col("md3"))) /
      col("nc2").cast("double") +
      ((col("md1") * col("h2n1") + col("md2") * col("h2n2") + col("md3") * col("h2np")) /
        col("nc2").cast("double")) * p1
    val p3 = (col("nt") - dsel(col("nt"), col("td1"), col("td2"), col("td3"))) /
      col("ct3").cast("double") +
      ((col("td1") * col("h3n1") + col("td2") * col("h3n2") + col("td3") * col("h3np")) /
        col("ct3").cast("double")) * p2
    val p4 = (col("cqv") - dsel(col("cqv"), col("qd1"), col("qd2"), col("qd3"))) /
      col("ch4").cast("double") +
      ((col("qd1") * col("h4n1") + col("qd2") * col("h4n2") + col("qd3") * col("h4np")) /
        col("ch4").cast("double")) * p3
    base.select(col("doc_id"), col("w1"), col("w2"), col("w3"), col("w4"),
      p4.as("p4"))
  }

  val defs: Map[String, QDef] = Map(
    // §2 25kg modified Kneser-Ney trigram surprisal: per-doc mean −log2 p(w3|w1w2) under modified-KN smoothing,
    // count-of-counts discount estimation replayed in the oracle.
    "text_kn_modified" -> QDef(
      (s, dir) =>
        scored(s, dir)
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_trigrams"),
            round(avg(-log2(col("p3"))), 4).as("mean_mkn_surprisal"))
          .orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |tri AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3
        |  FROM t, UNNEST(range(1, len(toks) - 1)) AS u(i)),
        |ct AS (SELECT w1, w2, w3, COUNT(*) AS ctv FROM tri GROUP BY 1, 2, 3),
        |nm AS (SELECT w2, w3, COUNT(*) AS nm FROM ct GROUP BY 1, 2),
        |nb AS (SELECT w3, COUNT(*) AS nb FROM nm GROUP BY 1),
        |h3 AS (SELECT w1, w2, SUM(ctv) AS ch3,
        |         SUM(CASE WHEN ctv = 1 THEN 1 ELSE 0 END) AS h3n1,
        |         SUM(CASE WHEN ctv = 2 THEN 1 ELSE 0 END) AS h3n2,
        |         SUM(CASE WHEN ctv >= 3 THEN 1 ELSE 0 END) AS h3np
        |       FROM ct GROUP BY 1, 2),
        |h2 AS (SELECT w2, SUM(nm) AS nc2,
        |         SUM(CASE WHEN nm = 1 THEN 1 ELSE 0 END) AS h2n1,
        |         SUM(CASE WHEN nm = 2 THEN 1 ELSE 0 END) AS h2n2,
        |         SUM(CASE WHEN nm >= 3 THEN 1 ELSE 0 END) AS h2np
        |       FROM nm GROUP BY 1),
        |cc3 AS (SELECT SUM(CASE WHEN ctv = 1 THEN 1 ELSE 0 END) AS n1,
        |          SUM(CASE WHEN ctv = 2 THEN 1 ELSE 0 END) AS n2,
        |          SUM(CASE WHEN ctv = 3 THEN 1 ELSE 0 END) AS n3,
        |          SUM(CASE WHEN ctv = 4 THEN 1 ELSE 0 END) AS n4 FROM ct),
        |gd3 AS (SELECT
        |    CASE WHEN r1 > 0 THEN LEAST(1.0, r1) ELSE 0.75 END AS td1,
        |    CASE WHEN r2 > 0 THEN LEAST(2.0, r2) ELSE 0.75 END AS td2,
        |    CASE WHEN r3 > 0 THEN LEAST(3.0, r3) ELSE 0.75 END AS td3
        |  FROM (SELECT
        |      1.0 - n1 / CAST(GREATEST(n1 + n2 * 2, 1) AS DOUBLE)
        |        * 2.0 * n2 / CAST(GREATEST(n1, 1) AS DOUBLE) AS r1,
        |      2.0 - n1 / CAST(GREATEST(n1 + n2 * 2, 1) AS DOUBLE)
        |        * 3.0 * n3 / CAST(GREATEST(n2, 1) AS DOUBLE) AS r2,
        |      3.0 - n1 / CAST(GREATEST(n1 + n2 * 2, 1) AS DOUBLE)
        |        * 4.0 * n4 / CAST(GREATEST(n3, 1) AS DOUBLE) AS r3 FROM cc3)),
        |cc2 AS (SELECT SUM(CASE WHEN nm = 1 THEN 1 ELSE 0 END) AS n1,
        |          SUM(CASE WHEN nm = 2 THEN 1 ELSE 0 END) AS n2,
        |          SUM(CASE WHEN nm = 3 THEN 1 ELSE 0 END) AS n3,
        |          SUM(CASE WHEN nm = 4 THEN 1 ELSE 0 END) AS n4 FROM nm),
        |gd2 AS (SELECT
        |    CASE WHEN r1 > 0 THEN LEAST(1.0, r1) ELSE 0.75 END AS md1,
        |    CASE WHEN r2 > 0 THEN LEAST(2.0, r2) ELSE 0.75 END AS md2,
        |    CASE WHEN r3 > 0 THEN LEAST(3.0, r3) ELSE 0.75 END AS md3
        |  FROM (SELECT
        |      1.0 - n1 / CAST(GREATEST(n1 + n2 * 2, 1) AS DOUBLE)
        |        * 2.0 * n2 / CAST(GREATEST(n1, 1) AS DOUBLE) AS r1,
        |      2.0 - n1 / CAST(GREATEST(n1 + n2 * 2, 1) AS DOUBLE)
        |        * 3.0 * n3 / CAST(GREATEST(n2, 1) AS DOUBLE) AS r2,
        |      3.0 - n1 / CAST(GREATEST(n1 + n2 * 2, 1) AS DOUBLE)
        |        * 4.0 * n4 / CAST(GREATEST(n3, 1) AS DOUBLE) AS r3 FROM cc2)),
        |cc1 AS (SELECT SUM(CASE WHEN nb = 1 THEN 1 ELSE 0 END) AS n1,
        |          SUM(CASE WHEN nb = 2 THEN 1 ELSE 0 END) AS n2,
        |          SUM(CASE WHEN nb = 3 THEN 1 ELSE 0 END) AS n3,
        |          SUM(CASE WHEN nb = 4 THEN 1 ELSE 0 END) AS n4,
        |          SUM(CASE WHEN nb >= 3 THEN 1 ELSE 0 END) AS np,
        |          SUM(nb) AS btypes, COUNT(*) AS vsz FROM nb),
        |g1 AS (SELECT
        |    CASE WHEN r1 > 0 THEN LEAST(1.0, r1) ELSE 0.75 END AS ud1,
        |    CASE WHEN r2 > 0 THEN LEAST(2.0, r2) ELSE 0.75 END AS ud2,
        |    CASE WHEN r3 > 0 THEN LEAST(3.0, r3) ELSE 0.75 END AS ud3,
        |    n1 AS un1, n2 AS un2, np AS unp, btypes, vsz
        |  FROM (SELECT n1, n2, np, btypes, vsz,
        |      1.0 - n1 / CAST(GREATEST(n1 + n2 * 2, 1) AS DOUBLE)
        |        * 2.0 * n2 / CAST(GREATEST(n1, 1) AS DOUBLE) AS r1,
        |      2.0 - n1 / CAST(GREATEST(n1 + n2 * 2, 1) AS DOUBLE)
        |        * 3.0 * n3 / CAST(GREATEST(n2, 1) AS DOUBLE) AS r2,
        |      3.0 - n1 / CAST(GREATEST(n1 + n2 * 2, 1) AS DOUBLE)
        |        * 4.0 * n4 / CAST(GREATEST(n3, 1) AS DOUBLE) AS r3 FROM cc1)),
        |base AS (
        |  SELECT doc_id, ctv, ch3, h3n1, h3n2, h3np, nm, nc2, h2n1, h2n2, h2np,
        |         nb, td1, td2, td3, md1, md2, md3, ud1, ud2, ud3, un1, un2, unp,
        |         btypes, vsz
        |  FROM tri JOIN ct USING (w1, w2, w3) JOIN h3 USING (w1, w2)
        |    JOIN nm USING (w2, w3) JOIN h2 USING (w2) JOIN nb USING (w3)
        |  CROSS JOIN gd3 CROSS JOIN gd2 CROSS JOIN g1
        |  WHERE doc_id < 100),
        |s1 AS (SELECT *,
        |    (nb - CASE WHEN nb = 1 THEN ud1 WHEN nb = 2 THEN ud2 ELSE ud3 END)
        |      / CAST(btypes AS DOUBLE)
        |    + ((ud1 * un1 + ud2 * un2 + ud3 * unp) / CAST(btypes AS DOUBLE))
        |      * (1.0 / CAST(vsz AS DOUBLE)) AS p1
        |  FROM base),
        |s2 AS (SELECT *,
        |    (nm - CASE WHEN nm = 1 THEN md1 WHEN nm = 2 THEN md2 ELSE md3 END)
        |      / CAST(nc2 AS DOUBLE)
        |    + ((md1 * h2n1 + md2 * h2n2 + md3 * h2np) / CAST(nc2 AS DOUBLE)) * p1 AS p2
        |  FROM s1),
        |s3 AS (SELECT doc_id,
        |    (ctv - CASE WHEN ctv = 1 THEN td1 WHEN ctv = 2 THEN td2 ELSE td3 END)
        |      / CAST(ch3 AS DOUBLE)
        |    + ((td1 * h3n1 + td2 * h3n2 + td3 * h3np) / CAST(ch3 AS DOUBLE)) * p2 AS p3
        |  FROM s2)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
        |  ROUND(AVG(-log2(p3)), 4) AS mean_mkn_surprisal
        |FROM s3 GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // §2 25kr modified Kneser-Ney QUADGRAM surprisal: per-doc mean −log2 p(w4|w1w2w3), order-4 recursion with
    // per-level count-of-counts discounts replayed in the oracle.
    "text_kn_quadgram" -> QDef(
      (s, dir) =>
        scoredQuad(s, dir)
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_quadgrams"),
            round(avg(-log2(col("p4"))), 4).as("mean_mkn4_surprisal"))
          .orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 4),
        |quad AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2,
        |         toks[i+2] AS w3, toks[i+3] AS w4
        |  FROM t, UNNEST(range(1, len(toks) - 2)) AS u(i)),
        |cq AS (SELECT w1, w2, w3, w4, COUNT(*) AS cqv FROM quad GROUP BY 1, 2, 3, 4),
        |nt AS (SELECT w2, w3, w4, COUNT(*) AS nt FROM cq GROUP BY 1, 2, 3),
        |nm AS (SELECT w3, w4, COUNT(*) AS nm FROM nt GROUP BY 1, 2),
        |nb AS (SELECT w4, COUNT(*) AS nb FROM nm GROUP BY 1),
        |h4 AS (SELECT w1, w2, w3, SUM(cqv) AS ch4,
        |         SUM(CASE WHEN cqv = 1 THEN 1 ELSE 0 END) AS h4n1,
        |         SUM(CASE WHEN cqv = 2 THEN 1 ELSE 0 END) AS h4n2,
        |         SUM(CASE WHEN cqv >= 3 THEN 1 ELSE 0 END) AS h4np
        |       FROM cq GROUP BY 1, 2, 3),
        |h3 AS (SELECT w2, w3, SUM(nt) AS ct3,
        |         SUM(CASE WHEN nt = 1 THEN 1 ELSE 0 END) AS h3n1,
        |         SUM(CASE WHEN nt = 2 THEN 1 ELSE 0 END) AS h3n2,
        |         SUM(CASE WHEN nt >= 3 THEN 1 ELSE 0 END) AS h3np
        |       FROM nt GROUP BY 1, 2),
        |h2 AS (SELECT w3, SUM(nm) AS nc2,
        |         SUM(CASE WHEN nm = 1 THEN 1 ELSE 0 END) AS h2n1,
        |         SUM(CASE WHEN nm = 2 THEN 1 ELSE 0 END) AS h2n2,
        |         SUM(CASE WHEN nm >= 3 THEN 1 ELSE 0 END) AS h2np
        |       FROM nm GROUP BY 1),
        |cc4 AS (SELECT SUM(CASE WHEN cqv = 1 THEN 1 ELSE 0 END) AS n1,
        |          SUM(CASE WHEN cqv = 2 THEN 1 ELSE 0 END) AS n2,
        |          SUM(CASE WHEN cqv = 3 THEN 1 ELSE 0 END) AS n3,
        |          SUM(CASE WHEN cqv = 4 THEN 1 ELSE 0 END) AS n4 FROM cq),
        |gd4 AS (SELECT
        |    CASE WHEN r1 > 0 THEN LEAST(1.0, r1) ELSE 0.75 END AS qd1,
        |    CASE WHEN r2 > 0 THEN LEAST(2.0, r2) ELSE 0.75 END AS qd2,
        |    CASE WHEN r3 > 0 THEN LEAST(3.0, r3) ELSE 0.75 END AS qd3
        |  FROM (SELECT
        |      1.0 - n1 / CAST(GREATEST(n1 + n2 * 2, 1) AS DOUBLE)
        |        * 2.0 * n2 / CAST(GREATEST(n1, 1) AS DOUBLE) AS r1,
        |      2.0 - n1 / CAST(GREATEST(n1 + n2 * 2, 1) AS DOUBLE)
        |        * 3.0 * n3 / CAST(GREATEST(n2, 1) AS DOUBLE) AS r2,
        |      3.0 - n1 / CAST(GREATEST(n1 + n2 * 2, 1) AS DOUBLE)
        |        * 4.0 * n4 / CAST(GREATEST(n3, 1) AS DOUBLE) AS r3 FROM cc4)),
        |cc3 AS (SELECT SUM(CASE WHEN nt = 1 THEN 1 ELSE 0 END) AS n1,
        |          SUM(CASE WHEN nt = 2 THEN 1 ELSE 0 END) AS n2,
        |          SUM(CASE WHEN nt = 3 THEN 1 ELSE 0 END) AS n3,
        |          SUM(CASE WHEN nt = 4 THEN 1 ELSE 0 END) AS n4 FROM nt),
        |gd3 AS (SELECT
        |    CASE WHEN r1 > 0 THEN LEAST(1.0, r1) ELSE 0.75 END AS td1,
        |    CASE WHEN r2 > 0 THEN LEAST(2.0, r2) ELSE 0.75 END AS td2,
        |    CASE WHEN r3 > 0 THEN LEAST(3.0, r3) ELSE 0.75 END AS td3
        |  FROM (SELECT
        |      1.0 - n1 / CAST(GREATEST(n1 + n2 * 2, 1) AS DOUBLE)
        |        * 2.0 * n2 / CAST(GREATEST(n1, 1) AS DOUBLE) AS r1,
        |      2.0 - n1 / CAST(GREATEST(n1 + n2 * 2, 1) AS DOUBLE)
        |        * 3.0 * n3 / CAST(GREATEST(n2, 1) AS DOUBLE) AS r2,
        |      3.0 - n1 / CAST(GREATEST(n1 + n2 * 2, 1) AS DOUBLE)
        |        * 4.0 * n4 / CAST(GREATEST(n3, 1) AS DOUBLE) AS r3 FROM cc3)),
        |cc2 AS (SELECT SUM(CASE WHEN nm = 1 THEN 1 ELSE 0 END) AS n1,
        |          SUM(CASE WHEN nm = 2 THEN 1 ELSE 0 END) AS n2,
        |          SUM(CASE WHEN nm = 3 THEN 1 ELSE 0 END) AS n3,
        |          SUM(CASE WHEN nm = 4 THEN 1 ELSE 0 END) AS n4 FROM nm),
        |gd2 AS (SELECT
        |    CASE WHEN r1 > 0 THEN LEAST(1.0, r1) ELSE 0.75 END AS md1,
        |    CASE WHEN r2 > 0 THEN LEAST(2.0, r2) ELSE 0.75 END AS md2,
        |    CASE WHEN r3 > 0 THEN LEAST(3.0, r3) ELSE 0.75 END AS md3
        |  FROM (SELECT
        |      1.0 - n1 / CAST(GREATEST(n1 + n2 * 2, 1) AS DOUBLE)
        |        * 2.0 * n2 / CAST(GREATEST(n1, 1) AS DOUBLE) AS r1,
        |      2.0 - n1 / CAST(GREATEST(n1 + n2 * 2, 1) AS DOUBLE)
        |        * 3.0 * n3 / CAST(GREATEST(n2, 1) AS DOUBLE) AS r2,
        |      3.0 - n1 / CAST(GREATEST(n1 + n2 * 2, 1) AS DOUBLE)
        |        * 4.0 * n4 / CAST(GREATEST(n3, 1) AS DOUBLE) AS r3 FROM cc2)),
        |cc1 AS (SELECT SUM(CASE WHEN nb = 1 THEN 1 ELSE 0 END) AS n1,
        |          SUM(CASE WHEN nb = 2 THEN 1 ELSE 0 END) AS n2,
        |          SUM(CASE WHEN nb = 3 THEN 1 ELSE 0 END) AS n3,
        |          SUM(CASE WHEN nb = 4 THEN 1 ELSE 0 END) AS n4,
        |          SUM(CASE WHEN nb >= 3 THEN 1 ELSE 0 END) AS np,
        |          SUM(nb) AS btypes, COUNT(*) AS vsz FROM nb),
        |g1 AS (SELECT
        |    CASE WHEN r1 > 0 THEN LEAST(1.0, r1) ELSE 0.75 END AS ud1,
        |    CASE WHEN r2 > 0 THEN LEAST(2.0, r2) ELSE 0.75 END AS ud2,
        |    CASE WHEN r3 > 0 THEN LEAST(3.0, r3) ELSE 0.75 END AS ud3,
        |    n1 AS un1, n2 AS un2, np AS unp, btypes, vsz
        |  FROM (SELECT n1, n2, np, btypes, vsz,
        |      1.0 - n1 / CAST(GREATEST(n1 + n2 * 2, 1) AS DOUBLE)
        |        * 2.0 * n2 / CAST(GREATEST(n1, 1) AS DOUBLE) AS r1,
        |      2.0 - n1 / CAST(GREATEST(n1 + n2 * 2, 1) AS DOUBLE)
        |        * 3.0 * n3 / CAST(GREATEST(n2, 1) AS DOUBLE) AS r2,
        |      3.0 - n1 / CAST(GREATEST(n1 + n2 * 2, 1) AS DOUBLE)
        |        * 4.0 * n4 / CAST(GREATEST(n3, 1) AS DOUBLE) AS r3 FROM cc1)),
        |base AS (
        |  SELECT doc_id, cqv, ch4, h4n1, h4n2, h4np, nt, ct3, h3n1, h3n2, h3np,
        |         nm, nc2, h2n1, h2n2, h2np, nb, qd1, qd2, qd3, td1, td2, td3,
        |         md1, md2, md3, ud1, ud2, ud3, un1, un2, unp, btypes, vsz
        |  FROM quad JOIN cq USING (w1, w2, w3, w4) JOIN h4 USING (w1, w2, w3)
        |    JOIN nt USING (w2, w3, w4) JOIN h3 USING (w2, w3)
        |    JOIN nm USING (w3, w4) JOIN h2 USING (w3) JOIN nb USING (w4)
        |  CROSS JOIN gd4 CROSS JOIN gd3 CROSS JOIN gd2 CROSS JOIN g1
        |  WHERE doc_id < 100),
        |s1 AS (SELECT *,
        |    (nb - CASE WHEN nb = 1 THEN ud1 WHEN nb = 2 THEN ud2 ELSE ud3 END)
        |      / CAST(btypes AS DOUBLE)
        |    + ((ud1 * un1 + ud2 * un2 + ud3 * unp) / CAST(btypes AS DOUBLE))
        |      * (1.0 / CAST(vsz AS DOUBLE)) AS p1
        |  FROM base),
        |s2 AS (SELECT *,
        |    (nm - CASE WHEN nm = 1 THEN md1 WHEN nm = 2 THEN md2 ELSE md3 END)
        |      / CAST(nc2 AS DOUBLE)
        |    + ((md1 * h2n1 + md2 * h2n2 + md3 * h2np) / CAST(nc2 AS DOUBLE)) * p1 AS p2
        |  FROM s1),
        |s3 AS (SELECT *,
        |    (nt - CASE WHEN nt = 1 THEN td1 WHEN nt = 2 THEN td2 ELSE td3 END)
        |      / CAST(ct3 AS DOUBLE)
        |    + ((td1 * h3n1 + td2 * h3n2 + td3 * h3np) / CAST(ct3 AS DOUBLE)) * p2 AS p3
        |  FROM s2),
        |s4 AS (SELECT doc_id,
        |    (cqv - CASE WHEN cqv = 1 THEN qd1 WHEN cqv = 2 THEN qd2 ELSE qd3 END)
        |      / CAST(ch4 AS DOUBLE)
        |    + ((qd1 * h4n1 + qd2 * h4n2 + qd3 * h4np) / CAST(ch4 AS DOUBLE)) * p3 AS p4
        |  FROM s3)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_quadgrams,
        |  ROUND(AVG(-log2(p4)), 4) AS mean_mkn4_surprisal
        |FROM s4 GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )
}
