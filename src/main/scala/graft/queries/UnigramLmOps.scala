package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Unigram-LM (SentencePiece-style) tokenizer TRAINING + APPLICATION
  * (Kudo 2018, "Subword Regularization") — the OTHER tokenizer family
  * production pipelines use, completing 25ik's BPE: a piece VOCABULARY
  * with log-probability costs, Viterbi segmentation under it, and EM
  * prune rounds that drop the least-useful pieces.
  *
  * Deterministic recipe (both engines walk it bit-identically):
  *   1. SEED: substrings (length ≤ MaxPiece) of the distinct-word table
  *      weighted by word frequency; every single character plus the top
  *      `SeedMulti` multi-character pieces by (count DESC, piece ASC).
  *      Costs are integer MICRO-NATS: -ROUND((ln(cnt) − ln(T)) · 1e6) —
  *      exact longs from the first comparison on.
  *   2. VITERBI: per distinct word, DP over positions; dp[i] = best over
  *      piece lengths l of dp[i−l] + cost(piece), an out-of-vocabulary
  *      single char costing UnkCostMicros. All-integer costs ⇒ exact
  *      sums; the per-step best is the LEXICOGRAPHIC MIN of the struct
  *      (cost, n_pieces, n_unk, piece-list) — a TOTAL order both
  *      engines define identically (probed: Spark array_sort and DuckDB
  *      list_sort agree on structs with a trailing list field).
  *   3. EM PRUNE (×Rounds): segment → per-piece usage (weighted by word
  *      freq) → drop the `PruneN` least-used multi-char pieces
  *      (used ASC, piece ASC; single chars never pruned — coverage) →
  *      re-estimate costs from add-one-smoothed usage:
  *      -ROUND((ln(used+1) − ln(total+|V|)) · 1e6).
  *   4. APPLY: per-document exploded words joined (broadcast) to the
  *      per-distinct-word segmentation; output (n_words, n_pieces,
  *      n_unk) plus the final "piece:cost|…" vocab string — the
  *      hashable proof both engines learned the identical tokenizer.
  *
  * Spark shape, and why it holds at 100 TB: ALL corpus-scale work
  * reduces to the DISTINCT-WORD table first (one partial-aggregated
  * vocabulary-sized shuffle — exactly how SentencePiece trains on a
  * word-frequency table, not raw text). Seed selection is a bounded
  * TakeOrdered (top-SeedMulti) plus the alphabet — never a full
  * substring collect; the DP runs MAP-SIDE per distinct word with the
  * vocabulary baked in as a literal map (the IVF-codebook / BPE-merge-
  * table discipline: tokenizer tables are KBs at any corpus size);
  * usage aggregation is vocabulary-bounded; the apply join broadcasts
  * the segmented word table. Driver traffic per round = the vocab.
  *
  * The DuckDB oracle replays every step: the same seed CTEs, the DP as
  * a RECURSIVE CTE carrying the last MaxPiece dp states as shift
  * registers (DuckDB 1.0 has no fold-with-initial), vocabulary lookups
  * as LEFT JOINs instead of the literal map, the same prune ranks and
  * the same micro-nat cost expressions in the same operation order.
  */
object UnigramLmOps {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "documents")

  /** Max piece length (and DP lookback). */
  val MaxPiece = 4

  /** Seed multi-char vocabulary size. */
  val SeedMulti = 48

  /** Multi-char pieces dropped per EM round. */
  val PruneN = 12

  /** EM prune rounds. */
  val Rounds = 2

  /** Cost of an out-of-vocabulary single character (20 nats). */
  val UnkCostMicros: Long = 20000000L

  /** -ROUND((ln(a) − ln(b)) · 1e6) with DuckDB ROUND (half away from
    * zero) semantics — BigDecimal HALF_UP is exactly that.
    */
  private def costMicros(a: Double, b: Double): Long =
    -BigDecimal((math.log(a) - math.log(b)) * 1e6)
      .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong

  private def charLen(p: String): Int = p.codePointCount(0, p.length)

  /** Distinct words with frequency — the vocabulary-scale reduction all
    * later passes run on.
    */
  private[queries] def wordFreq(d: DataFrame): DataFrame =
    d.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Substring seed candidates weighted by word frequency. */
  private def seedCounts(words: DataFrame): DataFrame =
    words.select(col("freq"), explode(expr(
      s"""flatten(transform(sequence(1, length(word)), i ->
         |  filter(transform(sequence(1, $MaxPiece), l ->
         |    CASE WHEN i + l - 1 <= length(word) THEN substr(word, i, l) END),
         |  x -> x IS NOT NULL)))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))

  private def sqlStr(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** The vocabulary as a Spark SQL literal map expression. */
  private def mapSql(vocab: Seq[(String, Long)]): String =
    vocab.sortBy(_._1)
      .map { case (p, c) => sqlStr(p) + ", " + c + "L" }
      .mkString("map(", ", ", ")")

  /** Viterbi DP as one Spark SQL fold over word positions (see class
    * doc). The literal map appears ONCE (candidates pre-compute their
    * lookup into 'pc' before the CASE) — O(1) codegen size in vocab.
    */
  private def viterbiExpr(mapExpr: String): String =
    s"""aggregate(
       |  sequence(1, length(word)),
       |  array(named_struct('c', 0L, 'n', 0L, 'u', 0L, 'p', cast(array() as array<string>))),
       |  (acc, i) -> array_append(acc,
       |    element_at(array_sort(filter(
       |      transform(transform(sequence(1, least($MaxPiece, i)), l ->
       |        named_struct('l', l, 'pc', element_at($mapExpr, substr(word, i - l + 1, l)))),
       |      s ->
       |        CASE
       |          WHEN s.pc IS NOT NULL THEN named_struct(
       |            'c', element_at(acc, i - s.l + 1).c + s.pc,
       |            'n', element_at(acc, i - s.l + 1).n + 1L,
       |            'u', element_at(acc, i - s.l + 1).u,
       |            'p', array_append(element_at(acc, i - s.l + 1).p, substr(word, i - s.l + 1, s.l)))
       |          WHEN s.l = 1 THEN named_struct(
       |            'c', element_at(acc, i).c + ${UnkCostMicros}L,
       |            'n', element_at(acc, i).n + 1L,
       |            'u', element_at(acc, i).u + 1L,
       |            'p', array_append(element_at(acc, i).p, substr(word, i, 1)))
       |        END),
       |      x -> x IS NOT NULL)), 1)),
       |  acc -> element_at(acc, -1))""".stripMargin

  /** Segment the distinct-word table under `vocab`: adds struct column
    * `v` = (c, n, u, p).
    */
  private[queries] def segment(words: DataFrame, vocab: Seq[(String, Long)]): DataFrame =
    words.withColumn("v", expr(viterbiExpr(mapSql(vocab))))

  /** Full training loop; returns the final (piece → cost) vocabulary.
    * One vocabulary-sized collect per round — the only driver traffic.
    */
  def trainVocab(words: DataFrame): Seq[(String, Long)] = {
    val sc = Materialize.cache(seedCounts(words))
    // Alphabet (bounded) + bounded TakeOrdered top-SeedMulti: never a
    // full substring-table collect.
    val singles = sc.filter(length(col("piece")) === 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    val multi = sc.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece").asc).limit(SeedMulti)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val sel = singles ++ multi
    val t = sel.map(_._2).sum.toDouble
    var vocab: Seq[(String, Long)] = sel.map { case (p, c) => p -> costMicros(c.toDouble, t) }
    for (_ <- 0 until Rounds) {
      val usage: Map[String, Long] = segment(words, vocab)
        .select(col("freq"), explode(col("v.p")).as("piece"))
        .groupBy("piece").agg(sum("freq").as("used"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val withUse = vocab.map { case (p, _) => p -> usage.getOrElse(p, 0L) }
      val dropped = withUse.filter(p => charLen(p._1) > 1)
        .sortBy { case (p, u) => (u, p) }.take(PruneN).map(_._1).toSet
      val kept = withUse.filterNot(p => dropped(p._1))
      val tu = kept.map(_._2).sum
      val nv = kept.size
      vocab = kept.map { case (p, u) => p -> costMicros((u + 1).toDouble, (tu + nv).toDouble) }
    }
    vocab
  }

  /** Per-document stats under a trained vocab — shared by the oracle op
    * and the spec.
    */
  private[queries] def encodeDocs(d: DataFrame, words: DataFrame,
      vocab: Seq[(String, Long)]): DataFrame = {
    val seg = segment(words, vocab)
      .select(col("word"), col("v.n").as("n"), col("v.u").as("u"))
    val vocabStr = vocab.sortBy(_._1).map { case (p, c) => s"$p:$c" }.mkString("|")
    d.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(seg), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n").as("n_pieces"), sum("u").as("n_unk"))
      .withColumn("vocab", lit(vocabStr))
      .orderBy("doc_id")
  }

  /** One DuckDB Viterbi pass as a recursive CTE: `$out` over vocabulary
    * CTE `$v`, shift registers d0..d{MaxPiece-1} = dp[i]..dp[i-3];
    * candidates guard on a NULL previous state, vocabulary lookups are
    * LEFT JOINs on the candidate substring.
    */
  private def dpCte(v: String, out: String): String = {
    val nullS = "CAST(NULL AS STRUCT(c BIGINT, n BIGINT, u BIGINT, p VARCHAR[]))"
    def cand(l: Int): String = {
      val prev = s"d${l - 1}"
      val piece = s"substr(word, i + 2 - $l, $l)"
      if (l == 1)
        s"""CASE WHEN c1.cost IS NOT NULL
           |  THEN {'c': d0.c + c1.cost, 'n': d0.n + 1, 'u': d0.u, 'p': list_append(d0.p, $piece)}
           |  ELSE {'c': d0.c + $UnkCostMicros, 'n': d0.n + 1, 'u': d0.u + 1, 'p': list_append(d0.p, $piece)}
           |END""".stripMargin
      else
        s"""CASE WHEN $prev.c IS NOT NULL AND c$l.cost IS NOT NULL
           |  THEN {'c': $prev.c + c$l.cost, 'n': $prev.n + 1, 'u': $prev.u, 'p': list_append($prev.p, $piece)}
           |END""".stripMargin
    }
    val joins = (1 to MaxPiece)
      .map(l => s"LEFT JOIN $v c$l ON c$l.piece = substr(word, i + 2 - $l, $l)")
      .mkString("\n  ")
    s"""$out AS (
       |  SELECT word, freq, 0 AS i,
       |    {'c': CAST(0 AS BIGINT), 'n': CAST(0 AS BIGINT), 'u': CAST(0 AS BIGINT),
       |     'p': CAST([] AS VARCHAR[])} AS d0,
       |    $nullS AS d1, $nullS AS d2, $nullS AS d3
       |  FROM words
       |  UNION ALL
       |  SELECT word, freq, i + 1,
       |    list_sort(list_filter([
       |      ${(1 to MaxPiece).map(cand).mkString(",\n      ")}
       |    ], x -> x IS NOT NULL))[1],
       |    d0, d1, d2
       |  FROM $out
       |  $joins
       |  WHERE i < len(word))""".stripMargin
  }

  /** One EM round's oracle CTEs: usage from `$dp`, prune from `$prevV`,
    * re-cost into `$outV`.
    */
  private def pruneCtes(dp: String, prevV: String, n: Int): String =
    s"""u$n AS MATERIALIZED (
       |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS used FROM (
       |    SELECT freq, unnest(d0.p) AS piece FROM $dp WHERE i = len(word))
       |  GROUP BY piece),
       |pv$n AS MATERIALIZED (
       |  SELECT k.piece, COALESCE(u.used, 0) AS used
       |  FROM $prevV k LEFT JOIN u$n u USING (piece)),
       |keep$n AS MATERIALIZED (
       |  SELECT piece, used FROM pv$n WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, used FROM (
       |    SELECT piece, used, ROW_NUMBER() OVER (ORDER BY used, piece) AS rk
       |    FROM pv$n WHERE len(piece) > 1) WHERE rk > $PruneN),
       |t$n AS MATERIALIZED (SELECT CAST(SUM(used) AS BIGINT) AS tu, CAST(COUNT(*) AS BIGINT) AS nv FROM keep$n),
       |v$n AS MATERIALIZED (
       |  SELECT piece, CAST(-ROUND((ln(used + 1) - ln(tu + nv)) * 1000000, 0) AS BIGINT) AS cost
       |  FROM keep$n CROSS JOIN t$n)""".stripMargin

  /** Shared oracle prefix: full training replay (seed → 2 EM prunes)
    * down to the final per-word segmentation CTE `seg`.
    */
  private def trainOracleCtes: String =
    s"""WITH RECURSIVE wtok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |words AS MATERIALIZED (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM wtok
         |  WHERE len(word) > 0 GROUP BY word),
         |sc AS MATERIALIZED (
         |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, unnest(flatten(list_transform(range(1, len(word) + 1), i ->
         |      list_filter(list_transform(range(1, ${MaxPiece + 1}), l ->
         |        CASE WHEN i + l - 1 <= len(word)
         |          THEN substr(word, CAST(i AS INT), CAST(l AS INT)) END),
         |      x -> x IS NOT NULL)))) AS piece
         |    FROM words)
         |  GROUP BY piece),
         |seedsel AS MATERIALIZED (
         |  SELECT piece, cnt FROM sc WHERE len(piece) = 1
         |  UNION ALL
         |  SELECT piece, cnt FROM (
         |    SELECT piece, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rk
         |    FROM sc WHERE len(piece) > 1) WHERE rk <= $SeedMulti),
         |seedtot AS MATERIALIZED (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM seedsel),
         |v0 AS MATERIALIZED (
         |  SELECT piece, CAST(-ROUND((ln(cnt) - ln(t)) * 1000000, 0) AS BIGINT) AS cost
         |  FROM seedsel CROSS JOIN seedtot),
         |${dpCte("v0", "dp1")},
         |${pruneCtes("dp1", "v0", 1)},
         |${dpCte("v1", "dp2")},
         |${pruneCtes("dp2", "v1", 2)},
         |${dpCte("v2", "dp3")},
         |seg AS MATERIALIZED (SELECT word, d0.n AS n, d0.u AS u FROM dp3 WHERE i = len(word))"""
      .stripMargin

  def defs: Map[String, QDef] = Map(
    // §2 25jk unigram-LM tokenizer: train (seed → Viterbi-EM prune ×2)
    // + encode; per-doc word/piece/unk counts + the learned vocab.
    "text_unigram_lm" -> QDef(
      (s, dir) => {
        val d = docs(s, dir)
        val words = Materialize.cache(wordFreq(d))
        val vocab = trainVocab(words)
        encodeDocs(d, words, vocab)
      },
      s"""$trainOracleCtes,
         |vstr AS MATERIALIZED (
         |  SELECT string_agg(piece || ':' || CAST(cost AS VARCHAR), '|' ORDER BY piece) AS vocab
         |  FROM v2)
         |SELECT w.doc_id, COUNT(*) AS n_words,
         |  CAST(SUM(s.n) AS BIGINT) AS n_pieces,
         |  CAST(SUM(s.u) AS BIGINT) AS n_unk,
         |  (SELECT vocab FROM vstr) AS vocab
         |FROM wtok w JOIN seg s USING (word)
         |WHERE len(w.word) > 0
         |GROUP BY w.doc_id
         |ORDER BY w.doc_id""".stripMargin),

    // §2 25jn tokenizer FERTILITY readout (the cross-lingual equity
    // metric tokenizer reports lead with — pieces/word, unk rate and
    // chars/piece BY LANGUAGE under the trained unigram-LM vocab; a
    // language with outlier fertility pays proportionally more of the
    // context window). Same trained vocab and per-distinct-word
    // segmentation as text_unigram_lm (all corpus work reduces to the
    // word table first); the per-language rollup is exact integer sums
    // joined map-side, ratios rounded from integral inputs — nothing
    // float-order-sensitive.
    "text_tokenizer_fertility" -> QDef(
      (s, dir) => {
        val d = docs(s, dir)
        val words = Materialize.cache(wordFreq(d))
        val vocab = trainVocab(words)
        val seg = segment(words, vocab)
          .select(col("word"), col("v.n").as("n"), col("v.u").as("u"))
        d.select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .join(broadcast(seg), "word")
          .groupBy("lang")
          .agg(countDistinct("doc_id").as("n_docs"),
            count(lit(1)).as("n_words"),
            sum("n").as("n_pieces"), sum("u").as("n_unk"),
            sum(length(col("word")).cast("long")).as("nc"))
          .select(col("lang"), col("n_docs"), col("n_words"),
            col("n_pieces"), col("n_unk"),
            round(col("n_pieces").cast("double") / col("n_words"), 6)
              .as("pieces_per_word"),
            round(col("n_unk").cast("double") / col("n_pieces"), 6)
              .as("unk_rate"),
            round(col("nc").cast("double") / col("n_pieces"), 6)
              .as("chars_per_piece"))
          .orderBy("lang")
      },
      s"""$trainOracleCtes
         |SELECT d.lang, COUNT(DISTINCT w.doc_id) AS n_docs,
         |  COUNT(*) AS n_words,
         |  CAST(SUM(s.n) AS BIGINT) AS n_pieces,
         |  CAST(SUM(s.u) AS BIGINT) AS n_unk,
         |  ROUND(CAST(SUM(s.n) AS DOUBLE) / COUNT(*), 6) AS pieces_per_word,
         |  ROUND(CAST(SUM(s.u) AS DOUBLE) / SUM(s.n), 6) AS unk_rate,
         |  ROUND(CAST(SUM(len(w.word)) AS DOUBLE) / SUM(s.n), 6) AS chars_per_piece
         |FROM wtok w JOIN seg s USING (word) JOIN documents d USING (doc_id)
         |WHERE len(w.word) > 0
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin)
  )
}
