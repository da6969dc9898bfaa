package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** BPE tokenizer TRAINING + APPLICATION (closing the loop that
  * `text_bpe_pairs` opened — that operator counts merge candidates;
  * this one learns an ordered merge table and actually tokenizes the
  * corpus with it, the step a real pipeline needs before token-budgeted
  * packing — and `curate_pack_bpe` below does exactly that packing with
  * the learned tokenizer's counts).
  *
  * Algorithm (Sennrich et al. 2016, "Neural Machine Translation of Rare
  * Words with Subword Units", with the batched-merge optimization the
  * production tokenizers use): start from characters; each ROUND
  * (a) counts adjacent token-pair frequencies over the CURRENT
  * tokenization, (b) ranks pairs (cnt DESC, a ASC, b ASC) — the
  * deterministic rank-then-pair order — and (c) greedily selects up to
  * `perRound` pairwise-DISJOINT pairs from the top `topM` candidates
  * (a pair is skipped if its left symbol, right symbol, or merged
  * symbol was already consumed this round), then fuses every selected
  * pair's leftmost non-overlapping occurrences corpus-wide in one
  * map-only pass chain. Disjointness is what makes the batch sound:
  * fusing (a,b) can neither create nor destroy an occurrence of a
  * symbol-disjoint (c,d) — the replaces commute and the counts ranked
  * before the batch stay valid for every selected pair. Encoding
  * applies the learned rules in order.
  *
  * Spark shape, and why it holds at 100 TB: the tokenization lives as a
  * sentinel-delimited string per document (US·tok·US US·tok·US,
  * US = \u001f), so one merge is a codegen'd `replace` of the literal
  * pattern US+a+US+US+b+US with US+ab+US — MAP-ONLY, O(doc length), no
  * shuffle; leftmost non-overlapping replace IS BPE's repeated-leftmost
  * fuse, and the doubled sentinel keeps adjacent matches from sharing
  * characters (so back-to-back occurrences all fuse in one pass). Pair
  * counting explodes adjacent pairs but PARTIAL-AGGREGATES to the pair
  * vocabulary before the exchange (the text_bpe_pairs discipline: the
  * shuffle carries the vocabulary, not the corpus), and each round
  * collects exactly `topM` candidate rows to the driver, which selects
  * the batch and re-enters the next pass as literals — the merge table
  * is the only driver traffic, merges × a few bytes, constant in corpus
  * size. Batching is the wall-clock lever: `rounds` × `perRound` rules
  * cost `rounds` shuffles, so a vocab of ~64 rules trains in 8 passes
  * instead of 64.
  *
  * Sentinel collision: a document that
  * CONTAINS U+001F would corrupt token boundaries, so ingest strips the
  * sentinel from the text first — tokenizer normalization, the same
  * move real tokenizers make for their specials (e.g. stripping
  * 0xFFFD/control bytes before byte-pair training). Both the Spark plan
  * and the oracle normalize identically; `n_chars` counts the
  * NORMALIZED text on both engines. BpeOpsSpec proves a poisoned
  * document tokenizes exactly like its clean twin.
  */
object BpeOps {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "documents")

  /** Sentinel: ASCII unit separator, stripped from the corpus text on
    * ingest (see class doc — tokenizer normalization).
    */
  private val S = "\u001f"

  /** Training geometry: 8 rounds × up to 8 disjoint merges from the
    * top-48 ranked candidates — ≥32 rules on any text-like corpus (the
    * spec asserts it on the fixture) at 8 shuffle passes.
    */
  val Rounds = 8
  val PerRound = 8
  val TopM = 48

  /** Tokenizer normalization: remove the sentinel byte from raw text. */
  private def normalize(text: Column): Column = replace(text, lit(S), lit(""))

  /** Wrap every character: "ab" becomes S+a+S + S+b+S. Built from an
    * empty-pattern split + array_join (codegen string ops), not a
    * per-character regexp replace — the regex engine's match loop costs
    * more than the whole rest of a training pass.
    */
  private def charString(text: Column): Column =
    concat(lit(S),
      array_join(graft.functions.GraftFunctions.regexSplit(normalize(text), ""), S + S),
      lit(S))

  /** Tokens of a sentinel string: strip the outer sentinels, split on
    * the doubled one.
    */
  private def toks(sCol: Column): Column =
    graft.functions.GraftFunctions.regexSplit(
      sCol.substr(lit(2), greatest(length(sCol) - 2, lit(0))),
      java.util.regex.Pattern.quote(S + S))

  /** One training round's candidate list: the `m` most frequent
    * adjacent pairs of the current tokenization, ranked (cnt DESC,
    * a ASC, b ASC). One vocabulary-sized shuffle + an `m`-row collect
    * (empty when every document is down to a single token).
    */
  private def topPairs(cur: DataFrame, m: Int): Seq[(String, String)] = {
    // Pairs travel as ONE sentinel-joined string through the hot path
    // (half the allocation of a two-string struct per exploded row); the
    // (cnt DESC, a, b) rank splits the pair back out AFTER the
    // aggregation, where only the vocabulary-sized count table remains.
    // The per-doc pair stream comes from the native
    // bpe_pair_counts kernel — one byte pass per document emitting a
    // map<pair, count> PRE-AGGREGATED within the doc (identical keys
    // and per-key totals to the old split + transform + explode chain,
    // pinned by BpeKernelSpec), so the explode emits distinct pairs
    // per doc instead of every occurrence and the split-token array is
    // never materialized.
    cur
      .select(explode(graft.functions.GraftFunctions.bpePairCounts(col("s")))
        .as(Seq("p", "c")))
      .groupBy(col("p"))
      .agg(sum(col("c")).as("cnt"))
      .select(
        graft.functions.GraftFunctions
          .regexSplit(col("p"), java.util.regex.Pattern.quote(S), 2).as("ab"),
        col("cnt"))
      .select(element_at(col("ab"), 1).as("a"), element_at(col("ab"), 2).as("b"), col("cnt"))
      .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
      .limit(m)
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1)))
  }

  /** Greedy disjoint batch selection over the ranked candidates: walk in
    * rank order, accept a pair iff none of {a, b, a+b} was consumed by
    * an earlier acceptance this round, stop at `perRound`. The a+b term
    * closes the aliasing hole — if the merged string equals a symbol of
    * another selected pair, the replaces would interact and the
    * pre-batch counts would be stale for it.
    */
  private[queries] def selectDisjoint(
      ranked: Seq[(String, String)], perRound: Int): Seq[(String, String)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val sel = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    ranked.foreach { case (a, b) =>
      if (sel.size < perRound && !used(a) && !used(b) && !used(a + b)) {
        used ++= Seq(a, b, a + b)
        sel += ((a, b))
      }
    }
    sel.toSeq
  }

  /** Train `rounds` batched passes over `corpus` (any frame with a `s`
    * sentinel string column; other columns ride along untouched) and
    * return (per-round ordered rules, fully-encoded frame).
    */
  def train(corpus: DataFrame, rounds: Int = Rounds, perRound: Int = PerRound,
      topM: Int = TopM): (Seq[Seq[(String, String)]], DataFrame) = {
    // ONE eager materialization of the character-wrapped corpus
    // (raw-row localCheckpoint — no columnar encode/compress pass), then
    // every round's pair-count job REPLAYS the accumulated
    // bpe_multi_replace chain from it. Caching the full tokenization
    // once per round instead cost ~0.4 s of every ~0.55 s round at
    // sf0.1 (columnar cache write+read) while a multi-replace byte pass is
    // milliseconds — so round k now pays k extra map-only native passes
    // (Σ ≤ rounds²/2 passes of pure memory bandwidth, no shuffle, no
    // materialization) and saves `rounds` corpus materializations.
    // Byte-identical output: the same batches apply in the same order,
    // only re-computed instead of re-read (BpeKernelSpec pins the
    // replace semantics; the oracle pins the trained rules and counts).
    // At 100 TB the trade reads the one checkpoint `rounds` times
    // instead of writing `rounds` caches and reading each twice —
    // strictly fewer corpus-scale materializations.
    val base = Materialize.checkpoint(corpus, eager = true)
    var cur = base
    var rules = Vector.empty[Seq[(String, String)]]
    for (_ <- 0 until rounds) {
      val sel = selectDisjoint(topPairs(cur, topM), perRound)
      rules = rules :+ sel
      // Commuting replaces applied in rank order (deterministic, and the
      // order is immaterial by disjointness) — the whole batch in
      // ONE native byte pass (bpe_multi_replace) instead of one full
      // string scan-and-copy per rule; byte-identical to the old
      // sequential `replace` fold because the batch is symbol-disjoint
      // (BpeKernel's equality argument, pinned by BpeKernelSpec).
      if (sel.nonEmpty)
        cur = cur.withColumn("s", graft.functions.GraftFunctions.bpeMultiReplace(
          col("s"),
          sel.map { case (a, b) => S + a + S + S + b + S },
          sel.map { case (a, b) => S + a + b + S }))
    }
    (rules, cur)
  }

  /** The hashable merge-table string: per-round "a+b" parts joined by
    * '|', empty rounds dropped, rounds in training order.
    */
  private def mergesString(rules: Seq[Seq[(String, String)]]): String =
    rules.map(_.map { case (a, b) => a + "+" + b }.mkString("|"))
      .filter(_.nonEmpty).mkString("|")

  /** Full train+encode over a (doc_id, text, …) frame: per-doc
    * NORMALIZED char count and BPE token count, plus the learned merge
    * table (broadcast into every row — the hashable proof that both
    * engines learned identical rules in identical order). Shared by
    * `text_bpe_encode` and `curate_pack_bpe`, and by the poisoned-doc
    * spec (which feeds it a hand-built frame).
    */
  def encodeStats(docsDf: DataFrame, rounds: Int = Rounds, perRound: Int = PerRound,
      topM: Int = TopM): DataFrame = {
    // fanOut: this frame is CACHED and read by all passes (training
    // rounds + final stats), so one up-front rebalance amortizes — the
    // repo rule that reserves fanOut for cached multi-pass frames (ANN
    // training, power iteration, shingle pipelines). Without it the
    // single-row-group small-SF scan serializes every pass onto one
    // core; at 100 TB the materialization you'd do anyway for a
    // multi-pass loop absorbs the rebalance.
    val corpus = Eval.fanOut(docsDf).select(
      col("doc_id"),
      length(normalize(col("text"))).cast("long").as("n_chars"),
      charString(col("text")).as("s"))
    val (rules, encoded) = train(corpus, rounds, perRound, topM)
    encoded.select(
      col("doc_id"),
      col("n_chars"),
      // Native token count — same integer as size(toks(s)) (split
      // keeps empty segments; kernel mirrors that, BpeKernelSpec pins
      // it) without materializing the token array.
      graft.functions.GraftFunctions.bpeTokenCount(col("s")).as("n_tok"),
      lit(mergesString(rules)).as("merges"))
  }

  /** Oracle-side replay of the training chain as unrolled MATERIALIZED
    * CTE passes — identical pair counts, identical (cnt DESC, a, b)
    * rank, identical greedy disjoint selection (a recursive CTE walking
    * the ranked top-`topM` carrying the used-symbol set), identical
    * leftmost non-overlapping literal replaces (a `list_reduce` fold of
    * the round's selected batch). Produces CTEs `t0..t$rounds` (the
    * evolving tokenization), `m1..m$rounds` (each round's selected
    * batch) and `mm` (the '|'-joined merge table); callers append their
    * own final SELECT.
    */
  private[queries] def trainSqlCtes(rounds: Int, perRound: Int, topM: Int): String = {
    val sep = "chr(31)"
    def pass(i: Int): String =
      s"""tk$i AS MATERIALIZED (
         |  SELECT string_split(substr(s, 2, greatest(length(s) - 2, 0)), $sep || $sep) AS t
         |  FROM t${i - 1}),
         |p$i AS MATERIALIZED (
         |  SELECT u.a AS a, u.b AS b, COUNT(*) AS cnt FROM (
         |    SELECT unnest(list_transform(range(1, len(t)),
         |      j -> {'a': t[j], 'b': t[j + 1]})) AS u
         |    FROM tk$i WHERE len(t) >= 2)
         |  GROUP BY 1, 2),
         |r$i AS MATERIALIZED (
         |  SELECT a, b, row_number() OVER (ORDER BY cnt DESC, a, b) AS rk
         |  FROM p$i ORDER BY cnt DESC, a, b LIMIT $topM),
         |s$i AS (
         |  SELECT 0 AS rk, CAST([] AS VARCHAR[]) AS used, CAST([] AS VARCHAR[]) AS sel
         |  UNION ALL
         |  SELECT r.rk,
         |    CASE WHEN len(st.sel) < $perRound AND NOT (list_contains(st.used, r.a)
         |        OR list_contains(st.used, r.b) OR list_contains(st.used, r.a || r.b))
         |      THEN list_concat(st.used, [r.a, r.b, r.a || r.b]) ELSE st.used END,
         |    CASE WHEN len(st.sel) < $perRound AND NOT (list_contains(st.used, r.a)
         |        OR list_contains(st.used, r.b) OR list_contains(st.used, r.a || r.b))
         |      THEN list_append(st.sel, r.a || $sep || r.b) ELSE st.sel END
         |  FROM s$i st JOIN r$i r ON r.rk = st.rk + 1),
         |m$i AS MATERIALIZED (SELECT sel FROM s$i ORDER BY rk DESC LIMIT 1),
         |t$i AS MATERIALIZED (
         |  SELECT doc_id, list_reduce(
         |    list_prepend(s, (SELECT sel FROM m$i)),
         |    (acc, x) -> replace(acc,
         |      $sep || split_part(x, $sep, 1) || $sep || $sep || split_part(x, $sep, 2) || $sep,
         |      $sep || split_part(x, $sep, 1) || split_part(x, $sep, 2) || $sep)) AS s
         |  FROM t${i - 1})""".stripMargin
    s"""WITH RECURSIVE t0 AS MATERIALIZED (
       |  SELECT doc_id,
       |    regexp_replace(replace(text, $sep, ''), '(?s)(.)', $sep || '\\1' || $sep, 'g') AS s
       |  FROM documents),
       |${(1 to rounds).map(pass).mkString(",\n")},
       |mm AS (
       |  SELECT COALESCE(string_agg(part, '|' ORDER BY rnd), '') AS merges FROM (
       |    ${(1 to rounds).map(i =>
             s"SELECT $i AS rnd, array_to_string(list_transform((SELECT sel FROM m$i), x -> replace(x, $sep, '+')), '|') AS part")
             .mkString("\n    UNION ALL ")})
       |  WHERE part <> '')""".stripMargin
  }

  def defs: Map[String, QDef] = Map(
    // §2 25ik BPE tokenizer application: train Rounds×PerRound batched
    // merges, encode the corpus, emit per-doc (normalized) char/token
    // counts plus the learned merge table.
    "text_bpe_encode" -> QDef(
      (s, dir) => encodeStats(docs(s, dir)).orderBy("doc_id"),
      s"""${trainSqlCtes(Rounds, PerRound, TopM)},
         |enc AS (
         |  SELECT doc_id,
         |    len(string_split(substr(s, 2, greatest(length(s) - 2, 0)), chr(31) || chr(31))) AS n_tok
         |  FROM t$Rounds)
         |SELECT d.doc_id AS doc_id,
         |  CAST(length(replace(d.text, chr(31), '')) AS BIGINT) AS n_chars,
         |  CAST(e.n_tok AS BIGINT) AS n_tok,
         |  (SELECT merges FROM mm) AS merges
         |FROM documents d JOIN enc e USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // §2 25io tokenizer-aware sequence packing: curate_pack's
    // fixed-budget bin assignment, but budgeted in the REAL tokenizer's
    // counts — text_bpe_encode's n_tok — instead of whitespace tokens
    // (whitespace undercounts CJK/code and overcounts subword-splitting
    // text; packing to the training tokenizer's budget is what keeps
    // sequence buffers exactly full). Same scale shape as curate_pack:
    // the join is doc_id-keyed, the pack window is PARTITIONED BY
    // LANGUAGE (never a global sort), and training adds nothing beyond
    // text_bpe_encode's own vocabulary-sized shuffles.
    "curate_pack_bpe" -> QDef(
      (s, dir) => {
        val w = Window.partitionBy("lang").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs(s, dir).select(col("doc_id"), col("lang"))
          .join(encodeStats(docs(s, dir)).select("doc_id", "n_tok"), "doc_id")
          .withColumn("cum_tok", sum("n_tok").over(w))
          .withColumn("bin", expr("(cum_tok - n_tok) div 512"))
          .orderBy("lang", "doc_id")
      },
      s"""${trainSqlCtes(Rounds, PerRound, TopM)},
         |enc AS (
         |  SELECT doc_id,
         |    len(string_split(substr(s, 2, greatest(length(s) - 2, 0)), chr(31) || chr(31))) AS n_tok
         |  FROM t$Rounds)
         |SELECT d.doc_id AS doc_id, d.lang AS lang,
         |  CAST(e.n_tok AS BIGINT) AS n_tok,
         |  CAST(SUM(e.n_tok) OVER (
         |    PARTITION BY d.lang ORDER BY d.doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok,
         |  CAST((SUM(e.n_tok) OVER (
         |    PARTITION BY d.lang ORDER BY d.doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    - e.n_tok) // 512 AS BIGINT) AS bin
         |FROM documents d JOIN enc e USING (doc_id)
         |ORDER BY lang, doc_id""".stripMargin)
  )
}
