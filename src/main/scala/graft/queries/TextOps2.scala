package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Text operators: a smoothed bigram language model (the
  * sequence-aware upgrade of text_unigram_logprob's quality signal) and
  * asymmetric n-gram CONTAINMENT (quote/subset detection — the near-dup
  * relation Jaccard misses, because a short document embedded verbatim
  * in a long one has low Jaccard but containment ≈ 1).
  *
  * Both stay pure Catalyst: bigram stats are partial-aggregated counts;
  * containment candidates come from an inverted-index join on the
  * contained side's shingles, never all-pairs.
  */
object TextOps2 {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "documents")

  private def tokd(s: SparkSession, dir: String): DataFrame =
    Eval.barrier(
      Eval.fanOut(
        docs(s, dir)
          .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 3)))

  val defs: Map[String, QDef] = Map(

    // §2 25fh bigram LM scoring with add-one smoothing: corpus bigram +
    // unigram counts (two partial-agg shuffles over vocabulary-sized
    // keys), then each doc's mean negative log2 P(w_i | w_{i-1}) with
    // P = (c(w1,w2) + 1) / (c(w1) + V). The join back to per-doc bigrams
    // is keyed by bigram — vocabulary-scale, never corpus-scale. Output
    // is the 25 most-predictable docs (lowest mean surprisal): the
    // fluency signal a quality filter thresholds on. log2/division run
    // on exact integer counts, so both engines round identical doubles.
    "text_bigram_lm" -> QDef(
      (s, dir) => {
        val t = tokd(s, dir)
        // bi feeds four subtrees (bigram counts, unigram counts, the
        // vocabulary size and the per-doc join) and Spark performs no
        // cross-subtree common-plan elimination — cache it once or the
        // tokenize+explode re-executes per reference.
        val bi = Materialize.cache(t.select(col("doc_id"),
            explode(transform(sequence(lit(1), size(col("toks")) - 1),
              i => struct(
                element_at(col("toks"), i).as("w1"),
                element_at(col("toks"), i + 1).as("w2")))).as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2")))
        // Vocabulary size derives from the bigram-TYPE
        // table (distinct w2 of cbi keys = distinct w2 of the corpus —
        // identical integer), so the corpus-scale countDistinct and its
        // partial-distinct hash sets are gone (§6s heap lesson). cBi's
        // two consumers share one identical exchange — ReusedExchange
        // dedupes the corpus→vocab shuffle, so no cache (measured: a
        // cache barrier here serializes the independent agg stages).
        val cBi = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
        val cUni = bi.groupBy("w1").agg(count(lit(1)).as("cu"))
        val v = cBi.select(col("w2")).distinct().agg(count(lit(1)).as("vsz"))
        bi.join(cBi, Seq("w1", "w2"))
          .join(cUni, Seq("w1"))
          .crossJoin(broadcast(v))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_bigrams"),
            round(avg(-log2((col("cb") + 1.0) / (col("cu") + col("vsz")))), 4)
              .as("mean_surprisal"))
          .orderBy(col("mean_surprisal"), col("doc_id"))
          .limit(25)
      },
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |bi AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        |  FROM t, UNNEST(range(1, len(toks))) AS u(i)),
        |cbi AS (SELECT w1, w2, COUNT(*) AS cb FROM bi GROUP BY 1, 2),
        |cuni AS (SELECT w1, COUNT(*) AS cu FROM bi GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT w2) AS vsz FROM bi)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  ROUND(AVG(-log2((cb + 1.0) / (cu + vsz))), 4) AS mean_surprisal
        |FROM bi JOIN cbi USING (w1, w2) JOIN cuni USING (w1) CROSS JOIN v
        |GROUP BY doc_id
        |ORDER BY mean_surprisal, doc_id LIMIT 25""".stripMargin),

    // §2 25js interpolated KNESER-NEY bigram scoring (Kneser & Ney 1995
    // — the smoothing production perplexity filters actually use, vs
    // 25fh's add-one: absolute discount d=0.75 plus a CONTINUATION
    // back-off that ranks words by how many distinct contexts they
    // follow, not raw frequency):
    //   p(w2|w1) = (c(w1,w2) − d)/c(w1·) + (d·N1+(w1,·)/c(w1·)) · (N1+(·,w2)/B)
    // with N1+ the distinct-continuation counts and B the bigram-type
    // total. Every input is an exact integer aggregate at VOCABULARY
    // scale (three partial-agg shuffles + one 1-row type count); the
    // per-doc join back is keyed by bigram; docs scored are their own
    // corpus bigrams so c(w1,w2) ≥ 1 and the discounted term stays
    // positive — no max(·,0) branch to diverge on. One identical
    // parenthesized expression shape on both engines, avg rounded 4dp.
    "text_kn_bigram" -> QDef(
      (s, dir) => {
        val t = tokd(s, dir)
        val bi = Materialize.cache(t.select(col("doc_id"),
            explode(transform(sequence(lit(1), size(col("toks")) - 1),
              i => struct(
                element_at(col("toks"), i).as("w1"),
                element_at(col("toks"), i + 1).as("w2")))).as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2")))
        // Every statistic derives from the bigram-TYPE table, the
        // trigram key's formulation — c(w1·) = Σ cb, N1+(w1,·) and
        // N1+(·,w2) = type-row counts per side. Same exact integers,
        // but the two corpus-scale countDistinct aggregations are gone:
        // their partial-distinct hash sets were the one object-heavy
        // operator in the family and made this key ~1.6× slower on
        // ≥32 GiB heaps (compressed oops off), while the trigram's
        // type-count stack measured heap-neutral (§6s isolation).
        val cBi = Materialize.cache(bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb")))
        val cUni = cBi.groupBy("w1").agg(sum("cb").as("cu"),
          count(lit(1)).as("nf"))
        val n1b = cBi.groupBy("w2").agg(count(lit(1)).as("nb"))
        val bt = cBi.agg(count(lit(1)).as("btypes"))
        bi.filter(col("doc_id") < 100)
          .join(cBi, Seq("w1", "w2"))
          .join(cUni, Seq("w1"))
          .join(n1b, Seq("w2"))
          .crossJoin(broadcast(bt))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_bigrams"),
            round(avg(-log2(
              (col("cb") - lit(0.75)) / col("cu")
                + ((lit(0.75) * col("nf")) / col("cu"))
                * (col("nb") / col("btypes").cast("double")))), 4)
              .as("mean_kn_surprisal"))
          .orderBy("doc_id")
      },
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |bi AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        |  FROM t, UNNEST(range(1, len(toks))) AS u(i)),
        |cbi AS (SELECT w1, w2, COUNT(*) AS cb FROM bi GROUP BY 1, 2),
        |cuni AS (SELECT w1, COUNT(*) AS cu, COUNT(DISTINCT w2) AS nf FROM bi GROUP BY 1),
        |n1b AS (SELECT w2, COUNT(DISTINCT w1) AS nb FROM bi GROUP BY 1),
        |bt AS (SELECT COUNT(*) AS btypes FROM cbi)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  ROUND(AVG(-log2(
        |    (cb - 0.75) / cu + ((0.75 * nf) / cu) * (nb / CAST(btypes AS DOUBLE))
        |  )), 4) AS mean_kn_surprisal
        |FROM bi JOIN cbi USING (w1, w2) JOIN cuni USING (w1) JOIN n1b USING (w2)
        |CROSS JOIN bt
        |WHERE doc_id < 100
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // §2 25ju interpolated KNESER-NEY TRIGRAM scoring — one back-off
    // level above 25js, the order production perplexity filters
    // actually run (Chen & Goodman 1999's interpolated KN recursion,
    // d=0.75 at every level):
    //   p(w3|w1w2) = (c(w1w2w3)−d)/c(w1w2·) + d·N1+(w1w2·)/c(w1w2·) · p(w3|w2)
    //   p(w3|w2)   = (N1+(·w2w3)−d)/N1+(·w2·) + d·N1+(w2·)/N1+(·w2·) · p_cont(w3)
    //   p_cont(w3) = N1+(·w3)/B
    // where each LOWER level's counts are TYPE counts over the level
    // above (the defining KN property): N1+(·w2w3) = distinct-w1 count
    // from the trigram-type table, N1+(·w3)/B from the mid-level
    // (w2,w3)-type table. Scale shape identical to 25js: the trigram
    // token table is corpus-scale map-side work; ct/ch/nm/nc/nb are
    // vocabulary-scale partial-agg shuffles; B is a 1-row broadcast;
    // the score join back is keyed by trigram after the doc filter.
    // Docs score their own corpus trigrams, so c ≥ 1 and N1+(·w2w3) ≥ 1
    // — both discounted numerators stay positive, no max(·,0) branch to
    // diverge on. One identical parenthesized expression both engines,
    // avg rounded 4dp.
    "text_kn_trigram" -> QDef(
      (s, dir) => {
        val t = tokd(s, dir)
        val tri = Materialize.cache(t.select(col("doc_id"),
            explode(transform(sequence(lit(1), size(col("toks")) - 2),
              i => struct(
                element_at(col("toks"), i).as("w1"),
                element_at(col("toks"), i + 1).as("w2"),
                element_at(col("toks"), i + 2).as("w3")))).as("g"))
          .select(col("doc_id"), col("g.w1").as("w1"),
            col("g.w2").as("w2"), col("g.w3").as("w3")))
        // Trigram-type and history tables (top level). The history
        // tables derive from the TYPE table one level up instead of
        // running countDistinct — c(w1w2·) = Σ ctv and N1+(w1w2·) = the
        // type-row count per history (identical integers, ct rows are
        // distinct trigrams), which removes the two remaining
        // partial-distinct hash-set aggregations (§6s heap lesson: the
        // kn_bigram fix, applied to this key's own corpus-scale ch).
        val ct = Materialize.cache(tri.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("ctv")))
        val ch = ct.groupBy("w1", "w2").agg(sum("ctv").as("ch"),
          count(lit(1)).as("nf3"))
        // Mid level: type counts OVER the trigram-type table (ct rows
        // are distinct trigrams, so COUNT(*) per (w2,w3) = distinct w1).
        val nm = Materialize.cache(ct.groupBy("w2", "w3").agg(count(lit(1)).as("nm")))
        // nc = ct rows per w2 = Σ nm; nf2 = distinct w3 per w2 over ct
        // = nm rows per w2 — both from the (w2,w3)-type table.
        val nc = nm.groupBy("w2").agg(sum("nm").as("nc"),
          count(lit(1)).as("nf2"))
        // Low level: type counts over the mid-level (w2,w3)-type table.
        val nb = nm.groupBy("w3").agg(count(lit(1)).as("nb"))
        val bt = nm.agg(count(lit(1)).as("btypes"))
        tri.filter(col("doc_id") < 100)
          .join(ct, Seq("w1", "w2", "w3"))
          .join(ch, Seq("w1", "w2"))
          .join(nm, Seq("w2", "w3"))
          .join(nc, Seq("w2"))
          .join(nb, Seq("w3"))
          .crossJoin(broadcast(bt))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_trigrams"),
            round(avg(-log2(
              (col("ctv") - lit(0.75)) / col("ch")
                + ((lit(0.75) * col("nf3")) / col("ch"))
                * ((col("nm") - lit(0.75)) / col("nc")
                  + ((lit(0.75) * col("nf2")) / col("nc"))
                  * (col("nb") / col("btypes").cast("double"))))), 4)
              .as("mean_kn3_surprisal"))
          .orderBy("doc_id")
      },
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |tri AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3
        |  FROM t, UNNEST(range(1, len(toks) - 1)) AS u(i)),
        |ct AS (SELECT w1, w2, w3, COUNT(*) AS ctv FROM tri GROUP BY 1, 2, 3),
        |ch AS (SELECT w1, w2, COUNT(*) AS ch, COUNT(DISTINCT w3) AS nf3
        |       FROM tri GROUP BY 1, 2),
        |nm AS (SELECT w2, w3, COUNT(*) AS nm FROM ct GROUP BY 1, 2),
        |nc AS (SELECT w2, COUNT(*) AS nc, COUNT(DISTINCT w3) AS nf2 FROM ct GROUP BY 1),
        |nb AS (SELECT w3, COUNT(*) AS nb FROM nm GROUP BY 1),
        |bt AS (SELECT COUNT(*) AS btypes FROM nm)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_trigrams,
        |  ROUND(AVG(-log2(
        |    (ctv - 0.75) / ch + ((0.75 * nf3) / ch)
        |      * ((nm - 0.75) / nc + ((0.75 * nf2) / nc) * (nb / CAST(btypes AS DOUBLE)))
        |  )), 4) AS mean_kn3_surprisal
        |FROM tri JOIN ct USING (w1, w2, w3) JOIN ch USING (w1, w2)
        |  JOIN nm USING (w2, w3) JOIN nc USING (w2) JOIN nb USING (w3)
        |CROSS JOIN bt
        |WHERE doc_id < 100
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // §2 25fl intra-corpus DUPLICATED-PASSAGE fraction (the
    // C4/RefinedWeb boilerplate signal, distinct from decontamination's
    // external benchmark overlap): for each doc, the share of its 8-gram
    // passages that also occur in ≥ 1 OTHER doc. Passages hash to longs
    // map-side; the global passage→distinct-doc-count table is one
    // partial-agg shuffle at passage-vocabulary scale; the join back is
    // keyed by passage hash. Integer counts → exact ratio both engines.
    "text_dup_fraction" -> QDef(
      (s, dir) => {
        val t = tokd(s, dir).filter(size(col("toks")) >= 8)
        // win feeds both the global passage counts and the per-doc join —
        // cache, or the window explode runs twice.
        val win = Materialize.cache(t.select(col("doc_id"),
            explode(array_distinct(transform(sequence(lit(1), size(col("toks")) - 7),
              i => xxhash64(concat_ws(" ",
                (0 to 7).map(o => element_at(col("toks"), i + o)): _*))))).as("ph")))
        // win's passages are array_distinct per doc, so (doc_id, ph)
        // rows are already unique — COUNT(*) per passage IS the distinct
        // doc count. Same integer, no partial-distinct hash sets (§6s).
        val docsPer = win.groupBy("ph").agg(count(lit(1)).as("nd"))
        win.join(docsPer, "ph")
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_passages"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("dup_passages"))
          .select(col("doc_id"), col("n_passages"), col("dup_passages"),
            round(col("dup_passages") / col("n_passages").cast("double"), 4).as("dup_frac"))
          .orderBy("doc_id")
      },
      // DuckDB has no xxhash64 — the passage TEXT itself is the key
      // (same counts, engine-local key representation).
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 8),
        |win AS (
        |  SELECT doc_id, UNNEST(list_distinct(list_transform(
        |    range(1, len(toks) - 6),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
        |         toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]))) AS ph
        |  FROM t),
        |dp AS (SELECT ph, COUNT(DISTINCT doc_id) AS nd FROM win GROUP BY 1)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_passages,
        |  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_passages,
        |  ROUND(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS dup_frac
        |FROM win JOIN dp USING (ph)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // §2 25fm sliding-window CHUNKING with overlap (64-token windows,
    // stride 48 — the training-sample shaping step between curation and
    // packing): pure map-side explode, chunk count ceil((n-64)/48)+1,
    // every chunk tagged with its token span and boundary tokens so the
    // oracle pins alignment exactly.
    "curate_chunk_overlap" -> QDef(
      (s, dir) => {
        val t = tokd(s, dir)
        val width = 64; val stride = 48
        t.select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
          .select(col("doc_id"), col("toks"), col("n"),
            explode(sequence(lit(0),
              greatest(ceil((col("n") - lit(width)).cast("double") / stride).cast("long"), lit(0L))))
              .as("ci"))
          .select(
            col("doc_id"), col("ci").as("chunk_idx"),
            least(lit(width.toLong), col("n") - col("ci") * stride).as("n_tokens"),
            element_at(col("toks"), (col("ci") * stride + 1).cast("int")).as("first_tok"),
            element_at(col("toks"),
              least(col("ci") * stride + width, col("n")).cast("int")).as("last_tok"))
          .orderBy("doc_id", "chunk_idx")
      },
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |c AS (
        |  SELECT doc_id, toks, n,
        |    UNNEST(range(0, GREATEST(CAST(ceil((n - 64) * 1.0 / 48) AS BIGINT), 0) + 1)) AS ci
        |  FROM t)
        |SELECT doc_id, ci AS chunk_idx,
        |  LEAST(64, n - ci * 48) AS n_tokens,
        |  toks[CAST(ci * 48 + 1 AS INT)] AS first_tok,
        |  toks[CAST(LEAST(ci * 48 + 64, n) AS INT)] AS last_tok
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),

    // §2 25ft OOV rate against a corpus-derived top-k vocabulary (the
    // tokenizer-coverage report a training pipeline runs before
    // committing a vocab): term counts partial-aggregate at vocabulary
    // scale, the top-10 vocab selects by the deterministic
    // (count DESC, term ASC) order and broadcasts back, and each doc
    // reports its out-of-vocabulary token share. Exact integers
    // end-to-end.
    "text_oov_rate" -> QDef(
      (s, dir) => {
        val toks = Materialize.cache(tokd(s, dir)
          .select(col("doc_id"), explode(col("toks")).as("t")))
        val vocab = toks.groupBy("t").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("t")).limit(10)
          .select(col("t"), lit(1L).as("in_vocab"))
        toks.join(broadcast(vocab), Seq("t"), "left")
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_tokens"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
          .select(col("doc_id"), col("n_tokens"), col("n_oov"),
            round(col("n_oov") / col("n_tokens").cast("double"), 4).as("oov_rate"))
          .orderBy("doc_id")
      },
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |vocab AS (
        |  SELECT t FROM (SELECT t, COUNT(*) AS c FROM toks GROUP BY 1)
        |  ORDER BY c DESC, t LIMIT 10)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  ROUND(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS oov_rate
        |FROM toks LEFT JOIN vocab v ON toks.t = v.t
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // §2 25fs character-entropy quality signal (the Gopher-style
    // gibberish/boilerplate screen): per-doc Shannon entropy over the
    // character distribution. Float determinism by construction: the
    // per-char counts are exact integers, the entropy terms fold over
    // the ASCENDING-sorted count list with a 0.0 seed on BOTH engines
    // (identical operand sequence → identical IEEE sum; swapping equal
    // counts cannot change partial sums), so the rounded value
    // hash-matches without a tolerance gate. Counts partial-aggregate
    // by (doc, char) — alphabet-bounded state per doc.
    "text_char_entropy" -> QDef(
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        // split("") enumerates characters in ONE pass over the string;
        // the earlier transform(sequence)+substr(i,1) form re-scanned
        // from the string head per character — O(n²) bytes on multibyte
        // (zh) docs and the #1 bench entry at sf0.1 (5.2s → ~1s). For
        // BMP text the two enumerations are identical; the oracle's
        // code-point substr gate holds at both scale factors.
        val counts = d
          .select(col("doc_id"), length(col("text")).cast("double").as("nc"),
            explode(split(col("text"), "")).as("ch"))
          .filter(col("ch") =!= "")
          .groupBy("doc_id", "nc", "ch").agg(count(lit(1)).as("c"))
        counts
          .groupBy("doc_id", "nc")
          .agg(array_sort(collect_list(col("c"))).as("cs"))
          .select(col("doc_id"),
            col("nc").cast("long").as("n_chars"),
            size(col("cs")).cast("long").as("distinct_chars"),
            round(aggregate(col("cs"), lit(0.0),
              (acc, c) => acc - (c / col("nc")) * log2(c / col("nc"))), 4).as("entropy"))
          .orderBy("doc_id")
      },
      """WITH ch AS (
        |  SELECT doc_id, len(text) AS nc, substr(text, CAST(i AS INT), 1) AS c1
        |  FROM documents, UNNEST(range(1, len(text) + 1)) AS u(i)),
        |cnt AS (
        |  SELECT doc_id, nc, c1, COUNT(*) AS c FROM ch GROUP BY 1, 2, 3),
        |lst AS (
        |  SELECT doc_id, nc, list_sort(list(c)) AS cs FROM cnt GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(nc AS BIGINT) AS n_chars,
        |  CAST(len(cs) AS BIGINT) AS distinct_chars,
        |  ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(cs, c -> -(c / CAST(nc AS DOUBLE)) * log2(c / CAST(nc AS DOUBLE)))),
        |    (a, b) -> a + b), 4) AS entropy
        |FROM lst ORDER BY doc_id""".stripMargin),

    // §2 25fi n-gram containment (quote detection): pairs where ≥ 80% of
    // the SHORTER doc's shingles appear in the longer one. Candidates
    // come from an inverted-index equi-join on the contained side's
    // prefix shingles: containment ≥ 0.8 implies a shared shingle in the
    // first floor(0.2·n)+1 of ANY consistent order (prefix-filter, same
    // argument as the Jaccard tier), so the join is O(index hits), never
    // all-pairs. Verification is the exact sorted-merge intersection
    // kernel on candidates only.
    "text_containment" -> QDef(
      (s, dir) => {
        // Content-group collapse first (TextOps.collapseByContent — the
        // skewed-sweep hot-cluster fix): candidates and the exact
        // merge-count kernel run on DISTINCT shingle sets; member pairs
        // fan out afterwards, DIRECTIONALLY (containment is asymmetric)
        // and with within-group ordered pairs at containment 1.0 (the
        // per-doc formulation emits both directions for identical sets).
        val dAll = Eval.barrier(
          tokd(s, dir).select(col("doc_id"),
            TextOps.sortedShingleHashes(col("toks")).as("hs"))
            .withColumn("nsh", size(col("hs"))))
        val (reps, members) = TextOps.collapseByContent(dAll, langBlocked = false)
        val d = Materialize.cache(reps)
        // Contained side exposes only its prefix (1 - τ share + 1);
        // container side indexes ALL shingles.
        val prefix = d.select(col("doc_id"), col("nsh"),
          explode(slice(col("hs"), lit(1),
            (col("nsh") * lit(0.2)).cast("int") + 1)).as("ph"))
        // Lossless size bound: C(A→B) >= 0.8 needs |A∩B| >= 0.8|A| and
        // |A∩B| <= |B|, so |B| >= 0.8|A| — prunes candidates where the
        // container is too small before the verification join.
        val index = d.select(col("doc_id"), col("nsh").as("nsh_b"), explode(col("hs")).as("ph"))
        val cand = prefix.as("a").join(index.as("b"),
            col("a.ph") === col("b.ph") && col("a.doc_id") =!= col("b.doc_id") &&
              col("b.nsh_b") * 5L >= col("a.nsh") * 4L)
          .select(col("a.doc_id").as("doc_in"), col("b.doc_id").as("doc_out"))
          .distinct()
        // τ = 0.8 as the exact integer inequality 5·|A∩B| >= 4·|A| —
        // no float threshold at the filter boundary on either engine;
        // the rounded ratio is display-only.
        val repPairs = cand
          .join(d.select(col("doc_id").as("doc_in"), col("hs").as("hs_a"),
            col("nsh").as("n_in")), "doc_in")
          .join(d.select(col("doc_id").as("doc_out"), col("hs").as("hs_b")), "doc_out")
          .select(col("doc_in"), col("doc_out"), col("n_in"),
            graft.functions.GraftFunctions.intersectSortedLong(col("hs_a"), col("hs_b")).as("inter"))
          .filter(col("inter") * 5L >= col("n_in") * 4L)
          .select(col("doc_in").as("ra"), col("doc_out").as("rb"),
            round(col("inter") / col("n_in").cast("double"), 4).as("containment"))
        val cross = repPairs
          .join(members.select(col("rep").as("ra"), col("doc_id").as("da")), "ra")
          .join(members.select(col("rep").as("rb"), col("doc_id").as("db")), "rb")
          .select(col("da").as("doc_in"), col("db").as("doc_out"), col("containment"))
        val intra = members.as("x").join(members.as("y"),
            col("x.rep") === col("y.rep") && col("x.doc_id") =!= col("y.doc_id"))
          .select(col("x.doc_id").as("doc_in"), col("y.doc_id").as("doc_out"),
            lit(1.0).as("containment"))
        intra.unionByName(cross).orderBy("doc_in", "doc_out")
      },
      // Same prefix-filter argument as the Jaccard oracles, asymmetric
      // form: the contained side exposes floor(0.2n)+1 sorted shingles,
      // the container side indexes ALL of them — subquadratic, exact.
      """WITH t AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))) AS sh
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |x AS (
        |  SELECT doc_id, len(sh) AS n,
        |    UNNEST(sh[1 : CAST(floor(0.2 * len(sh)) AS INT) + 1]) AS s1 FROM t),
        |y AS (SELECT doc_id, len(sh) AS n, UNNEST(sh) AS s1 FROM t),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_in, y.doc_id AS doc_out
        |  FROM x JOIN y ON x.s1 = y.s1 AND x.doc_id <> y.doc_id
        |    AND 5 * y.n >= 4 * x.n)
        |SELECT doc_in, doc_out,
        |  ROUND(len(list_intersect(ta.sh, tb.sh)) * 1.0 / len(ta.sh), 4) AS containment
        |FROM cand JOIN t ta ON ta.doc_id = doc_in JOIN t tb ON tb.doc_id = doc_out
        |WHERE 5 * len(list_intersect(ta.sh, tb.sh)) >= 4 * len(ta.sh)
        |ORDER BY doc_in, doc_out""".stripMargin)
  )
}
