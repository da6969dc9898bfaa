package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Text operators: RAKE keyphrase extraction (Rose et al. 2010) —
  * the classic unsupervised keyword miner: candidate phrases are
  * maximal stopword-free token runs, word score = degree/frequency
  * over phrase co-membership, phrase score = Σ member word scores.
  */
object TextOps3 {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "documents")

  /** (doc_id, g) — every word 3-gram occurrence of a document frame
    * (docs under 3 tokens contribute none). Map-only explode work;
    * shared with [[graft.streaming.NoveltyStream]] so the online
    * novelty monitor's gram algebra is the batch operator's by
    * construction.
    */
  private[graft] def docTrigrams(docFrame: DataFrame): DataFrame =
    docFrame
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 2),
          i => concat_ws(" ",
            element_at(col("toks"), i),
            element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2)))).as("g"))

  val defs: Map[String, QDef] = Map(

    // §2 25hu Zipf-law fit of the word frequency distribution: OLS
    // slope of log(freq) on log(rank) — the corpus-health statistic
    // (natural text sits near −1; the synthetic corpus's near-uniform
    // vocabulary sits near 0, which is itself the signal). Frequencies
    // partial-aggregate to vocabulary scale; ranks come from a window
    // over the BOUNDED vocabulary table (freq DESC, word ASC); the
    // log-moment sums fold in rank order over one collected list, so
    // the slope is one identical double expression on both engines.
    "text_zipf_fit" -> QDef(
      (s, dir) => {
        val cw = docs(s, dir)
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("f"))
        val ranked = cw.withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("f").desc, col("w").asc)))
        ranked
          .groupBy()
          .agg(count(lit(1)).as("n"),
            sort_array(collect_list(struct(col("r"),
              log(col("r").cast("double")).as("lx"),
              log(col("f").cast("double")).as("ly")))).as("xs"))
          .select(col("n"),
            aggregate(col("xs"), lit(0.0), (a, x) => a + x.getField("lx")).as("sx"),
            aggregate(col("xs"), lit(0.0), (a, x) => a + x.getField("ly")).as("sy"),
            aggregate(col("xs"), lit(0.0),
              (a, x) => a + x.getField("lx") * x.getField("lx")).as("sxx"),
            aggregate(col("xs"), lit(0.0),
              (a, x) => a + x.getField("lx") * x.getField("ly")).as("sxy"))
          .select(col("n").as("vocab"),
            round((col("n").cast("double") * col("sxy") - col("sx") * col("sy")) /
              (col("n").cast("double") * col("sxx") - col("sx") * col("sx")), 4)
              .as("zipf_slope"))
      },
      """WITH cw AS (
        |  SELECT w, COUNT(*) AS f
        |  FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w),
        |ranked AS (
        |  SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, w ASC) AS r FROM cw),
        |xs AS (
        |  SELECT COUNT(*) AS n,
        |    list(ln(CAST(r AS DOUBLE)) ORDER BY r) AS lx,
        |    list(ln(CAST(f AS DOUBLE)) ORDER BY r) AS ly,
        |    list(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)) ORDER BY r) AS lxx,
        |    list(ln(CAST(r AS DOUBLE)) * ln(CAST(f AS DOUBLE)) ORDER BY r) AS lxy
        |  FROM ranked),
        |m AS (
        |  SELECT n,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), lx), (a, b) -> a + b) AS sx,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ly), (a, b) -> a + b) AS sy,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), lxx), (a, b) -> a + b) AS sxx,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), lxy), (a, b) -> a + b) AS sxy
        |  FROM xs)
        |SELECT CAST(n AS BIGINT) AS vocab,
        |  ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
        |      / (CAST(n AS DOUBLE) * sxx - sx * sx), 4) AS zipf_slope
        |FROM m""".stripMargin),

    // §2 25jt HEAPS-LAW vocabulary-growth fit V(n) = K·n^β — the
    // statistic that sizes tokenizer vocabularies and predicts
    // out-of-vocabulary rates as a corpus grows. The cumulative-vocab
    // curve needs NO sequential scan: a word's contribution to every
    // prefix is fully determined by its FIRST-OCCURRENCE doc
    // (min(doc_id) — one vocabulary-scale agg), so vocab(t) = #{words:
    // first_seen < t} and tokens(t) = Σ doc lengths below t, both
    // evaluated at 8 evenly spaced doc-id checkpoints by a map-side
    // explode of the 8-threshold literal
    // (≤8× row expansion, partial-agged). OLS of ln(vocab) on
    // ln(tokens) folds in checkpoint order over one collected 8-row
    // list (the zipf_fit recipe); K uses the 4dp-rounded β so both
    // engines exponentiate identical inputs.
    "text_heaps_law" -> QDef(
      (s, dir) => {
        val d = docs(s, dir)
        // Checkpoints split the doc_id RANGE, not a dense 0..N count:
        // at scale ids arrive with gaps and replica offsets (the sf1
        // ScaleGen layout), and count-based cutoffs would silently fit
        // only the lowest-id prefix. Range cutoffs cover the whole
        // corpus for any id layout; each is still a growing prefix in
        // ingestion (doc_id) order, which is all Heaps' law needs.
        val r = d.agg(min("doc_id"), max("doc_id")).collect()(0)
        val (dmin, dmax) = (r.getLong(0), r.getLong(1))
        val ts: Seq[(Int, Long)] = (1 to 8).map(k =>
          k -> (dmin + math.ceil((dmax - dmin + 1).toDouble * k / 8.0).toLong - 1L))
        val tsCol = typedlit(ts)
        val fs = d.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .groupBy("w").agg(min("doc_id").as("fs"))
        val vk = fs
          .select(explode(filter(tsCol, e => col("fs") <= e.getField("_2"))).as("e"))
          .groupBy(col("e._1").as("k")).agg(count(lit(1)).as("vocab"))
        val tk = d
          .select(size(split(col("text"), " ")).cast("long").as("n"),
            explode(filter(tsCol, e => col("doc_id") <= e.getField("_2"))).as("e"))
          .groupBy(col("e._1").as("k")).agg(sum("n").as("toks"))
        vk.join(tk, "k")
          .select(col("k"), col("toks"), col("vocab"),
            log(col("toks").cast("double")).as("lx"),
            log(col("vocab").cast("double")).as("ly"))
          .groupBy()
          .agg(count(lit(1)).as("np"),
            max("toks").as("total_tokens"), max("vocab").as("total_vocab"),
            sort_array(collect_list(struct(col("k"), col("lx"), col("ly")))).as("xs"))
          .select(col("np"), col("total_tokens"), col("total_vocab"),
            aggregate(col("xs"), lit(0.0), (a, x) => a + x.getField("lx")).as("sx"),
            aggregate(col("xs"), lit(0.0), (a, x) => a + x.getField("ly")).as("sy"),
            aggregate(col("xs"), lit(0.0),
              (a, x) => a + x.getField("lx") * x.getField("lx")).as("sxx"),
            aggregate(col("xs"), lit(0.0),
              (a, x) => a + x.getField("lx") * x.getField("ly")).as("sxy"))
          .select(col("np"), col("total_tokens"), col("total_vocab"),
            col("sx"), col("sy"),
            round((col("np").cast("double") * col("sxy") - col("sx") * col("sy")) /
              (col("np").cast("double") * col("sxx") - col("sx") * col("sx")), 4)
              .as("heaps_beta"))
          .withColumn("heaps_k",
            round(exp((col("sy") - col("heaps_beta") * col("sx"))
              / col("np").cast("double")), 4))
          .select("np", "total_tokens", "total_vocab", "heaps_beta", "heaps_k")
      },
      """WITH n AS (SELECT MIN(doc_id) AS dmin, MAX(doc_id) AS dmax FROM documents),
        |ts AS (
        |  SELECT CAST(g.k AS INT) AS k,
        |    dmin + CAST(ceil((dmax - dmin + 1) * g.k / 8.0) AS BIGINT) - 1 AS t
        |  FROM n, UNNEST(range(1, 9)) AS g(k)),
        |fs AS (
        |  SELECT w, MIN(doc_id) AS fs
        |  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w),
        |vk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS vocab
        |       FROM fs JOIN ts ON fs.fs <= ts.t GROUP BY k),
        |nd2 AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
        |tk AS (SELECT k, CAST(SUM(n) AS BIGINT) AS toks
        |       FROM nd2 JOIN ts ON nd2.doc_id <= ts.t GROUP BY k),
        |pts AS (
        |  SELECT k, toks, vocab,
        |    ln(CAST(toks AS DOUBLE)) AS lx, ln(CAST(vocab AS DOUBLE)) AS ly
        |  FROM vk JOIN tk USING (k)),
        |xs AS (
        |  SELECT COUNT(*) AS np, MAX(toks) AS total_tokens, MAX(vocab) AS total_vocab,
        |    list(lx ORDER BY k) AS lxs, list(ly ORDER BY k) AS lys,
        |    list(lx * lx ORDER BY k) AS lxx, list(lx * ly ORDER BY k) AS lxy
        |  FROM pts),
        |m AS (
        |  SELECT np, total_tokens, total_vocab,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), lxs), (a, b) -> a + b) AS sx,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), lys), (a, b) -> a + b) AS sy,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), lxx), (a, b) -> a + b) AS sxx,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), lxy), (a, b) -> a + b) AS sxy
        |  FROM xs),
        |b AS (
        |  SELECT np, total_tokens, total_vocab, sx, sy,
        |    ROUND((CAST(np AS DOUBLE) * sxy - sx * sy)
        |        / (CAST(np AS DOUBLE) * sxx - sx * sx), 4) AS heaps_beta
        |  FROM m)
        |SELECT CAST(np AS BIGINT) AS np, total_tokens, total_vocab, heaps_beta,
        |  ROUND(exp((sy - heaps_beta * sx) / CAST(np AS DOUBLE)), 4) AS heaps_k
        |FROM b""".stripMargin),

    // §2 25hi RAKE keyphrases. Scale shape: phrase runs come from
    // per-document windows (doc_id partitions, high cardinality); the
    // word-statistics table partial-aggregates to vocabulary scale and
    // broadcasts back; per-phrase member scores fold in member-position
    // order (bounded sorted lists), so the double sums — and the final
    // (score DESC, phrase ASC) order — are bit-identical on both
    // engines (degree/frequency is an integer ratio, identical by
    // IEEE). Top 20 phrases; ties break on the phrase string.
    "text_rake_keyphrases" -> QDef(
      (s, dir) => {
        val stop = Seq("the", "a", "of", "to", "and")
        val tok = docs(s, dir)
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        val nonstop = tok.filter(!col("w").isInCollection(stop))
          .withColumn("isl",
            col("pos") - row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
        val ph = nonstop.groupBy("doc_id", "isl")
          .agg(count(lit(1)).as("len"),
            array_join(transform(sort_array(collect_list(struct(col("pos"), col("w")))),
              x => x.getField("w")), " ").as("phrase"))
        val members = nonstop.join(ph, Seq("doc_id", "isl"))
        val ws = members.groupBy("w")
          .agg(count(lit(1)).as("freq"), sum("len").as("deg"))
        val scored = members.join(broadcast(ws), "w")
          .groupBy("doc_id", "isl")
          .agg(max("phrase").as("phrase"),
            sort_array(collect_list(struct(col("pos"),
              (col("deg").cast("double") / col("freq").cast("double")).as("sc"))))
              .as("xs"))
          .select(col("phrase"),
            aggregate(col("xs"), lit(0.0), (a, x) => a + x.getField("sc")).as("score"))
        scored.groupBy("phrase")
          .agg(count(lit(1)).as("n"), round(max("score"), 4).as("score"))
          .orderBy(col("score").desc, col("phrase").asc)
          .limit(20)
      },
      """WITH tok0 AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |tokp AS (
        |  SELECT doc_id, ts, UNNEST(range(1, len(ts) + 1)) AS pos FROM tok0),
        |tok AS (SELECT doc_id, pos, ts[pos] AS w FROM tokp),
        |nonstop AS (
        |  SELECT doc_id, pos, w,
        |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |  FROM tok WHERE w NOT IN ('the', 'a', 'of', 'to', 'and')),
        |ph AS (
        |  SELECT doc_id, isl, COUNT(*) AS len,
        |    array_to_string(list(w ORDER BY pos), ' ') AS phrase
        |  FROM nonstop GROUP BY 1, 2),
        |members AS (
        |  SELECT n.doc_id, n.isl, n.pos, n.w, ph.len, ph.phrase
        |  FROM nonstop n JOIN ph USING (doc_id, isl)),
        |ws AS (SELECT w, COUNT(*) AS freq, SUM(len) AS deg FROM members GROUP BY w),
        |scored AS (
        |  SELECT m.doc_id, m.isl, MAX(m.phrase) AS phrase,
        |    list(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE) ORDER BY m.pos) AS sc
        |  FROM members m JOIN ws USING (w)
        |  GROUP BY 1, 2),
        |psum AS (
        |  SELECT phrase,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), sc), (a, b) -> a + b) AS score
        |  FROM scored)
        |SELECT phrase, COUNT(*) AS n, ROUND(MAX(score), 4) AS score
        |FROM psum GROUP BY phrase
        |ORDER BY score DESC, phrase ASC LIMIT 20""".stripMargin),

    // §2 25ka N-GRAM NOVELTY profile (the memorization/novelty statistic
    // behind dedup-rate and contamination audits — Lee et al. 2022's
    // "Deduplicating Training Data" measures exactly this curve): for
    // every document, the fraction of its word 3-grams that appear in NO
    // earlier document (doc_id order = arrival order; all occurrences
    // inside the first-seeing doc count as novel). 100 TB posture: the
    // trigram table is map-side explode work; first-seen is ONE
    // gram-vocabulary partial-agg shuffle (min(doc_id) per gram); the
    // join back is keyed by gram (the same exchange), per-doc counts
    // partial-aggregate — no corpus-scale window, no all-pairs. The
    // trigram frame feeds two subtrees, so it is cached once. Integer
    // counts; the ratio rounds at 4dp.
    "text_ngram_novelty" -> QDef(
      (s, dir) => {
        val tri = Materialize.cache(docTrigrams(docs(s, dir)))
        val first = tri.groupBy("g").agg(min("doc_id").as("fd"))
        tri.join(first, "g")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("doc_id") === col("fd"), 1L).otherwise(0L)).as("n_novel"))
          .withColumn("novelty",
            round(col("n_novel") / col("n_grams").cast("double"), 4))
          .orderBy("doc_id")
      },
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |tri AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
        |  FROM t, UNNEST(range(1, len(toks) - 1)) AS u(i)),
        |first AS (SELECT g, MIN(doc_id) AS fd FROM tri GROUP BY g)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN doc_id = fd THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  ROUND(SUM(CASE WHEN doc_id = fd THEN 1 ELSE 0 END)
        |        / CAST(COUNT(*) AS DOUBLE), 4) AS novelty
        |FROM tri JOIN first USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // §2 25kb PERPLEXITY-BAND FILTER under the interpolated-KN bigram LM
    // (the CCNet/KenLM production filter shape — Wenzek et al. 2020 score
    // under a real smoothed LM and cut the distribution into bands; both
    // extremes are suspect: the most fluent quartile is boilerplate/
    // repetition, the least fluent is gibberish): every document scored
    // by the 25js KN model (same count tables, no demo slice), banded
    // low/keep/high by EXACT global-rank quartiles (integer arithmetic
    // on (rank, N) — reproducible, unlike approximate thresholds).
    // 100 TB posture: counts are vocabulary-scale partial-agg shuffles,
    // B a 1-row broadcast, the score join keyed by bigram; the global
    // rank uses the curate_global_index bucket-offset composition
    // (value-range buckets → ≤16-row offset window → per-bucket local
    // ranks) — never a corpus-scale single-partition window. The DuckDB
    // oracle ranks with a plain window, pinning the composition's
    // equivalence to the global ROW_NUMBER at every scale.
    "text_perplexity_filter" -> QDef(
      (s, dir) => {
        val nbk = 16
        val t = docs(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 3)
        val bi = Materialize.cache(t.select(col("doc_id"),
            explode(transform(sequence(lit(1), size(col("toks")) - 1),
              i => struct(
                element_at(col("toks"), i).as("w1"),
                element_at(col("toks"), i + 1).as("w2")))).as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2")))
        // All KN statistics derive from the bigram-TYPE table (the
        // text_kn_bigram §6s fix, applied to the same stack here):
        // c(w1·) = Σ cb, N1+(w1,·) / N1+(·,w2) = type-row counts per
        // side. Identical integers; the two corpus-scale countDistinct
        // partial-distinct hash-set aggregations are gone.
        // cBi cached: uncached, it relies on the four consumers sharing
        // one ReusedExchange — with AQE re-planning cached subtrees (the
        // engine-posture conf) that reuse is not reliable and the
        // corpus→vocab shuffle re-ran per consumer (measured +1 s). The
        // table is vocabulary-scale.
        val cBi = Materialize.cache(bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb")))
        val cUni = cBi.groupBy("w1").agg(sum("cb").as("cu"),
          count(lit(1)).as("nf"))
        val n1b = cBi.groupBy("w2").agg(count(lit(1)).as("nb"))
        val bt = cBi.agg(count(lit(1)).as("btypes"))
        val scored = bi
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
              .as("kn_surprisal"))
        val mm = scored.agg(min("kn_surprisal").as("lo"),
          max("kn_surprisal").as("hi"), count(lit(1)).as("nd"))
        val bucketed = scored.crossJoin(broadcast(mm))
          .withColumn("bk", least(lit(nbk - 1),
            floor((col("kn_surprisal") - col("lo")) /
              ((col("hi") - col("lo") + 0.001) / nbk)).cast("int")))
        val offsets = bucketed.groupBy("bk").agg(count(lit(1)).as("bc"))
          .withColumn("off", coalesce(sum("bc").over(
            Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .select("bk", "off")
        bucketed.join(broadcast(offsets), "bk")
          .withColumn("rn", row_number().over(
            Window.partitionBy("bk")
              .orderBy(col("kn_surprisal"), col("doc_id"))).cast("long"))
          .withColumn("rank", col("off") + col("rn"))
          .select(col("doc_id"), col("n_bigrams"), col("kn_surprisal"),
            col("rank"),
            when(col("rank") <= floor(col("nd") / 4), "low")
              .when(col("rank") > col("nd") - floor(col("nd") / 4), "high")
              .otherwise("keep").as("band"))
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
        |bt AS (SELECT COUNT(*) AS btypes FROM cbi),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    ROUND(AVG(-log2(
        |      (cb - 0.75) / cu + ((0.75 * nf) / cu) * (nb / CAST(btypes AS DOUBLE))
        |    )), 4) AS kn_surprisal
        |  FROM bi JOIN cbi USING (w1, w2) JOIN cuni USING (w1) JOIN n1b USING (w2)
        |  CROSS JOIN bt
        |  GROUP BY doc_id),
        |nd AS (SELECT COUNT(*) AS nd FROM scored),
        |ranked AS (
        |  SELECT doc_id, n_bigrams, kn_surprisal,
        |    CAST(ROW_NUMBER() OVER (ORDER BY kn_surprisal, doc_id) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT doc_id, n_bigrams, kn_surprisal, rank,
        |  CASE WHEN rank <= nd // 4 THEN 'low'
        |       WHEN rank > nd - nd // 4 THEN 'high'
        |       ELSE 'keep' END AS band
        |FROM ranked CROSS JOIN nd
        |ORDER BY doc_id""".stripMargin)
  )
}
