package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Text-analysis and deduplication operators for LLM training-data
  * pipelines, over the `documents` table.
  *
  * All hot paths are pure Catalyst expression compositions (higher-order
  * array functions + xxhash64) — no UDFs, so everything stays inside
  * whole-stage codegen and scales as map-side work. Near-dup detection
  * avoids O(n²): MinHash+LSH shuffles by (band, bucket) only; the exact
  * n-gram Jaccard baseline is blocked by language.
  */
object TextOps {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "documents")

  /** doc_id/lang/toks, fanned out to full parallelism with an eval-once
    * boundary — the base of every shingle-heavy pipeline.
    */
  private def tokenized(s: SparkSession, dir: String): DataFrame =
    Eval.barrier(
      Eval.fanOut(
        docs(s, dir)
          .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 3)))

  /** Distinct word 3-gram shingles from an ALREADY MATERIALIZED token
    * array column (attribute or cheap expression). Never pass a raw
    * `split(...)` here in a hot path — the lambda would re-split per
    * element (see [[Eval.barrier]]).
    */
  def shinglesFromToks(toks: Column): Column =
    array_distinct(
      transform(
        sequence(lit(1), size(toks) - lit(2)),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))

  /** Convenience for small inputs / tests: tokenizes inline. */
  def shingles(text: Column): Column = shinglesFromToks(split(text, " "))

  /** Jaccard similarity of two (already distinct) shingle arrays —
    * native codegen'd single-pass kernel
    * (see graft.functions.JaccardSimilarity).
    */
  def jaccard(a: Column, b: Column): Column = graft.functions.GraftFunctions.jaccardSim(a, b)

  /** One xxhash64 per shingle — the base for the MinHash permutations. */
  def shingleHashes(sh: Column): Column = transform(sh, s => xxhash64(s))

  /** Fused native form of
    * array_sort(shingleHashes(shinglesFromToks(toks))): distinct
    * word n-grams → xxhash64 (seed 42) → ascending sort in ONE codegen'd
    * pass, replacing three interpreted HOF passes and their per-row
    * array allocations. Bit-equality to the expression stack pinned by
    * VectorKernelSpec (distinctness by n-gram STRING, so hash collisions
    * keep both hashes exactly like the old chain). The child token
    * expression is evaluated once per ROW by the kernel, so raw
    * `split(...)` children are safe here (no per-element re-evaluation —
    * the [[Eval.barrier]] hazard is specific to HOF lambda inlining).
    */
  def sortedShingleHashes(toks: Column, n: Int = 3): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.graftbridge.NgramHashesSorted(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(toks), n))

  /** k-permutation MinHash signature from per-shingle hashes: permutation
    * i is the affine map h*m(i)+a(i) over Z/2^64 (odd multipliers), so the
    * expensive string hash runs ONCE per shingle and each extra
    * permutation costs one multiply-add.
    */
  def minhashSignature(hs: Column, k: Int): Column = {
    // Affine permutations over Z/p with p = 2^31-1: (h%p)*m + a stays
    // under 2^62, safe under ANSI overflow checking. All k minima
    // in ONE native pass (graftbridge.VectorKernels.minhashSig — exact
    // integer arithmetic, bit-identical; VectorKernelSpec pins it
    // against the k-transform HOF form, which evaluated k
    // interpreted array scans per row).
    val P = 2147483647L
    val rnd = new java.util.SplittableRandom(42)
    val ms = Seq.fill(k)(1L + rnd.nextLong(P - 1))
    val as = Seq.fill(k)(rnd.nextLong(P))
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.graftbridge.MinHashSigNative(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(hs), ms, as, P))
  }

  /** LSH band hashes for a MinHash signature (bands × rowsPerBand = k). */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => xxhash64(concat_ws(",", slice(sig, b * lit(rowsPerBand) + lit(1), lit(rowsPerBand)))))

  /** 64-bit SimHash over whitespace tokens: per bit, sum +1/-1 weighted by
    * each token's xxhash64 bit, then take the sign.
    */
  def simhash64(toks: Column): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, SimHash64}
    ColumnBridge.column(SimHash64(ColumnBridge.expression(toks)))
  }

  /** Verified near-dup pairs (doc_a < doc_b, exact Jaccard >= 0.5) via
    * MinHash + LSH banding. Shared by the `dedup_minhash_lsh` operator
    * and the connected-components clustering in [[ClusterOps]].
    */
  /** DuckDB oracle CTE producing exact 3-shingle Jaccard >= 0.5 pairs as
    * `p(doc_a, doc_b, jaccard)` — SUBQUADRATIC, so the oracle stays
    * runnable at the sweep scale factors (the previous all-pairs
    * formulation was O(n²) list-intersections: >12 min at sf0.1's 5000
    * docs; this runs in ~1 min). Candidate generation is the same
    * prefix-filter argument ngramJaccardPairs uses on the Spark side:
    * J(A,B) >= 0.5 implies |A∩B| >= ceil(|A|/2), so under ANY global
    * shingle order (lexicographic here; hashed on the Spark side — the
    * order need not match, it only needs to be consistent within the
    * oracle) some shared shingle falls in the first floor(n/2)+1 sorted
    * positions of BOTH docs, and max(|A|,|B|) <= 2*min(|A|,|B|). Exact
    * verification then runs only on candidates, so the final pair set is
    * IDENTICAL to the all-pairs formulation.
    */
  private[queries] def jaccardPairsCte(langBlocked: Boolean): String = {
    val langCol = if (langBlocked) ", lang" else ""
    val langEq = if (langBlocked) "AND a.lang = b.lang " else ""
    s"""WITH t AS (
       |  SELECT doc_id$langCol,
       |    list_sort(list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
       |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))) AS sh
       |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
       |x AS (
       |  SELECT doc_id$langCol, len(sh) AS n, UNNEST(sh[1 : len(sh)//2 + 1]) AS s1 FROM t),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM x a JOIN x b ON a.s1 = b.s1 $langEq${""}AND a.doc_id < b.doc_id
       |  WHERE GREATEST(a.n, b.n) <= 2 * LEAST(a.n, b.n)),
       |p AS (
       |  SELECT da AS doc_a, db AS doc_b,
       |    ROUND(len(list_intersect(ta.sh, tb.sh)) * 1.0 / len(list_distinct(list_concat(ta.sh, tb.sh))), 4) AS jaccard
       |  FROM cand JOIN t ta ON ta.doc_id = da JOIN t tb ON tb.doc_id = db
       |  WHERE len(list_intersect(ta.sh, tb.sh)) * 1.0 / len(list_distinct(list_concat(ta.sh, tb.sh))) >= 0.5)""".stripMargin
  }

  /** CONTENT-GROUP COLLAPSE for the pairwise near-dup tier (found by
    * the Zipf-skew sweep): one node per DISTINCT shingle set before
    * any candidate generation. Raw-doc pair generation is quadratic in
    * duplicate-cluster size — a 100-copy cluster (the skewed tier's hot
    * bucket; real corpora have far worse boilerplate clusters) puts all
    * copies in the same LSH buckets / inverted-index entries, and each
    * of its C(100,2) candidate pairs pays a full sorted-merge kernel
    * call: measured >20 min grinding at skewed-sf10 where the collapsed
    * form runs the kernel once per DISTINCT-content pair. Identical
    * sets have identical signatures/prefixes, so the rep-level pair set
    * is exactly the distinct-content projection of the original output;
    * expansion back to doc pairs is map-side fan-out (each row constant
    * work) and within-group pairs score exactly 1.0 with NO kernel call
    * — output bit-identical to the per-doc formulation. (The same
    * discipline the ANN dedup applies to vectors: production dedups
    * verbatim content before pairwise anything.)
    *
    * Returns (reps, members): reps = the min-doc_id row per distinct
    * [lang ×] shingle set; members = (rep, doc_id) for every doc. One
    * corpus-scale exchange keyed by the set itself.
    */
  private[queries] def collapseByContent(d: DataFrame, langBlocked: Boolean): (DataFrame, DataFrame) = {
    // AGGREGATION, not a window, over the content key (a window form shuffled EVERY row partitioned by the full
    // hashed-shingle array — kilobytes of key material per row at real
    // document sizes, plus a WindowExec sort that compares whole
    // arrays). The group-by plans partial → exchange → final: copies of
    // hot content collapse map-side BEFORE the exchange, so shuffle
    // volume scales with DISTINCT contents per input partition, never
    // corpus rows — the reason this beats repartition(xxhash64)-then-
    // aggregate, which would pin the exchange key to 8 bytes but forfeit
    // the map-side combine and ship every raw row. The precomputed
    // __h leads the group key so hash/compare work on the array only
    // runs on 64-bit-equal candidates; exactness is preserved because
    // the full column set stays in the key (a collision splits into two
    // groups, it never merges distinct contents). Non-key columns of
    // `d` (e.g. nsh = size(hs)) are functions of the content key, so
    // grouping by every non-doc_id column is the identity partition of
    // the old per-content window. Plan + volume pinned in
    // CollapseByContentSpec.
    val hashCols = if (langBlocked) Seq(col("lang"), col("hs")) else Seq(col("hs"))
    val keyCols = d.columns.filterNot(_ == "doc_id").toSeq.map(col)
    val grouped = Materialize.cache(d
      .withColumn("__h", xxhash64(hashCols: _*))
      .groupBy(col("__h") +: keyCols: _*)
      .agg(min("doc_id").as("rep"), collect_list("doc_id").as("ids")))
    val members = grouped.select(col("rep"), explode(col("ids")).as("doc_id"))
    val reps = grouped.select(col("rep").as("doc_id") +: keyCols: _*)
    (reps, members)
  }

  /** Expand rep-level pairs to doc-level pairs (unordered contract:
    * doc_a < doc_b), carrying the rep pair's score — identical sets, so
    * every member pair's exact score IS the rep pair's.
    */
  private[queries] def expandPairs(repPairs: DataFrame, members: DataFrame, score: String): DataFrame =
    repPairs
      .join(members.select(col("rep").as("ra"), col("doc_id").as("da")), "ra")
      .join(members.select(col("rep").as("rb"), col("doc_id").as("db")), "rb")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col(score))

  /** All within-group doc pairs: identical shingle sets, so the exact
    * Jaccard is 1.0 by construction — no kernel call.
    */
  private[queries] def intraPairs(members: DataFrame, score: String): DataFrame =
    members.as("x").join(members.as("y"),
        col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(1.0).as(score))

  /** Rep-level verified MinHash/LSH near-dup pairs + the member table —
    * the collapsed core shared by `dedup_minhash_lsh` (which expands to
    * doc pairs) and [[ClusterOps]] (which runs connected components on
    * the REP graph — a duplicate group is one node, so cliques of
    * copies never enter the iteration).
    */
  def minhashRepPairs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val k = 32; val bands = 16; val rows = 2
    // Hashed sorted shingles are reused by the signature, the banding
    // explode AND the pair verification join → cache once; strings
    // never leave the first projection.
    val dAll = Eval.barrier(
      tokenized(s, dir).select(col("doc_id"),
        sortedShingleHashes(col("toks")).as("hs")))
    val (reps, members) = collapseByContent(dAll, langBlocked = false)
    val d = Materialize.cache(reps)
    val sig = d.select(col("doc_id"), minhashSignature(col("hs"), k).as("sig"))
    val banded = sig.select(
      col("doc_id"), posexplode(bandHashes(col("sig"), bands, rows)).as(Seq("band", "bhash")))
    val cand = banded.as("x")
      .join(banded.as("y"), col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val repPairs = cand
      .join(d.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(graft.functions.GraftFunctions.jaccardSortedLong(col("hs_a"), col("hs_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a").as("ra"), col("doc_b").as("rb"), col("jaccard"))
    (repPairs, members)
  }

  def minhashPairs(s: SparkSession, dir: String): DataFrame = {
    val (repPairs, members) = minhashRepPairs(s, dir)
    intraPairs(members, "jaccard").unionByName(expandPairs(repPairs, members, "jaccard"))
  }

  /** Exact n-gram Jaccard near-dup pairs at τ=0.5, blocked by language,
    * via PREFIX FILTERING (AllPairs / PPJoin family) instead of
    * all-pairs-within-language: with shingles hashed (one xxhash64 each)
    * and sorted ascending as the global token order, J(A,B) >= t implies
    * |A∩B| >= ceil(t·|A|), so some intersecting hash must land in the
    * first |A| - ceil(t·|A|) + 1 = floor(|A|/2)+1 positions (t = 0.5).
    * Candidates therefore come from an equi-join on the PREFIX HASH
    * itself — a high-cardinality key that shuffles only docs which
    * actually share a shingle, O(matches) not O(n²/langs), and
    * parallelism scales with the cluster instead of the language count.
    * Verification is a primitive merge-count
    * (graftbridge.JaccardSortedLong) per surviving pair.
    */
  def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    // Content-group collapse first (see collapseByContent — the skewed
    // sweep's hot-cluster fix); prefix-filter candidates + the exact
    // merge-count kernel run on DISTINCT (lang, shingle-set) reps only.
    val dAll = Eval.barrier(
      tokenized(s, dir)
        .select(col("doc_id"), col("lang"),
          sortedShingleHashes(col("toks")).as("hs"))
        .withColumn("nsh", size(col("hs"))))
    val (reps, members) = collapseByContent(dAll, langBlocked = true)
    val d = Materialize.cache(reps)
    val prefix = d.select(col("doc_id"), col("lang"), col("nsh"),
      explode(slice(col("hs"), lit(1), (col("nsh") / 2).cast("int") + 1)).as("ph"))
    // Lossless size bound: J(A,B) >= 0.5 implies max(|A|,|B|) <= 2*min.
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.ph") === col("b.ph") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id") &&
          greatest(col("a.nsh"), col("b.nsh")) <= least(col("a.nsh"), col("b.nsh")) * 2)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val repPairs = cand
      .join(d.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(graft.functions.GraftFunctions.jaccardSortedLong(col("hs_a"), col("hs_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a").as("ra"), col("doc_b").as("rb"), col("jaccard"))
    intraPairs(members, "jaccard").unionByName(expandPairs(repPairs, members, "jaccard"))
  }

  private val stop = Map(
    "en" -> "(the|a|of|to|and)",
    "de" -> "(der|die|und|das|ist)",
    "fr" -> "(le|la|et|les|des)",
    "es" -> "(el|la|de|que|los)")

  /** Distinct word n-grams from a materialized token array — the
    * generalized form of [[shinglesFromToks]] for decontamination-length
    * grams.
    */
  def ngramShingles(toks: Column, n: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), size(toks) - lit(n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j))): _*)))

  /** Benchmark decontamination: flag corpus documents sharing any word
    * n-gram with a benchmark/eval set — the training-data hygiene step
    * that keeps test sets out of the training corpus. The benchmark side
    * is tiny by nature, so its distinct grams BROADCAST and the corpus
    * side is a map-only semi-join (no corpus shuffle); the only shuffle
    * is the per-doc match-count aggregation. Production would use longer
    * grams (8-13) and xxhash64'd shingles ([[shingleHashes]]) to shrink
    * the broadcast; raw gram strings here keep the DuckDB oracle an
    * exact-equality parity check, and n=4 is scaled to the synthetic
    * vocabulary so both outcomes (clean/contaminated) are exercised.
    */
  def decontaminate(s: SparkSession, dir: String, n: Int = 4, benchBelow: Long = 20L): DataFrame = {
    val base = Eval.barrier(
      Eval.fanOut(
        docs(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= n)))
    val grams = docGrams(base, n)
    val bench = grams.filter(col("doc_id") < benchBelow).select("g").distinct()
    flagContaminated(
      base.filter(col("doc_id") >= benchBelow), grams.filter(col("doc_id") >= benchBelow), bench)
      .orderBy("doc_id")
  }

  /** The (doc_id, g) distinct word n-grams of each doc of a (doc_id,
    * toks) frame. Every doc must hold at least `n` tokens: a shorter one
    * makes an out-of-range shingle index.
    */
  def docGrams(toks: DataFrame, n: Int): DataFrame =
    toks.select(col("doc_id"), explode(ngramShingles(col("toks"), n)).as("g"))

  /** The decontamination flag step: each doc of `docs` (doc_id) gets
    * `n_matched`, the number of its `grams` (doc_id, g) found in the
    * benchmark gram set `bench` (g, distinct), and `contaminated`. The
    * bench side broadcasts, so the corpus side is a map-only semi-join
    * and the per-doc count is the only shuffle; a doc without grams
    * flags clean.
    */
  def flagContaminated(docs: DataFrame, grams: DataFrame, bench: DataFrame): DataFrame = {
    val hits = grams
      .join(broadcast(bench), Seq("g"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched"))
    docs.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        col("n_matched").isNotNull.as("contaminated"))
  }

  val defs: Map[String, QDef] = Map(

    "text_decontaminate" -> QDef(
      (s, dir) => decontaminate(s, dir),
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 4),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 2),
        |    i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3])))) AS g
        |  FROM toks),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 20),
        |hits AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched
        |  FROM grams WHERE doc_id >= 20 AND g IN (SELECT g FROM bench)
        |  GROUP BY 1)
        |SELECT t.doc_id, COALESCE(n_matched, 0) AS n_matched,
        |  n_matched IS NOT NULL AS contaminated
        |FROM toks t LEFT JOIN hits USING (doc_id)
        |WHERE t.doc_id >= 20 ORDER BY doc_id""".stripMargin),

    // §2.3#35 exact dedup via content hash: every doc annotated with its
    // duplicate rank inside its md5(text) group (rank>1 == drop candidate).
    "dedup_exact" -> QDef(
      (s, dir) => {
        val w = Window.partitionBy("content_hash").orderBy("doc_id")
        docs(s, dir)
          .select(col("doc_id"), md5(col("text")).as("content_hash"))
          .withColumn("dup_rank", row_number().over(w).cast("long"))
          .orderBy("doc_id")
      },
      """SELECT doc_id, md5(text) AS content_hash,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS BIGINT) AS dup_rank
        |FROM documents ORDER BY doc_id""".stripMargin),

    // §2.3#36 exact n-gram Jaccard near-dup pairs, blocked by language.
    // (Oracle CTE shared with dedup_minhash_lsh / dedup_simhash /
    // dedup_clusters — see jaccardPairsCte.)
    // This is the exact baseline the MinHash/LSH path approximates.
    "dedup_ngram_jaccard" -> QDef(
      (s, dir) => ngramJaccardPairs(s, dir).orderBy("doc_a", "doc_b"),
      s"""${jaccardPairsCte(langBlocked = true)}
        |SELECT doc_a, doc_b, jaccard FROM p
        |ORDER BY doc_a, doc_b""".stripMargin),

    // §2.3#37 MinHash + LSH banding near-dup detection: the 100 TB path.
    // Signature is map-only; candidates come from a shuffle on
    // (band, bucket) — never all-pairs. Candidates are verified with exact
    // Jaccard, so at high similarity the output equals the exact baseline
    // (which is the DuckDB oracle below).
    "dedup_minhash_lsh" -> QDef(
      (s, dir) => minhashPairs(s, dir).orderBy("doc_a", "doc_b"),
      // Exact-Jaccard oracle: valid because verified LSH output at τ=0.5
      // equals the exact result when band recall holds (checked in specs).
      s"""${jaccardPairsCte(langBlocked = false)}
        |SELECT doc_a, doc_b, jaccard FROM p
        |ORDER BY doc_a, doc_b""".stripMargin),

    // §2 25kk GROUP-granularity near-dup artifact: the rep-level
    // near-dup relation with duplicate-group masses — one row per
    // DISTINCT-CONTENT pair, never per doc pair. This is the output a
    // 100 TB pipeline actually stores: the doc-pair contract
    // (dedup_minhash_lsh above) is quadratic in cluster size BY
    // DEFINITION (a million-copy boilerplate cluster is 5·10^11 pairs
    // nobody materializes), while this table is linear — membership
    // joins recover any doc-level view on demand. Comes straight from
    // minhashRepPairs (compute already cluster-linear after the
    // collapse); n_doc_pairs carries the implied doc-pair mass so
    // downstream takedown accounting needs no expansion. The oracle
    // replays the identical group collapse (min-doc_id rep per distinct
    // shingle set) through the exact-Jaccard prefix-filter CTE.
    "dedup_minhash_groups" -> QDef(
      (s, dir) => {
        val (repPairs, members) = minhashRepPairs(s, dir)
        val sizes = members.groupBy("rep").agg(count(lit(1)).as("sz"))
        repPairs
          .join(sizes.select(col("rep").as("ra"), col("sz").as("size_a")), "ra")
          .join(sizes.select(col("rep").as("rb"), col("sz").as("size_b")), "rb")
          .select(col("ra").as("rep_a"), col("rb").as("rep_b"), col("jaccard"),
            col("size_a"), col("size_b"),
            (col("size_a") * col("size_b")).as("n_doc_pairs"))
          .orderBy("rep_a", "rep_b")
      },
      """WITH t AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))) AS sh
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |g AS (SELECT sh, MIN(doc_id) AS rep, COUNT(*) AS sz FROM t GROUP BY sh),
        |x AS (SELECT rep, len(sh) AS n, UNNEST(sh[1 : len(sh)//2 + 1]) AS s1 FROM g),
        |cand AS (
        |  SELECT DISTINCT a.rep AS ra, b.rep AS rb
        |  FROM x a JOIN x b ON a.s1 = b.s1 AND a.rep < b.rep
        |  WHERE GREATEST(a.n, b.n) <= 2 * LEAST(a.n, b.n)),
        |p AS (
        |  SELECT ra AS rep_a, rb AS rep_b,
        |    ROUND(len(list_intersect(ga.sh, gb.sh)) * 1.0 / len(list_distinct(list_concat(ga.sh, gb.sh))), 4) AS jaccard,
        |    ga.sz AS size_a, gb.sz AS size_b
        |  FROM cand JOIN g ga ON ga.rep = ra JOIN g gb ON gb.rep = rb
        |  WHERE len(list_intersect(ga.sh, gb.sh)) * 1.0 / len(list_distinct(list_concat(ga.sh, gb.sh))) >= 0.5)
        |SELECT rep_a, rep_b, jaccard,
        |  CAST(size_a AS BIGINT) AS size_a, CAST(size_b AS BIGINT) AS size_b,
        |  CAST(size_a * size_b AS BIGINT) AS n_doc_pairs
        |FROM p ORDER BY rep_a, rep_b""".stripMargin),

    // §2.3#38 SimHash near-dup fingerprints (Hamming-space path). The
    // fingerprints themselves have no DuckDB equivalent (xxhash64), so
    // the DRIVER-CHECKABLE gate asserts SimHash's semantic contract on
    // deterministic, DuckDB-computable pairs: every exact-Jaccard
    // near-dup pair (τ >= 0.5) must also be close in Hamming space.
    // Expected Hamming for J≈0.5 pairs is ~16/64 bits vs ~32 for random
    // pairs — 26 splits the two populations with wide margin. Raw
    // fingerprints: [[simhash64]] over tokenized docs (spec-verified for
    // bit parity).
    "dedup_simhash" -> QDef(
      (s, dir) => {
        val sh = tokenized(s, dir)
          .select(col("doc_id"), simhash64(col("toks")).as("simhash"))
        ngramJaccardPairs(s, dir)
          .join(sh.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a")), "doc_a")
          .join(sh.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            (bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= 26).as("hamming_close"))
          .orderBy("doc_a", "doc_b")
      },
      s"""${jaccardPairsCte(langBlocked = true)}
        |SELECT doc_a, doc_b, true AS hamming_close FROM p
        |ORDER BY doc_a, doc_b""".stripMargin),

    // §2.3#42 language ID: per-language stopword-hit scores, argmax with a
    // deterministic tie-break order. Identical CASE logic on both sides.
    "text_lang_id" -> QDef(
      (s, dir) => {
        val d = docs(s, dir)
        val scored = d.select(
          col("doc_id") +: stop.toSeq.sortBy(_._1).map { case (l, re) =>
            regexp_count(col("text"), lit("\\b" + re + "\\b")).cast("long").as(s"score_$l")
          }: _*)
        scored
          .withColumn("pred_lang",
            when(col("score_en") >= col("score_de") && col("score_en") >= col("score_fr") && col("score_en") >= col("score_es"), "en")
              .when(col("score_de") >= col("score_fr") && col("score_de") >= col("score_es"), "de")
              .when(col("score_fr") >= col("score_es"), "fr")
              .otherwise("es"))
          .orderBy("doc_id")
      },
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(der|die|und|das|ist)\b')) AS BIGINT) AS score_de,
        |  CAST(len(regexp_extract_all(text, '\b(the|a|of|to|and)\b')) AS BIGINT) AS score_en,
        |  CAST(len(regexp_extract_all(text, '\b(el|la|de|que|los)\b')) AS BIGINT) AS score_es,
        |  CAST(len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) AS BIGINT) AS score_fr,
        |  CASE WHEN len(regexp_extract_all(text, '\b(the|a|of|to|and)\b')) >= len(regexp_extract_all(text, '\b(der|die|und|das|ist)\b'))
        |        AND len(regexp_extract_all(text, '\b(the|a|of|to|and)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|les|des)\b'))
        |        AND len(regexp_extract_all(text, '\b(the|a|of|to|and)\b')) >= len(regexp_extract_all(text, '\b(el|la|de|que|los)\b')) THEN 'en'
        |       WHEN len(regexp_extract_all(text, '\b(der|die|und|das|ist)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|les|des)\b'))
        |        AND len(regexp_extract_all(text, '\b(der|die|und|das|ist)\b')) >= len(regexp_extract_all(text, '\b(el|la|de|que|los)\b')) THEN 'de'
        |       WHEN len(regexp_extract_all(text, '\b(le|la|et|les|des)\b')) >= len(regexp_extract_all(text, '\b(el|la|de|que|los)\b')) THEN 'fr'
        |       ELSE 'es' END AS pred_lang
        |FROM documents ORDER BY doc_id""".stripMargin),

    // §2.3#43 quality scoring: length / alpha ratio / space ratio /
    // stopword density → composite score.
    "text_quality" -> QDef(
      (s, dir) =>
        docs(s, dir)
          .select(
            col("doc_id"),
            length(col("text")).cast("long").as("len_chars"),
            round(regexp_count(col("text"), lit("[a-z]")).cast("double") / length(col("text")), 4).as("alpha_ratio"),
            round(regexp_count(col("text"), lit(" ")).cast("double") / length(col("text")), 4).as("space_ratio"),
            regexp_count(col("text"), lit("\\b(the|a|of|to|and)\\b")).cast("long").as("stopword_hits"))
          .withColumn(
            // Integer milli-point score (0..10000): integer rounding is
            // bit-stable across engines, unlike scaled decimal rounding.
            "quality_score",
            (round(col("alpha_ratio") * 5000, 0) +
              round(least(col("stopword_hits").cast("double") / lit(20.0), lit(1.0)) * 3000, 0) +
              round(least(col("len_chars").cast("double") / lit(500.0), lit(1.0)) * 2000, 0)).cast("long"))
          .orderBy("doc_id"),
      """SELECT doc_id,
        |  CAST(LENGTH(text) AS BIGINT) AS len_chars,
        |  ROUND(len(regexp_extract_all(text, '[a-z]')) * 1.0 / LENGTH(text), 4) AS alpha_ratio,
        |  ROUND(len(regexp_extract_all(text, ' ')) * 1.0 / LENGTH(text), 4) AS space_ratio,
        |  CAST(len(regexp_extract_all(text, '\b(the|a|of|to|and)\b')) AS BIGINT) AS stopword_hits,
  CAST(ROUND(ROUND(len(regexp_extract_all(text, '[a-z]')) * 1.0 / LENGTH(text), 4) * 5000)
        |     + ROUND(LEAST(len(regexp_extract_all(text, '\b(the|a|of|to|and)\b')) / 20.0, 1.0) * 3000)
        |     + ROUND(LEAST(LENGTH(text) / 500.0, 1.0) * 2000) AS BIGINT) AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Within-document repetition (the Gopher/C4-style quality rule that
    // catches boilerplate and degenerate generations): fraction of
    // duplicate word bigrams. Map-only per-row array arithmetic — no
    // shuffle, no join; the flag uses exact integer comparison
    // ((total-distinct)*5 > total ⟺ ratio > 0.2), so no float rounding
    // can diverge between engines.
    "text_repetition" -> QDef(
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 2)
          .select(
            col("doc_id"),
            expr("transform(sequence(1, size(toks)-1), i -> concat_ws(' ', toks[i-1], toks[i]))")
              .as("bg"))
          .select(
            col("doc_id"),
            size(col("bg")).cast("long").as("n_bigrams"),
            size(array_distinct(col("bg"))).cast("long").as("n_distinct"))
          .withColumn("repetitive",
            (col("n_bigrams") - col("n_distinct")) * 5 > col("n_bigrams"))
          .orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |b AS (
        |  SELECT doc_id,
        |    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bg
        |  FROM t)
        |SELECT doc_id,
        |  CAST(len(bg) AS BIGINT) AS n_bigrams,
        |  CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct,
        |  (len(bg) - len(list_distinct(bg))) * 5 > len(bg) AS repetitive
        |FROM b ORDER BY doc_id""".stripMargin),

    // §2.3#44 token counting: whitespace tokens + a BPE-ish regex count
    // (letter runs / digit runs / single punctuation).
    "text_token_count" -> QDef(
      (s, dir) =>
        docs(s, dir)
          .select(
            col("doc_id"),
            size(split(trim(col("text")), "\\s+")).cast("long").as("ws_tokens"),
            regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).cast("long").as("bpe_tokens"))
          .orderBy("doc_id"),
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    // §2.3#45 bag-of-words document fingerprint: md5 over the sorted
    // distinct token set — invariant to word order and repetition.
    "text_fingerprint" -> QDef(
      (s, dir) =>
        docs(s, dir)
          .select(
            col("doc_id"),
            md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " "))))).as("fingerprint"))
          .orderBy("doc_id"),
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin)
  )
}
