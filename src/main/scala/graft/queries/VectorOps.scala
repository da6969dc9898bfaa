package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Similarity search over the `embeddings` table (Array[Float] column).
  *
  * Dot products / norms are higher-order array-function compositions
  * (zip_with + aggregate) — pure Catalyst expressions, no UDFs. The
  * brute-force top-k is the correctness baseline (query side broadcast);
  * random-hyperplane LSH bucketing is the 100 TB scale path: bucket
  * assignment is map-only and only bucket-local pairs shuffle.
  */
object VectorOps {

  private def emb(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "embeddings")

  /** Cast a float array to double for numerically identical math on both
    * engines.
    */
  def asDouble(a: Column): Column = transform(a, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Native codegen'd kernel (see graft.functions.CosineSimilarity); the
    * HOF formulation above is kept for reference/tests of the math.
    */
  def cosine(a: Column, b: Column): Column = graft.functions.GraftFunctions.cosineSim(a, b)

  /** Random-hyperplane LSH bucket id for one hash table: `planes` sign
    * bits against deterministic pseudo-random hyperplanes baked in as
    * literal arrays (constant-folded once — per row cost is planes×dim
    * multiply-adds, no hashing). `table` seeds independent hyperplane
    * sets; `dim` is the embedding dimensionality.
    */
  /** Deterministic hyperplane sets: per table, `planes` × `dim` draws in
    * a fixed order from a table-seeded SplittableRandom — the SAME
    * values whether baked in unrolled or as one nested literal.
    */
  private def hyperplaneSets(planes: Int, tables: Int, dim: Int): Seq[Seq[Seq[Double]]] =
    (0 until tables).map { t =>
      val rnd = new java.util.SplittableRandom(42L * (t + 1))
      (0 until planes).map(_ => Seq.fill(dim)(rnd.nextDouble() - 0.5))
    }

  /** Sign-bit bucket of `v` against one table's plane array (array of
    * plane vectors): Σ_p [proj_p > 0]·2^p, computed as a Horner fold
    * over the REVERSED plane list (acc·2 + bit — no per-row pow) — a
    * single loop expression over the literal, O(1) codegen size in
    * planes×dim (the unrolled form Janino-compiled planes×dim literal
    * trees per table — the ANN codegen fix, same class as
    * IvfOps.assignLiteral).
    */
  private def bucketOf(v: Column, tblPlanes: Column): Column =
    aggregate(
      reverse(tblPlanes),
      lit(0L),
      (acc, plane) => acc * 2 +
        when(aggregate(zip_with(v, plane, (x, w) => x * w), lit(0.0), (a, x) => a + x) > 0.0,
          lit(1L)).otherwise(lit(0L)))

  /** Multi-table LSH keys: array of (table, bucket) composite longs. Each
    * vector lands in `tables` buckets; a candidate pair only needs to
    * collide in ONE table, which is what buys recall. One native
    * codegen'd kernel call per row (graftbridge.VectorKernels.lshKeys —
    * identical Horner/dot arithmetic in identical order, pinned
    * bit-equal to the HOF form below by VectorKernelSpec); the HOF form
    * ran tables×planes×dim interpreted multiply-adds and allocated one
    * zipped array per (table, plane) per row.
    */
  def lshKeys(v: Column, planes: Int, tables: Int, dim: Int = 64): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.graftbridge.LshKeysNative(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(v),
        hyperplaneSets(planes, tables, dim), tables))

  /** The HOF formulation, kept as the spec's reference. */
  private[queries] def lshKeysRef(v: Column, planes: Int, tables: Int, dim: Int = 64): Column =
    transform(typedlit(hyperplaneSets(planes, tables, dim)), (tbl, t) =>
      bucketOf(v, tbl) * lit(tables.toLong) + t.cast("long"))

  /** Two-phase top-k per query over a scored candidate frame
    * `(q_id, neighbor_id, <scoreName>)`: the bounded-heap aggregate
    * (graftbridge.BoundedTopK) keeps at most k entries in each MAP-SIDE
    * partial buffer, so only partitions × queries × k entries ever cross
    * the exchange — never the scored corpus. Replaces the
    * `row_number() OVER (PARTITION BY q_id ORDER BY score DESC, id)`
    * pattern, which shuffles every scored row into one partition per
    * query before it can rank. Output: (q_id, neighbor_id, score, rank),
    * rank 1-based by (score DESC, neighbor_id ASC) — identical ordering
    * and tie-break to the window it replaces.
    */
  private[queries] def topKPerQuery(scored: DataFrame, scoreName: String, k: Int): DataFrame =
    scored.groupBy("q_id")
      .agg(graft.functions.GraftFunctions
        .boundedTopK(col(scoreName), col("neighbor_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.id").as("neighbor_id"), col("t.score").as(scoreName),
        (col("pos") + 1).cast("long").as("rank"))

  /** Eagerly-materialized (q_id, neighbor_id) frame for the ANN recall
    * gates: every gate consumes its approximate top-k AND the
    * brute baseline TWICE (hits join + shape/n_exact aggregate), so the
    * un-materialized subtree — whose plan embeds codebook/hyperplane
    * literal arrays, 50-330 KB of plan string — was planned and
    * codegen'd twice per gate (guide §3.3: huge plans make planning the
    * bottleneck; materializing an intermediate truncates them). The
    * frame is ≤ queries × k rows (100 at any corpus size), so the
    * checkpoint is bounded; downstream joins/aggregates see identical
    * rows and the gate booleans are unchanged.
    */
  private[queries] def gatePairs(df: DataFrame): DataFrame =
    Materialize.checkpoint(df.select(col("q_id"), col("neighbor_id")), eager = true)

  /** Brute-force cosine top-10 for the 10 probe vectors — the exact
    * baseline every approximate ANN path is gated against. Scoring is a
    * map-only pass over the corpus (queries broadcast); the rank is the
    * two-phase [[topKPerQuery]], so the scored corpus never shuffles.
    */
  def bruteTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Eval.barrier(Eval.fanOut(
      emb(s, dir).select(col("vec_id"), asDouble(col("embedding")).as("v"))))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qv"), col("v")), 6).as("cosine"))
    topKPerQuery(scored, "cosine", 10)
  }

  /** LSH-bucketed approximate top-10 (8 tables × 4 hyperplanes): bucket
    * assignment is map-only, candidates come from bucket-key equi-joins —
    * shuffle bounded by bucket sizes, never all-pairs.
    */
  def lshTopK(s: SparkSession, dir: String): DataFrame = {
    val planes = 4; val nTables = 8
    val e = Eval.barrier(Eval.fanOut(
        emb(s, dir).select(col("vec_id"), asDouble(col("embedding")).as("v"))))
      .withColumn("keys", lshKeys(col("v"), planes, nTables))
    val corpus = e.select(col("vec_id"), col("v"), explode(col("keys")).as("key"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), explode(col("keys")).as("key"))
    // Multi-table candidates are deduped by (q_id, neighbor_id) — a
    // hash aggregate with map-side partial dedup, keyed well across
    // reducers — then ranked with the two-phase bounded top-k, so the
    // only per-query exchange carries partitions × queries × 10 entries.
    val scored = corpus.join(broadcast(q), Seq("key"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("qv"), col("v"))
      .dropDuplicates("q_id", "neighbor_id")
      .select(col("q_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("v")), 6).as("cosine"))
    topKPerQuery(scored, "cosine", 10)
  }

  val defs: Map[String, QDef] = Map(

    // §2.3#39 brute-force cosine top-k: 10 query vectors against the full
    // corpus. Query side is tiny → broadcast; corpus side never shuffles.
    "ann_cosine_topk" -> QDef(
      (s, dir) => bruteTopK(s, dir).orderBy("q_id", "rank"),
      """WITH q AS (SELECT vec_id AS q_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.q_id, e.vec_id AS neighbor_id,
        |    ROUND(list_cosine_similarity(q.qv, list_transform(e.embedding, x -> CAST(x AS DOUBLE))), 6) AS cosine
        |  FROM q JOIN embeddings e ON e.vec_id <> q.q_id),
        |ranked AS (
        |  SELECT q_id, neighbor_id, cosine,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT q_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 10
        |ORDER BY q_id, rank""".stripMargin),

    // §2.3#41 embedding near-dup: top-30 most-similar pairs (blocked to
    // vec_id < 300 for the exact all-pairs baseline; the LSH variant below
    // is the scale path).
    "dedup_embedding" -> QDef(
      (s, dir) => {
        val e = Eval.barrier(Eval.fanOut(
          emb(s, dir).filter(col("vec_id") < 300)
            .select(col("vec_id"), asDouble(col("embedding")).as("v"))))
        val a = e.select(col("vec_id").as("id_a"), col("v").as("va"))
        val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
        a.join(b, col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"), round(cosine(col("va"), col("vb")), 6).as("cosine"))
          .orderBy(col("cosine").desc, col("id_a"), col("id_b"))
          .limit(30)
      },
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id < 300)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |ORDER BY cosine DESC, id_a, id_b LIMIT 30""".stripMargin),

    // §2.3#40 LSH-bucketed ANN (scale path). Approximate, so there is no
    // row-level SQL oracle for the neighbor lists; the DRIVER-CHECKABLE
    // gate instead emits the recall contract vs the exact brute-force
    // baseline as deterministic, hashable output (the raw top-k path is
    // [[lshTopK]]; the exact-baseline comparison is the verification
    // cost, not the operator cost).
    "ann_lsh_topk" -> QDef(
      (s, dir) => {
        val lsh = gatePairs(lshTopK(s, dir))
        val brute = gatePairs(bruteTopK(s, dir))
        val hits = lsh.join(brute, Seq("q_id", "neighbor_id"))
          .agg(count(lit(1)).as("hits"))
        brute.agg(count(lit(1)).as("n_exact")).crossJoin(hits)
          .select(
            col("n_exact").cast("long").as("n_exact"),
            // Random-bucket baseline is ~4%; 20% proves the buckets work.
            (col("hits") >= col("n_exact") * 0.2).as("recall_ok"))
      },
      """SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 10)
        |  * LEAST(10, (SELECT COUNT(*) FROM embeddings) - 1) AS BIGINT) AS n_exact,
        |  true AS recall_ok""".stripMargin),

    // §2 25kl OPERATOR-ONLY twin of ann_lsh_topk:
    // the gated key above runs the full brute-force exact baseline
    // IN-BAND for its recall contract, so its bench entry times the
    // ground truth, not the operator — pins drift with verification
    // cost and gate noise reads as operator regressions. This twin runs
    // ONLY the production path (bucket assignment → candidate join →
    // bounded top-k) with a shape contract the oracle can state without
    // recomputing the neighbors: every probe query surfaces, and no
    // query exceeds k. Recall itself stays gated by ann_lsh_topk.
    "ann_lsh_topk_op" -> QDef(
      (s, dir) => {
        val lsh = lshTopK(s, dir)
        lsh.agg(
            countDistinct("q_id").cast("long").as("n_queries"),
            (max("rank") <= 10).as("k_bounded"))
      },
      """SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 10)
        |  AS BIGINT) AS n_queries, true AS k_bounded""".stripMargin)
  )
}
