package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** SemDeDup-style semantic deduplication (Abbas et al., 2023: cluster
  * the embedding corpus, then drop all-but-one of every within-cluster
  * ball of near-identical vectors) — here in its fully DETERMINISTIC,
  * oracle-checkable form:
  *
  *  - clusters are 2^p sign buckets, p = [[planesFor]](distinct-vector
  *    count) — 4 planes at gate scale, +1 per 2× distinct growth (a
  *    fixed 16-bucket variant is the q_geo_cell_join bug class):
  *    bucket = Σ_i 2^i·[w_i·v>0] with w_i[d] = ±1 from bit i of the
  *    dimension index (i<6) or a bit_count parity (i≥6) — per-term
  *    products are EXACT double negations quantized to DECIMAL(26,12)
  *    before the sum, so the bucket id is bit-identical on any engine
  *    and any partitioning (a k-means variant trades this replicability
  *    for tighter cells; the LSH-bucket shape is the same one the
  *    dedup/ANN tier already uses);
  *  - within a bucket, a vector is DROPPED iff a SMALLER-id vector sits
  *    within the cosine ball (rounded to 6 dp, τ = 0.45 for this
  *    synthetic corpus — the closest pair sits ≥1e-4 from the
  *    threshold at every SF, far beyond libm-ulp flip range) — the
  *    greedy min-id exemplar rule, deterministic and verifiable
  *    row-for-row.
  *
  * Scale posture: bucket assignment is map-only; the candidate join is
  * bucket-keyed (the LSH-bucket-join shape — never all-pairs across the
  * corpus); the per-dropped-vector witness is a struct-min partial
  * aggregate (bounded map-side state).
  */
object SemDedupOps {

  import VectorOps.asDouble

  private val Tau = 0.45

  /** Base plane count and ceiling for [[planesFor]]. 4 planes (16
    * buckets) below 16k distinct vectors; +1 plane per 2× growth, so
    * per-bucket population stays ≤ ~1000 distinct vectors (pair work
    * ≤ ~500k per bucket) up to 4M distinct vectors at the 12-plane cap.
    */
  private val BasePlanes = 4
  private val MaxPlanes = 12

  /** Scale-adaptive plane count from the DISTINCT-vector count (the
    * q_geo_cell_join bug class: 16 FIXED buckets
    * make per-bucket population linear in corpus size, so within-bucket
    * pairing reverts to quadratic exactly when it hurts). Integer
    * threshold comparisons, never a float log (the GeoOps.cellDepth
    * discipline: a log ratio can differ by an ulp between engines at an
    * exact boundary count and silently flip every bucket corpus-wide).
    * SemDedupSpec pins the table including the boundaries.
    */
  private[queries] def planesFor(nDistinct: Column): Column =
    (lit(BasePlanes) +
      (0 until (MaxPlanes - BasePlanes)).map { j =>
        when(nDistinct >= 16000L * (1L << j), 1).otherwise(0)
      }.reduce(_ + _)).cast("int")

  /** ±1 weight of hyperplane `i` at dimension index `pos` (a Column).
    * Planes 0–5 are the bit-of-dimension-index Hadamard family
    * (w_i[d] = +1 iff bit i of d is 0 — on 64-dim vectors the family is
    * exhausted at 6 planes: bit 6 of d < 64 is constantly 0, so every
    * further "plane" would be the same all-ones direction). Planes ≥ 6
    * switch to a seeded parity family: w_i[d] = +1 iff
    * bit_count((d+1)·(2i+1)) is even — pure integer arithmetic, so the
    * weight is engine-exact like the bit family, and distinct odd
    * multipliers give distinct sign patterns (non-degeneracy pinned in
    * SemDedupSpec).
    */
  private[queries] def planeWeight(i: Int, pos: Column): Column =
    if (i < 6) lit(1) - lit(2) * (shiftright(pos, i) % 2)
    else lit(1) - lit(2) * (bit_count((pos + 1) * lit(2 * i + 1)) % 2).cast("int")

  /** Add the sign-bucket column at a plane count that SCALES with the
    * distinct-vector count (`nd`, a 1-row broadcast frame with column
    * `nv`). Each row folds its own MaxPlanes plane sums over its vector
    * array, in index order: per hyperplane i, each term is an exact
    * double negation round(x·w_i, 12) quantized to decimal(26,12), and
    * the running sum stays decimal(36,12). Decimal addition is exact,
    * so the fold equals an order-independent SUM digit for digit and
    * the sign (and with it the bucket) is engine- and
    * partitioning-exact. The fold is map-only: no explode, no exchange,
    * no join back. All MaxPlanes sums are computed (bounded,
    * vector-width work); the bucket folds in only the first
    * planesFor(nv) of them. Empty vectors have no bucket and are
    * dropped.
    */
  private[queries] def bucketed(e: DataFrame, nd: DataFrame): DataFrame = {
    val planeSums = (0 until MaxPlanes).map { i =>
      aggregate(
        transform(col("v"),
          (x, p) => round(x * planeWeight(i, p), 12).cast("decimal(26,12)")),
        lit(0).cast("decimal(36,12)"),
        (acc, t) => (acc + t).cast("decimal(36,12)")).as(s"p$i")
    }
    val eCols = e.columns.map(col)
    e.filter(size(col("v")) >= 1)
      .select(eCols :+ struct(planeSums: _*).as("__ps"): _*)
      .crossJoin(broadcast(nd))
      .withColumn("np", planesFor(col("nv")))
      .withColumn("bucket",
        (0 until MaxPlanes)
          .map(i => when(lit(i) < col("np"),
            (col("__ps").getField(s"p$i") > 0).cast("int") * lit(1 << i)).otherwise(0))
          .reduce(_ + _))
      .select(eCols :+ col("bucket"): _*)
  }

  val defs: Map[String, QDef] = Map(

    // §2 25id semantic dedup: every dropped vector with its smallest-id
    // within-bucket witness and their cosine — the full takedown list a
    // curation pipeline applies, verified row-for-row by the oracle's
    // identical bucket arithmetic + greedy rule.
    "curate_semdedup" -> QDef(
      (s, dir) => {
        // VALUE-GROUP COLLAPSE first (the skewed-sweep hot-cluster fix —
        // the TextOps.collapseByContent discipline for vectors):
        // verbatim-duplicate vectors share bucket AND pairwise cosine
        // exactly 1.0, so raw within-bucket pairing is quadratic in the
        // duplicate-group size. The cosine kernel runs once per
        // DISTINCT-value pair; the greedy min-id witness rule then
        // reconstructs EXACTLY from rep-level pairs + membership:
        //   - a non-rep member is always dropped (its rep is a
        //     smaller-id identical twin, cosine 1.0 — both engines'
        //     6-dp round of a self-cosine);
        //   - a rep rm qualifies against group B iff cos(rep_B, rm) ≥ τ
        //     and rep_B < id (rep_B is B's min member, so "some member
        //     of B below id" ⟺ rep_B < id, and that member IS rep_B —
        //     the minimal witness candidate from B);
        //   - the reported witness is the min (ida, c) struct over both
        //     sources, as before.
        // Group-by collapse with a precomputed 8-byte xxhash64 leading
        // the key (not a window partitioned by the raw vector): copies
        // collapse map-side before the exchange and full-array
        // hash/compare work only runs on 64-bit-equal candidates, while
        // the exact vector stays in the GROUP key so collisions split,
        // never merge (the TextOps.collapseByContent discipline).
        val grouped = Materialize.cache(Tables(s, dir, "embeddings")
          .select(col("vec_id"), asDouble(col("embedding")).as("v"))
          .withColumn("__h", xxhash64(col("v")))
          .groupBy("__h", "v")
          .agg(min("vec_id").as("rep"), collect_list("vec_id").as("ids")))
        val members = grouped.select(col("rep"), explode(col("ids")).as("vec_id"))
        val reps = grouped.select(col("rep").as("vec_id"), col("v"))
        // Distinct-vector count drives the plane count (planesFor) — a
        // 1-row aggregate broadcast into the bucket fold, the
        // q_geo_cell_join nSupp pattern; never a driver collect.
        val nd = grouped.agg(count(lit(1)).as("nv"))
        // Cached: the bucket-keyed self-join reads it on BOTH sides, and
        // the map-only bucketed() has no exchange left for
        // ReusedExchange to dedupe the two sides through.
        val e = Materialize.cache(bucketed(reps, nd))
        val a = e.select(col("bucket"), col("vec_id").as("ida"), col("v").as("va"))
        val b = e.select(col("bucket"), col("vec_id").as("idb"), col("v").as("vb"))
        val repPairs = a.join(b, Seq("bucket"))
          .filter(col("ida") < col("idb"))
          .select(col("ida"), col("idb"),
            round(graft.functions.GraftFunctions.cosineSim(col("va"), col("vb")), 6).as("c"))
          .filter(col("c") >= Tau)
        val sym = repPairs.select(col("ida").as("rm"), col("idb").as("rw"), col("c"))
          .unionByName(repPairs.select(col("idb").as("rm"), col("ida").as("rw"), col("c")))
        val cross = members.join(sym, members("rep") === sym("rm"))
          .filter(col("rw") < col("vec_id"))
          .select(col("vec_id").as("dropped_id"), col("rw").as("ida"), col("c"))
        val intra = members.filter(col("vec_id") =!= col("rep"))
          .select(col("vec_id").as("dropped_id"), col("rep").as("ida"),
            lit(1.0).as("c"))
        intra.unionByName(cross)
          .groupBy("dropped_id")
          .agg(min(struct(col("ida"), col("c"))).as("w"))
          .select(col("dropped_id"), col("w.ida").as("witness_id"),
            col("w.c").as("cosine"))
          .orderBy("dropped_id")
      },
      s"""WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |nv AS (SELECT COUNT(*) AS nv FROM (SELECT DISTINCT v FROM e)),
        |np AS (
        |  SELECT CAST($BasePlanes +
        |    ${(0 until (MaxPlanes - BasePlanes)).map(j =>
             s"(CASE WHEN nv >= ${16000L * (1L << j)} THEN 1 ELSE 0 END)")
             .mkString(" +\n    ")} AS INT) AS np
        |  FROM nv),
        |ex AS (
        |  SELECT vec_id, UNNEST(v) AS x, UNNEST(range(0, len(v))) AS d FROM e),
        |bsum AS (
        |  SELECT vec_id,
        |    ${(0 until MaxPlanes).map { i =>
             val w =
               if (i < 6) s"(1 - 2 * ((d >> $i) & 1))"
               else s"(1 - 2 * (bit_count((d + 1) * ${2 * i + 1}) % 2))"
             s"""SUM(CAST(ROUND(x * $w, 12) AS DECIMAL(26,12))) AS p$i"""
           }.mkString(",\n    ")}
        |  FROM ex GROUP BY vec_id),
        |b AS (
        |  SELECT e.vec_id, e.v,
        |    ${(0 until MaxPlanes).map(i =>
             s"(CASE WHEN $i < np AND p$i > 0 THEN ${1 << i} ELSE 0 END)").mkString(" + ")} AS bucket
        |  FROM e JOIN bsum ON e.vec_id = bsum.vec_id CROSS JOIN np),
        |pairs AS (
        |  SELECT y.vec_id AS dropped_id, x.vec_id AS ida,
        |    ROUND(list_cosine_similarity(x.v, y.v), 6) AS c
        |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
        |  WHERE ROUND(list_cosine_similarity(x.v, y.v), 6) >= $Tau)
        |SELECT dropped_id, MIN(ida) AS witness_id, arg_min(c, ida) AS cosine
        |FROM pairs GROUP BY dropped_id ORDER BY dropped_id""".stripMargin)
  )
}
