package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Graph-based ANN (the HNSW/NSW family, Malkov & Yashunin 2016,
  * flattened to the single-layer navigable-small-world case): a
  * bounded-degree neighbor graph over the corpus, searched by a
  * fixed-width greedy beam from a small set of entry points. This is the
  * modern recall/latency frontier past IVF-PQ — the graph concentrates
  * each hop's work on the immediate neighborhood of the current best
  * candidates instead of whole quantizer cells.
  *
  * Spark shape, and why it holds at 100 TB:
  *
  * BUILD — candidate pairs come from LSH BANDS (the dedup_minhash_lsh
  * discipline, reusing VectorOps' deterministic hyperplane tables): each
  * vector lands in `tables` band buckets, pairs are generated ONLY
  * within a bucket (equi-join on the band key — shuffle bounded by
  * bucket sizes, never all-pairs), and each vector keeps its `degree`
  * best neighbors through the bounded top-k aggregate (map-side partial
  * buffers cap at `degree` entries, so the pair stream never crosses an
  * exchange unbounded). Symmetrization unions reversed edges and
  * re-truncates to `degree` — out-degree stays bounded by construction
  * at any corpus size. The edge list is O(n × degree) rows: linear in
  * the corpus, shuffled once at build time, keyed by source node.
  *
  * SEARCH — fused driver-orchestrated walk (see fusedBeamSearch):
  * the scored pool and frontier are corpus-independent codebook-scale
  * state held on the driver; each hop runs at most one adjacency job
  * (IN-filter on the distributed n×degree edge list) and one scoring
  * job (≤ queries × beam × degree candidate pairs broadcast against the
  * corpus scan, native cosine kernel, bounded collect). A sampled ~√n
  * HNSW entry layer (see graphTopK) seeds each query's walk inside its
  * own neighborhood, so the LAYER-0 corpus-scan hop budget is the
  * constant `Hops` at every corpus size. Zero corpus-scale shuffles at
  * query time; GraphAnnSpec pins the per-hop candidate bound
  * mechanically.
  *
  * Determinism: hyperplanes are the frozen VectorOps tables; every
  * ranking is the bounded top-k's (score DESC, id ASC) order; entry
  * points are the md5-least corpus ids (the trainSample discipline) —
  * identical results at any partitioning.
  */
object GraphAnnOps {

  import VectorOps.asDouble
  import graft.functions.GraftFunctions.cosineSim

  private def emb(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "embeddings")

  /** Build geometry: 8 LSH bands of 3 hyperplanes each give ~2^3 buckets
    * per band — coarse enough that near neighbors collide in several
    * bands, fine enough that buckets stay a small fraction of the
    * corpus. Degree 8 is the NSW sweet spot at this scale.
    */
  val Degree = 8
  val BandPlanes = 3
  val Bands = 8

  /** Search geometry: 4 entry points, beam (HNSW's ef) 9, 3 hops.
    * Only UNVISITED nodes are ever scored (per-hop anti-join against
    * the visited pool), so the real cost — distance computations per
    * query — is the DISTINCT visited count, which expansion overlap
    * keeps well under the hops × beam × degree worst case;
    * GraphAnnSpec pins the measured average below IVF-PQ's
    * nprobe/cells = 4/16 corpus fraction while beating its recall.
    */
  val Entries = 4
  val Beam = 9
  val Hops = 3

  /** Largest layer (rows) whose beam walk runs driver-local after two
    * bounded collects — its vectors (≈34 MB of 64-dim doubles at the
    * cap) PLUS its n×Degree adjacency (≈0.5 M edge rows ≈ 8 MB). The
    * ~√n entry layer stays under it up to a 4×10⁹-rep corpus; a larger
    * layer walks distributed (a size dispatch, not a semantic fork:
    * GraphAnnSpec pins equality).
    */
  val LocalWalkMaxRows = 65536

  /** Band resolution for an n-vector corpus: with FIXED planes the
    * expected bucket size is n/2^planes, so banded pair generation is
    * O(n²/2^planes) — quadratic at any fixed setting (measured: the
    * build dominated the sf0.1 runtime and would 100× at sf1). One
    * extra hyperplane per corpus doubling holds buckets at ~64
    * vectors, keeping candidate pairs LINEAR (n × bucket × bands)
    * while each node still sees ~bands×64 candidates for its 8 slots.
    */
  def planesFor(n: Long): Int = math.max(BandPlanes,
    math.ceil(math.log(n.toDouble / 64.0) / math.log(2.0)).toInt)

  /** Bounded-degree symmetric neighbor graph: (vec_id, nbr, sim) rows,
    * ≤ `degree` per vec_id, built from banded LSH candidate pairs.
    * `nHint` lets a caller that already counted the corpus skip the
    * extra count action.
    */
  def buildGraph(e: DataFrame, degree: Int = Degree, nHint: Long = -1L): DataFrame = {
    val planes = planesFor(if (nHint > 0) nHint else e.count())
    val withKeys = e.select(col("vec_id"), col("v"),
      VectorOps.lshKeys(col("v"), planes, Bands).as("keys"))
    val keyed = withKeys.select(col("vec_id"), col("v"), col("keys"),
      explode(col("keys")).as("band"))
    // Within-bucket pairs. A pair colliding in several bands would enter
    // the top-k heap once PER BAND (the bounded heap does not dedupe by
    // id — duplicates would crowd real neighbors out of the k slots), so
    // each pair is emitted only from the MINIMAL band the two sides
    // share: a map-side filter on the joined rows, no extra shuffle.
    // (A "halved" variant — match each unordered pair once
    // with l < r and mirror map-side via explode — was built and
    // REVERTED: mirroring puts every build-side vec_id into every map
    // partition's q_id domain, so the bounded-top-k PARTIAL heaps grow
    // from ~|partition ids|×k to ~n×k per partition and the exchange
    // tripled (3.6→12.6 MB measured at sf0.1, keys 1-2 s slower). The
    // double-sided match keeps q_id locality: partial heaps stay keyed
    // by the streamed side's own ids.)
    val pairs = keyed.alias("l")
      .join(keyed.alias("r"), Seq("band"))
      .filter(col("l.vec_id") =!= col("r.vec_id"))
      // The minimal-shared-band test runs through the native
      // MinSharedBand kernel — array_min(array_intersect(...)) builds a
      // hash set + result array per joined pair; the kernel is one
      // allocation-free ≤ tables² compare loop with identical value and
      // null (empty-intersection) semantics (VectorKernelSpec pins it).
      .filter(col("band") ===
        graft.functions.GraftFunctions.minSharedBand(col("l.keys"), col("r.keys")))
      .select(col("l.vec_id").as("q_id"), col("r.vec_id").as("neighbor_id"),
        cosineSim(col("l.v"), col("r.v")).as("sim"))
    val directed = VectorOps.topKPerQuery(pairs, "sim", degree)
      .select(col("q_id").as("vec_id"), col("neighbor_id").as("nbr"), col("sim"))
    // Symmetrize (an NSW edge is useful in both directions) with an
    // explicit dedup — a↔b may exist in both directions — then
    // re-truncate so out-degree stays bounded. The dedup shuffle is
    // O(n × degree) rows: linear in the corpus, build-time only.
    val sym = directed.unionByName(
        directed.select(col("nbr").as("vec_id"), col("vec_id").as("nbr"), col("sim")))
      .groupBy(col("vec_id").as("q_id"), col("nbr").as("neighbor_id"))
      .agg(max("sim").as("sim"))
    VectorOps.topKPerQuery(sym, "sim", degree)
      .select(col("q_id").as("vec_id"), col("neighbor_id").as("nbr"))
  }

  /** Deterministic global entry points: the `n` md5-least vec_ids (the
    * IvfOps.trainSample discipline — a TakeOrdered, never a shuffle).
    */
  private def entryPoints(e: DataFrame, n: Int): DataFrame =
    e.sort(md5(col("vec_id").cast("string")), col("vec_id")).limit(n)
      .select(col("vec_id").as("nbr"))

  /** Fused beam-search result: the top-k frame, the per-hop SCORED
    * candidate counts (the budget spec's metric), and the full scored
    * pool (q_id, node, sim).
    */
  final case class BeamResult(
      top: DataFrame, hopCandidates: Seq[Long], pool: Seq[(Long, Long, Double)])

  /** Beam search over a built graph, FUSED to one or two small Spark
    * jobs per hop (a DataFrame-per-hop loop pays ~25 jobs of pure
    * scheduling — localCheckpoint + broadcast-collect per hop — ~0.3 s
    * each at sf0.1). The walk's working set is PROVABLY
    * corpus-independent: the scored pool is ≤ queries × (entries +
    * hops × beam × degree) rows and the frontier ≤ queries × beam ids —
    * codebook-scale state the driver holds directly (the bounded-
    * `.collect()` discipline). What stays
    * distributed is exactly the corpus-scale work: the n×degree edge
    * list (IN-filtered per hop for the ≤ q×beam newly-expanded nodes)
    * and the vector scan + native cosine kernel (per hop one broadcast
    * join of the ≤ q×beam×degree candidate pairs against the corpus,
    * collected back as that many scored rows). Per hop: ≤ 1 adjacency
    * job + 1 scoring job, both bounded-output.
    *
    * Scoring runs through the SAME Catalyst cosine kernel as before, so
    * scores are bit-identical to the unfused implementation.
    *
    * `seeds`: per-query entry node ids (the HNSW upper-layer hand-off);
    * absent → the global md5-least `entries` nodes. `excludeSelf` is
    * off when the caller searches REPRESENTATIVES and re-expands to
    * duplicate members afterwards.
    */
  /** Driver-side cosine with EXACTLY the native kernel's arithmetic
    * (graftbridge.CosineSimilarity: one fused loop accumulating dot and
    * both norms in index order, then dot / (√na · √nb)) — IEEE doubles,
    * so values are bit-identical to the kernel; GraphAnnSpec pins it.
    */
  private[queries] def localCosine(a: Seq[Double], b: Seq[Double]): Double = {
    val n = a.length
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Lowercase md5 hex of a string — the driver-side twin of the
    * md5(cast(... as string)) entry-point ranking (ASCII hex compares
    * identically as a JVM String and as a UTF8String).
    */
  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** THE beam-walk loop, shared verbatim by the distributed and the
    * driver-local backends so their semantics cannot diverge: pool /
    * frontier / candidate-dedup / ranking logic is this one function;
    * a backend only supplies `scoreFn` (scored (q, node) pairs — a pair
    * whose node is absent from the corpus side yields no entry, like
    * the old inner join) and `adjFn` (adjacency of the given nodes).
    */
  private def beamWalk(
      spark: SparkSession,
      qRows: Seq[(Long, Seq[Double])],
      scoreFn: Seq[(Long, Long)] => Seq[((Long, Long), Double)],
      adjFn: Seq[Long] => Map[Long, Seq[Long]],
      entrySeeds: Map[Long, Seq[Long]],
      k: Int, beam: Int, hops: Int, excludeSelf: Boolean): BeamResult = {
    import spark.implicits._
    val qIds = qRows.map(_._1)
    val pool = scala.collection.mutable.Map[(Long, Long), Double]()
    val adj = scala.collection.mutable.Map[Long, Seq[Long]]()
    val hopCounts = scala.collection.mutable.ArrayBuffer[Long]()

    def score(cands: Seq[(Long, Long)]): Unit = if (cands.nonEmpty)
      scoreFn(cands).foreach { case (key, sim) => pool(key) = sim }

    def expand(ids: Seq[Long]): Unit = {
      val missing = ids.filterNot(adj.contains)
      if (missing.nonEmpty) {
        val fetched = adjFn(missing)
        missing.foreach(m => adj(m) = fetched.getOrElse(m, Nil))
      }
    }

    score(for {
      q <- qIds; id <- entrySeeds.getOrElse(q, Nil)
      if !excludeSelf || id != q
    } yield (q, id))

    for (_ <- 0 until hops) {
      val frontier: Seq[(Long, Long)] = qIds.flatMap { q =>
        pool.iterator.filter(_._1._1 == q).toSeq
          .sortBy { case ((_, id), sim) => (-sim, id) }.take(beam)
          .map { case ((_, id), _) => (q, id) }
      }
      expand(frontier.map(_._2).distinct)
      val cands = frontier.flatMap { case (q, fid) =>
        adj.getOrElse(fid, Nil).iterator
          .filter(nbr => !pool.contains((q, nbr)))
          .filter(nbr => !excludeSelf || nbr != q)
          .map(nbr => (q, nbr))
      }.distinct
      hopCounts += cands.size.toLong
      score(cands)
    }

    // Final top-k straight from the pool; the 6-dp round runs in Spark
    // so the output stays the engine's own Round semantics.
    val topRows = qIds.flatMap { q =>
      pool.iterator.filter(_._1._1 == q).toSeq
        .sortBy { case ((_, id), sim) => (-sim, id) }.take(k)
        .zipWithIndex.map { case (((_, id), sim), i) => (q, id, sim, (i + 1).toLong) }
    }
    val top = topRows.toDF("q_id", "neighbor_id", "sim", "rank")
      .select(col("q_id"), col("neighbor_id"),
        round(col("sim"), 6).as("cosine"), col("rank"))
    BeamResult(top, hopCounts.toSeq, pool.toSeq.map { case ((q, id), s) => (q, id, s) })
  }

  def fusedBeamSearch(
      e: DataFrame, graph: DataFrame, qs: DataFrame,
      k: Int, beam: Int = Beam, hops: Int = Hops,
      entries: Int = Entries, excludeSelf: Boolean = true,
      seeds: Option[Map[Long, Seq[Long]]] = None): BeamResult = {
    val spark = e.sparkSession
    import spark.implicits._
    // Probe-set-scale collects: the query vectors (|q| rows).
    val qRows = qs.select(col("q_id"), col("qv")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq.sortBy(_._1)
    val qIds = qRows.map(_._1)
    val qVecs = qRows.toMap

    // One scoring job per hop: fetch the ≤ q×beam×degree candidate
    // VECTORS with a bounded filter+collect and evaluate the cosine on
    // the driver with the kernel's exact arithmetic ([[localCosine]]).
    // This replaces a two-broadcast join per hop (each broadcast a
    // sub-job of its own) with one single-stage scan — the collect stays
    // corpus-independent (candidate count is walk geometry, not corpus
    // size), which is the same boundedness the pool already relies on.
    def scoreFn(cands: Seq[(Long, Long)]): Seq[((Long, Long), Double)] = {
      val needed = cands.map(_._2).distinct
      val vecs = e.filter(col("vec_id").isin(needed: _*))
        .select(col("vec_id"), col("v")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      cands.flatMap { case (q, id) =>
        vecs.get(id).map(v => ((q, id), localCosine(qVecs(q), v)))
      }
    }

    // One adjacency job for the not-yet-expanded frontier nodes (the
    // edge list stays distributed — n×degree rows is corpus-scale).
    def adjFn(ids: Seq[Long]): Map[Long, Seq[Long]] =
      graph.filter(col("vec_id").isin(ids: _*))
        .select("vec_id", "nbr").collect()
        .groupBy(_.getLong(0)).map { case (v, rs) => v -> rs.map(_.getLong(1)).toSeq }

    val entrySeeds: Map[Long, Seq[Long]] = seeds.getOrElse {
      val global = entryPoints(e, entries).as[Long].collect().toSeq
      qIds.map(q => q -> global).toMap
    }
    beamWalk(spark, qRows, scoreFn, adjFn, entrySeeds, k, beam, hops, excludeSelf)
  }

  /** Driver-LOCAL beam search over a collected (bounded) index half —
    * used for the √n entry layer when it fits the bounded-collect
    * budget (see [[searchIndex]]). Same loop ([[beamWalk]]), same
    * cosine arithmetic ([[localCosine]]), same md5-least entry ranking;
    * GraphAnnSpec pins pool equality against the distributed walk.
    */
  private[queries] def localBeamSearch(
      spark: SparkSession,
      vecs: Map[Long, Seq[Double]], adj: Map[Long, Seq[Long]],
      qRows: Seq[(Long, Seq[Double])],
      k: Int, beam: Int = Beam, hops: Int = Hops,
      entries: Int = Entries, excludeSelf: Boolean = true,
      seeds: Option[Map[Long, Seq[Long]]] = None): BeamResult = {
    val qVecs = qRows.toMap
    def scoreFn(cands: Seq[(Long, Long)]): Seq[((Long, Long), Double)] =
      cands.flatMap { case (q, id) =>
        vecs.get(id).map(v => ((q, id), localCosine(qVecs(q), v)))
      }
    def adjFn(ids: Seq[Long]): Map[Long, Seq[Long]] =
      ids.map(i => i -> adj.getOrElse(i, Nil)).toMap
    val entrySeeds: Map[Long, Seq[Long]] = seeds.getOrElse {
      val global = vecs.keys.toSeq
        .map(id => (md5Hex(id.toString), id)).sorted.take(entries).map(_._2)
      qRows.map { case (q, _) => q -> global }.toMap
    }
    beamWalk(spark, qRows, scoreFn, adjFn, entrySeeds, k, beam, hops, excludeSelf)
  }

  /** A built two-layer NSW index, ready to search (or persist):
    * dedup-group representatives + membership, the layer-0 edge list,
    * and the ~√n HNSW entry layer with its own edge list.
    */
  final case class GraphIndex(
      reps: DataFrame,     // (gid, vec_id, v) — one node per dup group
      members: DataFrame,  // (gid, vec_id) — every corpus member
      graph: DataFrame,    // (vec_id, nbr) — layer-0 bounded-degree edges
      layer1: DataFrame,   // (vec_id, v) — md5-least ~√n sample
      graph1: DataFrame,   // (vec_id, nbr) — entry-layer edges
      nReps: Long, l1n: Int)

  /** Build the two-layer index over a (vec_id, v) corpus frame.
    *
    * VERBATIM-DUPLICATE groups collapse to ONE graph node before the
    * build: an NSW graph over duplicated vectors degenerates into
    * disjoint cliques of copies — every degree slot is taken by a
    * cosine-1.0 twin, so the walk has no edge OUT of its entry clique.
    * An sf1 sweep measured exactly that on the 10×-replicated
    * corpus: visited stuck at 360 and recall 0 regardless of hop/beam
    * budget. Production ANN indexes dedupe before building for this
    * reason; representatives keep the navigable property, and the
    * final top-k re-expands to group members (identical cosine,
    * id-ascending ties — the exact baseline's own order). gid is an
    * 8-byte value hash, so the group tables join on a narrow key,
    * never on raw vectors.
    *
    * HNSW ENTRY LAYER (single-layer NSW needs ~log_degree(n) hops
    * to cross the graph — its budget grows +1 hop per 8× corpus
    * growth, i.e. +1 corpus scan per 8×. A sampled upper layer restores
    * a CONSTANT layer-0 budget): layer 1 is the md5-least ~√n
    * representatives (deterministic, the trainSample discipline) with
    * its own bounded-degree graph; the walk first navigates layer 1 —
    * whose per-hop jobs touch only the √n-row sample, so even its
    * log(√n) budget costs no corpus scans — and hands each query its
    * top `Entries` layer-1 nodes as layer-0 entry points. Entering
    * layer 0 already inside the query's neighborhood, the corpus-scan
    * hop budget stays the constant `Hops` at every n (pinned by
    * GraphAnnSpec; recall re-proven at sf1/sf10 by the scale sweeps).
    */
  def buildIndex(eAll: DataFrame): GraphIndex = {
    val keyed = eAll.select(col("vec_id"), col("v"), xxhash64(col("v")).as("gid"))
    val reps = Materialize.cache(keyed.groupBy("gid")
      .agg(min("vec_id").as("vec_id"), min_by(col("v"), col("vec_id")).as("v")))
    val nReps = reps.count()
    val graph = Materialize.cache(buildGraph(reps.select("vec_id", "v"), nHint = nReps))
    val l1n = math.max(32, math.ceil(math.sqrt(nReps.toDouble)).toInt)
    val layer1 = Materialize.cache(reps.select("vec_id", "v")
      .sort(md5(col("vec_id").cast("string")), col("vec_id")).limit(l1n))
    // graph1 cached: the entry-layer edge list is l1n×Degree rows
    // and is consumed by every search AND by persistIndex — uncached it
    // would be rebuilt (banded join + two top-k aggregates) once per consumer.
    val graph1 = Materialize.cache(buildGraph(layer1, nHint = l1n))
    GraphIndex(reps.select("gid", "vec_id", "v"),
      keyed.select("gid", "vec_id"), graph, layer1, graph1, nReps, l1n)
  }

  /** Search a built (or loaded) index: layer-1 navigation seeds the
    * layer-0 walk; representatives re-expand to duplicate-group
    * members, re-ranked by the baseline's own (cosine DESC, id ASC)
    * order with the query itself excluded. Deterministic for a given
    * index CONTENT (every ranking is a total (score DESC, id ASC)
    * order and the pool is keyed by (q, id)), so a persisted-then-
    * loaded index returns bit-identical results — GraphAnnSpec pins it.
    */
  def searchIndex(idx: GraphIndex, qs: DataFrame, k: Int = 10): DataFrame = {
    val hops1 = math.max(Hops,
      math.ceil(math.log(idx.l1n.toDouble) / math.log(Degree)).toInt)
    // The entry layer is ~√n rows — when it fits LocalWalkMaxRows,
    // collect it ONCE and run the layer-1 walk driver-local: the walk's
    // ~2×hops₁ Spark jobs over a √n-row frame are pure scheduling
    // overhead. Same loop, same cosine arithmetic, same entry ranking
    // (localBeamSearch doc); beyond the budget the distributed walk
    // below is unchanged.
    lazy val qRows = qs.select(col("q_id"), col("qv")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq.sortBy(_._1)
    def collectVecs(df: DataFrame): Map[Long, Seq[Double]] =
      df.select(col("vec_id"), col("v")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def collectAdj(df: DataFrame): Map[Long, Seq[Long]] =
      df.select(col("vec_id"), col("nbr")).collect()
        .groupBy(_.getLong(0)).map { case (v, rs) => v -> rs.map(_.getLong(1)).toSeq }
    val l1 = if (idx.l1n <= LocalWalkMaxRows) {
      localBeamSearch(idx.layer1.sparkSession,
        collectVecs(idx.layer1), collectAdj(idx.graph1), qRows,
        k = Entries, hops = hops1, excludeSelf = false)
    } else fusedBeamSearch(idx.layer1, idx.graph1, qs,
      k = Entries, hops = hops1, excludeSelf = false)
    val seeds: Map[Long, Seq[Long]] = l1.pool
      .groupBy(_._1).map { case (q, rows) =>
        q -> rows.sortBy { case (_, id, sim) => (-sim, id) }
          .take(Entries).map(_._2)
      }
    // k+1 representatives: the self node legitimately wins a slot
    // (its group carries the query's verbatim twins), but when the
    // query's group is a SINGLETON the expansion filter consumes that
    // slot without producing a row — one spare rep keeps the final
    // top-k full in both regimes.
    //
    // The LAYER-0 walk takes the SAME size dispatch under the SAME
    // budget (vectors + n×Degree adjacency). Per-hop filter(isin)+collect
    // jobs are bounded-output but each one scans every cached rep
    // partition — at 32 local cores the ~2×Hops tiny jobs contended with
    // themselves (scaling ratio 0.53: 8 cores beat 32). When
    // reps fit the budget, TWO bounded collects (rep vectors, edge
    // list) replace every per-hop job and the walk runs driver-local —
    // same beamWalk loop, same localCosine arithmetic, bit-equal pool
    // (GraphAnnSpecR16 pins it with seeds). Beyond the budget the
    // distributed fused walk is unchanged — the 100 TB path.
    val repTop = (if (idx.nReps <= LocalWalkMaxRows) {
      localBeamSearch(idx.reps.sparkSession,
        collectVecs(idx.reps), collectAdj(idx.graph), qRows,
        k = k + 1, hops = Hops, excludeSelf = false, seeds = Some(seeds))
    } else fusedBeamSearch(idx.reps.select("vec_id", "v"), idx.graph, qs,
      k = k + 1, hops = Hops, excludeSelf = false, seeds = Some(seeds))).top
    // Two map-side broadcasts (the q×k rep hits against the rep scan
    // for gid, then against the member table).
    val repHits = idx.reps.join(
        broadcast(repTop.select(col("q_id"), col("neighbor_id"), col("cosine"))),
        idx.reps("vec_id") === col("neighbor_id"))
      .select(col("q_id"), col("gid"), col("cosine"))
    val expanded = idx.members.select(col("gid"), col("vec_id").as("neighbor_id"))
      .join(broadcast(repHits), "gid")
      .filter(col("neighbor_id") =!= col("q_id"))
      .select(col("q_id"), col("neighbor_id"), col("cosine"))
    VectorOps.topKPerQuery(expanded, "cosine", k)
  }

  /** Order/partitioning-independent corpus fingerprint: (row count,
    * XOR of per-row xxhash64(vec_id, v)). A persisted index is only
    * valid for the exact corpus it was built from — loadIndex verifies
    * this, the staleness contract every production ANN store ships.
    */
  def corpusFingerprint(e: DataFrame): (Long, Long) = {
    // bit_xor over zero rows aggregates to NULL — coalesce to 0 so an
    // empty corpus fingerprints as (0, 0) instead of throwing an opaque
    // NPE out of getLong.
    val r = e.select(xxhash64(col("vec_id"), col("v")).as("h"))
      .agg(count(lit(1)).as("n"), expr("coalesce(bit_xor(h), 0L)").as("x")).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Persist an index: the four distributed halves as parquet, then
    * model.json LAST as the commit marker (the IvfPqOps.persistIndex
    * discipline at IvfPqOps.scala:150 — a die mid-persist leaves no
    * readable index, never a mismatched edge-list/entry-layer pair).
    * At production scale the build — LSH-banded candidate generation +
    * bounded-degree selection over the whole corpus — is the expensive
    * half; search after load runs fusedBeamSearch UNCHANGED.
    */
  def persistIndex(s: SparkSession, indexDir: String, idx: GraphIndex,
      fingerprint: (Long, Long)): Unit = {
    // The five snapshot writes are independent (distinct directories,
    // all derived from already-cached parents) — submit them from a
    // driver thread pool so each write's commit/scheduling tail
    // back-fills the others.
    // model.json stays strictly AFTER all five: the commit-marker
    // contract (no readable index unless every half landed) is
    // unchanged, and a failure in any write still propagates.
    val writes: Seq[() => Unit] = Seq(
      () => idx.reps.write.mode("overwrite").parquet(s"$indexDir/reps"),
      () => idx.members.write.mode("overwrite").parquet(s"$indexDir/members"),
      () => idx.graph.write.mode("overwrite").parquet(s"$indexDir/graph"),
      () => idx.layer1.write.mode("overwrite").parquet(s"$indexDir/layer1"),
      () => idx.graph1.write.mode("overwrite").parquet(s"$indexDir/graph1"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writes.size)
    try {
      val futs = writes.map(w =>
        pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = w() }))
      futs.foreach(_.get())
    } finally pool.shutdown()
    val json = graft.api.Json.write(Map(
      "corpus_n" -> fingerprint._1, "corpus_hash" -> fingerprint._2,
      "n_reps" -> idx.nReps, "l1n" -> idx.l1n, "degree" -> Degree))
    val (fs, root) = graft.streaming.SnapshotStore.fsOf(s, indexDir)
    val out = fs.create(new org.apache.hadoop.fs.Path(root, "model.json"), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** Load a persisted index for the given corpus, refusing a stale or
    * uncommitted one.
    */
  def loadIndex(s: SparkSession, indexDir: String, e: DataFrame): GraphIndex = {
    val (fs, root) = graft.streaming.SnapshotStore.fsOf(s, indexDir)
    val mp = new org.apache.hadoop.fs.Path(root, "model.json")
    if (!fs.exists(mp))
      throw graft.api.GraftError.QueryError(
        s"no committed graph-ANN index at $indexDir (model.json absent)")
    val bytes = {
      val in = fs.open(mp)
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    }
    val obj = graft.api.Json.parse(new String(bytes, "UTF-8"))
      .asInstanceOf[Map[String, Any]]
    def l(v: Any): Long = v match {
      case x: Long => x
      case x: BigInt => x.toLong
      case x => x.toString.toLong
    }
    val (n, h) = corpusFingerprint(e)
    if (l(obj("corpus_n")) != n || l(obj("corpus_hash")) != h)
      throw graft.api.GraftError.QueryError(
        s"graph-ANN index at $indexDir is stale: built for corpus " +
          s"(n=${l(obj("corpus_n"))}, hash=${l(obj("corpus_hash"))}), " +
          s"current corpus is (n=$n, hash=$h)")
    GraphIndex(
      s.read.parquet(s"$indexDir/reps"),
      s.read.parquet(s"$indexDir/members"),
      s.read.parquet(s"$indexDir/graph"),
      s.read.parquet(s"$indexDir/layer1"),
      s.read.parquet(s"$indexDir/graph1"),
      l(obj("n_reps")), l(obj("l1n")).toInt)
  }

  private def corpus(s: SparkSession, dir: String): DataFrame =
    Materialize.cache(Eval.barrier(Eval.fanOut(
      emb(s, dir).select(col("vec_id"), asDouble(col("embedding")).as("v")))))

  private def probeQueries(eAll: DataFrame): DataFrame =
    eAll.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))

  /** Graph ANN top-10 for the 10 probe queries over the embeddings
    * table — build + search.
    */
  def graphTopK(s: SparkSession, dir: String): DataFrame = {
    val eAll = corpus(s, dir)
    searchIndex(buildIndex(eAll), probeQueries(eAll))
  }

  def defs: Map[String, QDef] = Map(
    // Graph ANN (NSW beam search). Approximate, so the gate is
    // the ANN tier's driver-checkable contract: structural k plus a
    // recall floor vs the exact baseline as deterministic hashable
    // output. The floor is 0.2 — IVF-PQ's pinned floor at a LOWER
    // candidate budget (100 vs 125 scored nodes/query at sf0.01);
    // GraphAnnSpec pins the measured-recall dominance and the per-hop
    // O(beam × degree) traffic bound.
    "ann_graph_topk" -> QDef(
      (s, dir) => {
        // Checkpointed gate frames (VectorOps.gatePairs doc): both are
        // consumed twice; materializing the ≤100-row results truncates
        // the double-planned literal-heavy subtrees.
        val g = VectorOps.gatePairs(graphTopK(s, dir))
        val brute = VectorOps.gatePairs(VectorOps.bruteTopK(s, dir))
        val hits = g.join(brute, Seq("q_id", "neighbor_id")).agg(count(lit(1)).as("hits"))
        val shape = g.groupBy("q_id").agg(count(lit(1)).as("k"))
          .agg(min("k").as("kmin"), max("k").as("kmax"), count(lit(1)).as("nq"))
        brute.agg(count(lit(1)).as("n_exact")).crossJoin(hits).crossJoin(shape)
          .select(
            col("n_exact").cast("long").as("n_exact"),
            (col("kmin") === 10 && col("kmax") === 10 &&
              col("nq") * 10 === col("n_exact")).as("k_ok"),
            (col("hits") >= col("n_exact") * 0.2).as("recall_ok"))
      },
      """SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 10)
        |  * LEAST(10, (SELECT COUNT(*) FROM embeddings) - 1) AS BIGINT) AS n_exact,
        |  true AS k_ok, true AS recall_ok""".stripMargin),

    // Graph-ANN index persistence: build
    // once, persist (edge lists + entry layer + dup-group tables as
    // parquet, model.json commit marker carrying the corpus
    // fingerprint), load back against the SAME corpus, and search both
    // ways. The driver-checkable contract: the loaded-index search
    // equals the built-index search EXACTLY (bit-for-bit multiset
    // equality via exceptAll both ways — search is deterministic in
    // index content, so persistence must be invisible), plus the k
    // shape. Stale-corpus rejection and the mid-persist-crash
    // (no-model.json) refusal are spec-gated in GraphAnnSpec.
    "ann_graph_persist" -> QDef(
      (s, dir) => {
        val eAll = corpus(s, dir)
        val qs = probeQueries(eAll)
        val idx = buildIndex(eAll)
        // One directory per call: a shared one would be overwritten under
        // an earlier call's cached frames, which still list its files.
        val indexDir = graft.Scratch.dir("annidx-").toString
        // The built-index search and the persist→load→search-reloaded
        // chain are independent until the final diff, and each is a
        // string of BOUNDED driver-orchestrated jobs — run them as two
        // concurrent driver threads so the reloaded
        // chain's write/read I/O overlaps the built search's per-hop
        // jobs. Results unchanged: search is deterministic in index
        // CONTENT (the property this key exists to gate), and the two
        // chains share only immutable cached frames. The threads are
        // started here, not taken from a shared pool, so they see the
        // caller's Materialize scope.
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        // Materialize the shared cached index halves BEFORE forking: the
        // two chains' first actions otherwise race to compute the same
        // cached partitions (duplicate materialization — "Block already
        // exists" churn and multi-×-variance in the timings).
        idx.graph.count(); idx.graph1.count()
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        val (built, reloaded) = try {
          val builtF = Future {
            Materialize.cache(searchIndex(idx, qs)
              .select("q_id", "neighbor_id", "cosine", "rank"))
          }
          val reloadedF = Future {
            persistIndex(s, indexDir, idx, corpusFingerprint(eAll))
            Materialize.cache(searchIndex(loadIndex(s, indexDir, eAll), qs)
              .select("q_id", "neighbor_id", "cosine", "rank"))
          }
          (Await.result(builtF, Duration.Inf), Await.result(reloadedF, Duration.Inf))
        } finally pool.shutdown()
        val diff = built.exceptAll(reloaded)
          .unionByName(reloaded.exceptAll(built))
          .agg(count(lit(1)).as("n_diff"))
        val shape = built.groupBy("q_id").agg(count(lit(1)).as("k"))
          .agg(min("k").as("kmin"), max("k").as("kmax"),
            count(lit(1)).as("nq"))
        diff.crossJoin(shape).select(
          (col("n_diff") === 0).as("persist_match"),
          (col("kmin") === 10 && col("kmax") === 10).as("k_ok"),
          col("nq").cast("long").as("n_queries"))
      },
      """SELECT true AS persist_match, true AS k_ok,
        |  CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 10) AS BIGINT)
        |    AS n_queries""".stripMargin),

    // OPERATOR-ONLY twin of ann_graph_persist: the gated key above searches TWICE (built index and
    // reloaded index) because its contract is persistence-invisibility
    // — so its bench entry times the verification, roughly doubling the
    // operator. This twin is the production path alone: build, persist,
    // LOAD, search the loaded index once. The built-vs-reloaded
    // equality stays gated by ann_graph_persist.
    "ann_graph_persist_op" -> QDef(
      (s, dir) => {
        val eAll = corpus(s, dir)
        val idx = buildIndex(eAll)
        val indexDir = graft.Scratch.dir("annidxop-").toString
        persistIndex(s, indexDir, idx, corpusFingerprint(eAll))
        val reloaded = searchIndex(loadIndex(s, indexDir, eAll), probeQueries(eAll))
        reloaded.groupBy("q_id").agg(count(lit(1)).as("k"))
          .agg(count(lit(1)).cast("long").as("n_queries"),
            (min("k") === 10 && max("k") === 10).as("k_ok"))
      },
      """SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 10) AS BIGINT)
        |    AS n_queries, true AS k_ok""".stripMargin)
  )
}
