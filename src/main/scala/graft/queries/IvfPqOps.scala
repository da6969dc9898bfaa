package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}
import graft.functions.GraftFunctions.cosineSim
import graft.queries.PqOps.PqModel

/** IVF-PQ: the composed production ANN index (FAISS's IVFADC layout,
  * Jégou et al. 2011 "Product Quantization for Nearest Neighbor
  * Search") — a coarse quantizer partitions the corpus into cells AND
  * every vector's RESIDUAL against its cell centroid is
  * product-quantized to m small codes (residual encoding is what makes
  * the composition precise: within a cell the residuals span a much
  * smaller ball than raw vectors, so the same 16-code sub-books resolve
  * far finer distances). Queries probe only their `nprobe` nearest
  * cells and score candidates by dot(q, x) ≈ dot(q, centroid) +
  * dot(q, residual): a per-(query, cell) scalar plus m ADC table
  * lookups — never touching raw vectors — then exact-re-rank the
  * shortlist.
  *
  * Why the composition is THE scale shape: IVF alone rescans full raw
  * vectors inside every probed cell (memory ∝ corpus × dim); PQ alone
  * ADC-scans every code in the corpus (compute ∝ corpus). Composed,
  * query compute is ∝ corpus × nprobe/cells table lookups over m-byte
  * codes — the layout that makes 10⁹-vector indexes fit in RAM and
  * answer in milliseconds.
  *
  * Spark shape: both models are FROZEN driver-side literals (a few KB —
  * the codebook-ships-to-every-executor pattern); cell assignment and PQ
  * encoding are map-only; the probed-cell candidate join broadcasts the
  * queries×nprobe probe table; ADC scoring is map-only; the only
  * corpus-derived exchange is the bounded two-phase top-k whose partial
  * buffers cap at shortlist entries per query per partition. No window,
  * no crossJoin row explosion, anywhere.
  */
object IvfPqOps {

  import VectorOps.asDouble

  private def emb(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "embeddings")

  /** Frozen composed index model: coarse centroids + RESIDUAL PQ
    * codebooks (the sub-books quantize v − cents(cid), not raw v).
    */
  final case class IvfPqModel(cents: Seq[Seq[Double]], pq: PqModel)

  /** v − cents(cid), map-only against the literal centroid table — the
    * quantity the PQ stage encodes (requires a `cid` column from
    * [[IvfOps.assignLiteral]]).
    */
  private def residualExpr(cents: Seq[Seq[Double]]) =
    zip_with(col("v"), element_at(typedlit(cents), col("cid") + 1), (a, b) => a - b)

  /** Rewrites `v` to the residual (keeping the original under its own
    * name) so [[PqOps]]'s v-based training/encoding runs on residuals
    * unchanged.
    */
  private def toResiduals(assigned: DataFrame, cents: Seq[Seq[Double]]): DataFrame =
    assigned.withColumn("v_orig", col("v"))
      .withColumn("v", residualExpr(cents))

  /** Train both stages on the same capped deterministic sample: the
    * coarse quantizer via Lloyd ([[IvfOps.trainCodebook]]), then the PQ
    * sub-books via the joint per-subspace Lloyd ([[PqOps.train]]) over
    * the sample's RESIDUALS (one extra map-only assignment pass over
    * the cached sample — training cost stays constant in corpus size).
    */
  def train(e: DataFrame, cells: Int, m: Int, sub: Int, codes: Int, iters: Int): IvfPqModel = {
    val seeds: Seq[Seq[Double]] = e.filter(col("vec_id") % lit(29) === 0)
      .sort("vec_id").limit(cells)
      .select("v").collect().map(_.getSeq[Double](0)).toSeq
    val sample = IvfOps.trainSample(e, 256 * math.max(cells, codes))
    val cents = IvfOps.trainCodebook(sample, seeds, iters)
    // Residual corpus for PQ seeding + residual sample for PQ Lloyd.
    val resCorpus = toResiduals(IvfOps.assignLiteral(e, cents), cents)
      .select("vec_id", "v")
    val resSample = Materialize.cache(toResiduals(IvfOps.assignLiteral(sample, cents), cents)
      .select("v"))
    IvfPqModel(cents,
      PqOps.train(resCorpus, m, sub, codes, iters, sharedSample = Some(resSample)))
  }

  /** Map-only composed encoding: each vector gets its coarse cell `cid`
    * (argmax cosine against the literal centroids) AND the PQ `code`
    * array of its RESIDUAL — the index payload is (vec_id, cid, code);
    * the original `v` rides along so the exact re-rank needs no second
    * table.
    */
  def encode(vectors: DataFrame, model: IvfPqModel): DataFrame =
    PqOps.withCodes(
        toResiduals(IvfOps.assignLiteral(vectors, model.cents), model.cents), model.pq)
      .select(col("vec_id"), col("v_orig").as("v"), col("cid"), col("code"))

  /** Query-time half over an ALREADY-ENCODED corpus
    * (`vec_id`, `v`, `cid`, `code`) — shared by the one-shot
    * [[ivfpqTopK]] and the streaming index
    * ([[graft.streaming.AnnStream.ivfpqIndexSink]]). Stored cells and
    * codes pass through untouched (produced earlier against the SAME
    * frozen model).
    *
    * Probe (bounded top-k over cells×queries) → candidate restriction
    * (hash join on `cid` against the broadcast probe table — only
    * nprobe/cells of the corpus survives) → map-only ADC over the codes
    * → bounded top-`shortlist` → exact cosine re-rank of the shortlist
    * only.
    */
  def searchEncodedCells(
      s: SparkSession, corpus: DataFrame, model: IvfPqModel,
      probes: Seq[(Long, Seq[Double])], k: Int = 10, nprobe: Int = 4,
      shortlist: Int = 50): DataFrame = {
    import s.implicits._
    val qs = s.createDataFrame(s.sparkContext.parallelize(probes, 1)).toDF("q_id", "qv")
    // The probe table carries dot(q, centroid) per (query, cell) — the
    // first term of the residual decomposition, one scalar per probed
    // pair (queries × nprobe values, computed inside the tiny probe
    // frame before it broadcasts).
    val probed = IvfOps.probeCells(s, model.cents, qs, nprobe)
      .select(col("q_id"), col("cid"),
        graft.functions.GraftFunctions.dot(
          col("qv"), element_at(typedlit(model.cents), col("cid") + 1)).as("qcdot"))
    val qdf = PqOps.queryTables(model.pq, probes).toDF("q_id", "qt", "qv")

    // Candidate restriction + residual ADC in one pass: the corpus
    // joins the broadcast (q_id, cid, qcdot) probe table — a hash join
    // that keeps only probed-cell rows — then each surviving pair
    // scores as dot(q, centroid) + Σ_m qt[m][code_m] (the residual
    // table lookups), m lookups + one add per candidate.
    val adcScored = corpus.join(broadcast(probed), Seq("cid"))
      .join(broadcast(qdf.select("q_id", "qt")), Seq("q_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        (col("qcdot") + PqOps.adcScore).as("adc"))
    val candidates = VectorOps.topKPerQuery(adcScored, "adc", shortlist).drop("rank")

    val reranked = candidates
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("v")), "neighbor_id")
      .join(broadcast(qdf.select("q_id", "qv")), "q_id")
      .select(col("q_id"), col("neighbor_id"),
        round(cosineSim(col("qv"), col("v")), 6).as("cosine"))
    VectorOps.topKPerQuery(reranked, "cosine", k)
  }

  /** Durable one-shot index: `ivfpqTopK` retrains
    * per invocation — right for the self-contained oracle harness,
    * wrong as a user API, where an index is built once and searched
    * many times. Layout mirrors the streaming snapshot chain's payload
    * split: `<dir>/codes/` parquet (vec_id, v, cid, code — the
    * distributed half) + `<dir>/model.json` (the frozen driver-side
    * literals, a few KB). model.json writes LAST and is the commit
    * marker: a die mid-persist leaves no readable index, never a
    * codes/model mismatch. Search cost after load is identical to the
    * in-memory path — the model re-enters the plan as literals and the
    * codes frame replaces the just-encoded corpus.
    */
  def persistIndex(s: SparkSession, indexDir: String, model: IvfPqModel,
      encoded: DataFrame): Unit = {
    encoded.select("vec_id", "v", "cid", "code")
      .write.mode("overwrite").parquet(s"$indexDir/codes")
    val json = graft.api.Json.write(Map(
      "cents" -> model.cents,
      "m" -> model.pq.m, "sub" -> model.pq.sub, "books" -> model.pq.books))
    val (fs, root) = graft.streaming.SnapshotStore.fsOf(s, indexDir)
    val out = fs.create(new org.apache.hadoop.fs.Path(root, "model.json"), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  def loadIndex(s: SparkSession, indexDir: String): (IvfPqModel, DataFrame) = {
    val (fs, root) = graft.streaming.SnapshotStore.fsOf(s, indexDir)
    val mp = new org.apache.hadoop.fs.Path(root, "model.json")
    if (!fs.exists(mp))
      throw graft.api.GraftError.QueryError(
        s"no committed IVF-PQ index at $indexDir (model.json absent)")
    val bytes = {
      val in = fs.open(mp)
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    }
    val obj = graft.api.Json.parse(new String(bytes, "UTF-8"))
      .asInstanceOf[Map[String, Any]]
    def d(v: Any): Double = v match {
      case x: Double => x
      case x: Long => x.toDouble
      case x: BigInt => x.toDouble
      case x: BigDecimal => x.toDouble
      case x => x.toString.toDouble
    }
    def vec(v: Any): Seq[Double] = v.asInstanceOf[Seq[Any]].map(d)
    val cents = obj("cents").asInstanceOf[Seq[Any]].map(vec)
    val books = obj("books").asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[Seq[Any]].map(vec))
    val model = IvfPqModel(cents,
      PqModel(obj("m").asInstanceOf[Long].toInt, obj("sub").asInstanceOf[Long].toInt, books))
    (model, s.read.parquet(s"$indexDir/codes"))
  }

  /** Search a prebuilt on-disk index — load + the shared query half. */
  def searchIndex(s: SparkSession, indexDir: String, probes: Seq[(Long, Seq[Double])],
      k: Int = 10, nprobe: Int = 4, shortlist: Int = 50): DataFrame = {
    val (model, codes) = loadIndex(s, indexDir)
    searchEncodedCells(s, codes, model, probes, k = k, nprobe = nprobe, shortlist = shortlist)
  }

  /** IVF-PQ top-10 per probe query: 16 cells, nprobe=4, m=8 subspaces ×
    * 16 codes, 50-candidate shortlist, exact re-rank.
    */
  def ivfpqTopK(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val e = Materialize.cache(Eval.barrier(Eval.fanOut(
      emb(s, dir).select(col("vec_id"), asDouble(col("embedding")).as("v")))))
    val model = train(e, cells = 16, m = 8, sub = 8, codes = 16, iters = 2)
    val corpus = encode(e, model)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    searchEncodedCells(s, corpus, model, probes, k = k, nprobe = 4, shortlist = 50)
  }

  def defs: Map[String, QDef] = Map(
    // Composed IVF-PQ recall gate — same driver-checkable contract as the
    // single-stage indexes (structure booleans + recall-vs-exact floor as
    // deterministic hashable output). nprobe/cells = 4/16 bounds recall by
    // the IVF stage; within probed cells the residual-PQ shortlist +
    // exact re-rank recovers nearly all of it (measured recall@10 0.48 /
    // 0.49 at sf0.001 / sf0.01 — at toy cell sizes the 50-deep shortlist
    // masks most of the residual encoding's precision win; at real cell
    // populations it is the difference between usable and not). The 0.2
    // floor keeps >2× margin while far above the 2% random floor.
    "ann_ivfpq_topk" -> QDef(
      (s, dir) => {
        // Checkpointed gate frames (VectorOps.gatePairs doc): both are
        // consumed twice; materializing the ≤100-row results truncates
        // the double-planned literal-heavy subtrees (~330 KB plan here).
        val ivfpq = VectorOps.gatePairs(ivfpqTopK(s, dir))
        val brute = VectorOps.gatePairs(VectorOps.bruteTopK(s, dir))
        val hits = ivfpq.join(brute, Seq("q_id", "neighbor_id")).agg(count(lit(1)).as("hits"))
        val shape = ivfpq.groupBy("q_id").agg(count(lit(1)).as("k"))
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
        |  true AS k_ok, true AS recall_ok""".stripMargin)
  )
}
