package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.{BoundedTopK, ColumnBridge, CosineSimilarity, DamerauLevenshtein, DotProduct, HilbertIndex, IntersectCountSortedLong, JaccardSimilarity, JaccardSortedLong, JaroWinklerSim, SignBitHamming}

/** Column-level entry points for the native codegen kernels defined in
  * org.apache.spark.sql.graftbridge.
  */
object GraftFunctions {

  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def jaccardSim(a: Column, b: Column): Column =
    ColumnBridge.column(JaccardSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def jaccardSortedLong(a: Column, b: Column): Column =
    ColumnBridge.column(JaccardSortedLong(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def intersectSortedLong(a: Column, b: Column): Column =
    ColumnBridge.column(
      IntersectCountSortedLong(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** All B Poisson-bootstrap replica weights of a long key in one
    * native pass (graftbridge.PoissonKernel).
    */
  def poissonWeights(key: Column, b: Int, thresholds: Seq[Long]): Column =
    ColumnBridge.column(org.apache.spark.sql.graftbridge.PoissonWeights(
      ColumnBridge.expression(key), b, thresholds))

  /** array_min(array_intersect(a, b)) over long arrays without null
    * elements, in one allocation-free pass (graftbridge.MinSharedBand —
    * the graph-ANN minimal-shared-band emission filter).
    */
  def minSharedBand(a: Column, b: Column): Column =
    ColumnBridge.column(org.apache.spark.sql.graftbridge.MinSharedBand(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Jaro-Winkler similarity, DuckDB-parity semantics (floor-divided
    * transpositions, boost only above 0.7) — see EditDistanceKernel.
    */
  def jaroWinkler(a: Column, b: Column): Column =
    ColumnBridge.column(JaroWinklerSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** True Damerau-Levenshtein distance (DuckDB-parity). */
  def damerauLev(a: Column, b: Column): Column =
    ColumnBridge.column(DamerauLevenshtein(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Order-256 Hilbert-curve index (layout clustering). */
  def hilbert(x: Column, y: Column): Column =
    ColumnBridge.column(HilbertIndex(ColumnBridge.expression(x), ColumnBridge.expression(y)))

  /** Sign-bit Hamming distance (1-bit binary-quantized retrieval). */
  def signHamming(a: Column, b: Column): Column =
    ColumnBridge.column(SignBitHamming(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** 6-char geohash cell id of (lat, lon) degrees (spatial bucketing). */
  def geohash6(lat: Column, lon: Column): Column =
    ColumnBridge.column(
      org.apache.spark.sql.graftbridge.Geohash6(
        ColumnBridge.expression(lat), ColumnBridge.expression(lon)))

  /** Bounded top-k aggregate (score DESC, id ASC): map-side partial
    * buffers hold at most k entries, so a top-k-per-group over a scored
    * corpus shuffles O(partitions × groups × k) entries — never the
    * corpus. Returns array<struct<score, id>> sorted best-first.
    */
  def boundedTopK(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      BoundedTopK(ColumnBridge.expression(score), ColumnBridge.expression(id), k)
        .toAggregateExpression())

  /** Per-document adjacent BPE-pair counts of a sentinel string as
    * map<pair, count> (pair key = a+US+b). Registry-proof and
    * pre-aggregated within the document — see graftbridge.BpeKernel.
    */
  def bpePairCounts(s: Column): Column =
    ColumnBridge.column(
      org.apache.spark.sql.graftbridge.BpePairCounts(ColumnBridge.expression(s)))

  /** Token count of a sentinel string (== size of its split array). */
  def bpeTokenCount(s: Column): Column =
    ColumnBridge.column(
      org.apache.spark.sql.graftbridge.BpeTokenCount(ColumnBridge.expression(s)))

  /** One-pass batched merge application over a symbol-disjoint rule
    * batch — byte-identical to folding `replace` over the batch (see
    * graftbridge.BpeKernel's equality argument + BpeKernelSpec).
    */
  def bpeMultiReplace(s: Column, froms: Seq[String], tos: Seq[String]): Column =
    ColumnBridge.column(
      org.apache.spark.sql.graftbridge.BpeMultiReplace(
        ColumnBridge.expression(s), froms, tos))

  /** Registry-proof REGEX split: builds Catalyst's StringSplit node
    * directly, so a session whose function registry overrides SPLIT
    * with literal-delimiter (BigQuery) semantics — every engine session
    * via BQCompat.install — cannot change its meaning.
    * `functions.split` resolves BY NAME through the session registry at
    * analysis time, which is exactly the hole this closes (BPE
    * training inside a DAG engine session once silently learned zero
    * rules because its sentinel splits stopped splitting).
    */
  def regexSplit(str: Column, pattern: String, limit: Int = -1): Column =
    ColumnBridge.column(org.apache.spark.sql.catalyst.expressions.StringSplit(
      ColumnBridge.expression(str),
      org.apache.spark.sql.catalyst.expressions.Literal(pattern),
      org.apache.spark.sql.catalyst.expressions.Literal(limit)))
}
