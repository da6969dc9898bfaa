package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The interpreted higher-order-function forms the native kernels
  * replaced, kept as the kernel specs' bit-equality references.
  */
object KernelRefs {

  /** [[VectorOps.lshKeys]] as a HOF: per table, the sign-bit bucket of
    * `v` against that table's planes (a Horner fold over the reversed
    * plane list), composed with the table index.
    */
  def lshKeysRef(v: Column, planes: Int, tables: Int, dim: Int = 64): Column =
    transform(typedlit(VectorOps.hyperplaneSets(planes, tables, dim)), (tbl, t) =>
      bucketOf(v, tbl) * lit(tables.toLong) + t.cast("long"))

  private def bucketOf(v: Column, tblPlanes: Column): Column =
    aggregate(
      reverse(tblPlanes),
      lit(0L),
      (acc, plane) => acc * 2 +
        when(aggregate(zip_with(v, plane, (x, w) => x * w), lit(0.0), (a, x) => a + x) > 0.0,
          lit(1L)).otherwise(lit(0L)))

  /** [[TextOps.minhashSignature]] as k HOF scans: permutation i is
    * (h mod p)·m(i) + a(i) mod p, p = 2^31 − 1, from the same seeded draws.
    */
  def minhashSignatureRef(hs: Column, k: Int): Column = {
    val P = 2147483647L
    val rnd = new java.util.SplittableRandom(42)
    val ms = Seq.fill(k)(1L + rnd.nextLong(P - 1))
    val as = Seq.fill(k)(rnd.nextLong(P))
    array((0 until k).map(i =>
      array_min(transform(hs, h => pmod(pmod(h, lit(P)) * lit(ms(i)) + lit(as(i)), lit(P))))): _*)
  }

  /** The expression form of `q_poisson_bootstrap`'s per-(row, replica)
    * Poisson(1) weight: the first 8 hex chars of md5(key ':' b) compared
    * against the 8-hex-char CDF thresholds.
    */
  def weightExprRef(keyCol: Column, bCol: Column): Column = {
    val u = substring(md5(concat(keyCol.cast("string"), lit(":"), bCol.cast("string"))), 1, 8)
    BootstrapOps.HexThresholds.map(t => when(u >= t, 1L).otherwise(0L)).reduce(_ + _)
  }
}
