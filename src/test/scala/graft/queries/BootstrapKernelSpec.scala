package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.KernelRefs.weightExprRef

/** Bit-equality pin for the Poisson-weight kernel
  * (graftbridge.PoissonKernel) against the expression form it
  * replaced: per (order, replica), identical weight integer on the real
  * orders table — which pins the hex-vs-unsigned-int threshold-compare
  * argument and the digest-input byte equality in one sweep.
  */
class BootstrapKernelSpec extends SparkSpec {

  test("poissonWeights kernel == md5/hex expression form on real orders") {
    val o = graft.Tables(spark, sf(""), "orders").select(col("o_orderkey"))
    val b = 32
    val kernel = o.select(col("o_orderkey"),
      graft.functions.GraftFunctions
        .poissonWeights(col("o_orderkey"), b, BootstrapOps.LongThresholds).as("w"))
    val expr = o.select(col("o_orderkey"),
        explode(sequence(lit(0), lit(b - 1))).as("b"))
      .select(col("o_orderkey"), col("b"),
        weightExprRef(col("o_orderkey"), col("b")).as("we"))
    val diff = kernel
      .select(col("o_orderkey"), posexplode(col("w")).as(Seq("b", "wk")))
      .join(expr, Seq("o_orderkey", "b"))
      .filter(col("wk") =!= col("we"))
      .count()
    assert(diff === 0L)
    // Weight range sanity: Poisson(1) draws clipped at 9 thresholds.
    val mx = kernel.select(array_max(col("w")).as("m")).agg(max("m")).collect()(0).getLong(0)
    assert(mx <= 9L)
  }
}
