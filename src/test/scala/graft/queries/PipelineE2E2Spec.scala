package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** llm_curate_e2e_v2 composition contracts: the chain really runs
  * THROUGH the engine's DAG scheduler (dependencies parsed from stage
  * SQL, every derived stage materialized), the stage filters only ever
  * narrow the corpus, and the packed output respects the token budget.
  */
class PipelineE2E2Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("chain runs through Dag.run with parsed stage dependencies and monotone narrowing") {
    val gs = PipelineE2E2.runChainSession(spark, dir)
    def n(t: String): Long = gs.spark.table(t).count()
    val docs = n("docs")
    val gopher = n("gopher"); val ccnet = n("ccnet"); val dedup = n("deduped")
    val decontam = n("decontam"); val mixture = n("mixture")
    assert(docs > 0 && gopher <= docs && ccnet <= gopher && dedup <= ccnet &&
      decontam <= dedup && mixture <= decontam,
      s"stages must narrow: $docs → $gopher → $ccnet → $dedup → $decontam → $mixture")
    // CCNet keeps head+middle: roughly two thirds of the gopher output.
    assert(ccnet == gopher - gopher / 3)
    // The mixture never exceeds the per-language quotas.
    val over = gs.spark.table("mixture").groupBy("lang").agg(count(lit(1)).as("c"))
      .filter(col("c") > 50).count()
    assert(over == 0)
  }

  test("packed bins respect the 512-token budget and carry one tokenizer identity") {
    val packed = PipelineE2E2.runChain(spark, dir).cache()
    // One merges string across every row — the whole chain used ONE
    // trained tokenizer.
    assert(packed.select("merges").distinct().count() == 1)
    // A bin starts strictly under the budget boundary: bin index =
    // (cum - n_tok) div 512 means each bin's FIRST doc begins below
    // bin_start + 512; totals per (lang, bin) are positive.
    assert(packed.filter(col("bin_tokens") <= 0).count() == 0)
    // Bins are contiguous per language from 0.
    val bad = packed.groupBy("lang")
      .agg(min("bin").as("lo"), max("bin").as("hi"), count(lit(1)).as("c"))
      .filter(col("lo") =!= 0 || col("c") =!= col("hi") + 1)
    assert(bad.count() == 0)
  }

  test("a failed stage blocks its dependents instead of producing output (engine semantics)") {
    val gs = new graft.engine.SessionManager(spark).create()
    import graft.engine.{Dag, DagTable}
    val dag = new Dag(gs)
    dag.register(Seq(
      DagTable.view("src", graft.Tables(gs.spark, dir, "documents")),
      DagTable.derived("broken", "SELECT no_such_column FROM src"),
      DagTable.derived("dependent", "SELECT * FROM broken")))
    val res = dag.run()
    assert(res.failed.map(_.table) == Seq("broken"))
    assert(res.skipped == Seq("dependent"))
  }
}
