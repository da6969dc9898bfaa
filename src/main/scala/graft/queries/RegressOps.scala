package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Closed-form model fitting as single-pass aggregates: multivariate
  * ridge regression via the normal equations, per-label embedding
  * centroid drift, and a trained naive-Bayes language classifier.
  *
  * The scale shape shared by all three: ONE partial-aggregate pass
  * reduces the fact/corpus table to a model-dimension-bounded set of
  * exact sums (a 3×3 Gram matrix, d×k centroid sums, a vocab×k count
  * table); the solve/score is closed-form arithmetic over those exact
  * scalars. Float determinism: integer/DECIMAL partial aggregates
  * first, then fixed-order double expressions; any multi-term double
  * sum goes through the repo's sorted-list fold.
  */
object RegressOps {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables(s, dir, "documents")

  val defs: Map[String, QDef] = Map(

    // §2 25gw multivariate ridge regression by the normal equations:
    // y = extendedprice on (1, quantity, discount), λ = 10 on the
    // non-intercept diagonal. The whole fit is ONE partial-agg pass
    // producing the EXACT DECIMAL Gram sums (products of DECIMAL(18,2)
    // casts never leave scale 4, so Σx², Σxy are exact at any corpus
    // size), then Cramer's rule expands the three 3×3 determinants in
    // one fixed operand order — both engines evaluate identical doubles
    // from identical exact scalars. This is the distributed-ML shape
    // that matters at 100 TB: model work is O(d²) per partition and the
    // shuffle carries ONE row.
    "q_ridge_normal_eq" -> QDef(
      (s, dir) => {
        val li = Tables(s, dir, "lineitem").select(
          col("l_quantity").cast("decimal(18,2)").as("x1"),
          col("l_discount").cast("decimal(18,2)").as("x2"),
          col("l_extendedprice").cast("decimal(18,2)").as("y"))
        val g = li.agg(
          count(lit(1)).as("n"),
          sum("x1").as("s1"), sum("x2").as("s2"),
          sum(col("x1") * col("x1")).as("s11"),
          sum(col("x1") * col("x2")).as("s12"),
          sum(col("x2") * col("x2")).as("s22"),
          sum("y").as("sy"),
          sum(col("x1") * col("y")).as("s1y"),
          sum(col("x2") * col("y")).as("s2y"))
        val lam = 10.0
        // Symmetric system A β = v with A = [[a,b,c],[b,d,e],[c,e,f]],
        // v = [p,q,r]; λ on the two feature diagonal entries only.
        g.select(col("n"),
            col("n").cast("double").as("a"),
            col("s1").cast("double").as("b"),
            col("s2").cast("double").as("c"),
            (col("s11").cast("double") + lam).as("d"),
            col("s12").cast("double").as("e"),
            (col("s22").cast("double") + lam).as("f"),
            col("sy").cast("double").as("p"),
            col("s1y").cast("double").as("q"),
            col("s2y").cast("double").as("r"))
          .select(col("n"),
            (col("a") * (col("d") * col("f") - col("e") * col("e"))
              - col("b") * (col("b") * col("f") - col("e") * col("c"))
              + col("c") * (col("b") * col("e") - col("d") * col("c"))).as("det"),
            (col("p") * (col("d") * col("f") - col("e") * col("e"))
              - col("b") * (col("q") * col("f") - col("e") * col("r"))
              + col("c") * (col("q") * col("e") - col("d") * col("r"))).as("d0"),
            (col("a") * (col("q") * col("f") - col("e") * col("r"))
              - col("p") * (col("b") * col("f") - col("e") * col("c"))
              + col("c") * (col("b") * col("r") - col("q") * col("c"))).as("d1"),
            (col("a") * (col("d") * col("r") - col("q") * col("e"))
              - col("b") * (col("b") * col("r") - col("q") * col("c"))
              + col("p") * (col("b") * col("e") - col("d") * col("c"))).as("d2"))
          .select(col("n"),
            round(col("d0") / col("det"), 6).as("b0"),
            round(col("d1") / col("det"), 6).as("b1"),
            round(col("d2") / col("det"), 6).as("b2"))
      },
      """WITH g AS (
        |  SELECT COUNT(*) AS n,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s1,
        |    SUM(CAST(l_discount AS DECIMAL(18,2))) AS s2,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS s11,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS s12,
        |    SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS s22,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS s1y,
        |    SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS s2y
        |  FROM lineitem),
        |m AS (
        |  SELECT n,
        |    CAST(n AS DOUBLE) AS a, CAST(s1 AS DOUBLE) AS b, CAST(s2 AS DOUBLE) AS c,
        |    CAST(s11 AS DOUBLE) + 10.0 AS d, CAST(s12 AS DOUBLE) AS e,
        |    CAST(s22 AS DOUBLE) + 10.0 AS f,
        |    CAST(sy AS DOUBLE) AS p, CAST(s1y AS DOUBLE) AS q, CAST(s2y AS DOUBLE) AS r
        |  FROM g),
        |dets AS (
        |  SELECT n,
        |    a * (d * f - e * e) - b * (b * f - e * c) + c * (b * e - d * c) AS det,
        |    p * (d * f - e * e) - b * (q * f - e * r) + c * (q * e - d * r) AS d0,
        |    a * (q * f - e * r) - p * (b * f - e * c) + c * (b * r - q * c) AS d1,
        |    a * (d * r - q * e) - b * (b * r - q * c) + p * (b * e - d * c) AS d2
        |  FROM m)
        |SELECT n, ROUND(d0 / det, 6) AS b0, ROUND(d1 / det, 6) AS b1,
        |       ROUND(d2 / det, 6) AS b2
        |FROM dets""".stripMargin),

    // §2 25gx per-label embedding centroid drift: cosine of each
    // label's centroid against the global corpus centroid — the "which
    // class is drifting away from the mixture" monitor. Fully EXACT
    // pipeline: float elements are quantized once to DECIMAL(20,7)
    // (float→double→7dp round is deterministic per element), per-label
    // per-dim sums are then exact at any corpus size, centroids divide
    // in doubles, and the 64-term dot/norm reductions fold in dimension
    // order over a bounded sorted list. The shuffle carries d×k rows.
    "emb_label_drift" -> QDef(
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("label").cast("long").as("label"),
            posexplode(col("embedding")).as(Seq("d", "x")))
          .select(col("label"), col("d"),
            round(col("x").cast("double"), 7).cast("decimal(20,7)").as("v"))
        // d×k rows, referenced twice (global agg + join): cache so the
        // corpus-scale explode+agg runs ONCE.
        val byLabel = Materialize.cache(e.groupBy("label", "d")
          .agg(sum("v").as("sv"), count(lit(1)).as("nv"))
          .withColumn("cl", col("sv").cast("double") / col("nv")))
        val global = byLabel.groupBy("d")
          .agg(sum("sv").as("sg"), sum("nv").as("ng"))
          .withColumn("cg", col("sg").cast("double") / col("ng"))
        byLabel.join(broadcast(global.select("d", "cg")), "d")
          .groupBy("label")
          .agg(max("nv").as("n_vectors"),
            sort_array(collect_list(struct(col("d"),
              (col("cl") * col("cg")).as("t1"),
              (col("cl") * col("cl")).as("t2"),
              (col("cg") * col("cg")).as("t3")))).as("xs"))
          .select(col("label"), col("n_vectors"),
            round(
              aggregate(col("xs"), lit(0.0), (a, x) => a + x.getField("t1")) /
                (sqrt(aggregate(col("xs"), lit(0.0), (a, x) => a + x.getField("t2"))) *
                  sqrt(aggregate(col("xs"), lit(0.0), (a, x) => a + x.getField("t3")))),
              6).as("cos_to_global"))
          .orderBy("label")
      },
      """WITH e AS (
        |  SELECT CAST(label AS BIGINT) AS label, embedding AS emb,
        |         UNNEST(range(1, len(embedding) + 1)) AS d
        |  FROM embeddings),
        |q AS (
        |  SELECT label, d,
        |         CAST(ROUND(CAST(emb[d] AS DOUBLE), 7) AS DECIMAL(20,7)) AS v
        |  FROM e),
        |bylabel AS (
        |  SELECT label, d, SUM(v) AS sv, COUNT(*) AS nv,
        |         CAST(SUM(v) AS DOUBLE) / COUNT(*) AS cl
        |  FROM q GROUP BY 1, 2),
        |gcent AS (
        |  SELECT d, CAST(SUM(sv) AS DOUBLE) / SUM(nv) AS cg
        |  FROM bylabel GROUP BY 1),
        |terms AS (
        |  SELECT label, MAX(nv) AS n_vectors,
        |    list(cl * cg ORDER BY d) AS t1,
        |    list(cl * cl ORDER BY d) AS t2,
        |    list(cg * cg ORDER BY d) AS t3
        |  FROM bylabel JOIN gcent USING (d) GROUP BY label)
        |SELECT label, CAST(n_vectors AS BIGINT) AS n_vectors,
        |  ROUND(
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), t1), (a, b) -> a + b) /
        |    (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), t2), (a, b) -> a + b)) *
        |     sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), t3), (a, b) -> a + b))),
        |  6) AS cos_to_global
        |FROM terms ORDER BY label""".stripMargin),

    // §2 25gy trained naive-Bayes language classifier with confusion
    // output: per-(word, lang) Laplace-smoothed unigram likelihoods
    // learned from the WHOLE corpus (vocab×k-bounded count table — the
    // train pass is one partial agg over the token stream), then the
    // held-out slice doc_id < 100 is scored against every language and
    // argmax-classified. Per-document log-likelihoods fold over token
    // POSITIONS in order (sorted bounded list per doc×lang), so the
    // sums — and hence the argmax and its lang tie-break — are
    // bit-identical across engines.
    "text_nb_lang" -> QDef(
      (s, dir) => {
        val toks = docs(s, dir)
          .select(col("doc_id"), col("lang").as("true_lang"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        // |V| derives from cwl's keys (distinct w over the
        // (w, lang)-type table = distinct w over the corpus; identical
        // integer) instead of a corpus-scale countDistinct whose
        // single-group partial-distinct hash sets are the one
        // object-heavy operator in the plan (§6s heap lesson). cwl's
        // two consumers share the exchange (ReusedExchange) — no cache.
        val cwl = toks.groupBy("w", "true_lang").agg(count(lit(1)).as("c"))
          .withColumnRenamed("true_lang", "plang")
        val totl = toks.groupBy("true_lang").agg(count(lit(1)).as("tot"))
          .withColumnRenamed("true_lang", "plang")
        val vocab = cwl.select(col("w")).distinct().agg(count(lit(1)).as("vsz"))
        val scored = toks.filter(col("doc_id") < 100)
          .crossJoin(broadcast(totl))
          .join(cwl, Seq("w", "plang"), "left")
          .crossJoin(broadcast(vocab))
          .select(col("doc_id"), col("true_lang"), col("plang"), col("pos"),
            log((coalesce(col("c"), lit(0L)).cast("double") + 1.0) /
              (col("tot") + col("vsz")).cast("double")).as("lp"))
          .groupBy("doc_id", "true_lang", "plang")
          .agg(sort_array(collect_list(struct(col("pos"), col("lp")))).as("xs"))
          .select(col("doc_id"), col("true_lang"), col("plang"),
            aggregate(col("xs"), lit(0.0), (a, x) => a + x.getField("lp")).as("score"))
        val best = scored
          .withColumn("rk", row_number().over(
            Window.partitionBy("doc_id").orderBy(col("score").desc, col("plang").asc)))
          .filter(col("rk") === 1)
        best.groupBy(col("true_lang"), col("plang").as("pred_lang"))
          .agg(count(lit(1)).as("n"))
          .orderBy("true_lang", "pred_lang")
      },
      """WITH tok0 AS (
        |  SELECT doc_id, lang AS true_lang, string_split(text, ' ') AS ts FROM documents),
        |tokp AS (
        |  SELECT doc_id, true_lang, ts, UNNEST(range(1, len(ts) + 1)) AS pos FROM tok0),
        |toks AS (
        |  SELECT doc_id, true_lang, pos - 1 AS pos, ts[pos] AS w FROM tokp),
        |cwl AS (SELECT w, true_lang AS plang, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        |totl AS (SELECT true_lang AS plang, COUNT(*) AS tot FROM toks GROUP BY 1),
        |vocab AS (SELECT COUNT(DISTINCT w) AS vsz FROM toks),
        |scored AS (
        |  SELECT t.doc_id, t.true_lang, totl.plang,
        |    list(ln((CAST(COALESCE(cwl.c, 0) AS DOUBLE) + 1.0)
        |             / CAST(totl.tot + vocab.vsz AS DOUBLE)) ORDER BY t.pos) AS lps
        |  FROM toks t CROSS JOIN totl
        |  LEFT JOIN cwl ON cwl.w = t.w AND cwl.plang = totl.plang
        |  CROSS JOIN vocab
        |  WHERE t.doc_id < 100
        |  GROUP BY 1, 2, 3),
        |sums AS (
        |  SELECT doc_id, true_lang, plang,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), lps), (a, b) -> a + b) AS score
        |  FROM scored),
        |best AS (
        |  SELECT doc_id, true_lang, plang,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, plang ASC) AS rk
        |  FROM sums)
        |SELECT true_lang, plang AS pred_lang, COUNT(*) AS n
        |FROM best WHERE rk = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  )
}
