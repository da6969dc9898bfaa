package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** Coreset selection for training-data diversity: greedy k-center
  * (farthest-point traversal) over the embedding corpus.
  */
object CurateOps2 {

  val defs: Map[String, QDef] = Map(

    // §2 25gd greedy k-center coreset (farthest-point selection): pick
    // k = 8 maximally-spread vectors from the sampled embedding
    // registry — the diverse-subset step before annotation/eval-set
    // construction. Each round broadcasts the ≤ k chosen centers,
    // computes every candidate's min squared distance in ONE map-only
    // pass over the corpus (no pairwise join), and takes the argmax via
    // a TakeOrdered(1) — so a round is O(|corpus| · k) work, k bounded
    // collects of one row each, never a materialized distance matrix.
    // Distances are double-exact on both engines: elements cast to
    // DOUBLE first, then an index-ordered left fold of (x−y)² (the
    // text_char_entropy determinism argument); ties broken by vec_id.
    // The oracle replays the same greedy walk as a recursive CTE.
    "curate_kcenter_diverse" -> QDef(
      (s, dir) => {
        import s.implicits._
        val k = 8
        val pts = Materialize.cache(Tables(s, dir, "embeddings")
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))) // scanned k times
        val seed = pts.orderBy("vec_id").limit(1).collect()(0)
        // (step, vec_id, embedding, dist-at-selection)
        var chosen = List((1, seed.getLong(0), seed.getSeq[Double](1), 0.0))
        var step = 2
        while (step <= k) {
          val centers = chosen.map { case (_, id, e, _) => (id, e) }.toDF("cid", "cemb")
          val ids = chosen.map(_._2)
          val next = pts.filter(!col("vec_id").isInCollection(ids))
            .crossJoin(broadcast(centers))
            .select(col("vec_id"), col("emb"),
              aggregate(zip_with(col("emb"), col("cemb"), (x, y) => (x - y) * (x - y)),
                lit(0.0), (acc, v) => acc + v).as("d"))
            .groupBy("vec_id")
            .agg(min("d").as("dmin"), first("emb").as("emb"))
            .orderBy(col("dmin").desc, col("vec_id"))
            .limit(1)
            .collect()(0) // bounded: one row per round, k rounds
          chosen = chosen :+ ((step, next.getLong(0), next.getSeq[Double](2), next.getDouble(1)))
          step += 1
        }
        chosen.map { case (st, id, _, d) => (st, id, d) }
          .toDF("step", "vec_id", "dist")
          .select(col("step"), col("vec_id"), round(col("dist"), 4).as("dist"))
          .orderBy("step")
      },
      """WITH RECURSIVE pts AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
        |seed AS (SELECT MIN(vec_id) AS sid FROM pts),
        |sel AS (
        |  SELECT 1 AS step, (SELECT sid FROM seed) AS vec_id,
        |         CAST(0.0 AS DOUBLE) AS dist, [(SELECT sid FROM seed)] AS chosen
        |  UNION ALL
        |  SELECT step + 1, nxt.vec_id, nxt.dist, list_append(chosen, nxt.vec_id)
        |  FROM sel, LATERAL (
        |    SELECT p.vec_id,
        |      MIN(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(range(1, 65), i ->
        |          (CAST(p.embedding[i] AS DOUBLE) - CAST(q.embedding[i] AS DOUBLE)) *
        |          (CAST(p.embedding[i] AS DOUBLE) - CAST(q.embedding[i] AS DOUBLE)))),
        |        (a, b) -> a + b)) AS dist
        |    FROM pts p, pts q
        |    WHERE list_contains(sel.chosen, q.vec_id)
        |      AND NOT list_contains(sel.chosen, p.vec_id)
        |    GROUP BY p.vec_id
        |    ORDER BY dist DESC, p.vec_id
        |    LIMIT 1) nxt
        |  WHERE step < 8)
        |SELECT step, vec_id, ROUND(dist, 4) AS dist
        |FROM sel ORDER BY step""".stripMargin),

    // §2 25ij differentially-private count release (ε = 1 Laplace
    // mechanism) over the per-language corpus composition — the privacy
    // layer a pipeline applies before PUBLISHING dataset statistics.
    // The noise is REAL inverse-CDF Laplace but seeded
    // DETERMINISTICALLY from md5(lang): u = first 48 md5 bits / 2⁴⁸ is
    // an exact dyadic rational (the division is by a power of two, so
    // u, p = u − ½ and 1 − 2|p| are bit-identical on both engines);
    // the single libm call ln(1 − 2|p|) is quantized to 12 dp (the
    // logreg recipe) before scaling, making the released value
    // engine-exact. Per-group work is one exact count + a map-only
    // noise expression — nothing about the mechanism changes at 100 TB.
    "curate_dp_counts" -> QDef(
      (s, dir) => {
        val b = 1.0 // Laplace scale = sensitivity/ε = 1/1
        Tables(s, dir, "documents")
          .groupBy("lang").agg(count(lit(1)).as("n_true"))
          .withColumn("u",
            conv(substring(md5(col("lang")), 1, 12), 16, 10)
              .cast("long").cast("double") / lit(281474976710656.0))
          .withColumn("p", col("u") - 0.5)
          .withColumn("noise",
            round(lit(-b) * signum(col("p")) *
              round(log(lit(1.0) - lit(2.0) * abs(col("p"))), 12), 6))
          .select(col("lang"), col("n_true"),
            col("noise"),
            round(col("n_true") + col("noise"), 4).as("n_released"))
          .orderBy("lang")
      },
      """WITH base AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |x AS (
        |  SELECT lang, n,
        |    CAST(CAST(('0x' || substr(md5(lang), 1, 12)) AS BIGINT) AS DOUBLE)
        |      / 281474976710656.0 - 0.5 AS p
        |  FROM base),
        |y AS (
        |  SELECT lang, n,
        |    ROUND(-1.0 * SIGN(p) * ROUND(LN(1.0 - 2.0 * ABS(p)), 12), 6) AS noise
        |  FROM x)
        |SELECT lang, CAST(n AS BIGINT) AS n_true, noise,
        |  ROUND(n + noise, 4) AS n_released
        |FROM y ORDER BY lang""".stripMargin),

    // §2 25jr deterministic train/val/test split, keyed on the CONTENT
    // hash (md5(text) bucket mod 10 → 8/1/1): hashing the text rather
    // than the id means verbatim duplicates land in the SAME split by
    // construction — the split-level leakage rule (a train/test dup pair
    // is benchmark contamination even after doc-level dedup misses it).
    // Map-only assignment (no state, no sampling order), |lang×3| output
    // rows, per-lang fractions from a broadcast totals join — at 100 TB
    // the split is a pushdown-able predicate on a stored column, never a
    // shuffle.
    "curate_split" -> QDef(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .withColumn("b",
            conv(substring(md5(col("text")), 1, 12), 16, 10)
              .cast("long") % 10)
          .withColumn("split",
            when(col("b") < 8, "train")
              .when(col("b") === 8, "val").otherwise("test"))
        val per = d.groupBy("lang", "split")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
        val tot = d.groupBy("lang").agg(count(lit(1)).as("n_lang"))
        per.join(broadcast(tot), "lang")
          .select(col("lang"), col("split"), col("n_docs"), col("n_chars"),
            round(col("n_docs").cast("double") / col("n_lang"), 6).as("frac"))
          .orderBy("lang", "split")
      },
      """WITH d AS (
        |  SELECT lang, n_chars,
        |    CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT) % 10 AS b
        |  FROM documents),
        |w AS (
        |  SELECT lang, n_chars,
        |    CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END
        |      AS split
        |  FROM d),
        |per AS (
        |  SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |  FROM w GROUP BY lang, split),
        |tot AS (SELECT lang, COUNT(*) AS n_lang FROM w GROUP BY lang)
        |SELECT lang, split, n_docs, per.n_chars,
        |  ROUND(CAST(n_docs AS DOUBLE) / n_lang, 6) AS frac
        |FROM per JOIN tot USING (lang)
        |ORDER BY lang, split""".stripMargin)
  )
}
