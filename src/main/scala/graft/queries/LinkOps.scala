package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}
import graft.functions.GraftFunctions

/** Record-linkage and dataset-maintenance operators: fuzzy entity
  * resolution on the native edit-distance kernels, snapshot diffing,
  * Pareto-frontier extraction, and gap interpolation.
  *
  * Reference scope: these extend the curation tier beyond the reference
  * surface (cf. /root/reference dedup ops) with the master-data steps a
  * large pipeline runs between ingestion and training.
  */
object LinkOps {

  private def parts(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .select(col("p_partkey"), split(col("p_name"), " ").as("nm"))
      .select(col("p_partkey"), col("nm")(0).as("adj"), col("nm")(1).as("noun"))

  val defs: Map[String, QDef] = Map(

    // §2 25fu fuzzy record linkage (entity resolution): a dirty feed is
    // derived deterministically from the part registry (char drop /
    // adjacent swap / last-char doubling on key residues — the three
    // classic typo families), then resolved back against the CLEAN name
    // dictionary. Blocking keys (adjective + first noun char) are chosen
    // to survive all three corruptions, so the candidate join is an
    // EQUI-join against a broadcast vocabulary-scale dictionary — the
    // corpus is never self-joined. Match scoring runs on the native
    // Damerau-Levenshtein / Jaro-Winkler kernels (EditDistance.scala,
    // DuckDB-parity bit-for-bit); the best match per dirty name is a
    // min-struct aggregate ordered by (distance, noun) — integers and
    // strings only, no float at the decision boundary.
    "q_fuzzy_link" -> QDef(
      (s, dir) => {
        val p = parts(s, dir)
        val dict = p.groupBy("adj", "noun").agg(count(lit(1)).as("n_clean"))
          .select(col("adj").as("d_adj"), col("noun"))
        val dirty = p.filter(col("p_partkey") % 7 === 3)
          .select(col("adj"),
            when(col("p_partkey") % 3 === 0,
              concat(col("noun").substr(lit(1), lit(1)),
                col("noun").substr(lit(3), length(col("noun")))))
              .when(col("p_partkey") % 3 === 1,
                concat(col("noun").substr(lit(1), lit(1)),
                  col("noun").substr(lit(3), lit(1)),
                  col("noun").substr(lit(2), lit(1)),
                  col("noun").substr(lit(4), length(col("noun")))))
              .otherwise(concat(col("noun"),
                col("noun").substr(length(col("noun")), lit(1))))
              .as("dnoun"))
          .groupBy("adj", "dnoun").agg(count(lit(1)).as("n_records"))
        val cand = dirty.join(broadcast(dict),
            col("adj") === col("d_adj") &&
              substring(col("dnoun"), 1, 1) === substring(col("noun"), 1, 1))
          .select(col("adj"), col("dnoun"), col("noun"), col("n_records"),
            GraftFunctions.damerauLev(col("dnoun"), col("noun")).as("dl"),
            round(GraftFunctions.jaroWinkler(col("dnoun"), col("noun")), 4).as("jw4"))
        cand.groupBy("adj", "dnoun", "n_records")
          .agg(min(struct(col("dl"), col("noun"), col("jw4"))).as("b"))
          .filter(col("b.dl") <= 2)
          .select(col("adj"), col("dnoun"), col("b.noun").as("matched"),
            col("b.dl").as("dl"), col("b.jw4").as("jw"), col("n_records"))
          .orderBy("adj", "dnoun")
      },
      """WITH p AS (
        |  SELECT p_partkey, string_split(p_name,' ')[1] AS adj,
        |         string_split(p_name,' ')[2] AS noun
        |  FROM part),
        |dict AS (SELECT adj, noun FROM p GROUP BY 1, 2),
        |dirty AS (
        |  SELECT adj,
        |    CASE p_partkey % 3
        |      WHEN 0 THEN substr(noun,1,1) || substr(noun,3,length(noun))
        |      WHEN 1 THEN substr(noun,1,1) || substr(noun,3,1) || substr(noun,2,1)
        |                  || substr(noun,4,length(noun))
        |      ELSE noun || substr(noun,length(noun),1) END AS dnoun,
        |    COUNT(*) AS n_records
        |  FROM p WHERE p_partkey % 7 = 3 GROUP BY 1, 2),
        |cand AS (
        |  SELECT d.adj, d.dnoun, t.noun, d.n_records,
        |         damerau_levenshtein(d.dnoun, t.noun) AS dl,
        |         ROUND(jaro_winkler_similarity(d.dnoun, t.noun), 4) AS jw4
        |  FROM dirty d JOIN dict t
        |    ON d.adj = t.adj AND substr(d.dnoun,1,1) = substr(t.noun,1,1)),
        |best AS (
        |  SELECT adj, dnoun, noun, dl, jw4, n_records,
        |         ROW_NUMBER() OVER (PARTITION BY adj, dnoun ORDER BY dl, noun) AS rn
        |  FROM cand)
        |SELECT adj, dnoun, noun AS matched, dl, jw4 AS jw, n_records
        |FROM best WHERE rn = 1 AND dl <= 2
        |ORDER BY adj, dnoun""".stripMargin),

    // §2 25gl entity resolution end-to-end: cluster the distinct name
    // registry into canonical entities. Edges link names sharing a noun
    // whose adjectives are ≤ 1 Damerau-Levenshtein apart (the
    // 'cold ring' ≡ 'old ring' family) — computed on the vocabulary-
    // scale distinct registry, never the row corpus. Components resolve
    // by two unrolled min-label propagation rounds (cluster diameter
    // here ≤ 2; the dedup_clusters iterative machinery is the unbounded-
    // diameter fallback), every min over strings — no float anywhere.
    // Each entity keeps its lexicographically-least name as the
    // canonical id; row counts ride along for the merge report.
    "q_entity_resolution" -> QDef(
      (s, dir) => {
        val p = parts(s, dir)
        val names = Materialize.cache(p.groupBy("adj", "noun").agg(count(lit(1)).as("n_rows"))
          .withColumn("name", concat_ws(" ", col("adj"), col("noun"))))
        val e0 = names.select(col("noun"), col("adj"), col("name"))
        val edges = e0.as("a").join(e0.as("b"),
            col("a.noun") === col("b.noun") && col("a.name") =!= col("b.name"))
          .filter(GraftFunctions.damerauLev(col("a.adj"), col("b.adj")) <= 1)
          .select(col("a.name").as("src"), col("b.name").as("dst"))
        def propagate(l: DataFrame): DataFrame = {
          val nb = edges
            .join(l.select(col("name").as("dst"), col("lbl").as("nl")), "dst")
            .groupBy(col("src").as("name")).agg(min("nl").as("nl"))
          l.join(nb, Seq("name"), "left")
            .select(col("name"), least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("lbl"))
        }
        val l0 = names.select(col("name"), col("name").as("lbl"))
        propagate(propagate(l0))
          .join(names.select("name", "n_rows"), "name")
          .select(col("lbl").as("entity"), col("name"), col("n_rows"))
          .orderBy("entity", "name")
      },
      """WITH p AS (
        |  SELECT string_split(p_name,' ')[1] AS adj, string_split(p_name,' ')[2] AS noun,
        |         COUNT(*) AS n_rows
        |  FROM part GROUP BY 1, 2),
        |names AS (SELECT adj, noun, n_rows, adj || ' ' || noun AS name FROM p),
        |edges AS (
        |  SELECT a.name AS src, b.name AS dst
        |  FROM names a JOIN names b
        |    ON a.noun = b.noun AND a.name <> b.name
        |  WHERE damerau_levenshtein(a.adj, b.adj) <= 1),
        |l0 AS (SELECT name, name AS lbl FROM names),
        |r1 AS (
        |  SELECT l.name, LEAST(l.lbl, COALESCE(MIN(n.lbl), l.lbl)) AS lbl
        |  FROM l0 l LEFT JOIN edges e ON l.name = e.src
        |            LEFT JOIN l0 n ON n.name = e.dst
        |  GROUP BY l.name, l.lbl),
        |r2 AS (
        |  SELECT l.name, LEAST(l.lbl, COALESCE(MIN(n.lbl), l.lbl)) AS lbl
        |  FROM r1 l LEFT JOIN edges e ON l.name = e.src
        |            LEFT JOIN r1 n ON n.name = e.dst
        |  GROUP BY l.name, l.lbl)
        |SELECT r2.lbl AS entity, r2.name AS name, names.n_rows
        |FROM r2 JOIN names ON r2.name = names.name
        |ORDER BY entity, r2.name""".stripMargin),

    // §2 25fv snapshot table diff: the audit step between two versions
    // of a fact table (v2 is derived in-query: keys ≡ 0 mod 97 deleted,
    // prices of keys ≡ 0 mod 13 shifted by an exactly-representable
    // +1.0, keys ≡ 1 mod 89 re-inserted under new ids). One full-outer
    // hash join on the primary key classifies every row into
    // added/removed/changed/unchanged; output is the per-status count
    // plus key-range fingerprint. Comparisons are key equality and
    // exact-double equality — no hashing, so the plan is one shuffle
    // keyed by the pk on each side.
    "q_table_diff" -> QDef(
      (s, dir) => {
        val v1 = Tables(s, dir, "orders")
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        val v2 = v1.filter(col("o_orderkey") % 97 =!= 0)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 1.0)
              .otherwise(col("o_totalprice")).as("o_totalprice"),
            col("o_orderstatus"))
          .unionByName(v1.filter(col("o_orderkey") % 89 === 1)
            .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
              col("o_totalprice"), col("o_orderstatus")))
        v1.as("a").join(v2.as("b"), col("a.o_orderkey") === col("b.o_orderkey"), "full_outer")
          .select(
            when(col("a.o_orderkey").isNull, "added")
              .when(col("b.o_orderkey").isNull, "removed")
              .when(col("a.o_totalprice") =!= col("b.o_totalprice") ||
                col("a.o_orderstatus") =!= col("b.o_orderstatus"), "changed")
              .otherwise("unchanged").as("status"),
            coalesce(col("a.o_orderkey"), col("b.o_orderkey")).as("k"))
          .groupBy("status")
          .agg(count(lit(1)).as("n"), min("k").as("min_key"), max("k").as("max_key"))
          .orderBy("status")
      },
      """WITH v1 AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        |v2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END
        |      AS o_totalprice,
        |    o_orderstatus
        |  FROM v1 WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice, o_orderstatus
        |  FROM v1 WHERE o_orderkey % 89 = 1),
        |d AS (
        |  SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
        |              WHEN b.o_orderkey IS NULL THEN 'removed'
        |              WHEN a.o_totalprice <> b.o_totalprice
        |                OR a.o_orderstatus <> b.o_orderstatus THEN 'changed'
        |              ELSE 'unchanged' END AS status,
        |         COALESCE(a.o_orderkey, b.o_orderkey) AS k
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey)
        |SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
        |       MIN(k) AS min_key, MAX(k) AS max_key
        |FROM d GROUP BY status ORDER BY status""".stripMargin),

    // §2 25fw 2-D Pareto frontier (skyline: minimal price, maximal
    // size). Phase 1 collapses the corpus to per-price maxima (one
    // partial agg keyed by price). Phase 2: 64 price-range buckets
    // (shared Buckets.assign), a prefix-max over the 64-row bucket
    // table, and any row whose size is ≤ the best size in a
    // strictly-lower bucket is dominated and dropped. Phase 3 is fully
    // PARTITIONED — no global window even in the adversarial case where
    // the prune drops nothing (size increasing with price): the true
    // prefix max over all preceding prices equals greatest(pmx — the
    // lower-bucket max computed over ALL rows pre-prune — and the
    // running max over same-bucket survivors; a pruned same-bucket
    // row's msize ≤ its pmx, so dropping it never lowers the combined
    // max). Equals the oracle's plain single-window form — see spec.
    "q_skyline" -> QDef(
      (s, dir) => {
        val nb = 64
        val pm = Tables(s, dir, "part")
          .groupBy(col("p_retailprice").as("price"))
          .agg(max(col("p_size")).as("msize"), min(col("p_partkey")).as("rep_key"))
        val bucketed = Buckets.assign(pm, col("price"), nb)
        // Bucket prefix maxima: ≤ 64 rows — the tiny-window exception.
        val bmax = bucketed.groupBy("b").agg(max("msize").as("bm"))
          .withColumn("pmx", max("bm").over(
            Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)))
          .select("b", "pmx")
        val wl = Window.partitionBy("b").orderBy("price")
          .rowsBetween(Window.unboundedPreceding, -1)
        bucketed.join(broadcast(bmax), "b")
          .filter(col("pmx").isNull || col("msize") > col("pmx"))
          .withColumn("prevmax", greatest(
            coalesce(col("pmx"), lit(-1)),
            coalesce(max("msize").over(wl), lit(-1))))
          .filter(col("msize") > col("prevmax"))
          .select(col("price"), col("msize").as("size"), col("rep_key"))
          .orderBy("price")
      },
      """WITH pm AS (
        |  SELECT p_retailprice AS price, MAX(p_size) AS msize,
        |         MIN(p_partkey) AS rep_key
        |  FROM part GROUP BY 1),
        |w AS (
        |  SELECT price, msize, rep_key,
        |    MAX(msize) OVER (ORDER BY price
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
        |  FROM pm)
        |SELECT price, msize AS size, rep_key FROM w
        |WHERE prevmax IS NULL OR msize > prevmax
        |ORDER BY price""".stripMargin),

    // §2 25fx linear gap interpolation over a daily series: revenue per
    // order day (EXACT DECIMAL(18,2) sums — the q_window_ratio lesson),
    // days ≡ 2 mod 5 masked out as missing, each gap filled from its
    // observed neighbors weighted by day distance. The window is global
    // but bounded by construction (one row per calendar day, like
    // ev_ewma — documented exception). 4-dp rounding is tie-free: the
    // interpolated values are cent-quantized halves/fifths, which
    // cannot land a digit at the 5th decimal.
    "q_interpolate" -> QDef(
      (s, dir) => {
        val daily = Tables(s, dir, "orders")
          .groupBy(col("o_orderdate").as("d"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
          .withColumn("obs", dayofmonth(col("d")) % 5 =!= 2)
          .withColumn("v", when(col("obs"), col("rev").cast("double")))
        val w = Window.orderBy("d")
        val before = w.rowsBetween(Window.unboundedPreceding, -1)
        val after = w.rowsBetween(1, Window.unboundedFollowing)
        daily
          .withColumn("pv", last(col("v"), ignoreNulls = true).over(before))
          .withColumn("pd", last(when(col("v").isNotNull, col("d")), ignoreNulls = true).over(before))
          .withColumn("nv", first(col("v"), ignoreNulls = true).over(after))
          .withColumn("nd", first(when(col("v").isNotNull, col("d")), ignoreNulls = true).over(after))
          .select(
            date_format(col("d"), "yyyy-MM-dd").as("day"),
            col("obs"),
            round(
              when(col("obs"), col("v"))
                .when(col("pv").isNull, col("nv"))
                .when(col("nv").isNull, col("pv"))
                .otherwise(col("pv") + (col("nv") - col("pv")) *
                  (datediff(col("d"), col("pd")).cast("double") /
                    datediff(col("nd"), col("pd")).cast("double"))), 4).as("rev"))
          .orderBy("day")
      },
      """WITH daily AS (
        |  SELECT o_orderdate AS d,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |m AS (
        |  SELECT d, day(d) % 5 <> 2 AS obs,
        |         CASE WHEN day(d) % 5 <> 2 THEN CAST(rev AS DOUBLE) END AS v
        |  FROM daily),
        |w AS (
        |  SELECT d, obs, v,
        |    last_value(v IGNORE NULLS) OVER
        |      (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS) OVER
        |      (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pd,
        |    first_value(v IGNORE NULLS) OVER
        |      (ORDER BY d ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS) OVER
        |      (ORDER BY d ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nd
        |  FROM m)
        |SELECT strftime(d, '%Y-%m-%d') AS day, obs,
        |  ROUND(CASE WHEN obs THEN v
        |             WHEN pv IS NULL THEN nv
        |             WHEN nv IS NULL THEN pv
        |             ELSE pv + (nv - pv) *
        |               (date_diff('day', pd, d) * 1.0 / date_diff('day', pd, nd))
        |        END, 4) AS rev
        |FROM w ORDER BY day""".stripMargin)
  )
}
