package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for the SCALING bench (SURVEY §6j):
  * replicates the driver-generated sf0.1 tables `factor`× with
  * key-space offsets, preserving referential integrity (each replica's
  * orders reference that replica's customers/parts/suppliers; the
  * fixed-size region/nation dims are shared, as in TPC-H). Document
  * text is word-salted per replica (`r<i>_word`) so replicas introduce
  * NO cross-replica n-gram near-dups — the dedup workload's candidate
  * structure scales linearly like a real corpus instead of exploding
  * quadratically on self-copies. Embedding vectors are copied verbatim
  * (ANN cost is corpus size, not value distribution; probe queries stay
  * the original vec_id < 10).
  *
  * `--zipf S` (SURVEY §6q): the SKEW-ADVERSARIAL tier.
  * Uniform replication can never trigger the salting/AQE-skew paths
  * that SkewOps and AQE skew-join exist for — every join key has the
  * same fan-in at every factor. With --zipf S, replica 0 of each FACT
  * table (orders, lineitem, events, documents, embeddings) is emitted
  * S times (copies keyed by a sub-offset c·1e6 under the replica
  * offset r·1e8), while DIM tables (customer/supplier/part) stay one
  * row per replica. Foreign keys keep only the replica offset, so:
  *   - every replica-0 customer has S× the orders of any other
  *     replica's customer (o_custkey hot — skewed groupBy/join);
  *   - every replica-0 part/supplier key has S× the lineitems
  *     (l_partkey / l_suppkey hot — skewed TPC-H joins);
  *   - every replica-0 user has S× the events (hot sessionize /
  *     window partitions);
  *   - every replica-0 document exists as S verbatim copies
  *     (doc_id differs, text IDENTICAL — S-sized exact-dup clusters,
  *     i.e. hot MinHash band buckets and hot SimHash prefixes);
  *   - every replica-0 vector exists as S verbatim copies (cosine-1
  *     neighborhoods for the ANN/semantic-dedup tier).
  * l_orderkey is COPY-linked (same c sub-offset as the order it
  * belongs to), so each order copy keeps its original lineitem count
  * and referential integrity holds exactly. With S=1 the output is
  * row-for-row identical to the uniform generator. Total fact rows =
  * base·(factor-1+S); with factor=10, S=100 replica 0 holds ~92% of
  * all rows — "one replica ~100× the others".
  * Base keys are < 1e6 (sf0.1 max is l_orderkey 149,999) so copies
  * stay disjoint for S ≤ 100.
  *
  * Usage: `sbt "runMain graft.ScaleGen /root/testdata/sf0.1 /tmp/sf1 10"`
  *        `sbt "runMain graft.ScaleGen /root/testdata/sf0.1 /tmp/sfz10 10 --zipf 100"`
  */
object ScaleGen {

  /** Key offset between replicas — far above any base-table key. */
  private val Off = 100000000L

  /** Key offset between zipf copies WITHIN replica 0 — above any base
    * key, and S·CopyOff < Off for S ≤ 100.
    */
  private val CopyOff = 1000000L

  def main(args: Array[String]): Unit = {
    val zipfS: Int = args.indexOf("--zipf") match {
      case -1 => 1
      case i  => args(i + 1).toInt
    }
    require(zipfS >= 1 && zipfS <= 100, s"--zipf must be in [1,100], got $zipfS")
    val pos = {
      val drop = args.indexOf("--zipf")
      args.zipWithIndex.collect {
        // drop == -1 must keep EVERY arg (otherwise drop+1 == 0 would
        // silently eat the src positional).
        case (a, i) if drop == -1 || (i != drop && i != drop + 1) => a
      }
    }
    val (src, dst, factor) =
      (pos(0), pos(1), if (pos.length > 2) pos(2).toInt else 10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftConf.builder("graft-scalegen", cpus.toInt)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()

    /** @param copyCols primary/copy-linked keys: offset by replica AND
      *                 zipf copy (stay unique across the whole corpus).
      * @param hotCols  foreign keys: offset by replica ONLY — under
      *                 --zipf these become the hot keys.
      * @param expand   fact tables get S copies in replica 0; dims
      *                 never expand.
      */
    def replicate(name: String, copyCols: Seq[String],
                  hotCols: Seq[String] = Nil, expand: Boolean = false,
                  saltText: Boolean = false): Unit = {
      val base = Tables(spark, src, name)
      // Copy-key disjointness is load-bearing, not assumed: copies
      // offset by c·CopyOff, so a base corpus whose keys reach CopyOff
      // (e.g. sf1 orderkeys up to 6M) would silently collide copy keys
      // and corrupt uniqueness + the l_orderkey referential link. Fail
      // loudly instead (one cheap max() agg per copy-keyed column).
      if (expand && zipfS > 1) copyCols.foreach { k =>
        // coalesce+cast so an empty base table or an int-typed key still
        // reaches the require's diagnostic (not an NPE/ClassCast).
        val mx = base.agg(coalesce(max(col(k)).cast("long"), lit(-1L)))
          .collect()(0).getLong(0)
        require(mx < CopyOff,
          s"--zipf needs every base $name.$k < $CopyOff for copy-key " +
            s"disjointness; found max $mx — use a smaller base corpus")
      }
      val rep = base
        .withColumn("__r", explode(sequence(lit(0), lit(factor - 1))))
      val copied =
        if (expand && zipfS > 1)
          rep.withColumn("__c", explode(sequence(lit(0),
            when(col("__r") === 0, zipfS - 1).otherwise(0))))
        else rep.withColumn("__c", lit(0))
      val keyed0 = copyCols.foldLeft(copied) { (df, k) =>
        df.withColumn(k, col(k) + col("__r").cast("long") * Off
          + col("__c").cast("long") * CopyOff)
      }
      val keyed = hotCols.foldLeft(keyed0) { (df, k) =>
        df.withColumn(k, col(k) + col("__r").cast("long") * Off)
      }
      val salted =
        if (saltText)
          keyed.withColumn("text",
            when(col("__r") === 0, col("text"))
              .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
                concat(lit("r"), col("__r"), lit("_$1")))))
        else keyed
      salted.drop("__r", "__c")
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      System.err.println(s"[scalegen] $name x$factor" +
        (if (expand && zipfS > 1) s" zipf=$zipfS" else "") + " written")
    }

    // Fixed dims copy through unchanged.
    Seq("region", "nation").foreach { n =>
      Tables(spark, src, n).write.mode("overwrite").parquet(s"$dst/$n.parquet")
    }
    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey"), hotCols = Seq("o_custkey"),
      expand = true)
    replicate("lineitem", Seq("l_orderkey"),
      hotCols = Seq("l_partkey", "l_suppkey"), expand = true)
    replicate("events", Seq("event_id"), hotCols = Seq("user_id"),
      expand = true)
    replicate("documents", Seq("doc_id"), expand = true, saltText = true)
    replicate("embeddings", Seq("vec_id"), expand = true)
    spark.stop()
  }
}
