package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.queries.TextOps

/** Incremental MinHash-LSH near-dup maintenance: the streaming twin of
  * the batch `dedup_minhash_lsh` operator (TextOps.minhashPairs),
  * matching how `dedup_incremental` covers exact dedup. Arriving docs
  * compute shingle hashes, MinHash signatures and LSH band hashes
  * MAP-ONLY over the batch; candidate generation joins ONLY
  * new-batch×bucket (the batch's band rows broadcast against the stored
  * index — history is scanned map-side, never shuffled, and never
  * re-paired against itself); verification is the exact
  * sorted-merge Jaccard on the candidate pairs alone. Already-known
  * docs and already-emitted pairs pass through each merge untouched.
  *
  * State lives in ONE SnapshotStore chain (replay-idempotent like every
  * sink here) holding two row kinds — a crash between two separate
  * chains could desync index and pairs, so they commit atomically:
  *
  *  - `kind='doc'`:  (doc_id, hs sorted shingle hashes, bands) — one row
  *    per ingested doc, the LSH index;
  *  - `kind='pair'`: (doc_a < doc_b, jaccard ≥ τ) — the verified
  *    near-dup ledger, grow-only.
  *
  * Parameters mirror the batch operator exactly (k=32 permutations,
  * 16 bands × 2 rows, τ=0.5), so after any prefix of batches the pair
  * ledger equals the batch operator run over the union of those batches
  * (the spec checks this corpus-equivalence directly).
  */
object MinhashStream {

  private val K = 32; private val Bands = 16; private val Rows = 2
  private val Tau = 0.5

  /** Maintain the near-dup state at `tableDir` under a stream with
    * (`doc_id` Long, `text` String) rows, plus an optional `deleted`
    * boolean column (absent = all upserts): a tombstone REVOKES the doc
    * — its index row leaves the snapshot AND every ledger pair naming
    * it is purged (the takedown path: a removed document must stop
    * influencing dedup decisions entirely). Within one batch a delete
    * beats an upsert of the same id (same conservative rule as the ANN
    * tombstones); a later re-insert re-enters as a new doc and its
    * pairs re-derive against the then-current index.
    */
  def minhashSink(
      docs: DataFrame, tableDir: String, checkpointDir: String,
      retainSnapshots: Int = 3): StreamingQuery =
    SnapshotStore.snapshotSinkWithId(docs, tableDir, checkpointDir, retainSnapshots) {
      (prev, batch, _) =>
        val b =
          if (batch.columns.contains("deleted")) batch
          else batch.withColumn("deleted", lit(false))
        val dels = b.filter(col("deleted"))
          .select(col("doc_id").cast("long").as("doc_id")).distinct()
        // Map-only per-batch feature pass: sorted shingle hashes (reused
        // by banding AND verification) + band hashes. Duplicate doc_ids
        // within a batch collapse deterministically (docs are immutable;
        // first by content hash ordering is irrelevant — any one row);
        // delete beats same-batch upsert via the anti-join on dels.
        val fresh = b.filter(!col("deleted"))
          .select(col("doc_id").cast("long").as("doc_id"), col("text"))
          .join(dels, Seq("doc_id"), "left_anti")
          .select(col("doc_id"),
            TextOps.sortedShingleHashes(split(col("text"), " ")).as("hs"))
          .groupBy("doc_id").agg(first("hs").as("hs"))
          .withColumn("bands",
            TextOps.bandHashes(TextOps.minhashSignature(col("hs"), K), Bands, Rows))

        // Revocation applies to the PREVIOUS state before anything else:
        // the doc leaves the index (broadcast anti-joins — dels is
        // batch-bounded) and every pair naming it leaves the ledger.
        val prevDocs = prev.map(_.filter(col("kind") === "doc")
          .select("doc_id", "hs", "bands")
          .join(broadcast(dels), Seq("doc_id"), "left_anti"))
        val prevPairs = prev.map(_.filter(col("kind") === "pair")
          .select("doc_a", "doc_b", "jaccard")
          .join(broadcast(dels.select(col("doc_id").as("doc_a"))), Seq("doc_a"), "left_anti")
          .join(broadcast(dels.select(col("doc_id").as("doc_b"))), Seq("doc_b"), "left_anti")
          .select("doc_a", "doc_b", "jaccard"))

        // Only docs NOT already indexed are new (re-sent docs are no-ops:
        // their pairs were emitted when they first arrived).
        val newDocs = prevDocs match {
          case Some(p) => fresh.join(p.select("doc_id"), Seq("doc_id"), "left_anti")
          case None => fresh
        }

        val bandRows = newDocs.select(col("doc_id"), col("hs"),
          posexplode(col("bands")).as(Seq("band", "bhash")))

        // Cross candidates: new-batch band rows (broadcast — batch-bounded)
        // against the stored index's band rows (map-side explode of the
        // snapshot scan; the index itself never shuffles). In-batch
        // candidates: the batch band rows against themselves.
        val crossCand = prevDocs match {
          case Some(p) =>
            val stored = p.select(col("doc_id"), col("hs"),
              posexplode(col("bands")).as(Seq("band", "bhash")))
            stored.join(
                broadcast(bandRows.select(col("doc_id").as("n_id"), col("hs").as("n_hs"),
                  col("band"), col("bhash"))),
                Seq("band", "bhash"))
              .select(
                least(col("doc_id"), col("n_id")).as("doc_a"),
                greatest(col("doc_id"), col("n_id")).as("doc_b"),
                when(col("doc_id") < col("n_id"), col("hs")).otherwise(col("n_hs")).as("hs_a"),
                when(col("doc_id") < col("n_id"), col("n_hs")).otherwise(col("hs")).as("hs_b"))
          case None => newDocs.filter(lit(false)).select(
            col("doc_id").as("doc_a"), col("doc_id").as("doc_b"),
            col("hs").as("hs_a"), col("hs").as("hs_b"))
        }
        val selfCand = bandRows.as("x")
          .join(broadcast(bandRows.as("y")),
            col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
            col("x.hs").as("hs_a"), col("y.hs").as("hs_b"))

        // Exact verification on candidates only; same kernel + rounding
        // as the batch operator.
        val newPairs = crossCand.unionByName(selfCand)
          .dropDuplicates("doc_a", "doc_b")
          .select(col("doc_a"), col("doc_b"),
            round(graft.functions.GraftFunctions.jaccardSortedLong(
              col("hs_a"), col("hs_b")), 4).as("jaccard"))
          .filter(col("jaccard") >= Tau)

        val allDocs = prevDocs.map(_.unionByName(newDocs)).getOrElse(newDocs)
        val allPairs = prevPairs.map(_.unionByName(newPairs)).getOrElse(newPairs)
          .dropDuplicates("doc_a", "doc_b")
        allDocs.select(lit("doc").as("kind"), col("doc_id"), col("hs"), col("bands"),
            lit(null).cast("long").as("doc_a"), lit(null).cast("long").as("doc_b"),
            lit(null).cast("double").as("jaccard"))
          .unionByName(allPairs.select(lit("pair").as("kind"),
            lit(null).cast("long").as("doc_id"),
            lit(null).cast("array<bigint>").as("hs"),
            lit(null).cast("array<bigint>").as("bands"),
            col("doc_a"), col("doc_b"), col("jaccard")))
    }

  /** The verified near-dup ledger from the latest committed snapshot. */
  def pairs(spark: SparkSession, tableDir: String): DataFrame =
    SnapshotStore.latest(spark, tableDir)
      .map(_.filter(col("kind") === "pair").select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b"))
      .getOrElse(spark.emptyDataFrame)

  /** The indexed doc_ids from the latest committed snapshot. */
  def indexedDocs(spark: SparkSession, tableDir: String): DataFrame =
    SnapshotStore.latest(spark, tableDir)
      .map(_.filter(col("kind") === "doc").select("doc_id"))
      .getOrElse(spark.emptyDataFrame)
}
