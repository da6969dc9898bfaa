package graft

import org.apache.spark.sql.SparkSession

/** The one place that configures a graft session: every entry point
  * (Bench, Verify, ScaleGen, the RPC server, the test suites) starts
  * from `GraftConf.builder(app, cores)` and may override only run shape
  * — master, shuffle partitions, `spark.local.dir` and the scan split
  * size. Everything else is the posture the DuckDB oracle verifies:
  * UTC, ANSI off for BigQuery-style NULL arithmetic, AQE allowed to
  * re-plan cached subtrees, and shuffle partitions ∝ cores.
  *
  * The BigQuery dialect is NOT installed here: the shared session keeps
  * Spark semantics for `split`, `regexp_extract` and friends, and engine
  * sessions, the only way to get the dialect, install it in
  * `SessionManager.create`.
  */
object GraftConf {

  /** `clusterCores` = total executor cores the app will run with (32 for
    * the local test rig; thousands in production — shuffle partitioning
    * scales from it).
    */
  def builder(appName: String, clusterCores: Int): SparkSession.Builder = {
    // 2-3 waves of tasks per shuffle stage: large enough that AQE can
    // coalesce down, small enough that task-launch overhead stays noise.
    val shufflePartitions = math.max(clusterCores * 2, 8)
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // BigQuery-style arithmetic (NULL on overflow/bad cast/division by
      // zero, not errors): every query builder is written for it.
      .config("spark.sql.ansi.enabled", "false")
      // AQE re-plans at runtime: coalesces small shuffles, converts
      // sort-merge to broadcast when a side turns out small, splits
      // skewed partitions — all central to the 100 TB posture.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Let AQE re-plan INSIDE cached plans too (default false): without
      // it every cached subtree plans with the static shuffle-partition
      // count — no coalescing, no runtime join re-selection — and each
      // cached-tier read pays a full wave of near-empty tasks. Scale-
      // independent: the default exists only to preserve cached output
      // partitioning for consumers that rely on co-partitioning, which
      // no query here does (results are partition-invariant by
      // contract — the SPARK_GRAFT_SHUFFLE_PARTITIONS sweeps pin it).
      // Measured at sf0.1: 1.4-1.7× on the cache-heavy text/dedup keys.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // Columnar scans: pushdown + pruning are the difference between
      // reading 100 TB and reading the 2 columns × 3 partitions asked for.
      .config("spark.sql.parquet.filterPushdown", "true")
      // Runtime filters: plant a bloom filter from the selective side of
      // a join onto the fact-side scan (LayoutSpec proves the plans
      // accept it). Size thresholds stay at defaults — they are tuned
      // for cluster-scale inputs, which is exactly the deployment here.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.ui.enabled", "false")
      // The SQL status store retains plan DESCRIPTIONS for up to 1000
      // executions even with the UI off. Several plans embed large
      // constant-folded literal arrays (IVF codebooks, LSH hyperplanes),
      // so hundreds of retained executions add up to GBs of heap in a
      // long-lived driver or server. Keep only the last few.
      .config("spark.sql.ui.retainedExecutions", "3")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      // ContextCleaner frees broadcast blocks / shuffle state only when a
      // GC collects the weak references — with a large heap that can take
      // tens of minutes, by which time hundreds of executions' broadcasts
      // have filled the storage pool and later queries drown in GC pauses.
      .config("spark.cleaner.periodicGC.interval", "1min")
      // Compiled code is a per-JVM resource. With artifact isolation on
      // (Spark's default) every newSession() gets its own executor class
      // loader, and the codegen cache is keyed by (class loader, source),
      // so every engine session recompiled the classes the last one
      // compiled (11 for CodegenReuseSpec's one test case) and ran its
      // tasks on freshly loaded code. Sharing them cut the served test
      // suite's mean query time 195 → 123 ms (4-core host). graft adds
      // no per-session jars, files or classes; sessions keep their own
      // SQLConf, temp views and function registry, which is the
      // isolation newSession() gives.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Static: the compiled-class cache, sized to the served working
      // set. The 8 replayed reference test cases alone need ~165
      // classes, so the default 100 entries thrash; 400 and 1000
      // measured the same.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // One log level for every entry point: at INFO the stdio server
      // wrote ~39 lines to stderr per request.
      .config("spark.log.level", "WARN")
  }
}
