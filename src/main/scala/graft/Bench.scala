package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Local-iteration subset filter; the driver never sets this.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    def selected = SparkEntry.queries.filter { case (k, _) => only.forall(_.contains(k)) }
    // Spark's local dir goes under the scratch root, deleted on exit, so
    // repeated runs never accumulate leaked blockmgr-*/spark-* trees.
    // Run shape only: the posture is GraftConf's, the one Verify checks.
    val spark = GraftConf.builder("graft-bench", cpus.toInt)
      .master(s"local[$cpus]")
      .config("spark.local.dir", Scratch.dir("spark-local-").toString)
      .config("spark.sql.shuffle.partitions", cpus)
      // Local test files are far below the 128 MB default split size —
      // split aggressively so scans parallelize.
      .config("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
      .getOrCreate()
    // Shuffle-write accounting rides the whole run: wall-clock is
    // machine-noisy, but bytes crossing an exchange only change when the
    // PLAN changes — the signal that distinguishes a real regression
    // from a GC pause (a 25.2 s timing whose isolated truth was 3.6 s).
    val accounting = new org.apache.spark.graftbridge.ShuffleAccounting
    spark.sparkContext.addSparkListener(accounting)
    val shuffleBytes = scala.collection.mutable.Map[String, Long]()
    // One run of a query into the noop sink, which forces every output
    // column to be computed (count() would let Catalyst prune the
    // projections entirely). Returns its wall seconds; the query's
    // Materialize scope is released after the clock stops.
    def run(fn: (SparkSession, String) => DataFrame): Double = {
      val (dt, scope) = Materialize.scope {
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
        (System.nanoTime() - t0) / 1e9
      }
      scope.release()
      dt
    }
    // Untimed, between queries: drop whatever a query left cached or
    // checkpointed outside its scope, then a full GC so the
    // ContextCleaner frees this query's broadcasts and shuffles now
    // instead of letting 200 executions of state pile into the storage
    // pool (see GraftConf's periodicGC note).
    def sweep(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }
    // Full untimed warmup pass: JIT, codegen cache, parquet footers.
    // Otherwise whichever query happens to run first absorbs ~4s of JVM
    // warmup and the per-query numbers are order-dependent. Shuffle
    // volume is attributed here (one clean measured pass per query;
    // plan-shape, so the warmup and timed plans are identical).
    val warmup = selected.map { case (name, fn) =>
      var dt = 0.0
      val (sb, _) = accounting.measure(spark.sparkContext) { dt = run(fn) }
      shuffleBytes(name) = sb
      System.err.println(f"[bench] warmup $name $dt%.1fs shuffle ${sb / 1024 / 1024}mb")
      sweep()
      name -> dt
    }
    // Drift canary: one fixed sub-second query (TPC-H Q6 — one scan, one
    // partial agg, stable plan) re-timed at the start of the timed pass
    // and every 30 queries after. If the canary's wall time climbs as the
    // run ages, the drift lives INSIDE this JVM (codegen cache, listener
    // bus, storage-pool residue); if it stays flat while totals climb
    // across back-to-back invocations, the drift is machine state outside
    // the JVM (page cache, tmp churn, sibling load). Samples go to stderr
    // as they happen and as one summary line at the end.
    val gcByQuery = scala.collection.mutable.Map[String, Long]()
    val canaryFn = SparkEntry.queries.get("q_tpch_q6")
    val canarySamples = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    var timedIdx = 0
    def canary(): Unit = canaryFn.foreach { fn =>
      val dt = run(fn)
      canarySamples += ((timedIdx, dt))
      System.err.println(f"[bench] canary at=$timedIdx $dt%.2fs")
    }
    canary()
    val results = selected.map { case (name, fn) =>
      timedIdx += 1
      if (timedIdx % 30 == 0) canary()
      // Min of two timed runs for the slower queries, so a single GC
      // pause does not masquerade as a plan regression; sub-half-second
      // queries get one run. The JVM-wide GC time spent during each run
      // is recorded with it.
      def timedRun(): (Double, Long) = {
        val g0 = totalGcMs()
        val dt = run(fn)
        val gd = totalGcMs() - g0
        sweep()
        System.err.println(f"[bench] timed $name $dt%.1fs gc ${gd}ms")
        (dt, gd)
      }
      val w = warmup.getOrElse(name, 1.0)
      val runs = if (w < 0.5) 1 else 2
      var (best, bestGc) = (1 to runs).map(_ => timedRun()).minBy(_._1)
      // Noise guard: a machine-load window can swallow BOTH timed runs.
      // The warmup pass is an independent observation of the same query —
      // when the timed best exceeds 3× it, re-measure (bounded) and keep
      // the overall min, logging both.
      var extra = 0
      while (best > 3 * w && best > 1.0 && extra < 2) {
        extra += 1
        val (t, g) = timedRun()
        System.err.println(
          f"[bench] noise-guard $name: timed $best%.1fs vs warmup $w%.1fs; re-measured $t%.1fs")
        if (t < best) { best = t; bestGc = g }
      }
      gcByQuery(name) = bestGc
      name -> best
    }
    canary()
    System.err.println("[bench] canary summary: " +
      canarySamples.map { case (i, d) => f"$i:$d%.2f" }.mkString(" "))
    val rid = runId(results.toMap)
    val env = envFingerprint()
    // Full per-query record first (may be long): shuffle_bytes and GC ms
    // for every query, plus the machine/JVM fingerprint.
    val fullLine = renderLine(results.toSeq.sortBy(_._1), results.toMap, sfDir,
      shuffle = shuffleBytes.toSeq.sortBy(_._1), runId = rid,
      gc = gcByQuery.toSeq.sortBy(_._1), env = env)
    println(fullLine)
    // The short line below folds its tail into "_other_total", so the
    // COMPLETE record also goes to a file: tools/bench_gate.py trusts it
    // iff its "run" id (a hash over every name:seconds pair) matches the
    // one in the short line. Subset runs (SPARK_GRAFT_BENCH_ONLY) write
    // BENCH_SUBSET.json so they never replace BENCH_FULL.json.
    val outFile = if (only.isEmpty) "BENCH_FULL.json" else "BENCH_SUBSET.json"
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outFile), fullLine + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] $outFile write failed: ${e.getMessage}")
    }
    spark.stop()
    println(shortLine(results.toMap, sfDir, shuffleBytes.toMap, runId = rid, env = env))
  }

  /** Cumulative JVM GC time across all collectors, ms. */
  private def totalGcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Machine/JVM provenance for the artifact: CPU model, logical cores,
    * 1-min load average at run end, JVM version, heap max.
    */
  def envFingerprint(): Map[String, String] = {
    val cpu =
      try scala.io.Source.fromFile("/proc/cpuinfo").getLines()
        .collectFirst { case l if l.startsWith("model name") => l.split(":").last.trim }
        .getOrElse("unknown")
      catch { case _: Throwable => "unknown" }
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    Map(
      "cpu" -> cpu,
      "cores" -> Runtime.getRuntime.availableProcessors().toString,
      "load1m" -> f"${os.getSystemLoadAverage}%.1f",
      "jvm" -> System.getProperty("java.vm.version", "unknown"),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory() / 1024 / 1024).toString)
  }

  /** Deterministic id binding BENCH_FULL.json to the driver-captured
    * short line: sha-256 over the sorted "name:seconds(3dp)" pairs,
    * first 12 hex chars. Any divergence in any timing changes the id.
    */
  def runId(results: Map[String, Double]): String = {
    val canon = results.toSeq.sortBy(_._1)
      .map { case (k, v) => k + ":" + fmt(v) }.mkString(",")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(canon.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
  }

  private def fmt(v: Double) = f"$v%.3f"

  private def renderLine(es: Seq[(String, Double)], all: Map[String, Double], sfDir: String,
      rest: Double = 0.0, shuffle: Seq[(String, Long)] = Nil, runId: String = "",
      gc: Seq[(String, Long)] = Nil, env: Map[String, String] = Map.empty): String = {
    val total = if (all.nonEmpty) all.values.sum else 0.0
    val entries = es.map { case (k, v) => "\"" + k + "\":" + fmt(v) } ++
      (if (rest > 0) Seq("\"_other_total\":" + fmt(rest)) else Nil)
    def longMap(key: String, m: Seq[(String, Long)]): String =
      if (m.isEmpty) ""
      else s""","$key":""" + m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val envPart =
      if (env.isEmpty) ""
      else ""","env":""" + env.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":\"" + v.replace("\"", "'") + "\"" }
        .mkString("{", ",", "}")
    val runPart = if (runId.isEmpty) "" else s""","run":"$runId""""
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${entries.mkString("{", ",", "}")}${longMap("shuffle_bytes", shuffle)}${longMap("gc_ms", gc)}$envPart$runPart,"sf":"$sfDir"}"""
  }

  /** The FINAL stdout line. A caller may parse a JSON line out of only
    * the LAST 2000 chars of combined output (after sbt's "[success] …"
    * trailer), so this line must stay well under that: if the full map
    * is too long, keep the slowest 40 queries and fold the rest into
    * "_other_total". The heaviest shuffle writers ride along as a compact
    * "shuffle_bytes" map (plan-shape signal — see accounting note in
    * main). Invariants spec-tested in BenchLineSpec.
    */
  def shortLine(results: Map[String, Double], sfDir: String,
      shuffle: Map[String, Long] = Map.empty, runId: String = "",
      env: Map[String, String] = Map.empty): String = {
    val bySlowest = results.toSeq.sortBy { case (k, v) => (-v, k) }
    val topShuffle = shuffle.toSeq.sortBy { case (k, v) => (-v, k) }.take(8)
    // Length-driven, not count-driven: drop the cheapest entries into
    // "_other_total" until the line fits (long query names would
    // otherwise defeat a fixed top-N cap).
    var keep = bySlowest.length
    var line = renderLine(bySlowest, results, sfDir, shuffle = topShuffle, runId = runId, env = env)
    while (line.length > 1500 && keep > 0) {
      keep = math.max(0, keep - math.max(1, (line.length - 1500) / 30))
      line = renderLine(bySlowest.take(keep), results, sfDir,
        rest = bySlowest.drop(keep).map(_._2).sum, shuffle = topShuffle, runId = runId, env = env)
    }
    line
  }
}
