package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ops_suite workload's engine side: one JVM, one SparkSession, the
  * `SparkEntry.queries` keys it is given, in the order it is given.
  *
  * Protocol (stdout lines starting with `PERFBENCH `, one JSON object
  * each; stdin lines are commands):
  *  1. set up once per input directory given: build the session and
  *     register that directory's inputs, print `ready`, then stop the
  *     session before the next set-up. The first set-up is the JVM's
  *     cold one; the others rebuild in the warm JVM, each over its own
  *     copy of the inputs so no schema is remembered from before. The
  *     last session stays up;
  *  2. read one command: `run` goes on, anything else stops here;
  *  3. check pass: every key through its builder into parquet under
  *     `out`, for the caller to compare with the oracle;
  *  4. timed passes, until `seconds` have passed (at least one): every
  *     key through its builder and a noop sink;
  *  5. print `done` with the JVM's peak RSS and collector time.
  *
  * Between keys the caches are cleared, persisted RDDs are unpersisted
  * and a full GC runs, as `graft.Bench` does; none of it is timed.
  *
  * Usage: `perfbench.OpsSuite data=DIR[,DIR...] out=DIR keys=a,b,c
  *   cores=N local=DIR warehouse=DIR seconds=S trace=0|1 [traceOut=FILE]`
  */
object OpsSuite {

  /** Stands in for a builder that throws; the benchmark's self-test uses
    * it to show that a throwing key is reported failed, never timed.
    */
  val ThrowingKey = "perfbench_throwing_key"

  private def emit(fields: (String, Any)*): Unit = {
    val body = fields.map { case (k, v) => "\"" + k + "\":" + jsonValue(v) }.mkString("{", ",", "}")
    System.out.println("PERFBENCH " + body)
    System.out.flush()
  }

  private def jsonValue(v: Any): String = v match {
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case m: Map[_, _] => m.map { case (k, x) => jsonValue(k.toString) + ":" + jsonValue(x) }.mkString("{", ",", "}")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case x => x.toString
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def rssPeakMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } catch { case NonFatal(_) => 0.0 }

  def main(args: Array[String]): Unit = {
    val opt = args.flatMap { a => a.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None } }.toMap
    val dataDirs = opt("data").split(",").toSeq
    val dataDir = dataDirs.last
    val outDir = opt("out")
    val keys = opt("keys").split(",").toSeq.filter(_.nonEmpty)
    val cores = opt("cores")
    val seconds = opt("seconds").toDouble
    val trace = opt.get("trace").contains("1")

    // The posture the oracle verified (graft.Verify / graft.Bench); only
    // master, shuffle partitions and the local and warehouse dirs vary.
    val settings = Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores,
      "spark.local.dir" -> opt("local"),
      "spark.sql.warehouse.dir" -> opt("warehouse"),
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.files.maxPartitionBytes" -> (4 * 1024 * 1024).toString,
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.ui.retainedExecutions" -> "3",
      "spark.ui.retainedJobs" -> "50",
      "spark.ui.retainedStages" -> "100",
      "spark.ui.retainedTasks" -> "1000",
      "spark.cleaner.periodicGC.interval" -> "1min")
    // Inputs registered: every table's schema resolved once through the
    // engine's own loader, as each builder will ask for it.
    def setUp(dir: String): SparkSession = {
      val spark = settings.foldLeft(SparkSession.builder().appName("perfbench-ops")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      graft.Tables.names.filter(n => Files.exists(Paths.get(s"$dir/$n.parquet")))
        .foreach(n => graft.Tables(spark, dir, n).schema)
      spark
    }
    var spark: SparkSession = null
    dataDirs.zipWithIndex.foreach { case (dir, i) =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val n0 = System.nanoTime()
      spark = setUp(dir)
      emit("event" -> "ready", "setup" -> i, "setup_s" -> (System.nanoTime() - n0) / 1e9,
        "settings" -> settings.toMap, "env" -> graft.Bench.envFingerprint())
    }
    if (trace) {
      spark.sparkContext.addSparkListener(new TraceListener())
      spark.listenerManager.register(new TracePlanListener())
    }

    val stdin = new BufferedReader(new InputStreamReader(System.in))
    if (Option(stdin.readLine()).map(_.trim).contains("run")) {
      val builders: Map[String, (SparkSession, String) => DataFrame] =
        graft.SparkEntry.queries + (ThrowingKey -> ((_: SparkSession, _: String) =>
          throw new IllegalStateException("deliberately throwing builder")))
      val oracle = graft.SparkEntry.oracleSql

      def cleanup(): Int = {
        val sc = spark.sparkContext
        val left = sc.getPersistentRDDs.size
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        System.gc()
        left
      }

      def runKey(pass: String, key: String, sink: DataFrame => Unit): Unit = {
        val g0 = Trace.gcMs()
        val t0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        var n1 = n0
        val err =
          try {
            val df = builders.getOrElse(key, throw new NoSuchElementException(s"no such key: $key"))(spark, dataDir)
            n1 = System.nanoTime()
            sink(df)
            None
          } catch { case e: Throwable if NonFatal(e) || e.isInstanceOf[StackOverflowError] =>
            Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}".take(300))
          }
        val n2 = System.nanoTime()
        val t2 = System.currentTimeMillis()
        val gc = Trace.gcMs() - g0
        val left = cleanup()
        emit("event" -> "key", "pass" -> pass, "key" -> key, "ok" -> err.isEmpty,
          "error" -> err.getOrElse(""), "oracle" -> (if (pass == "check") oracle.getOrElse(key, "") else ""),
          "build_s" -> (n1 - n0) / 1e9, "wall_s" -> (n2 - n0) / 1e9,
          "t0" -> t0, "t1" -> (t0 + (n1 - n0) / 1000000L), "t2" -> t2,
          "gc_ms" -> gc, "persisted_left" -> left)
      }

      keys.foreach(k => runKey("check", k, _.write.mode("overwrite").parquet(s"$outDir/$k")))
      val start = System.nanoTime()
      var passes = 0
      while (passes == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
        keys.foreach(k => runKey("timed", k, _.write.format("noop").mode("overwrite").save()))
        passes += 1
      }
      emit("event" -> "done", "passes" -> passes, "rss_peak_mb" -> rssPeakMb(), "gc_ms" -> Trace.gcMs())
    }
    // stop() drains the listener bus, so the trace is complete after it.
    spark.stop()
    if (trace) opt.get("traceOut").foreach(Trace.dump)
  }
}
