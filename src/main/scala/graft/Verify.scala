package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg: comma-separated query names (local iteration
    // on a subset); the driver always calls with exactly two.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Partition-invariance sweeps re-run the full inventory at several
    // shuffle-partition settings without changing the executor count;
    // an ordinary oracle run leaves it unset.
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    // Run shape only: the posture is GraftConf's, the one Bench times.
    val spark = GraftConf.builder("graft-verify", cpus.toInt)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      // Local test files are far below the 128 MB default split size —
      // split aggressively so scans parallelize.
      .config("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
      .getOrCreate()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val (_, scope) = Materialize.scope(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name"))
        scope.release()
        System.gc()
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // Remove any stale output from a previous run so a failure can
        // never masquerade as a pass.
        Scratch.delete(Paths.get(outDir, name))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
