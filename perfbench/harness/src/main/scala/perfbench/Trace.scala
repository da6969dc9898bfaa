package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of what Spark did, one JSON object per event, written
  * out once when the JVM exits (or when [[Trace.dump]] is called).
  *
  * Every record carries epoch-millisecond times, so the benchmark can
  * attribute events to the requests or keys whose time windows contain
  * them. Only public listener APIs are used; nothing here changes how a
  * query runs.
  *
  * Record kinds (field `k`):
  *  - `job+` / `job-`: a job started (with its stage count) / ended;
  *  - `stage`: submission/completion;
  *  - `task`: launch/finish, run time, GC, shuffle write, input rows and
  *    bytes, bytes written, spill;
  *  - `exec+` / `exec-`: a SQL execution started / ended;
  *  - `aqe`: one adaptive re-plan;
  *  - `plan`: analysis/optimization/planning ms of one finished query;
  *  - `rdd+` / `rdd-`: an RDD first stored a block / was unpersisted;
  *  - `gc`: the JVM's cumulative collector time, sampled at job end.
  */
object Trace {
  private val records = new ConcurrentLinkedQueue[String]()
  private val seenRdds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val dumped = new AtomicBoolean(false)

  /** Where the records go at exit; unset means "keep them in memory". */
  def outPath: Option[String] = sys.props.get("perfbench.trace.out")

  private[perfbench] def add(kind: String, fields: (String, Any)*): Unit = {
    val sb = new StringBuilder("{\"k\":\"").append(kind).append('"')
    fields.foreach { case (name, v) =>
      sb.append(",\"").append(name).append("\":")
      v match {
        case s: String => sb.append('"').append(s.replace("\\", "\\\\").replace("\"", "\\\"")).append('"')
        case b: Boolean => sb.append(b)
        case x => sb.append(x.toString)
      }
    }
    records.add(sb.append('}').toString)
    ()
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private[perfbench] def rddStored(id: Int): Unit =
    if (seenRdds.add(id)) add("rdd+", "t" -> System.currentTimeMillis(), "id" -> id)

  private[perfbench] def rddDropped(id: Int): Unit =
    if (seenRdds.remove(id)) add("rdd-", "t" -> System.currentTimeMillis(), "id" -> id)

  /** Write every record (one per line) to `path`; only the first call writes. */
  def dump(path: String): Unit =
    if (dumped.compareAndSet(false, true)) {
      val body = records.asScala.mkString("", "\n", "\n")
      Files.write(Paths.get(path), body.getBytes(UTF_8))
      ()
    }

  // Installed when the first listener is built: the server child never
  // stops its SparkContext itself, so JVM exit is the one reliable point.
  private lazy val hook: Unit = outPath.foreach { p =>
    Runtime.getRuntime.addShutdownHook(new Thread(() => dump(p), "perfbench-trace-dump"))
  }
  private[perfbench] def installHook(): Unit = hook
}

/** Job, stage, task, SQL-execution and storage events. Attach with
  * `spark.extraListeners=perfbench.TraceListener`, or add it to a live
  * SparkContext.
  */
class TraceListener extends SparkListener {
  Trace.installHook()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Trace.add("job+", "id" -> e.jobId, "t" -> e.time, "stages" -> e.stageInfos.size)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Trace.add("job-", "id" -> e.jobId, "t" -> e.time)
    Trace.add("gc", "t" -> System.currentTimeMillis(), "ms" -> Trace.gcMs())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    Trace.add("stage", "id" -> i.stageId,
      "t0" -> i.submissionTime.getOrElse(0L), "t1" -> i.completionTime.getOrElse(0L),
      "tasks" -> i.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val m = e.taskMetrics
    if (m == null) Trace.add("task", "t0" -> info.launchTime, "t1" -> info.finishTime, "ok" -> false)
    else Trace.add("task",
      "t0" -> info.launchTime, "t1" -> info.finishTime,
      "ok" -> (e.reason == Success),
      "run" -> m.executorRunTime, "gc" -> m.jvmGCTime,
      "sw" -> m.shuffleWriteMetrics.bytesWritten,
      "ir" -> m.inputMetrics.recordsRead, "br" -> m.inputMetrics.bytesRead,
      "bw" -> m.outputMetrics.bytesWritten,
      "sp" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    b.blockId.asRDDId.foreach { r => if (b.storageLevel.isValid) Trace.rddStored(r.rddId) }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = Trace.rddDropped(e.rddId)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => Trace.add("exec+", "id" -> s.executionId, "t" -> s.time)
    case s: SparkListenerSQLExecutionEnd => Trace.add("exec-", "id" -> s.executionId, "t" -> s.time)
    case _: SparkListenerSQLAdaptiveExecutionUpdate => Trace.add("aqe", "t" -> System.currentTimeMillis())
    case _ =>
  }
}

/** Catalyst phase times of every finished query. Attach with
  * `spark.sql.queryExecutionListeners=perfbench.TracePlanListener`.
  */
class TracePlanListener extends QueryExecutionListener {
  Trace.installHook()

  private def record(qe: QueryExecution, ok: Boolean): Unit = {
    val ph = qe.tracker.phases
    def ms(name: String): Long = ph.get(name).map(_.durationMs).getOrElse(0L)
    Trace.add("plan", "t" -> System.currentTimeMillis(), "ok" -> ok,
      "analysis" -> ms("analysis"), "optimization" -> ms("optimization"), "planning" -> ms("planning"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe, ok = false)
}
