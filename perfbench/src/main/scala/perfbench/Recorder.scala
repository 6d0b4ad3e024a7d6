package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for every record: epoch microseconds derived from a single
  * nanoTime base, so harness spans and Spark's millisecond event times
  * line up.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** Highest old-generation occupancy after a collection, over a window.
  * A GC notification listener reads the old-generation pools after every
  * collection, young ones included, while a window is open; closing the
  * window adds one more sample, a full collection at its end.
  */
object HeapPeak {
  private val Closed = -1L
  private val peak = new AtomicLong(Closed)

  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val old = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if Recorder.isOldGen(pool) => u.getUsed }.sum
      peak.getAndUpdate(cur => if (cur == Closed) Closed else math.max(cur, old))
    }

  private lazy val installed: Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }

  def open(): Unit = {
    installed
    peak.set(0L)
  }

  /** Close the window; returns its peak in bytes. */
  def close(): Long = {
    val live = Main.liveOldGenBytes()
    math.max(peak.getAndSet(Closed), live)
  }
}

final case class Span(id: Long, parent: Long, kind: String, name: String, startUs: Long, endUs: Long)

/** Stage-level task metrics, summed over the stage's tasks. */
final class StageRec(val stageId: Int, val details: String) {
  var startUs = 0L
  var endUs = 0L
  var tasks = 0L
  val m: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap(
    "task_ms" -> 0L, "cpu_ms" -> 0L, "gc_ms" -> 0L, "sched_delay_ms" -> 0L,
    "input_bytes" -> 0L, "input_records" -> 0L, "output_bytes" -> 0L,
    "shuffle_write_bytes" -> 0L, "shuffle_write_records" -> 0L,
    "shuffle_read_bytes" -> 0L, "fetch_wait_ms" -> 0L, "spill_bytes" -> 0L)
}

final class JobRec(val jobId: Int, val span: Long, val execId: Long,
    val startUs: Long, val stageIds: Seq[Int]) {
  var endUs = 0L
}

/** Everything the benchmark observes from outside the program: its own
  * spans around calls into the library, plus Spark's public listener
  * APIs (`SparkListener`, `QueryExecutionListener`,
  * `StreamingQueryListener`).
  *
  * Jobs are parented through the [[Recorder.SpanKey]] local property,
  * which the harness sets on its own threads around each span; Spark
  * copies local properties into every job a thread submits (broadcasts
  * and subqueries included).
  *
  * Without tracing it keeps only the executor CPU counter and the
  * streaming progress (the freshness clock needs each batch's row count).
  */
class Recorder(val trace: Boolean) extends SparkListener {
  import Recorder._

  private val nextSpan = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  val cpuNs = new AtomicLong(0)
  val hookNs = new AtomicLong(0)
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  val plans = mutable.ArrayBuffer.empty[Map[String, Long]]
  val execPlans = mutable.LinkedHashMap.empty[Long, Map[String, Long]]
  val progress = new ConcurrentLinkedQueue[Map[String, Long]]()

  // ---- harness spans -------------------------------------------------

  def newId(): Long = nextSpan.getAndIncrement()

  /** Run `body` as span `kind/name` under `parent`: jobs submitted by
    * this thread meanwhile carry the span's id. Returns the result and
    * the span's duration in nanoseconds.
    */
  def span[T](spark: SparkSession, parent: Long, kind: String, name: String)
      (body: Long => T): (T, Long) = {
    val sc = spark.sparkContext
    val id = newId()
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = System.nanoTime()
    val s0 = Clock.nowUs
    try {
      val r = body(id)
      (r, System.nanoTime() - t0)
    } finally {
      if (trace) spans.add(Span(id, parent, kind, name, s0, Clock.nowUs))
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  def addSpan(s: Span): Unit = if (trace) spans.add(s)

  // ---- SparkListener -------------------------------------------------

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    hookNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (trace) timed {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    synchronized {
      jobs(e.jobId) = new JobRec(e.jobId,
        prop(SpanKey).map(_.toLong).getOrElse(0L),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        e.time * 1000L, e.stageIds)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (trace) timed {
    synchronized { jobs.get(e.jobId).foreach(_.endUs = e.time * 1000L) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (trace) timed {
    val info = e.taskInfo
    val tm = e.taskMetrics
    if (info != null && tm != null) {
      val delay = math.max(0L, info.finishTime - info.launchTime - tm.executorRunTime -
        tm.executorDeserializeTime - tm.resultSerializationTime - info.gettingResultTime)
      synchronized {
        stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
          s.m("sched_delay_ms") += delay
          s.tasks += 1
        }
      }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (trace) timed {
    val i = e.stageInfo
    synchronized {
      val s = new StageRec(i.stageId, i.details)
      s.startUs = i.submissionTime.getOrElse(0L) * 1000L
      stages((i.stageId, i.attemptNumber())) = s
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val i = e.stageInfo
    val tm = i.taskMetrics
    if (tm != null) cpuNs.addAndGet(tm.executorCpuTime)
    if (trace && tm != null) synchronized {
      stages.get((i.stageId, i.attemptNumber())).foreach { s =>
        s.endUs = i.completionTime.getOrElse(0L) * 1000L
        s.m("task_ms") += tm.executorRunTime
        s.m("cpu_ms") += tm.executorCpuTime / 1000000L
        s.m("gc_ms") += tm.jvmGCTime
        s.m("input_bytes") += tm.inputMetrics.bytesRead
        s.m("input_records") += tm.inputMetrics.recordsRead
        s.m("output_bytes") += tm.outputMetrics.bytesWritten
        s.m("shuffle_write_bytes") += tm.shuffleWriteMetrics.bytesWritten
        s.m("shuffle_write_records") += tm.shuffleWriteMetrics.recordsWritten
        s.m("shuffle_read_bytes") += tm.shuffleReadMetrics.totalBytesRead
        s.m("fetch_wait_ms") += tm.shuffleReadMetrics.fetchWaitTime
        s.m("spill_bytes") += tm.memoryBytesSpilled + tm.diskBytesSpilled
      }
    }
  }

  /** Node counts of each SQL execution's physical plan: the plan at
    * its start, replaced by every adaptive re-plan, so the last one is
    * the final adaptive plan.
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = if (trace) timed {
    e match {
      case s: SparkListenerSQLExecutionStart => synchronized { execPlans(s.executionId) = nodeCounts(s.sparkPlanInfo) }
      case u: SparkListenerSQLAdaptiveExecutionUpdate => synchronized { execPlans(u.executionId) = nodeCounts(u.sparkPlanInfo) }
      case _ =>
    }
  }

  // ---- QueryExecutionListener ----------------------------------------

  /** Planning time (analysis, optimization, physical planning) of every
    * query execution, with when it started.
    */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (trace) timed { record(qe) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (trace) timed { record(qe) }
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    val r = Map(
      "plan_ms" -> phases.map(_.durationMs).sum,
      "start_us" -> phases.map(_.startTimeMs).minOption.getOrElse(0L) * 1000L)
    synchronized { plans += r }
  }

  // ---- StreamingQueryListener ----------------------------------------

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      progress.add(d ++ Map(
        "batch_id" -> p.batchId,
        "rows" -> p.numInputRows,
        "end_us" -> java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L))
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }
}

object Recorder {
  val SpanKey = "perfbench.span"

  def isOldGen(pool: String): Boolean =
    pool.contains("Old Gen") || pool.contains("Tenured") || pool.contains("Old Space")

  /** Exchanges, broadcasts and scans of a plan, subqueries and adaptive
    * query stages included; a reused exchange or subquery is not
    * entered, so its work is counted once.
    */
  def nodeCounts(root: SparkPlanInfo): Map[String, Long] = {
    def nodes(n: SparkPlanInfo): Seq[SparkPlanInfo] =
      n +: (if (n.nodeName.startsWith("Reused")) Seq.empty else n.children.flatMap(nodes))
    val all = nodes(root)
    Map(
      "exchanges" -> all.count(_.nodeName == "Exchange").toLong,
      "broadcasts" -> all.count(_.nodeName == "BroadcastExchange").toLong,
      "scans" -> all.count(n => n.nodeName.startsWith("Scan ") || n.nodeName.startsWith("BatchScan")).toLong)
  }
}
