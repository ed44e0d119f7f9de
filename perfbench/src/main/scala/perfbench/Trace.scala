package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the span that was open on the
  * same thread when this one started (0 = none). */
final case class Span(id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long)

/** Spark-side cost of the jobs run under one span's job group. */
final class JobCost {
  var jobs = 0L; var tasks = 0L
  var taskNs = 0L; var gcNs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
  def add(o: JobCost): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskNs += o.taskNs; gcNs += o.gcNs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }
}

/** Span recorder. Spans are kept in memory and summarised when the run
  * ends. With `traced` on, every span also sets a Spark job group so the
  * listener below can charge each job's task time, shuffle, spill and GC
  * to the innermost open span. */
final class Tracer(val traced: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile private var sc: Option[SparkContext] = None
  val listener = new CostListener
  val plans = new PlanListener
  val stream = new StreamListener

  /** Registers the listeners on a (fresh) session. */
  def attach(spark: SparkSession): Unit = {
    sc = Some(spark.sparkContext)
    spark.streams.addListener(stream)
    if (traced) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(plans)
    }
  }

  /** Waits until every listener event posted so far has been handled. */
  def drain(): Unit = sc.foreach(org.apache.spark.PerfbenchBus.drain)

  def span[T](name: String)(f: => T): T = {
    val id = ids.incrementAndGet()
    val stack = open.get
    val parent = stack.headOption.getOrElse(0L)
    open.set(id :: stack)
    if (traced) sc.foreach(_.setJobGroup(id.toString, name))
    val t0 = System.nanoTime()
    try f finally {
      done.add(Span(id, parent, name, t0, System.nanoTime()))
      open.set(stack)
      if (traced) sc.foreach { c =>
        if (parent == 0L) c.clearJobGroup()
        else c.setJobGroup(parent.toString, "")
      }
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  def reset(): Unit = {
    drain(); done.clear(); listener.clear(); plans.clear(); stream.clear()
  }

  /** Wall time minus the part of it the span's children cover. Children
    * of one span run on the span's own thread, so they do not overlap. */
  def selfNs(all: Seq[Span]): Map[Long, Long] = {
    val childNs = all.filter(_.parent != 0L).groupMapReduce(_.parent)(
      s => s.endNs - s.startNs)(_ + _)
    all.map(s => s.id -> math.max(0L,
      s.endNs - s.startNs - childNs.getOrElse(s.id, 0L))).toMap
  }
}

/** Charges task metrics to job groups (span ids) and to streaming batch
  * ids. */
final class CostListener extends SparkListener {
  private val stageOwner = new ConcurrentHashMap[Int, String]()
  val byGroup = new ConcurrentHashMap[String, JobCost]()

  def clear(): Unit = { stageOwner.clear(); byGroup.clear() }

  private def cost(k: String) = byGroup.computeIfAbsent(k, _ => new JobCost)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    // micro-batch jobs inherit the job group of the thread that started
    // the stream, so the batch id is the more specific owner
    val group = props.flatMap(p =>
        Option(p.getProperty("streaming.sql.batchId")).map("batch:" + _))
      .orElse(props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
      .getOrElse("none")
    e.stageInfos.foreach(s => stageOwner.put(s.stageId, group))
    val c = cost(group)
    c.synchronized { c.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val owner = stageOwner.get(e.stageId)
    if (m != null && owner != null) {
      val c = cost(owner)
      c.synchronized {
        c.tasks += 1
        c.taskNs += m.executorRunTime * 1000000L
        c.gcNs += m.jvmGCTime * 1000000L
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Planning time (analysis + optimization + planning phases) and rows
  * read by file scans, per executed query. */
final class PlanListener extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val planMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  val scanRows = new AtomicLong(0)
  def clear(): Unit = { planMs.clear(); scanRows.set(0) }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    planMs.add(Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
    scanRows.addAndGet(collect(qe.executedPlan) {
      case s: FileSourceScanExec =>
        s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum)
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

final case class StreamBatch(id: Long, rows: Long, triggerMs: Long,
    addBatchMs: Long)

/** Per-micro-batch durations from the streaming query's progress. */
final class StreamListener extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[StreamBatch]()
  def clear(): Unit = batches.clear()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala
    // AvailableNow ends with a progress event for a batch that found no
    // new input; it carries no addBatch
    if (p.numInputRows > 0)
      batches.add(StreamBatch(p.batchId, p.numInputRows,
        d.get("triggerExecution").map(_.longValue).getOrElse(0L),
        d.get("addBatch").map(_.longValue).getOrElse(0L)))
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
