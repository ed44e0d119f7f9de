package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Shared harness: sessions, the measured window, heap sampling and the
  * metric record every workload reports. */
abstract class Workload(val a: Args) {
  /** `local[n]` and shuffle partitions, sized for a 4-core machine. */
  val cores = 4
  val tracer = new Tracer(a.traced)
  val res = new Result
  protected var spark: SparkSession = _
  private var sessions = 0

  /** Latency of each measured operation, ms. */
  protected val opMs = mutable.ArrayBuffer.empty[Double]
  /** Wall seconds of each set-up. */
  protected val setupS = mutable.ArrayBuffer.empty[Double]
  /** Seconds of wall time the measured operations span. */
  protected var busyS = 0.0
  protected var silverBytes = 0.0
  private var heapPeak = 0.0

  /** Runs the workload and fills in `res`. */
  def run(): Result

  def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  /** A fresh SparkSession over a fresh silver directory, so nothing an
    * earlier session built is visible to it. Returns the silver dir. */
  protected def freshSession(): String = {
    stopSession()
    sessions += 1
    val silver = s"${a.work}/s$sessions/silver"
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("graft.silver.dir", silver)
      .config("graft.silver.reuse", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark)
    silver
  }

  private val phases = mutable.ArrayBuffer.empty[(String, Double)]
  /** Wall seconds of each phase of the run, in order, for the report. */
  protected def phase[T](name: String)(f: => T): T = {
    val (v, s) = time(f)
    phases += name -> s
    v
  }

  protected def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  protected def deadline(): Long =
    System.nanoTime() + (a.seconds * 1e9).toLong

  private val heapSamples = mutable.ArrayBuffer.empty[Double]
  /** Heap in use after a full collection: the live set. The second
    * collection takes what Spark's cleaner released after the first. */
  protected def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    heapSamples += mx.getHeapMemoryUsage.getUsed / 1e6
    heapPeak = heapSamples.max
  }

  protected def dirBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else f.length
    walk(new File(path))
  }

  /** Counts one operation; a thrown exception is a failed operation. */
  protected def attempt[T](what: String)(f: => T): Option[T] = {
    res.attempted += 1
    try Some(f) catch { case t: Throwable =>
      res.fail(s"$what: $t")
      None
    }
  }

  /** The end-to-end metrics (every workload reports the same set) and,
    * when traced, the per-layer metrics. */
  protected def finish(ops: Int, layers: => Map[String, Double]): Result = {
    res.metrics("op_p50_ms") = Stats.median(opMs.toSeq)
    res.metrics("ops_per_s") = if (busyS > 0) ops / busyS else 0.0
    res.metrics("setup_s") = Stats.median(setupS.toSeq)
    res.metrics("live_heap_mb") = heapPeak
    res.metrics("silver_mb") = silverBytes / 1e6
    res.details("ops") = ops
    res.details("op_ms") = opMs.toSeq
    res.details("op_p90_ms") = Stats.quantile(opMs.toSeq, 0.9)
    res.details("setup_s_samples") = setupS.toSeq
    res.details("live_heap_mb_samples") = heapSamples.toSeq
    res.details("phases_s") = phases.toSeq.map { case (k, v) => s"$k=$v" }
    if (a.traced) {
      val l = layers
      Layers.names.foreach(n => res.metrics(n) = l.getOrElse(n, 0.0))
      res.metrics("trace.op_p50_ms") = res.metrics("op_p50_ms")
    }
    res
  }

  /** The spans named `prefix` or `prefix.*`, and the Spark cost charged
    * to them. */
  protected def spansOf(prefix: String): (Seq[Span], JobCost) = {
    val mine = tracer.spans.filter(s =>
      s.name == prefix || s.name.startsWith(prefix + "."))
    val c = new JobCost
    mine.foreach(s => Option(tracer.listener.byGroup.get(s.id.toString))
      .foreach(c.add))
    (mine, c)
  }

  /** Per-op averages of span wall/self time and Spark cost for every span
    * `spansOf(prefix)` finds, as `<key>.<field>` metrics. */
  protected def spanMetrics(key: String, prefix: String, ops: Int,
      fields: Seq[String] = Layers.fullFields): Map[String, Double] = {
    val self = tracer.selfNs(tracer.spans)
    val (mine, c) = spansOf(prefix)
    val n = math.max(ops, 1).toDouble
    val wall = mine.map(s => s.endNs - s.startNs).sum / 1e9 / n
    spanCost(key, wall, mine.map(s => self(s.id)).sum / 1e9 / n, c, n, fields)
  }

  protected def spanCost(key: String, wallS: Double, selfS: Double,
      c: JobCost, n: Double, fields: Seq[String]): Map[String, Double] = {
    val taskS = c.taskNs / 1e9 / n
    val all = Map(
      "wall_s" -> wallS, "self_s" -> selfS, "task_s" -> taskS,
      "core_util" -> (if (wallS > 0) taskS / (wallS * cores) else 0.0),
      "shuffle_bytes" -> c.shuffleBytes / n,
      "spill_bytes" -> c.spillBytes / n,
      "gc_s" -> c.gcNs / 1e9 / n)
    fields.map(f => s"$key.$f" -> all(f)).toMap
  }
}

/** The per-layer metric names, in the order BENCHMARK.json lists them
  * (it adds `live_heap_mb`, which every run reports). Every traced run
  * reports all of them; a layer a workload does not run reports 0. */
object Layers {
  val fullFields = Seq("wall_s", "self_s", "task_s", "core_util",
    "shuffle_bytes", "spill_bytes", "gc_s")
  val fullSpans = Seq("plans.simulate", "plans.assemble",
    "classifier.classify", "classifier.action_accounts",
    "operators.query_layer", "streaming.batch")
  val endpoints = Seq("transactions", "hydrate", "actions", "traces",
    "messages", "account_states")
  val similarityParts = Seq("ann_truth", "ann_lsh", "ann_ivf",
    "ann_kmeans_train", "ann_ivf_kmeans", "ann_quantize", "ann_exact_pairs",
    "ann_semdedup")
  val curationEntries = Seq(
    "d11" -> "d11_minhash_lsh_pairs", "d14" -> "d14_dedup_clusters",
    "d21" -> "d21_bpe_merges", "d30" -> "d30_curation_pipeline",
    "e09" -> "e09_semantic_dedup", "t02" -> "t02_bm25_postings",
    "m08" -> "m08_image_neardup")
  val curationSpans: Seq[String] =
    similarityParts.map("operators.similarity." + _) ++
      Seq("operators.dedup.shingles", "operators.dedup.jacc_pairs",
        "operators.multimodal.phash", "operators.multimodal.audio",
        "operators.multimodal.video") ++
      curationEntries.map("curation." + _._1)

  val names: Seq[String] =
    fullSpans.flatMap(s => fullFields.map(f => s"$s.$f")) ++
      Seq("plans.traces_out", "classifier.actions_out") ++
      endpoints.map(e => s"operators.query_layer.$e.p50_ms") ++
      Seq("operators.query_layer.plan_ms_p50",
        "operators.query_layer.scan_rows_per_result",
        "spark.jobs_per_request", "spark.tasks_per_request",
        "streaming.add_batch_ms_p50", "streaming.overhead_ms_p50",
        "streaming.jobs_per_batch", "streaming.state_bytes") ++
      curationSpans.flatMap(s => Seq(s"$s.wall_s", s"$s.task_s")) ++
      Seq("op.self_s", "trace.op_p50_ms")
}
