package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.classifier.ClassifyJob
import graft.plans.ChainSim
import graft.streaming.StreamPipeline

/** Committed expectations (expected.json), as strings. */
object Expected {
  def load(path: String): Map[String, String] =
    Json.mapper.readValue(new java.io.File(path), classOf[Map[String, Any]])
      .map { case (k, v) => k -> v.toString }
}

/** Six QueryLayer endpoint shapes, served to a closed loop of two
  * clients over silver that set-up builds with the batch ingest chain
  * (simulate → assemble → classify → action accounts). An untimed
  * warm-up ingest in a throwaway session runs first; then each set-up
  * opens a fresh session over a fresh silver dir and times the ingest
  * alone, so set-up time is the warm batch ingest time. Traced runs then also run
  * the corpus curation in the same session (`curation()`). */
final class ApiReads(a0: Args) extends Workload(a0) {
  private val setups = 2
  private val clients = 2
  /** Untimed requests before the window. The Catalyst and QueryLayer code
    * each request runs is compiled by the JIT only after many calls: with
    * one warm-up request per shape, latency still fell by a third from the
    * first to the last third of a 10 s window. */
  private val warmupRequests = 60
  private val sloMs = 3000.0
  private val sampleEvery = 16
  private val expected = Expected.load(a.expected)

  private var txs: DataFrame = _
  private var txw: DataFrame = _
  private var msgs: DataFrame = _
  private var traces: DataFrame = _
  private var actions: DataFrame = _
  private var bridge: DataFrame = _
  private var states: DataFrame = _

  /** The batch ingest chain into the session's `silver` dir: the timed
    * part of a set-up. */
  private def ingest(silver: String): Unit = {
    val data = a.data
    tracer.span("setup") {
      val (t, m) = tracer.span("plans.simulate") { ChainSim.simulate(spark, data) }
      val (tr, _, w) =
        tracer.span("plans.assemble") { ChainSim.assembled(spark, data) }
      val acts =
        tracer.span("classifier.classify") { ChainSim.classified(spark, data) }
      tracer.span("classifier.action_accounts") {
        ClassifyJob.actionAccounts(spark, acts)
          .write.parquet(s"$silver/action_accounts")
      }
      txs = t; msgs = m; traces = tr; txw = w; actions = acts
    }
  }

  /** The account-states dim the accountStates endpoint reads, and the
    * views the SQL restatements read. */
  private def serve(silver: String): Unit = {
    graft.Tables.customer(spark, a.data).select(
        concat(lit("0:"), col("c_custkey").cast("string")).as("account"),
        col("c_mktsegment").as("code_hash"),
        col("c_acctbal").as("balance"))
      .write.parquet(s"$silver/account_states")
    bridge = spark.read.parquet(s"$silver/action_accounts")
    states = spark.read.parquet(s"$silver/account_states")
    Seq("txs" -> txs, "txw" -> txw, "msgs" -> msgs, "traces" -> traces,
      "actions" -> actions, "bridge" -> bridge, "states" -> states)
      .foreach { case (n, df) => df.createOrReplaceTempView(n) }
  }

  /** Trace count, action count and per-type histogram of the ingest:
    * fixed by the base data set, the same for every seed. */
  private def checkIngest(): Unit = {
    res.attempted += 1
    val hist = actions.groupBy("type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Map("ingest.traces" -> traces.count().toString,
      "ingest.actions" -> hist.values.sum.toString) ++
      hist.map { case (t, n) => s"ingest.type.$t" -> n.toString }
    val want = expected.filter(_._1.startsWith("ingest."))
    res.details("ingest_observed") = got
    if (got != want) res.fail(s"ingest output $got != expected $want")
  }

  /** Per-set-up figures of the ingest layers, read before the request
    * window resets the tracer. */
  private def ingestLayers(): Map[String, Double] = if (!a.traced) Map.empty
    else {
      tracer.drain()
      Seq("plans.simulate", "plans.assemble", "classifier.classify",
        "classifier.action_accounts").flatMap(s => spanMetrics(s, s, setups))
        .toMap ++ Map(
        "plans.traces_out" -> traces.count().toDouble,
        "classifier.actions_out" -> actions.count().toDouble)
    }

  def run(): Result = {
    // the first session in a JVM runs three to four times slower
    phase("warmup_ingest")(ingest(freshSession()))
    tracer.reset()
    var silver = ""
    (1 to setups).foreach { i =>
      silver = freshSession()
      setupS += phase(s"setup$i")(time(ingest(silver))._2)
    }
    silverBytes = dirBytes(silver).toDouble
    phase("serve")(serve(silver))
    phase("gc")(sampleHeap())
    phase("check_ingest")(checkIngest())
    val ingestMetrics = ingestLayers()
    val accounts = txs.select("account").distinct().collect()
      .map(_.getString(0)).sorted.toIndexedSeq
    val custs = states.select("account").collect().map(_.getString(0))
      .sorted.toIndexedSeq
    val maxNow = txs.agg(max("now")).head().getInt(0).toLong
    val reqs = phase("draw")(Requests.draw(a.seed, accounts, custs, maxNow, 20000))
    // the warm-up takes its requests from the end of the stream, which the
    // window does not reach
    val warmNext = new java.util.concurrent.atomic.AtomicInteger(0)
    phase("warmup") {
      val ts = (0 until clients).map(_ => new Thread(() => {
        var i = warmNext.getAndIncrement()
        while (i < warmupRequests) {
          scala.util.Try(Requests.execute(reqs(reqs.size - 1 - i), txs, txw,
            msgs, traces, actions, bridge, states).collect())
          i = warmNext.getAndIncrement()
        }
      }))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    tracer.reset()

    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    val sampled = new java.util.concurrent.ConcurrentLinkedQueue[(Request, Seq[Row])]()
    val resultRows = new java.util.concurrent.atomic.AtomicLong(0)
    // request index -> first failure seen for it
    val failures = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val errors = new java.util.concurrent.atomic.AtomicLong(0)
    val slow = new java.util.concurrent.atomic.AtomicLong(0)
    val end = deadline()
    val t0 = System.nanoTime()
    val lastEnd = new java.util.concurrent.atomic.AtomicLong(t0)
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (System.nanoTime() < end && i < reqs.size) {
          val r = reqs(i)
          val s0 = System.nanoTime()
          val rows = try Some(tracer.span("op") {
            tracer.span(s"operators.query_layer.${r.shape}") {
              Requests.execute(r, txs, txw, msgs, traces, actions, bridge,
                states).collect().toSeq
            }
          }) catch { case t: Throwable =>
            errors.incrementAndGet(); failures.putIfAbsent(i, s"$r: $t"); None
          }
          val now = System.nanoTime()
          lastEnd.accumulateAndGet(now, math.max)
          rows.foreach { rs =>
            val ms = (now - s0) / 1e6
            if (ms > sloMs) slow.incrementAndGet()
            lat.add(r.shape -> ms)
            resultRows.addAndGet(rs.size)
            Requests.validate(r, rs).foreach(e => failures.putIfAbsent(i, s"$r: $e"))
            if (i % sampleEvery == 0) sampled.add(r -> rs)
          }
          i = next.getAndIncrement()
        }
      })
    }
    phase("window") { threads.foreach(_.start()); threads.foreach(_.join()) }
    tracer.drain()
    import scala.jdk.CollectionConverters._
    val done = lat.size
    busyS = (lastEnd.get - t0) / 1e9
    lat.forEach(x => opMs += x._2)
    // layer figures are read before the SQL restatements below add queries
    val layers = ingestMetrics ++ requestLayers(done, resultRows.get, lat.asScala.toSeq)
    // sampled responses against a plain Spark SQL restatement, untimed
    phase("sql_checks")(sampled.forEach { case (r, rs) =>
      val got = rs.map(Requests.key(r, _))
      val want = Requests.restated(spark, r).map(Requests.key(r, _))
      if (got != want) failures.putIfAbsent(r.id,
        s"$r: response ${got.take(3)} != SQL ${want.take(3)}")
    })
    res.attempted += done + errors.get
    failures.values.asScala.foreach(res.fail)
    res.details("requests") = done
    res.details("sampled_sql_checks") = sampled.size
    res.details("slo_miss_ratio") =
      (slow.get + errors.get).toDouble / math.max(1L, res.attempted)
    res.details("p50_ms_by_endpoint") = lat.asScala.toSeq.groupBy(_._1)
      .map { case (k, v) => k -> Stats.median(v.map(_._2)) }
    sampleHeap()
    finish(done, layers ++ (if (a.traced) curation() else Map.empty))
  }

  /** The corpus half of the engine, run in traced runs only so that its
    * layers are measured (it adds no end-to-end figure): the shared ANN,
    * dedup and media silvers, then one pass over the registered curation
    * entries that read them. Each entry's output hash must match the
    * committed one; the seed only permutes the corpus tables' row order,
    * so the hashes hold for every seed. */
  private def curation(): Map[String, Double] = {
    val d = a.data
    tracer.reset()
    phase("curation") {
      val silvers = Seq[(String, () => Unit)](
          "operators.dedup.shingles" ->
            (() => { graft.PerfbenchAccess.shingled(spark, d).count(); () }),
          "operators.dedup.jacc_pairs" ->
            (() => { graft.PerfbenchAccess.repJaccardPairs(spark, d).count(); () }),
          "operators.multimodal.phash" ->
            (() => { graft.operators.Multimodal.phashSilver(spark, d).count(); () }),
          "operators.multimodal.audio" ->
            (() => { graft.operators.Multimodal.audioFpSilver(spark, d).count(); () }),
          "operators.multimodal.video" ->
            (() => { graft.operators.Multimodal.videoFpSilver(spark, d).count(); () })) ++
        graft.operators.Similarity.sharedSilverParts.map { case (n, f) =>
          s"operators.similarity.$n" -> (() => f(spark, d)) }
      val results = attempt("curation") {
        silvers.foreach { case (name, build) => tracer.span(name)(build()) }
        Layers.curationEntries.map { case (short, name) =>
          name -> tracer.span(s"curation.$short") {
            graft.SparkEntry.queries(name)(spark, d).collect().toSeq }
        }
      }
      results.foreach { rs =>
        val errors = rs.flatMap { case (name, rows) =>
          val h = Hashes.of(rows)
          res.details(s"hash.$name") = h
          res.details(s"rows.$name") = rows.size
          if (expected.get(s"curation.$name").contains(h)) None
          else Some(s"$name hash $h != expected " +
            expected.getOrElse(s"curation.$name", "none"))
        }
        if (errors.nonEmpty) res.fail(errors.mkString("; "))
      }
    }
    tracer.drain()
    Layers.curationSpans.flatMap(s =>
      spanMetrics(s, s, 1, Seq("wall_s", "task_s"))).toMap
  }

  private def requestLayers(n: Int, rows: Long, lat: Seq[(String, Double)])
      : Map[String, Double] = if (!a.traced) Map.empty else {
    import scala.jdk.CollectionConverters._
    val byShape = lat.groupBy(_._1)
    val q = spanMetrics("operators.query_layer", "operators.query_layer", n)
    val (_, c) = spansOf("operators.query_layer")
    q ++ Layers.endpoints.map(e => s"operators.query_layer.$e.p50_ms" ->
        Stats.median(byShape.getOrElse(e, Nil).map(_._2))).toMap ++
      Map(
        "operators.query_layer.plan_ms_p50" ->
          Stats.median(tracer.plans.planMs.asScala.toSeq),
        "operators.query_layer.scan_rows_per_result" ->
          tracer.plans.scanRows.get.toDouble / math.max(1L, rows),
        "spark.jobs_per_request" -> c.jobs.toDouble / math.max(n, 1),
        "spark.tasks_per_request" -> c.tasks.toDouble / math.max(n, 1)) ++
      spanMetrics("op", "op", n, Seq("self_s"))
  }
}

/** Catch-up streaming over the simulated chain: set-up stages the seeded
  * lt cuts as one parquet file each before the stream starts; one measured
  * pass is `StreamPipeline.runAvailable` draining them one file per
  * micro-batch, the reference's catch-up mode (IndexScheduler.cpp:210-239).
  * A micro-batch is one operation. An untimed warm-up set-up and a
  * one-batch pass run first in a throwaway session, so the timed set-ups
  * and batches are warm. The streamed actions must equal a batch classify
  * of the same input. */
final class StreamCatchup(a0: Args) extends Workload(a0) {
  private val setups = 2
  private val files = 4
  private var txs: DataFrame = _
  private var msgs: DataFrame = _
  private var root: String = _

  /** Simulates the chain into the session's `silver` dir and stages it in
    * `files` lt cuts, each inner cut moved by up to ±20 % of a file's lt
    * span by the seed. */
  private def setup(silver: String, files: Int): Unit = {
    val (t, m) = ChainSim.simulate(spark, a.data)
    txs = t; msgs = m
    root = s"$silver/../stream"
    val rows = StreamPipeline.toInputRows(txs, msgs).localCheckpoint()
    val maxLt = txs.agg(max("lt")).head().getLong(0) + 1
    // the multiplier spreads consecutive seeds apart: java.util.Random's
    // first draw is nearly the same for seeds 1, 2, 3, ...
    val rng = new scala.util.Random(a.seed * 0x9E3779B97F4A7C15L)
    val step = maxLt.toDouble / files
    val cuts = 0L +: (1 until files).map(i =>
      (step * (i + 0.4 * (rng.nextDouble() - 0.5))).toLong) :+ Long.MaxValue
    res.details("lt_cuts") = cuts.init.tail
    // increasing modification times: the file source takes files in that
    // order, which is lt order
    val t0 = System.currentTimeMillis() - 3600000L
    cuts.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      val tmp = s"$root/tmp$i"
      rows.filter(col("lt") >= lo && col("lt") < hi).coalesce(1)
        .write.parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      new java.io.File(s"$root/stage").mkdirs()
      val dst = new java.io.File(f"$root/stage/chunk$i%03d.parquet")
      java.nio.file.Files.copy(f.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 1000L)
    }
  }

  private def pass(p: Int): String = {
    StreamPipeline.runAvailable(spark, s"$root/stage", s"$root/ck$p",
      s"$root/out$p")
    s"$root/out$p"
  }

  private def actionSet(df: DataFrame): Set[Seq[Any]] =
    df.select("trace_id", "action_id", "type", "start_lt")
      .collect().map(_.toSeq).toSet

  def run(): Result = {
    import scala.jdk.CollectionConverters._
    phase("warmup") {
      setup(freshSession(), 1)
      pass(0)
    }
    (1 to setups).foreach { i =>
      val silver = freshSession()
      setupS += phase(s"setup$i")(time(setup(silver, files))._2)
    }
    phase("gc")(sampleHeap())
    tracer.reset()
    val (out, secs) = phase("pass")(time(attempt("stream pass")(pass(1))))
    busyS = secs
    tracer.drain()
    val batches = tracer.stream.batches.asScala.toSeq
    batches.foreach(b => opMs += b.triggerMs.toDouble)
    res.details("batches") = batches.size
    res.details("rows_per_s") =
      batches.map(_.rows).sum / math.max(batches.map(_.triggerMs).sum / 1e3, 1e-9)
    out.foreach(o => silverBytes = dirBytes(o).toDouble)
    val layers = if (!a.traced) Map.empty[String, Double] else {
      val n = math.max(batches.size, 1).toDouble
      val c = new JobCost
      tracer.listener.byGroup.asScala.filter(_._1.startsWith("batch:"))
        .values.foreach(c.add)
      val wall = batches.map(_.triggerMs).sum / 1e3 / n
      spanCost("streaming.batch", wall, wall, c, n, Layers.fullFields) ++ Map(
        "streaming.add_batch_ms_p50" ->
          Stats.median(batches.map(_.addBatchMs.toDouble)),
        "streaming.overhead_ms_p50" ->
          Stats.median(batches.map(b => (b.triggerMs - b.addBatchMs).toDouble)),
        "streaming.jobs_per_batch" -> c.jobs / n,
        "streaming.state_bytes" ->
          dirBytes(s"$root/ck1/tastate").toDouble)
    }
    // the streamed actions must equal a batch classify of the same input
    val (_, _, txw) = ChainSim.assembled(spark, a.data)
    val want = phase("batch_classify")(
      actionSet(ClassifyJob.run(spark, txw, msgs).toDF()))
    out.foreach { o =>
      val got = actionSet(spark.read.parquet(s"$o/actions"))
      if (got != want) res.fail(s"streamed ${got.size} actions != batch " +
        s"${want.size}; missing=${(want -- got).take(3)}")
    }
    res.details("actions") = want.size
    sampleHeap()
    finish(batches.size, layers)
  }
}

/** Order-sensitive hash of a result: values are rendered with doubles
  * rounded to 9 significant digits, so summation order cannot flip it. */
object Hashes {
  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => "%.9g".formatLocal(java.util.Locale.ROOT, d)
    case f: Float => "%.6g".formatLocal(java.util.Locale.ROOT, f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }
        .sorted.mkString("{", ",", "}")
    case o => o.toString
  }
  def of(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((render(r) + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}
