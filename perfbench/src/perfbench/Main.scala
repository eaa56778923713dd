package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.Bench
import graft.streaming.{DepthRecord, Pipelines, Runner, SyncLogic}

final class Layers(spark: SparkSession) {
  val exec = new ExecLayer(spark)
  val catalyst = new CatalystLayer(spark)
  val stream = new StreamLayer(spark)
}

/** What one workload run measured. `metrics` holds every metric the
  * run could measure; the caller keeps the ones its mode reports. */
final case class Outcome(attempted: Long, failed: Long,
    metrics: Seq[(String, Double)], notes: Seq[(String, Any)] = Nil)

/** JVM side of the benchmark: runs one workload and prints one JSON
  * line. Usage:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> [dataDir]` */
object Main {
  val TradeRate = 2000
  val DepthRate = 200
  val BacklogTrades = 35000
  val BacklogDepth = 7000
  val UnitS = 3.0

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, data: String)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      Paths.get(argv(4)).toAbsolutePath, argv.lift(5).orNull)
    val loadBefore = loadAvg()
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = session(cores, a.work)
    val layers = new Layers(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(a.trace, s"${a.workload}-${a.seed}-${System.currentTimeMillis()}")
    val run = new Run(spark, a, layers, tracer, cores)
    val out = a.workload match {
      case "train" => run.train()
      case "live_ingest" => run.liveIngest(sessionS)
      case "backlog_catchup" => run.backlogCatchup(sessionS)
      case w if Batch.Families.contains(w) => run.batch(sessionS)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val metrics = out.metrics :+ ("peak_rss_mb" -> peakRssMb())
    if (a.trace) tracer.write(a.work.resolve("spans.jsonl"))
    val host = Json.obj(
      "nproc" -> cores,
      "mem_total_kb" -> memTotalKb(),
      "loadavg_before" -> loadBefore,
      "loadavg_after" -> loadAvg(),
      "jvm_heap" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filter(_.startsWith("-Xm")).mkString(" "),
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "extensions" -> spark.conf.get("spark.sql.extensions"))
    val self = tracer.selfMs.map { case (n, ms, c) =>
      n -> Json.Raw(Json.obj("self_ms" -> ms, "spans" -> c))
    }.toMap
    val line = Json.obj(
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> Json.Raw(Json.obj(metrics: _*)),
      "host" -> Json.Raw(host),
      "notes" -> Json.Raw(Json.obj((out.notes :+ ("session_s" -> sessionS)): _*)),
      "trace_self_ms" -> Json.Raw(Json.obj(self.toSeq.sortBy(_._1): _*)))
    Files.write(a.work.resolve("jvm_result.json"), (line + "\n").getBytes(UTF_8))
    println(line)
    spark.stop()
  }

  /** The session `graft.Bench` uses: local[cores], shuffle partitions
    * = cores, GraftExtensions, UTC; scratch space under the work dir. */
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toArray
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def procLine(file: String, key: String): Long =
    try {
      val l = Files.readAllLines(Paths.get(file)).asScala.find(_.startsWith(key))
      l.map(_.split("\\s+")(1).toLong).getOrElse(0L)
    } catch { case _: Throwable => 0L }

  def peakRssMb(): Double = procLine("/proc/self/status", "VmHWM:") / 1024.0
  def memTotalKb(): Long = procLine("/proc/meminfo", "MemTotal:")
  def loadAvg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim
    catch { case _: Throwable => "" }
}

/** The workloads of one run. */
final class Run(spark: SparkSession, a: Main.Args, layers: Layers,
    tracer: Tracer, cores: Int) {
  import Main._

  private val streams = new Streams(spark, a.work, tracer, layers)

  /** Drains or passes measured per run. A drain or a pass takes about
    * `UnitS` on the 4-core host, so a run measures about `--seconds`
    * of them. The count is fixed rather than timed: the JIT still
    * speeds up from one unit to the next, so a count that followed
    * the clock would change which unit is the median. */
  private val units = math.max(1, math.round(a.seconds / UnitS).toInt)

  /** Layers a workload does not have, reported as zero. */
  private val noModules = Batch.Modules.map { case (m, _) => s"$m.wall_s" -> 0.0 }
  private def noStreams: Seq[(String, Double)] =
    streamLayers(Nil, 1, (_, _) => 0L) ++ Seq("BookSynchronizer.fold_ms",
      "Pipelines.parse_ms", "Pipelines.rows_out", "Pipelines.dropped_msgs",
      "CsvSink.write_ms", "CsvSink.bytes_written", "generator.late_ms").map(_ -> 0.0)

  /** Exercises every workload's code paths once on small inputs; the
    * build runs it to record the JVM's class-data-sharing archive. */
  def train(): Outcome = {
    warmUp()
    val b = new Batch(spark, tracer, layers)
    val qs = Batch.Families.values.flatten.toSeq
    b.checkedPass(qs, a.data, Streams.fresh(a.work.resolve("results")))
    b.pass(qs, a.data, traced = false)
    Outcome(1, 0, Nil)
  }

  // ---------------------------------------------------------------- streams

  /** Program warm-up for the stream workloads: one drain of a backlog
    * of its own through Runner.start, large enough for the JIT to
    * compile the per-message paths. Returns seconds, tape writing
    * excluded. */
  private def warmUp(): Double = {
    val tape = new Tape(a.seed ^ 0x5eedL)
    val root = a.work.resolve("warmup-src")
    streams.writeBacklog(tape, root, 10000, 2000)
    val d = streams.drain(tape, root, "warmup", traced = false)
    Streams.fresh(d.sinkDir)
    (d.t1 - d.t0) / 1000
  }

  /** Layer metrics from micro-batch progress: per non-empty batch,
    * except `engine.batches`, counted per unit of work (`perUnit` units
    * ran); `spooled(trade, ms)` is how many messages the stream had on
    * disk at clock time `ms`. */
  private def streamLayers(ps: Seq[StreamingQueryProgress], perUnit: Int,
      spooled: (Boolean, Double) => Long): Seq[(String, Double)] = {
    def d(k: String) = ps.map(StreamLayer.dur(_, k))
    val state = ps.filter(_.name == Tape.DepthEvent).flatMap(_.stateOperators.headOption)
    val lag = ps.groupBy(_.runId).values.flatMap { run =>
      var before = 0L
      run.sortBy(_.batchId).map { p =>
        val at = Instant.parse(p.timestamp).toEpochMilli.toDouble
        val l = spooled(p.name == Tape.TradeEvent, at) - before
        before += p.numInputRows
        l.toDouble
      }
    }
    val trig = d("triggerExecution")
    Seq(
      "source.latest_offset_ms" -> mean(d("latestOffset")),
      "source.get_batch_ms" -> mean(d("getBatch")),
      "source.lag_msgs" -> mean(lag),
      "engine.batches" -> ps.size.toDouble / math.max(perUnit, 1),
      "engine.trigger_ms_p50" -> pct(trig, 50),
      "engine.trigger_ms_p95" -> pct(trig, 95),
      "engine.query_planning_ms" -> mean(d("queryPlanning")),
      "engine.wal_commit_ms" -> mean(d("walCommit")),
      "engine.commit_offsets_ms" -> mean(d("commitOffsets")),
      "engine.add_batch_ms" -> mean(d("addBatch")),
      "BookSynchronizer.state_update_ms" -> mean(state.map(_.allUpdatesTimeMs.toDouble)),
      "BookSynchronizer.state_commit_ms" -> mean(state.map(_.commitTimeMs.toDouble)),
      "BookSynchronizer.state_bytes" ->
        (if (state.isEmpty) 0.0 else state.map(_.memoryUsedBytes.toDouble).max))
  }

  /** The parse and fold layers, measured by composing the program's
    * public calls over the run's own spool files: Pipelines.trades and
    * Pipelines.depthRecords executed once over every message, and
    * SyncLogic.run replayed on the same record runs the depth query's
    * micro-batches saw (`depthBatches` messages each, in order). */
  private def parseAndFold(root: Path, tape: Tape, arrivalMs: Long,
      depthBatches: Seq[Long]): Seq[(String, Double)] = {
    def raw(dir: String) = spark.read.text(root.resolve(dir).toString)
      .withColumn("local_timestamp", lit(arrivalMs))
    val (tRaw, dRaw) = (raw(Tape.TradeDir), raw(Tape.DepthDir))
    val t0 = System.nanoTime()
    tracer.span("Pipelines.parse") {
      tracer.span("Pipelines.parse.trades")(Bench.exec(Pipelines.trades(tRaw)))
      tracer.span("Pipelines.parse.depthRecords")(
        Bench.exec(Pipelines.depthRecords(dRaw)))
    }
    val parseMs = (System.nanoTime() - t0) / 1e6
    val dropped = (tRaw.count() - Pipelines.trades(tRaw).count()) +
      (dRaw.count() - Pipelines.depthRecords(dRaw).count())
    import spark.implicits._
    val recs = Pipelines.depthRecords(dRaw).as[DepthRecord].collect()
      .sortBy(_.first_update_id)
    // the ack line is counted in the first batch's input rows
    val sizes = depthBatches.zipWithIndex.map { case (n, i) => if (i == 0) n - 1 else n }
    var st = SyncLogic.empty
    var at = 0
    val foldMs = sizes.map { n =>
      val chunk = recs.slice(at, at + n.toInt).toSeq
      at += n.toInt
      val f0 = System.nanoTime()
      st = tracer.span("SyncLogic.run")(SyncLogic.run(st, chunk, tape.snapshot))._1
      (System.nanoTime() - f0) / 1e6
    }
    Seq("Pipelines.parse_ms" -> parseMs, "Pipelines.dropped_msgs" -> dropped.toDouble,
      "BookSynchronizer.fold_ms" -> mean(foldMs))
  }

  private def depthInputs(ps: Seq[StreamingQueryProgress]): Seq[Long] =
    ps.filter(_.name == Tape.DepthEvent).sortBy(_.batchId).map(_.numInputRows)

  private def writeMs(): Double = {
    val ws = tracer.spans.filter(_.name == "CsvAppendSink.writeBatch")
    mean(ws.map(s => (s.end - s.start) / 1e6))
  }

  private final case class LiveRun(wallS: Double, lat: Seq[Double],
      attempted: Long, failed: Long, tradeRate: Double, depthRate: Double,
      exec: Seq[(String, Double)], layer: Seq[(String, Double)],
      gen: LiveGenerator, tailer: SinkTailer, root: Path, tape: Tape,
      progress: Seq[StreamingQueryProgress], bytes: Long)

  private def live(traced: Boolean): LiveRun = {
    val name = if (traced) "live-traced" else "live"
    val root = Streams.fresh(a.work.resolve(s"$name-src"))
    val sinkDir = Streams.fresh(a.work.resolve(s"$name-sink"))
    val ckpt = Streams.fresh(a.work.resolve(s"$name-ckpt"))
    val tape = new Tape(a.seed)
    val gen = new LiveGenerator(tape, root, a.seconds, TradeRate, DepthRate,
      tradeFile = 1000, depthFile = 100)
    layers.exec.reset()
    layers.catalyst.reset()
    layers.stream.clear()
    val qs = streams.start(tape, root, sinkDir, ckpt, None, traced)
    val tailer = new SinkTailer(sinkDir)
    tailer.start()
    gen.start()
    gen.join()
    gen.failure.foreach(t => throw t)
    val depthMsgs = gen.depthMsgs.toSeq
    val expectedDepth = Tape.depthRows(tape.snapshot, depthMsgs, _ => 0L)
    val deadline = Clock.nowMs + 60000
    while ((tailer.tradeRows < gen.nTrades || tailer.depthRows < expectedDepth.size) &&
        Clock.nowMs < deadline && qs.forall(_._1.isActive))
      Thread.sleep(2)
    val tEnd = Clock.nowMs
    Runner.stopAll(qs.map(_._1))
    tailer.finish()
    qs.flatMap(_._1.exception).foreach(e => System.err.println(s"query failed: $e"))
    layers.stream.awaitEnded(qs.map(_._1.runId))
    val wallMs = tEnd - gen.startMs
    val exec = layers.exec.metrics(1, wallMs, cores) ++ layers.catalyst.metrics(1)
    val ps = layers.stream.batches(qs.map(_._1.runId).toSet)

    // checks: every trade id exactly once with its generated content;
    // depth rows in order, arrival stamps aside
    val tradeLines = dataLines(sinkDir.resolve(Tape.TradeCsv))
    val seen = new Array[Int](gen.nTrades)
    var bad = 0L
    tradeLines.foreach { l =>
      val c = l.split(",", -1)
      val idx = c(2).toLong - tape.firstTradeId
      if (idx < 0 || idx >= gen.nTrades) bad += 1
      else {
        seen(idx.toInt) += 1
        val m = gen.tradeMsgs(idx.toInt)
        if (c(0).toLong != m.eMs || c.drop(2).mkString(",") != m.tail) bad += 1
      }
    }
    val tradeFailed = bad + seen.count(_ != 1)
    def norm(l: String) = {
      val c = l.split(",", -1)
      (if (c(5) == "True") "snapshot" else c(0)) + "," + c.drop(2).mkString(",")
    }
    val depthFailed = Streams.lineDiffs(
      expectedDepth.map(norm).mkString("\n").getBytes(UTF_8),
      dataLines(sinkDir.resolve(Tape.DepthCsv)).map(norm).mkString("\n").getBytes(UTF_8))

    val lat = tailer.latencies(_.toDouble)
    val tradeRate = gen.nTrades / ((tailer.lastSeen(true) - gen.startMs) / 1000)
    val depthRate = gen.nDepth / ((tailer.lastSeen(false) - gen.startMs) / 1000)
    val bytes = Seq(Tape.TradeCsv, Tape.DepthCsv)
      .map(f => Files.size(sinkDir.resolve(f))).sum
    val layer = streamLayers(ps, 1, (trade, ms) => gen.spooledBy(trade, ms))
    LiveRun(wallMs / 1000, lat, gen.nTrades.toLong + gen.nDepth,
      tradeFailed + depthFailed, tradeRate, depthRate, exec, layer, gen,
      tailer, root, tape, ps, bytes)
  }

  private def dataLines(p: Path): Seq[String] =
    if (!Files.exists(p)) Nil
    else Files.readAllLines(p, UTF_8).asScala.toSeq.drop(1)

  def liveIngest(sessionS: Double): Outcome = {
    val setupS = sessionS + warmUp()
    val un = live(traced = false)
    val base = Seq("setup_s" -> setupS, "wall_s" -> un.wallS,
      "latency_p50_ms" -> pct(un.lat, 50), "latency_p90_ms" -> pct(un.lat, 90),
      "latency_p99_ms" -> pct(un.lat, 99), "trade_msgs_per_s" -> un.tradeRate,
      "depth_msgs_per_s" -> un.depthRate)
    val notes = Seq("trade_msgs_per_s_offered" -> TradeRate,
      "depth_msgs_per_s_offered" -> DepthRate, "seconds" -> a.seconds,
      "latency_samples" -> un.lat.size)
    if (!a.trace)
      Outcome(un.attempted, un.failed, base ++ un.exec ++ un.layer, notes)
    else {
      val tr = live(traced = true)
      val extra = parseAndFold(un.root, un.tape, 0L, depthInputs(un.progress))
      Outcome(un.attempted + tr.attempted, un.failed + tr.failed,
        base ++ un.exec ++ un.layer ++ extra ++ noModules ++ Seq(
          "Pipelines.rows_out" -> (un.tailer.tradeRows + un.tailer.depthRows).toDouble,
          "CsvSink.write_ms" -> writeMs(),
          "CsvSink.bytes_written" -> un.bytes.toDouble,
          "generator.late_ms" -> un.gen.lateMaxMs,
          "trace.overhead_s" -> (tr.wallS - un.wallS),
          "trace.spans" -> tracer.spans.size.toDouble),
        notes :+ ("traced_wall_s" -> tr.wallS))
    }
  }

  private final case class DrainRun(wallS: Double, lat: Seq[Double],
      failed: Long, tradeRate: Double, depthRate: Double, rows: Long, bytes: Long,
      runIds: Set[java.util.UUID])

  private def measureDrain(tape: Tape, root: Path, bl: Backlog, traced: Boolean): DrainRun = {
    val d = streams.drain(tape, root, if (traced) "drain-traced" else "drain", traced)
    val failed = Streams.lineDiffs(bl.tradeCsv, d.csv(Tape.TradeCsv)) +
      Streams.lineDiffs(bl.depthCsv, d.csv(Tape.DepthCsv))
    val tl = d.tailer
    val lat = tl.latencies(_ => d.t0)
    val bytes = Seq(Tape.TradeCsv, Tape.DepthCsv).map(f => Files.size(d.sinkDir.resolve(f))).sum
    Streams.fresh(d.sinkDir)
    DrainRun((d.t1 - d.t0) / 1000, lat, failed,
      bl.trades / ((tl.lastSeen(true) - d.t0) / 1000),
      bl.depths / ((tl.lastSeen(false) - d.t0) / 1000),
      tl.tradeRows + tl.depthRows, bytes, d.runIds)
  }

  def backlogCatchup(sessionS: Double): Outcome = {
    val setupS = sessionS + warmUp()
    val tape = new Tape(a.seed)
    val root = a.work.resolve("backlog-src")
    val bl = streams.writeBacklog(tape, root, BacklogTrades, BacklogDepth)
    def drains(traced: Boolean) =
      (1 to units).map(_ => measureDrain(tape, root, bl, traced))
    layers.exec.reset()
    layers.catalyst.reset()
    layers.stream.clear()
    val un = drains(traced = false)
    val exec = layers.exec.metrics(un.size, un.map(_.wallS * 1000).sum, cores)
    val cat = layers.catalyst.metrics(un.size)
    val ps = layers.stream.batches(un.flatMap(_.runIds).toSet)
    def med(f: DrainRun => Double) = median(un.map(f))
    val base = Seq("setup_s" -> setupS,
      "wall_s" -> med(_.wallS),
      "latency_p50_ms" -> med(r => pct(r.lat, 50)),
      "latency_p90_ms" -> med(r => pct(r.lat, 90)),
      "latency_p99_ms" -> med(r => pct(r.lat, 99)),
      "trade_msgs_per_s" -> med(_.tradeRate),
      "depth_msgs_per_s" -> med(_.depthRate))
    val layer = streamLayers(ps, un.size, (trade, _) =>
      if (trade) bl.trades + 1L else bl.depths + 1L)
    val attempted = (bl.trades.toLong + bl.depths) * un.size
    val failed = un.map(_.failed).sum
    val notes = Seq("drains" -> un.size, "drain_s" -> un.map(_.wallS),
      "backlog_trades" -> bl.trades,
      "backlog_depth" -> bl.depths, "latency_samples_per_drain" -> un.head.lat.size)
    if (!a.trace) Outcome(attempted, failed, base ++ exec ++ cat ++ layer, notes)
    else {
      val tr = drains(traced = true)
      val extra = parseAndFold(root, tape, Streams.ArrivalMs,
        depthInputs(ps).take(1))
      Outcome(attempted + (bl.trades.toLong + bl.depths) * tr.size,
        failed + tr.map(_.failed).sum,
        base ++ exec ++ cat ++ layer ++ extra ++ noModules ++ Seq(
          "Pipelines.rows_out" -> med(_.rows.toDouble),
          "CsvSink.write_ms" -> writeMs(),
          "CsvSink.bytes_written" -> med(_.bytes.toDouble),
          "generator.late_ms" -> 0.0,
          "trace.overhead_s" -> (median(tr.map(_.wallS)) - med(_.wallS)),
          "trace.spans" -> tracer.spans.size.toDouble),
        notes :+ ("traced_drains" -> tr.size))
    }
  }

  // ------------------------------------------------------------------ batch

  def batch(sessionS: Double): Outcome = {
    val b = new Batch(spark, tracer, layers)
    val qs = Batch.ordered(a.workload, a.seed)
    val out = Streams.fresh(a.work.resolve("results"))
    // warm-up: the checked pass, then one untimed pass, after which
    // pass times are steady (the first pass after the cold one still
    // runs ~30% slow)
    val t0 = System.nanoTime()
    val errors = b.checkedPass(qs, a.data, out)
    errors.foreach { case (q, e) => System.err.println(s"$q failed: $e") }
    val broken = errors.map(_._1).toSet
    b.pass(qs.filterNot(broken), a.data, traced = false)
    val setupS = sessionS + (System.nanoTime() - t0) / 1e9

    def passes(traced: Boolean) =
      (1 to units).map(_ => b.pass(qs.filterNot(broken), a.data, traced))
    layers.exec.reset()
    layers.catalyst.reset()
    val un = passes(traced = false)
    val passS = un.map(_.map(_._2).sum)
    def medians(ps: Seq[Seq[(String, Double)]]) =
      ps.flatten.groupBy(_._1).map { case (q, ts) => q -> median(ts.map(_._2)) }
    val perQuery = medians(un)
    val exec = layers.exec.metrics(un.size, passS.sum * 1000, cores)
    val cat = layers.catalyst.metrics(un.size)
    // per-query latency: each query's median over the passes
    val lat = perQuery.values.map(_ * 1000).toSeq
    val modules = Batch.Modules.map { case (m, _) =>
      s"$m.wall_s" -> perQuery.filter(x => Batch.moduleOf(x._1) == m).values.sum
    }
    val base = Seq("setup_s" -> setupS,
      "wall_s" -> perQuery.values.sum,
      "latency_p50_ms" -> pct(lat, 50),
      "latency_p90_ms" -> pct(lat, 90),
      "latency_p99_ms" -> pct(lat, 99),
      "trade_msgs_per_s" -> 0.0, "depth_msgs_per_s" -> 0.0)
    val attempted = qs.size.toLong * un.size
    val failed = broken.size.toLong * un.size
    val notes = Seq("queries" -> qs, "passes" -> un.size, "pass_s" -> passS,
      "latency_samples" -> lat.size,
      "errors" -> errors.toMap[String, Any],
      "query_s" -> perQuery)
    if (!a.trace) Outcome(attempted, failed, base ++ exec ++ cat ++ modules, notes)
    else {
      val tr = passes(traced = true)
      Outcome(attempted + qs.size.toLong * tr.size, failed + broken.size.toLong * tr.size,
        base ++ exec ++ cat ++ modules ++ noStreams ++ Seq(
          "trace.overhead_s" -> (medians(tr).values.sum - perQuery.values.sum),
          "trace.spans" -> tracer.spans.size.toDouble),
        notes :+ ("traced_passes" -> tr.size))
    }
  }
}
