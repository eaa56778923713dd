package perfbench

import java.io.RandomAccessFile
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming._

/** Epoch milliseconds from a monotonic clock, shared by the message
  * generator (due times) and the sink tailer (arrival in the sink). */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Watches the two sink CSVs from outside the program and records,
  * for every event, when its first row appeared (clock µs): every trade
  * row, and the first row of each depth message (snapshot rows
  * excluded). */
final class SinkTailer(dir: Path) extends Thread("perfbench-sink-tailer") {
  setDaemon(true)
  val tradeE, tradeSeen, depthE, depthSeen = ArrayBuffer.empty[Long]
  @volatile var tradeRows, depthRows = 0L
  @volatile private var stopping = false
  private val tails = Seq(new Tail(dir.resolve(Tape.TradeCsv), trade = true),
    new Tail(dir.resolve(Tape.DepthCsv), trade = false))
  private var lastDepthE = Long.MinValue

  private final class Tail(path: Path, trade: Boolean) {
    private var pos = 0L
    private val partial = new java.io.ByteArrayOutputStream()
    def poll(): Unit = if (Files.exists(path)) {
      val raf = new RandomAccessFile(path.toFile, "r")
      try {
        val size = raf.length()
        if (size > pos) {
          val buf = new Array[Byte]((size - pos).toInt)
          raf.seek(pos); raf.readFully(buf); pos = size
          val now = (Clock.nowMs * 1000).toLong
          var start = 0
          var i = 0
          while (i < buf.length) {
            if (buf(i) == '\n') {
              partial.write(buf, start, i - start)
              line(new String(partial.toByteArray, UTF_8), now)
              partial.reset()
              start = i + 1
            }
            i += 1
          }
          partial.write(buf, start, buf.length - start)
        }
      } finally raf.close()
    }
    private def line(l: String, now: Long): Unit =
      if (!l.startsWith("timestamp")) {
        val e = l.substring(0, l.indexOf(',')).toLong
        if (trade) { tradeE += e; tradeSeen += now; tradeRows += 1 }
        else {
          depthRows += 1
          if (!l.endsWith("True") && e != lastDepthE) {
            depthE += e; depthSeen += now; lastDepthE = e
          }
        }
      }
  }

  override def run(): Unit = {
    while (!stopping) { tails.foreach(_.poll()); Thread.sleep(2) }
    tails.foreach(_.poll())
  }

  def finish(): Unit = { stopping = true; join() }

  /** Clock ms at which the stream's last row appeared. */
  def lastSeen(trade: Boolean): Double = {
    val b = if (trade) tradeSeen else depthSeen
    if (b.isEmpty) Double.NaN else b.last / 1000.0
  }

  /** Event latencies in ms: first-row time minus `due(eventTimeMs)`. */
  def latencies(due: Long => Double): Seq[Double] =
    (tradeSeen.zip(tradeE) ++ depthSeen.zip(depthE)).map { case (seen, e) =>
      seen / 1000.0 - due(e)
    }.toSeq
}

/** The two streaming workloads. Both start the program through
  * `Runner.start` (untraced) or through the same public calls that
  * Runner wires, each wrapped in a span (traced). */
final class Streams(spark: SparkSession, work: Path, trace: Tracer,
    layers: Layers) {
  import Streams._

  /** Starts one trade and one depth query over `root` into `sinkDir`. */
  def start(tape: Tape, root: Path, sinkDir: Path, ckpt: Path,
      arrivalMs: Option[Long], traced: Boolean): Seq[(StreamingQuery, CsvAppendSink)] = {
    val source = new FileReplaySource(root.toString, arrivalMs)
    if (!traced)
      Runner.start(spark, StreamConfig(Seq(Tape.TradeEvent, Tape.DepthEvent),
        basePath = sinkDir.toString), source, Map(Tape.SymbolId -> tape.snapshot),
        ckpt.toString)
    else Seq(Tape.TradeEvent, Tape.DepthEvent).map { ev =>
      val id = EventId.parse(ev)
      val raw = trace.span("EventSource.stream")(source.stream(spark, id))
        .observe("graft_raw", count(lit(1)).as("messages"))
      val rows = (if (id.eventType == "trade")
          trace.span("Pipelines.trades")(Pipelines.trades(raw))
        else {
          val recs = trace.span("Pipelines.depthRecords")(Pipelines.depthRecords(raw))
          val synced = trace.span("BookSynchronizer.apply")(
            BookSynchronizer.apply(recs, id.market, id.symbol, tape.snapshot))
          trace.span("Pipelines.depthRows")(Pipelines.depthRows(synced))
        }).observe("graft_rows", count(lit(1)).as("rows"))
      val sink =
        if (id.eventType == "trade")
          CsvAppendSink.forTrades(sinkDir.toString, id.symbol, id.market)
        else CsvAppendSink.forDepth(sinkDir.toString, id.symbol, id.market)
      val q = rows.writeStream
        .queryName(id.queryName)
        .option("checkpointLocation", ckpt.resolve(s"${id.queryName}.csv").toString)
        .trigger(Trigger.ProcessingTime("1 second"))
        .foreachBatch { (df: DataFrame, bid: Long) =>
          trace.span(s"microbatch.${id.eventType}") {
            // split the batch into the program's upstream work and the
            // sink's own rendering and append
            df.persist()
            try {
              trace.span("microbatch.execute")(df.count())
              trace.span("CsvAppendSink.writeBatch")(sink.writeBatch(df, bid))
            } finally df.unpersist()
          }
        }
        .start()
      (q, sink)
    }
  }

  /** Drains one pre-written backlog: start, processAllAvailable on
    * each query, stop. */
  def drain(tape: Tape, root: Path, name: String, traced: Boolean): Drain = {
    val sinkDir = fresh(work.resolve(s"$name-sink"))
    val ckpt = fresh(work.resolve(s"$name-ckpt"))
    val t0 = Clock.nowMs
    val qs = start(tape, root, sinkDir, ckpt, Some(ArrivalMs), traced)
    val tailer = new SinkTailer(sinkDir)
    tailer.start()
    try qs.foreach(_._1.processAllAvailable())
    finally {
      Runner.stopAll(qs.map(_._1))
      tailer.finish()
    }
    val t1 = Clock.nowMs
    layers.stream.awaitEnded(qs.map(_._1.runId))
    Drain(sinkDir, t0, t1, tailer, qs.map(_._1.runId).toSet)
  }

  /** Writes a backlog tape: one jsonl file per stream, ack first. */
  def writeBacklog(tape: Tape, root: Path, trades: Int, depths: Int): Backlog = {
    fresh(root)
    val tDir = Files.createDirectories(root.resolve(Tape.TradeDir))
    val dDir = Files.createDirectories(root.resolve(Tape.DepthDir))
    val tradeMsgs = (0 until trades).map(i => tape.trade(i, EventBaseMs + i / 2))
    val depthMsgs = (0 until depths).map(j => tape.depth(EventBaseMs + 5L * j))
    Tape.spool(tDir, 0, Tape.Ack +: tradeMsgs.map(_.json))
    Tape.spool(dDir, 0, Tape.Ack +: depthMsgs.map(_.json))
    Backlog(
      Tape.render(Tape.TradeHeader,
        tradeMsgs.map(m => s"${m.eMs},$ArrivalMs,${m.tail}")),
      Tape.render(Tape.DepthHeader,
        Tape.depthRows(tape.snapshot, depthMsgs, _ => ArrivalMs)),
      trades, depths)
  }
}

final case class Backlog(tradeCsv: Array[Byte], depthCsv: Array[Byte],
    trades: Int, depths: Int)

final case class Drain(sinkDir: Path, t0: Double, t1: Double,
    tailer: SinkTailer, runIds: Set[java.util.UUID]) {
  def csv(name: String): Array[Byte] = Files.readAllBytes(sinkDir.resolve(name))
}

object Streams {
  /** Fixed arrival stamp of replayed backlogs (deterministic CSVs). */
  val ArrivalMs = 1727784001000L
  val EventBaseMs = 1727784000000L

  def fresh(p: Path): Path = {
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally w.close()
    }
    Files.createDirectories(p)
  }

  /** Lines of `actual` that differ from `expected`, plus the length
    * difference: 0 iff the two are byte-equal. */
  def lineDiffs(expected: Array[Byte], actual: Array[Byte]): Int =
    if (java.util.Arrays.equals(expected, actual)) 0
    else {
      val e = new String(expected, UTF_8).split("\n", -1)
      val a = new String(actual, UTF_8).split("\n", -1)
      val n = math.min(e.length, a.length)
      math.max(1, (0 until n).count(i => e(i) != a(i)) + math.abs(e.length - a.length))
    }
}

/** The open-loop live generator: one thread writes both streams'
  * messages at their due times and spools them in WsSpooler's file
  * format, whatever the engine does. */
final class LiveGenerator(tape: Tape, root: Path, seconds: Double,
    tradeRate: Int, depthRate: Int, tradeFile: Int, depthFile: Int)
    extends Thread("perfbench-live-generator") {
  setDaemon(true)
  private val PhaseMs = 200
  val nTrades: Int = (seconds * tradeRate).toInt
  val nDepth: Int = (seconds * depthRate).toInt
  val depthMsgs = new Array[DepthMsg](nDepth)
  val tradeMsgs = new Array[TradeMsg](nTrades)
  @volatile var startMs = 0.0
  @volatile var lateMaxMs = 0.0
  /** (clock ms, messages spooled so far) at every file write, per
    * stream. */
  val tradeLog, depthLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(Double, Long)]()
  @volatile var failure: Option[Throwable] = None
  private val tDir = Files.createDirectories(root.resolve(Tape.TradeDir))
  private val dDir = Files.createDirectories(root.resolve(Tape.DepthDir))

  override def run(): Unit = try {
    val tBuf, dBuf = new ArrayBuffer[String]
    tBuf += Tape.Ack; dBuf += Tape.Ack
    var tSeq, dSeq = 0L
    var tCount, dCount = 0L
    def flush(trade: Boolean): Unit = {
      val buf = if (trade) tBuf else dBuf
      if (buf.nonEmpty) {
        if (trade) {
          Tape.spool(tDir, tSeq, buf); tSeq += 1; tCount += buf.size
          tradeLog.add((Clock.nowMs, tCount))
        } else {
          Tape.spool(dDir, dSeq, buf); dSeq += 1; dCount += buf.size
          depthLog.add((Clock.nowMs, dCount))
        }
        buf.clear()
      }
    }
    // Spark fires a processing-time trigger on whole multiples of its
    // interval; starting the schedule at a fixed offset from a whole
    // second gives every run the same flush-to-trigger phase
    val first = math.ceil(Clock.nowMs / 1000) * 1000 + PhaseMs
    Thread.sleep(math.max(0L, (first - Clock.nowMs).toLong))
    startMs = first
    var i, j = 0
    while (i < nTrades || j < nDepth) {
      val tDue = if (i < nTrades) startMs + i * 1000.0 / tradeRate else Double.MaxValue
      val dDue = if (j < nDepth) startMs + j * 1000.0 / depthRate else Double.MaxValue
      val due = math.min(tDue, dDue)
      val wait = due - Clock.nowMs
      if (wait >= 1.0) Thread.sleep(wait.toLong)
      lateMaxMs = math.max(lateMaxMs, Clock.nowMs - due)
      if (tDue <= dDue) {
        val m = tape.trade(i, due.toLong)
        tradeMsgs(i) = m; tBuf += m.json; i += 1
        if (tBuf.size >= tradeFile) flush(trade = true)
      } else {
        val m = tape.depth(due.toLong)
        depthMsgs(j) = m; dBuf += m.json; j += 1
        if (dBuf.size >= depthFile) flush(trade = false)
      }
    }
    // like WsSpooler.stop: spool the remainder
    flush(trade = true)
    flush(trade = false)
  } catch { case t: Throwable => failure = Some(t) }

  /** Messages of one stream spooled by clock time `ms`. */
  def spooledBy(trade: Boolean, ms: Double): Long = {
    var n = 0L
    (if (trade) tradeLog else depthLog).forEach { case (t, c) =>
      if (t <= ms) n = math.max(n, c)
    }
    n
  }
}
