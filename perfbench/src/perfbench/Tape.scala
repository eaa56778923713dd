package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import graft.streaming.BookSnapshot

/** One seeded Binance message tape for one symbol: a trade stream and
  * a diff-depth stream in the exchange's wire format, plus the CSV
  * rows the reference writes for them.
  *
  * The seed sets every price, quantity, trade side, depth level count
  * (0 to 8 per side, per message), update-id stride and the order-book
  * snapshot. Depth ids start below the snapshot's `lastUpdateId`, so
  * every tape exercises the stale-buffer, bridge and pass-through
  * branches of the book sync. Each stream opens with a subscription
  * ack, which the pipelines drop.
  */
final class Tape(seed: Long) {
  import Tape._

  private val rnd = new SplittableRandom(seed)

  val firstTradeId: Long = 100000000L + rnd.nextLong(800000000L)
  private var tradeCents: Long = 2000000L + rnd.nextLong(4000000L)
  private var depthCents: Long = tradeCents

  val snapshot: BookSnapshot = {
    val mid = depthCents
    def side(dir: Int) = (1 to 20).map { k =>
      Seq(price(mid + dir * k * 5), qty(1 + rnd.nextLong(400000L)))
    }
    BookSnapshot(10000000L + rnd.nextLong(10000000L), side(-1), side(1))
  }
  private var nextU: Long = snapshot.lastUpdateId - 40 + rnd.nextLong(20L)

  /** A trade message due at `eMs`, with its CSV row minus the arrival
    * column: (json, id, "timestamp", "id,price,quantity,side"). */
  def trade(i: Long, eMs: Long): TradeMsg = {
    tradeCents = math.max(100L, tradeCents + rnd.nextLong(101L) - 50L)
    val id = firstTradeId + i
    val p = price(tradeCents)
    val q = qty(1 + rnd.nextLong(500000L))
    val m = rnd.nextBoolean()
    val json = s"""{"e":"trade","E":$eMs,"s":"$Symbol","t":$id,"p":"$p",""" +
      s""""q":"$q","T":${eMs - 1},"m":$m,"M":true}"""
    TradeMsg(json, id, eMs, s"$id,$p,$q,${if (m) "sell" else "buy"}")
  }

  /** A diff-depth message due at `eMs`, contiguous with the previous. */
  def depth(eMs: Long): DepthMsg = {
    depthCents = math.max(1000L, depthCents + rnd.nextLong(41L) - 20L)
    val u0 = nextU
    val u1 = u0 + rnd.nextLong(5L)
    nextU = u1 + 1
    var nb = rnd.nextInt(9)
    val na = rnd.nextInt(9)
    if (nb + na == 0) nb = 1
    def levels(n: Int, dir: Int) = (0 until n).map { _ =>
      val q = if (rnd.nextInt(10) == 0) "0.00000000"
        else qty(1 + rnd.nextLong(400000L))
      (price(depthCents + dir * (1 + rnd.nextLong(200L))), q)
    }
    val bids = levels(nb, -1)
    val asks = levels(na, 1)
    def arr(ls: Seq[(String, String)]) =
      ls.map { case (p, q) => s"""["$p","$q"]""" }.mkString("[", ",", "]")
    val json = s"""{"e":"depthUpdate","E":$eMs,"s":"$Symbol","U":$u0,""" +
      s""""u":$u1,"b":${arr(bids)},"a":${arr(asks)}}"""
    DepthMsg(json, u0, u1, eMs, asks, bids)
  }
}

final case class TradeMsg(json: String, id: Long, eMs: Long, tail: String)

final case class DepthMsg(json: String, firstId: Long, lastId: Long,
    eMs: Long, asks: Seq[(String, String)], bids: Seq[(String, String)])

object Tape {
  val Symbol = "BTCUSDT"
  val Market = "spot"
  val TradeEvent = s"binance.$Market.$Symbol.trade"
  val DepthEvent = s"binance.$Market.$Symbol.depth"
  val SymbolId = s"$Symbol.$Market"
  /** Source directories, as FileReplaySource lays them out. */
  val TradeDir = s"$Symbol.$Market.trade"
  val DepthDir = s"$Symbol.$Market.depth"
  /** Sink files, as CsvAppendSink names them. */
  val TradeCsv = s"$Symbol.$Market.trades.csv"
  val DepthCsv = s"$Symbol.$Market.depth.csv"
  val TradeHeader = "timestamp,local_timestamp,id,price,quantity,side"
  val DepthHeader = "timestamp,local_timestamp,side,price,quantity,is_snapshot"
  /** The subscription ack that opens every websocket stream. */
  val Ack = """{"result":null,"id":1}"""

  def price(cents: Long): String = f"${cents / 100}.${cents % 100}%02d000000"
  def qty(units: Long): String = f"${units / 100000}.${units % 100000}%05d000"

  /** The depth CSV rows the reference writes for `msgs` in arrival
    * order, given the arrival ms of each message: nothing until the
    * bridge, then the snapshot (stamped arrival − 1), the bridge, the
    * bridge once more, then every later message; asks before bids. */
  def depthRows(snap: BookSnapshot, msgs: Seq[DepthMsg],
      arrival: DepthMsg => Long): Seq[String] = {
    val out = Vector.newBuilder[String]
    val last = snap.lastUpdateId
    var synced = false
    def emit(m: DepthMsg, a: Long): Unit = {
      m.asks.foreach { case (p, q) => out += s"${m.eMs},$a,ask,$p,$q,False" }
      m.bids.foreach { case (p, q) => out += s"${m.eMs},$a,bid,$p,$q,False" }
    }
    msgs.foreach { m =>
      val a = arrival(m)
      if (synced) emit(m, a)
      else if (m.lastId > last && m.firstId <= last + 1) {
        synced = true
        val ts = a - 1
        snap.asks.foreach(l => out += s"$ts,$ts,ask,${l(0)},${l(1)},True")
        snap.bids.foreach(l => out += s"$ts,$ts,bid,${l(0)},${l(1)},True")
        emit(m, a)
        emit(m, a)
      }
    }
    out.result()
  }

  /** Writes `lines` the way WsSpooler does: a hidden temp file renamed
    * atomically into place, so a file source never sees it half done. */
  def spool(dir: Path, seq: Long, lines: Iterable[String]): Unit = {
    val tmp = dir.resolve(f".spool-$seq%08d.tmp")
    val w = Files.newBufferedWriter(tmp, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') }
    finally w.close()
    Files.move(tmp, dir.resolve(f"spool-$seq%08d.jsonl"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  def render(header: String, rows: Iterable[String]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(header).append('\n')
    rows.foreach(r => sb.append(r).append('\n'))
    sb.toString.getBytes(UTF_8)
  }
}
