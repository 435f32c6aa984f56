package cdcbench

import graft.cdc.{CdcEvent, Op}

/** One table of the generated database: `keys` is the key space, `weight`
  * the share of events that touch it.
  */
final case class TableSpec(name: String, keys: Int, weight: Double)

/** Input properties of one workload. Everything the program sees follows
  * from a spec and a seed.
  *
  * @param skew      key-choice exponent: a key is `floor(keys * u^skew)`
  *                  for uniform u, so 1.0 is uniform and larger values
  *                  concentrate events on low keys
  * @param mix       (insert, update, delete) shares of row events
  * @param txnEvents row events per transaction (one commit LSN each)
  * @param noteBytes filler characters per payload, on top of its fields
  * @param eventsPerFile events per published envelope file
  * @param ratePerSec open-loop offered rate (0 = closed loop)
  */
final case class Spec(
    tables: Seq[TableSpec],
    skew: Double,
    mix: (Double, Double, Double),
    txnEvents: Int,
    noteBytes: Int,
    eventsPerFile: Int,
    ratePerSec: Double = 0) {
  require(eventsPerFile % txnEvents == 0, "files hold whole transactions")
}

object Spec {
  // accounts ← orders is the foreign key (orders.account_id); items is
  // independent. Weights put most traffic on orders.
  private def tables(scale: Int) = Seq(
    TableSpec("public.accounts", 500 * scale, 0.2),
    TableSpec("public.orders", 4000 * scale, 0.5),
    TableSpec("public.items", 2000 * scale, 0.3))

  private val mix = (0.4, 0.45, 0.15)

  val drain = Spec(tables(4), skew = 2.0, mix, txnEvents = 10,
    noteBytes = 96, eventsPerFile = 3000)
  val live = Spec(tables(1), skew = 2.0, mix, txnEvents = 10,
    noteBytes = 96, eventsPerFile = 50, ratePerSec = 400)

  def of(workload: String): Spec = workload match {
    case "drain" => drain
    case "live" => live
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Deterministic CDC changelog generator. Each call to [[nextTxn]] returns
  * one committed transaction of `txnEvents` row events with a fresh,
  * strictly increasing commit LSN. The generator tracks which keys are live
  * so that updates and deletes hit live keys and inserts hit absent ones;
  * the op mix is therefore exactly the spec's mix in expectation.
  */
final class Gen(val spec: Spec, seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val live = spec.tables.map(t => t.name -> new java.util.BitSet(t.keys)).toMap
  private val cumWeight = spec.tables.map(_.weight).scanLeft(0.0)(_ + _).tail
  private var lsn = 1000L
  private var xid = 500L

  private def pickTable(): TableSpec = {
    val u = rnd.nextDouble() * cumWeight.last
    spec.tables(cumWeight.indexWhere(u < _) max 0)
  }

  private def skewed(n: Int): Int =
    math.min(n - 1, (n * math.pow(rnd.nextDouble(), spec.skew)).toInt)

  /** A key of `t` whose liveness equals `wantLive`, drawn skewed and then
    * probed forward (wrapping); None when no such key exists.
    */
  private def pickKey(t: TableSpec, wantLive: Boolean): Option[Int] = {
    val bits = live(t.name)
    val start = skewed(t.keys)
    def probe(from: Int): Int =
      if (wantLive) bits.nextSetBit(from) else bits.nextClearBit(from)
    val k = probe(start)
    if (k >= 0 && k < t.keys) Some(k)
    else {
      val w = probe(0)
      if (w >= 0 && w < start) Some(w) else None
    }
  }

  private def note(): String = {
    val sb = new java.lang.StringBuilder(spec.noteBytes)
    var i = 0
    while (i < spec.noteBytes) {
      sb.append(('a' + rnd.nextInt(26)).toChar); i += 1
    }
    sb.toString
  }

  private def payload(t: TableSpec, k: Int): String = t.name match {
    case "public.accounts" =>
      s"""{"id":$k,"region":"r${rnd.nextInt(8)}","tier":${rnd.nextInt(4)},""" +
        s""""balance":${rnd.nextInt(100000)},"lsn":$lsn,"note":"${note()}"}"""
    case "public.orders" =>
      val acct = pickKey(spec.tables.head, wantLive = true)
        .getOrElse(skewed(spec.tables.head.keys))
      s"""{"id":$k,"account_id":$acct,"amount":${rnd.nextInt(10000)},""" +
        s""""status":"s${rnd.nextInt(5)}","lsn":$lsn,"note":"${note()}"}"""
    case _ =>
      s"""{"id":$k,"sku":${rnd.nextInt(1000)},"qty":${1 + rnd.nextInt(20)},""" +
        s""""lsn":$lsn,"note":"${note()}"}"""
  }

  private def event(seq: Int): CdcEvent = {
    val t = pickTable()
    val (ins, upd, _) = spec.mix
    val u = rnd.nextDouble()
    val want = if (u < ins) Op.Insert else if (u < ins + upd) Op.Update else Op.Delete
    // an op with no eligible key falls back to the other kind
    val (op, k) = want match {
      case Op.Insert => pickKey(t, wantLive = false).map(Op.Insert -> _)
        .getOrElse(Op.Update -> pickKey(t, wantLive = true).get)
      case _ => pickKey(t, wantLive = true).map(want -> _)
        .getOrElse(Op.Insert -> pickKey(t, wantLive = false).get)
    }
    val bits = live(t.name)
    if (op == Op.Delete) bits.clear(k) else bits.set(k)
    CdcEvent(op, t.name, lsn, xid, seq, s"""{"id":$k}""", null,
      if (op == Op.Delete) null else payload(t, k))
  }

  /** The next committed transaction. */
  def nextTxn(): IndexedSeq[CdcEvent] = {
    lsn += 1 + rnd.nextInt(64)
    xid += 1
    (0 until spec.txnEvents).map(event)
  }

  /** The next `n` events, in whole transactions. */
  def nextEvents(n: Int): IndexedSeq[CdcEvent] =
    (0 until n / spec.txnEvents).flatMap(_ => nextTxn())

  /** The next file's worth of transactions. */
  def nextFile(): IndexedSeq[CdcEvent] = nextEvents(spec.eventsPerFile)
}

object Gen {
  private def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** One envelope as a JSON line, fields in [[CdcEvent]] order. */
  def line(e: CdcEvent): String =
    s"""{"op":${str(e.op)},"table":${str(e.table)},"lsn":${e.lsn},""" +
      s""""xid":${e.xid},"seq":${e.seq},"key":${str(e.key)},""" +
      s""""before":${str(e.before)},"after":${str(e.after)}}"""

  def bytes(events: Seq[CdcEvent]): Array[Byte] = {
    val sb = new java.lang.StringBuilder
    events.foreach(e => sb.append(line(e)).append('\n'))
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Publish a file atomically: write a hidden temp file (the file source
    * skips names starting with '.'), then rename it into place. Names sort
    * in publish order.
    */
  def publish(dir: java.nio.file.Path, index: Int,
      events: Seq[CdcEvent]): java.nio.file.Path = {
    val name = f"env-$index%07d.json"
    val tmp = dir.resolve("." + name + ".tmp")
    java.nio.file.Files.write(tmp, bytes(events))
    java.nio.file.Files.move(tmp, dir.resolve(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Standalone use: write `--files` files of `--workload`'s spec for
    * `--seed` into `--out`.
    */
  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val spec = Spec.of(a("workload"))
    val out = java.nio.file.Paths.get(a("out"))
    java.nio.file.Files.createDirectories(out)
    val g = new Gen(spec, a("seed").toLong)
    (0 until a("files").toInt).foreach(i => publish(out, i, g.nextFile()))
  }
}

/** `--name value` argument pairs. */
final case class Args(m: Map[String, String]) {
  def apply(k: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def get(k: String): Option[String] = m.get(k)
}

object Args {
  def apply(args: Array[String]): Args =
    Args(args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
}
