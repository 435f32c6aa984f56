package cdcbench

import graft.cdc.{CdcEvent, Op}
import scala.collection.mutable

/** Plain-Scala latest-state fold of a changelog: the oracle every workload's
  * output is checked against. Events must arrive in (lsn, seq) order, which
  * is the order the generator emits them.
  */
final class Reference {
  private val state = mutable.Map.empty[(String, String), CdcEvent]

  def apply(e: CdcEvent): Unit =
    if (e.op == Op.Delete) state.remove((e.table, e.key))
    else state((e.table, e.key)) = e

  def applyAll(es: Iterable[CdcEvent]): this.type = { es.foreach(apply); this }

  /** Live rows of one table, by key JSON. */
  def table(t: String): Map[String, CdcEvent] =
    state.iterator.collect { case ((tt, k), e) if tt == t => k -> e }.toMap

  def size: Int = state.size
}

/** The state of one row as a workload reads it back: commit position and
  * payload. Deleted keys have no row.
  */
final case class StateRow(lsn: Long, seq: Long, after: String)

object Check {
  def rowOf(e: CdcEvent): StateRow = StateRow(e.lsn, e.seq, e.after)

  /** Keys whose state differs between the reference and an actual table:
    * missing, extra, or with another commit position or payload.
    */
  def mismatches(expected: Map[String, CdcEvent],
      actual: Map[String, StateRow]): Int =
    (expected.keySet ++ actual.keySet).count(k =>
      expected.get(k).map(rowOf) != actual.get(k))

  /** True when a key whose events are `history` ((lsn, deleted), newest
    * first) is live at LSN `lo` and no event up to `hi` deletes it: live in
    * every state committed between the two.
    */
  def liveThroughout(history: List[(Long, Boolean)], lo: Long, hi: Long): Boolean =
    history.find(_._1 <= lo).exists(!_._2) &&
      !history.exists { case (l, deleted) => deleted && l > lo && l <= hi }

  private val IdRe = """"id":(\d+)""".r.unanchored
  def idOf(keyJson: String): Long = keyJson match {
    case IdRe(v) => v.toLong
    case _ => throw new IllegalArgumentException(s"no id in $keyJson")
  }

  /** An integer or string field of a generated payload. */
  def field(json: String, name: String): String = {
    val i = json.indexOf("\"" + name + "\":")
    require(i >= 0, s"no $name in $json")
    val from = i + name.length + 3
    if (json.charAt(from) == '"') json.substring(from + 1, json.indexOf('"', from + 1))
    else json.substring(from).takeWhile(c => c.isDigit || c == '-')
  }

  /** orders ⋈ accounts on account_id = id, grouped by region:
    * region → (orders, sum of amount).
    */
  def revenueByRegion(accounts: Map[String, CdcEvent],
      orders: Map[String, CdcEvent]): Map[String, (Long, Long)] = {
    val region = accounts.values.map(e => idOf(e.key) -> field(e.after, "region")).toMap
    orders.values.toSeq.flatMap { o =>
      region.get(field(o.after, "account_id").toLong)
        .map(_ -> field(o.after, "amount").toLong)
    }.groupMapReduce(_._1)(x => (1L, x._2)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  /** Net change between two states of one table: op → keys. */
  def feed(from: Map[String, CdcEvent], to: Map[String, CdcEvent])
      : Map[String, Int] = {
    val ops = (from.keySet ++ to.keySet).toSeq.flatMap { k =>
      (from.get(k), to.get(k)) match {
        case (None, Some(_)) => Some(Op.Insert)
        case (Some(_), None) => Some(Op.Delete)
        case (Some(a), Some(b)) if rowOf(a) != rowOf(b) => Some(Op.Update)
        case _ => None
      }
    }
    ops.groupMapReduce(identity)(_ => 1)(_ + _)
  }
}
