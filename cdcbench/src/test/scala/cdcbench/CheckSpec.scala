package cdcbench

import graft.cdc.{CdcEvent, Op}
import org.scalatest.funsuite.AnyFunSuite

class CheckSpec extends AnyFunSuite {
  private val events = {
    val g = new Gen(Spec.live, 3)
    (0 until 20).flatMap(_ => g.nextFile())
  }
  private val ref = new Reference().applyAll(events)
  private val orders = ref.table("public.orders")
  private def asRead(m: Map[String, CdcEvent]) = m.map { case (k, e) => k -> Check.rowOf(e) }

  test("the reference fold keeps the newest state and drops deleted keys") {
    val last = events.groupBy(e => (e.table, e.key)).map { case (k, es) => k -> es.last }
    val expected = last.filter(_._2.op != Op.Delete)
    assert(ref.size == expected.size)
    assert(expected.forall { case ((t, k), e) => ref.table(t)(k) == e })
  }

  test("a faithful state passes the check") {
    assert(Check.mismatches(orders, asRead(orders)) == 0)
  }

  test("a corrupted state is caught") {
    val actual = asRead(orders)
    val (k, row) = actual.head
    assert(Check.mismatches(orders, actual.updated(k, row.copy(after = row.after + " "))) == 1)
    assert(Check.mismatches(orders, actual.updated(k, row.copy(lsn = row.lsn - 1))) == 1)
    assert(Check.mismatches(orders, actual - k) == 1)
    assert(Check.mismatches(orders, actual.updated("""{"id":-1}""", row)) == 1)
  }

  test("a lookup miss fails only when the key was live in every state it could see") {
    // inserted at 10, updated at 20, deleted at 30, newest first
    val h = List((30L, true), (20L, false), (10L, false))
    assert(Check.liveThroughout(h, 10, 25))
    assert(Check.liveThroughout(h, 20, 29))
    assert(!Check.liveThroughout(h, 5, 25)) // not yet inserted at 5
    assert(!Check.liveThroughout(h, 20, 30)) // the delete may be visible
    assert(!Check.liveThroughout(h, 30, 40))
    assert(!Check.liveThroughout(Nil, 10, 20))
  }

  test("the feed reference classifies inserts, updates and deletes") {
    val half = new Reference().applyAll(events.take(events.size / 2)).table("public.orders")
    val feed = Check.feed(half, orders)
    val keys = half.keySet ++ orders.keySet
    assert(feed.getOrElse(Op.Insert, 0) == (orders.keySet -- half.keySet).size)
    assert(feed.getOrElse(Op.Delete, 0) == (half.keySet -- orders.keySet).size)
    assert(feed.values.sum <= keys.size)
    assert(Check.feed(orders, orders).isEmpty)
  }

  test("the join reference counts each order of a live account once") {
    val byRegion = Check.revenueByRegion(ref.table("public.accounts"), orders)
    val accounts = ref.table("public.accounts").keySet.map(Check.idOf)
    val joined = orders.values.count(o =>
      accounts.contains(Check.field(o.after, "account_id").toLong))
    assert(byRegion.values.map(_._1).sum == joined)
  }
}
