package cdcbench

import graft.cdc.Op
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def files(spec: Spec, seed: Long, n: Int) = {
    val g = new Gen(spec, seed)
    (0 until n).map(_ => g.nextFile())
  }

  test("one seed always yields the same bytes; another seed differs") {
    for (spec <- Seq(Spec.drain, Spec.live)) {
      val a = files(spec, 42, 3).map(Gen.bytes)
      val b = files(spec, 42, 3).map(Gen.bytes)
      assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
      val c = files(spec, 43, 3).map(Gen.bytes)
      assert(!java.util.Arrays.equals(a.head, c.head))
    }
  }

  test("LSNs increase monotonically; a transaction shares one LSN") {
    val es = files(Spec.drain, 7, 3).flatten
    val txns = es.grouped(Spec.drain.txnEvents).toSeq
    assert(txns.forall(t => t.map(_.lsn).distinct.size == 1))
    assert(txns.forall(t => t.map(_.seq) == (0 until t.size).map(_.toLong)))
    val lsns = txns.map(_.head.lsn)
    assert(lsns.zip(lsns.tail).forall { case (a, b) => b > a })
  }

  test("the op mix matches the spec") {
    val es = files(Spec.drain, 11, 8).flatten
    val (ins, upd, del) = Spec.drain.mix
    def share(op: String) = es.count(_.op == op).toDouble / es.size
    assert(math.abs(share(Op.Insert) - ins) < 0.01)
    assert(math.abs(share(Op.Update) - upd) < 0.01)
    assert(math.abs(share(Op.Delete) - del) < 0.01)
  }

  test("updates and deletes hit live keys; inserts hit absent keys") {
    val live = scala.collection.mutable.Set.empty[(String, String)]
    for (e <- files(Spec.live, 5, 40).flatten) {
      val k = (e.table, e.key)
      if (e.op == Op.Insert) assert(!live(k)) else assert(live(k))
      if (e.op == Op.Delete) live -= k else live += k
    }
  }

  test("orders reference an account live at that point of the stream") {
    val accounts = scala.collection.mutable.Set.empty[Long]
    var checked = 0
    for (e <- files(Spec.live, 9, 40).flatten) {
      if (e.table == "public.accounts") {
        if (e.op == Op.Delete) accounts -= Check.idOf(e.key)
        else accounts += Check.idOf(e.key)
      } else if (e.table == "public.orders" && e.after != null && accounts.nonEmpty) {
        assert(accounts(Check.field(e.after, "account_id").toLong))
        checked += 1
      }
    }
    assert(checked > 100)
  }

  test("publishing leaves only the final file") {
    val dir = java.nio.file.Files.createTempDirectory("cdcbench-gen")
    try {
      Gen.publish(dir, 3, files(Spec.live, 1, 1).head)
      val names = dir.toFile.list().toSeq
      assert(names == Seq("env-0000003.json"))
    } finally Harness.deleteTree(dir)
  }
}
