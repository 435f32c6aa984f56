package cdcbench

import graft.cdc.MaterializedTable
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The read loop every workload runs over the tables it just wrote, with no
  * writes in flight. One caller loops over six point lookups into all
  * three tables, two stats-filtered range reads of `orders` through
  * `format("graft")`, a join + group-by over the `orders` and `accounts`
  * payloads, and the change feed of `orders` between its last two
  * committed versions, after one unmeasured pass of the last three.
  * Every result is checked against the reference fold.
  */
object Reads {
  /** How a workload stored its tables.
    *
    * @param dir       envelope table name → its directory
    * @param lookupKey (table, key JSON) → the key `MaterializedTable.lookup`
    *                  takes
    * @param feedKeys  the key columns of the change feed
    * @param seqFactor stored seq / envelope seq
    */
  final case class Layout(dir: String => String,
      lookupKey: (String, String) => Seq[Any], feedKeys: Seq[String],
      seqFactor: Long)


  val lookupsPerCycle = 6
  /** Range reads per cycle: two, since a range read is the cheapest of the
    * three queries and, with one per cycle, the noisiest median.
    */
  val scansPerCycle = 2

  /** Cycles the loop runs: about `seconds` at the seed's speed (a cycle
    * takes about 3.5 s there), never fewer than three. A fixed count gives
    * every run the same number of samples per operation.
    */
  def cycles(seconds: Int): Int = math.max(3, math.round(seconds / 3.5).toInt)
  val ops = Seq("lookup", "scan", "agg", "feed")

  final case class Sample(op: String, ms: Double, ok: Boolean)

  /** @param before  reference state at the second-to-last version of orders
    * @param after   reference state at the last version
    * @return the samples, and the share of buckets the range reads kept
    *         (only measured when tracing)
    */
  def loop(ctx: Ctx, spec: Spec, layout: Layout,
      before: Reference, after: Reference): (Seq[Sample], Seq[Double]) = {
    val spark = ctx.spark
    val dir = layout.dir
    def read(t: String) = spark.read.format("graft").load(dir(t))
    // compare in the stored seq numbering
    def stored(ref: Reference, t: String) = ref.table(t).map { case (k, e) =>
      k -> Check.rowOf(e.copy(seq = layout.seqFactor * e.seq)) }
    val now = spec.tables.map(t => t.name -> stored(after, t.name)).toMap
    val lsns = now.values.flatMap(_.values.map(_.lsn))
    val (lsnLo, lsnSpan) = (lsns.min, lsns.max - lsns.min)
    val (accounts, orders) = (spec.tables(0).name, spec.tables(1).name)
    // range reads and feeds always hit the busiest table, so their samples
    // are comparable with one another
    val t = orders
    val expectAgg = Check.revenueByRegion(after.table(accounts), after.table(orders))
    val Seq(v0, v1) = MaterializedTable.listVersions(spark, dir(t)).takeRight(2)
    val expectFeed = Check.feed(before.table(t), after.table(t))

    // the range read: rows last changed in the 85-95% slice of the LSNs
    val (lo, hi) = (lsnLo + lsnSpan * 85 / 100, lsnLo + lsnSpan * 95 / 100)
    val rnd = new java.util.SplittableRandom(ctx.seed * 31 + 7)
    val samples = mutable.ArrayBuffer.empty[Sample]
    val ratios = mutable.ArrayBuffer.empty[Double]
    def timed(op: String)(f: => Boolean): Unit = {
      val t0 = System.nanoTime()
      val ok = try Harness.op(spark, op)(f) catch {
        case e: Exception =>
          System.err.println(s"[cdcbench] $op failed: $e"); false
      }
      samples += Sample(op, (System.nanoTime() - t0) / 1e6, ok)
    }

    val pred = col("lsn") >= lo && col("lsn") < hi
    def scan() = read(t).filter(pred).count() ==
      now(t).values.count(r => r.lsn >= lo && r.lsn < hi)
    def agg() = {
      val a = read(accounts).select(
        get_json_object(col("key"), "$.id").cast("long").as("account_id"),
        get_json_object(col("after"), "$.region").as("region"))
      val o = read(orders).select(
        get_json_object(col("after"), "$.account_id").cast("long").as("account_id"),
        get_json_object(col("after"), "$.amount").cast("long").as("amount"))
      o.join(a, "account_id").groupBy("region").agg(count(lit(1)), sum("amount"))
        .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2)))
        .toMap == expectAgg
    }
    def feed() =
      MaterializedTable.changeFeed(spark, dir(t), v0, v1, layout.feedKeys)
        .groupBy("op").count().collect()
        .map(x => x.getString(0) -> x.getLong(1).toInt).toMap == expectFeed

    // one unmeasured pass: the first run of a query in the JVM pays code
    // generation and JIT, and with three samples per op it would sway the
    // median
    scan(); agg(); feed()
    for (_ <- 0 until cycles(ctx.seconds)) {
      for (_ <- 0 until lookupsPerCycle) {
        val t = spec.tables(rnd.nextInt(spec.tables.size))
        val key = s"""{"id":${(t.keys * math.pow(rnd.nextDouble(), spec.skew)).toLong}}"""
        timed("lookup") {
          val got = Harness.stateOf(MaterializedTable.lookup(spark, dir(t.name),
            layout.lookupKey(t.name, key)))
          got == now(t.name).get(key).map(key -> _).toMap
        }
      }
      if (ctx.traced)
        ratios += MaterializedTable.matchingBuckets(spark, dir(t), pred).size.toDouble /
          MaterializedTable.numBucketsOf(spark, dir(t)).getOrElse(1)
      for (_ <- 0 until scansPerCycle) timed("scan")(scan())
      timed("agg")(agg())
      timed("feed")(feed())
    }
    (samples.toSeq, ratios.toSeq)
  }

  /** End-to-end read metrics, and per-op job counts when tracing. */
  def report(r: Result, samples: Seq[Sample], ratios: Seq[Double],
      jobs: Option[Jobs]): Unit = {
    def ms(op: String) = samples.filter(_.op == op).map(_.ms)
    r.attempted += samples.size
    r.failed += samples.count(!_.ok)
    r.e2e("lookup_p50_ms") = (Stats.p50(ms("lookup")), "ms")
    r.e2e("scan_p50_ms") = (Stats.p50(ms("scan")), "ms")
    r.e2e("agg_p50_ms") = (Stats.p50(ms("agg")), "ms")
    r.e2e("feed_p50_ms") = (Stats.p50(ms("feed")), "ms")
    jobs.foreach { j =>
      val byOp = j.all.groupBy(_.op)
      for (op <- ops) {
        val n = math.max(1, samples.count(_.op == op)).toDouble
        val js = byOp.getOrElse(op, Nil)
        r.layers(s"spark.jobs_per_op.$op") = (js.size / n, "count")
        r.layers(s"spark.tasks_per_op.$op") = (js.map(_.tasks).sum / n, "count")
      }
      r.layers("scan.buckets_read_ratio") = (Stats.mean(ratios), "ratio")
      r.layers("reads.lookup_p90_ms") = (Stats.pct(ms("lookup"), 0.9), "ms")
    }
  }
}
