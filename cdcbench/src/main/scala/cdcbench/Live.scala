package cdcbench

import graft.cdc.{CdcEvent, MaterializedTable, Op, TableGroup}
import graft.streaming.GroupCommitStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable

/** `live`: open loop. The generator publishes small envelope files on a
  * fixed schedule (`Spec.live.ratePerSec`); `GroupCommitStream.start`
  * commits each micro-batch across the three tables as one `TableGroup`
  * commit; a `graft-group-cdf` reader follows the group and keeps a
  * replica; one closed-loop caller issues `MaterializedTable.lookup`.
  */
object Live {
  val spec: Spec = Spec.live
  /** Files committed before the measured window, so tables are not empty. */
  val bootstrapFiles = 10

  def member(t: String): String = t.stripPrefix("public.")

  private def members(batch: DataFrame): Seq[TableGroup.TableBatch] =
    spec.tables.map { t =>
      TableGroup.TableBatch(member(t.name),
        batch.filter(col("table") === t.name)
          .withColumn("id", get_json_object(col("key"), "$.id").cast("long")),
        Seq("id"))
    }

  /** One reader micro-batch as the harness received it. */
  final case class Seen(atNs: Long, maxLsn: Long)

  /** The reader: folds every group change-feed batch into a replica and
    * records when each batch arrived and the highest LSN it carries.
    */
  final class Reader {
    val replica = mutable.Map.empty[(String, String), StateRow]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seen]()
    @volatile var maxLsn = 0L
    private val om = new com.fasterxml.jackson.databind.ObjectMapper()

    def fold(batch: DataFrame): Unit = {
      val rows = batch.select("table", "op", "key", "after").collect()
      val at = System.nanoTime()
      var hi = maxLsn
      for (r <- rows) {
        val (t, op, key) = (r.getString(0), r.getString(1), r.getString(2))
        val id = om.readTree(key).get("id").asLong()
        val k = (t, s"""{"id":$id}""")
        if (op == Op.Delete) replica.remove(k)
        else {
          val a = om.readTree(r.getString(3))
          val lsn = a.get("lsn").asLong()
          replica(k) = StateRow(lsn, a.get("seq").asLong(), a.get("after").asText())
          hi = math.max(hi, lsn)
        }
      }
      if (rows.nonEmpty) seen.add(Seen(at, hi))
      maxLsn = hi
    }
  }

  /** The set-up: the bootstrap commit, then the reader and its replica.
    * The generator goes on from where the bootstrap ended.
    */
  private final class Setup(ctx: Ctx) {
    private val spark = ctx.spark
    val gen = new Gen(spec, ctx.seed)
    val in = ctx.dir("in")
    val root = ctx.work.resolve("group")
    val reader = new Reader
    val published = mutable.ArrayBuffer.empty[CdcEvent]
    /** Every published row state, for checking what lookups return. */
    val states = new java.util.concurrent.ConcurrentHashMap[(String, String, Long, Long), String]()
    /** Per key, (lsn, deleted) of its events, newest first. */
    val history = new java.util.concurrent.ConcurrentHashMap[(String, String), List[(Long, Boolean)]]()
    /** LSN of the last event published; set before its file appears. */
    @volatile var publishedLsn = 0L
    private var fileNo = 0

    def publish(es: Seq[CdcEvent]): Unit = {
      es.foreach { e =>
        if (e.after != null) states.put((e.table, e.key, e.lsn, e.seq), e.after)
        history.merge((e.table, e.key), List((e.lsn, e.after == null)), (old, x) => x ++ old)
      }
      publishedLsn = es.last.lsn
      Gen.publish(in, fileNo, es); fileNo += 1; published ++= es
    }

    def liveThroughout(t: String, key: String, lo: Long, hi: Long): Boolean =
      Check.liveThroughout(history.getOrDefault((t, key), Nil), lo, hi)

    (0 until bootstrapFiles).foreach(_ => publish(gen.nextFile()))
    val writer = Trace("GroupCommitStream.start") {
      GroupCommitStream.start(Harness.envelopes(spark, in).toDF(), root.toString,
        members, Seq("lsn", "seq"),
        checkpointLocation = Some(ctx.work.resolve("writer-ckpt").toString))
    }
    require(Harness.await(120000)(
      TableGroup.tables(spark, root.toString).size == spec.tables.size ||
        writer.exception.isDefined), "bootstrap commit did not land")
    writer.exception.foreach(e => throw e)
    def groupState(t: String) = Harness.stateOf(Trace("TableGroup.read") {
      TableGroup.read(spark, root.toString, member(t))
    })
    for (t <- spec.tables)
      groupState(t.name).foreach { case (k, v) => reader.replica((t.name, k)) = v }
    reader.maxLsn = published.last.lsn
    val readerQ = spark.readStream.format("graft-group-cdf").load(root.toString)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        Trace("graft-group-cdf.batch") {
          // the feed names members; the replica keys by envelope table
          reader.fold(b.withColumn("table", concat(lit("public."), col("table"))))
        }
      }
      .option("checkpointLocation", ctx.work.resolve("reader-ckpt").toString)
      .trigger(Trigger.ProcessingTime(0L))
      .start()
  }

  /** @param rate the offered rate in events/s */
  def run(ctx: Ctx, rate: Double = spec.ratePerSec): Result = {
    val r = new Result
    val spark = ctx.spark
    spark.conf.set("spark.graft.materialized.retainVersions", "2")
    val (s, setupS) = Harness.setUp(new Setup(ctx))
    import s.{gen, root, reader, published, writer, readerQ, groupState, publish}

    // measured window: the open-loop generator, the lookup caller
    val perFileNs = (spec.eventsPerFile / rate * 1e9).toLong
    val nFiles = (ctx.seconds * rate / spec.eventsPerFile).toInt
    val due = mutable.ArrayBuffer.empty[(Long, Long)] // (due ns, max lsn)
    val late = mutable.ArrayBuffer.empty[Double]
    val lookups = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Boolean)]()
    @volatile var stop = false
    val jvm = new JvmWindow
    val lookupParent = Trace.currentId
    val caller = new Thread(() => {
      val rnd = new java.util.SplittableRandom(ctx.seed * 17 + 3)
      while (!stop) {
        val t = spec.tables(rnd.nextInt(spec.tables.size))
        val id = (t.keys * math.pow(rnd.nextDouble(), spec.skew)).toLong
        val t0 = System.nanoTime()
        val key = s"""{"id":$id}"""
        // the lookup sees a state committed between these two LSNs
        val lo = reader.maxLsn
        val ok = try {
          val got = Harness.op(spark, "live.lookup", lookupParent) {
            Harness.stateOf(MaterializedTable.lookup(spark,
              root.resolve(member(t.name)).toString, Seq(id)))
          }
          val hi = s.publishedLsn
          // a hit must be a state the changelog really produced for the
          // key; a miss, a key deleted in some state it may have seen
          if (got.isEmpty) !s.liveThroughout(t.name, key, lo, hi)
          else got.size == 1 && got.forall { case (k, v) =>
            k == key && s.states.get((t.name, k, v.lsn, v.seq)) == v.after }
        } catch {
          case e: Exception =>
            System.err.println(s"[cdcbench] lookup failed: $e"); false
        }
        lookups.add(((System.nanoTime() - t0) / 1e6, ok))
      }
    }, "cdcbench-lookup")
    caller.setDaemon(true)
    val start = System.nanoTime() + 200000000L
    caller.start()
    Trace("generator") {
      for (i <- 0 until nFiles) {
        val es = gen.nextFile()
        val at = start + (i + 1) * perFileNs
        val wait = at - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        publish(es)
        late += (System.nanoTime() - at) / 1e6
        due += ((at, es.last.lsn))
      }
    }
    stop = true
    val lastLsn = published.last.lsn
    val caughtUp = Harness.await(120000)(reader.maxLsn >= lastLsn ||
      writer.exception.isDefined || readerQ.exception.isDefined)
    caller.join(60000)
    writer.stop(); readerQ.stop()
    writer.exception.orElse(readerQ.exception).foreach(e => throw e)
    require(caughtUp, "reader did not catch up with the last commit")

    // visibility: each file's events become visible with the first reader
    // batch whose LSN covers the file's last event
    val seen = reader.seen.toArray(Array.empty[Seen]).toSeq.sortBy(_.atNs)
    val visibleMs = due.toSeq.map { case (at, lsn) =>
      (seen.find(_.maxLsn >= lsn).get.atNs - at) / 1e6
    }
    // the window's events over the time from its start until the reader
    // saw the last of them: the offered rate, less the tail's lag
    val ingest = nFiles * spec.eventsPerFile /
      ((seen.find(_.maxLsn >= lastLsn).get.atNs - start) / 1e9)
    // for calibration runs: latency by third of the window, and the writer
    // batches, whose sizes stay level at a rate the program sustains
    val thirds = visibleMs.grouped(math.max(1, (visibleMs.size + 2) / 3)).map(Stats.p50).toSeq

    // checks: reader replica = group state = reference fold
    val ref = new Reference().applyAll(published)
    val groupBad = spec.tables.map { t =>
      val g = groupState(t.name)
      val rep = reader.replica.iterator.collect {
        case ((tt, k), v) if tt == t.name => k -> v }.toMap
      Check.mismatches(ref.table(t.name), g) + Check.mismatches(ref.table(t.name), rep)
    }.sum
    val ls = lookups.toArray(Array.empty[(Double, Boolean)]).toSeq
    val dirs = spec.tables.map(t => root.resolve(member(t.name)))
    val progress = writer.recentProgress.toSeq.filter(_.numInputRows > 0)
    r.attempted = published.size + ls.size
    r.failed = groupBad + ls.count(!_._2)
    r.e2e("setup_s") = (setupS, "s")
    r.e2e("ingest_eps") = (ingest, "1/s")
    r.e2e("visible_p50_ms") = (Stats.p50(visibleMs), "ms")
    r.e2e("visible_p90_ms") = (Stats.pct(visibleMs, 0.9), "ms")
    r.e2e("store_mb") = (dirs.map(Harness.dirBytes).sum / 1048576.0, "MB")
    System.err.println(f"[cdcbench] live: generator late p50 ${Stats.p50(late.toSeq)}%.1f ms, " +
      f"max ${late.max}%.1f ms; ${seen.size} reader batches; ${ls.size} lookups, " +
      f"p50 ${Stats.p50(ls.map(_._1))}%.1f ms; visible p50 by third of the window " +
      thirds.map(x => f"$x%.0f").mkString(" / ") + " ms; writer batches (rows, ms): " +
      progress.map(p =>
        s"${p.numInputRows}:${p.durationMs.get("triggerExecution")}").mkString(" "))

    // the read loop over the group's tables, writes stopped; the feed spans
    // the last two versions of orders
    val orders = root.resolve(member(spec.tables(1).name)).toString
    val v0 = MaterializedTable.listVersions(spark, orders).takeRight(2).head
    val b0 = MaterializedTable.history(spark, orders).where(col("version") === v0)
      .select("last_batch_id").head().getLong(0)
    val before = new Reference().applyAll(published.take(
      progress.filter(_.batchId <= b0).map(_.numInputRows).sum.toInt))
    val layout = Reads.Layout(t => root.resolve(member(t)).toString,
      (_, key) => Seq(Check.idOf(key)), Seq("id"), seqFactor = 1)
    val (samples, ratios) = Reads.loop(ctx, spec, layout, before, ref)
    Reads.report(r, samples, ratios, ctx.jobs)

    ctx.jobs.foreach { jobs =>
      // batch 0 is the bootstrap commit
      val ps = progress.filter(_.batchId > 0)
      Harness.streamingLayer(r, ps)
      Harness.sparkBatchLayer(r, jobs, writer, ps)
      Harness.tableLayer(r, spark, dirs, ref.size)
      // group commit time per writer batch: the batch's end, since the
      // group commit is its last step (history keeps only the two retained
      // versions)
      val commitNs = progress.map(p => p.batchId ->
        (java.time.Instant.parse(p.timestamp).toEpochMilli +
          p.durationMs.get("triggerExecution").longValue)).toMap
      // wall clock → the nanoTime scale the generator and reader use
      val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
      val batches = progress.sortBy(_.batchId).scanLeft((-1L, 0L)) { case ((_, n), p) =>
        (p.batchId, n + p.numInputRows) }.tail
      // the batch that committed the event with index i (publish order)
      def batchOf(i: Long): Long = batches.find(_._2 > i).map(_._1).getOrElse(-1L)
      val firstWindowEvent = bootstrapFiles.toLong * spec.eventsPerFile
      val commits = due.indices.flatMap { j =>
        val last = firstWindowEvent + (j + 1L) * spec.eventsPerFile - 1
        commitNs.get(batchOf(last)).map(ms => (j, ms * 1000000L + clockOffsetNs))
      }
      r.layers("live.write_ms_p50") = (Stats.p50(commits.map { case (j, c) =>
        (c - due(j)._1) / 1e6 }), "ms")
      r.layers("live.read_ms_p50") = (Stats.p50(commits.map { case (j, c) =>
        (seen.find(_.maxLsn >= due(j)._2).get.atNs - c) / 1e6 }), "ms")
      val windowCommits = commitNs.toSeq.filter(_._1 > 0).sortBy(_._1).map(_._2.toDouble)
      r.layers("group.commit_interval_ms_p50") = (Stats.p50(
        windowCommits.zip(windowCommits.drop(1)).map { case (a, b) => b - a }), "ms")
      val rps = readerQ.recentProgress.toSeq.filter(_.numInputRows > 0)
      r.layers("cdf.batches") = (rps.size.toDouble, "count")
      r.layers("cdf.batch_ms_p50") = (Stats.p50(rps.map(p =>
        p.durationMs.get("triggerExecution").doubleValue)), "ms")
      // under write load a lookup's latency depends on which merge it
      // meets: across runs its median spread by a quarter
      r.layers("live.lookup_p50_ms") = (Stats.p50(ls.map(_._1)), "ms")
      r.layers("gen.late_ms_p50") = (Stats.p50(late.toSeq), "ms")
      r.layers("gen.late_ms_max") = (late.max, "ms")
      r.layers("jvm.gc_ms") = (jvm.gcMsSince, "ms")
      r.layers("jvm.heap_peak_mb") = (jvm.heapPeakMb, "MB")
    }
    r
  }
}
