package cdcbench

import graft.cdc.{CdcEvent, MaterializedTable}
import graft.streaming.CdcPipeline

/** `drain`: closed loop. Set-up bootstraps the tables from a first,
  * small envelope file through `CdcPipeline.latestStateStream` →
  * `writeLatestState`. The measured drain then restarts the pipeline on the
  * same checkpoint and takes a backlog of large files under `AvailableNow`,
  * one file per micro-batch. [[Reads]] then runs over the drained tables.
  */
object Drain {
  val spec: Spec = Spec.drain
  val backlogFiles = 2
  /** Events of the bootstrap file. */
  val bootstrapEvents = 1000

  /** Writes `files` into `in` as files `from`, `from + 1`, …, each with a
    * later modification time than the one before, so the file source takes
    * them in publish order.
    */
  private def publish(in: java.nio.file.Path, files: Seq[Seq[CdcEvent]],
      from: Int, t0: Long): Unit = {
    java.nio.file.Files.createDirectories(in)
    files.zipWithIndex.foreach { case (es, j) =>
      val i = from + j
      val p = Gen.publish(in, i, es)
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(t0 + 1000L * i))
    }
  }

  /** Drains `in` under the run's work directory, one file per micro-batch,
    * into `out`, with its checkpoint in `ckpt`.
    */
  def drainOnce(ctx: Ctx): org.apache.spark.sql.streaming.StreamingQuery = {
    val q = Trace("CdcPipeline.drain") {
      val env = Harness.envelopes(ctx.spark, ctx.work.resolve("in"), Some(1))
      val q = CdcPipeline.writeLatestState(CdcPipeline.latestStateStream(env),
        ctx.work.resolve("out").toString, ctx.work.resolve("ckpt").toString).start()
      q.awaitTermination()
      q
    }
    q.exception.foreach(e => throw e)
    q
  }

  /** One drain run: set-up, the measured drain, the output check, then the
    * read loop over the drained tables. With `reads = false` only the drain.
    */
  def run(ctx: Ctx, reads: Boolean, files: Int = backlogFiles): Result = {
    val r = new Result
    val spark = ctx.spark
    // keep the last two versions of each table for the change feed
    spark.conf.set("spark.graft.materialized.retainVersions", "2")
    val t0 = System.currentTimeMillis() - 1000L * (files + 10)
    // set-up: generate the changelog, bootstrap the tables from its first
    // file
    val in = ctx.work.resolve("in")
    val (input, setupS) = Harness.setUp {
      val g = new Gen(spec, ctx.seed)
      val input = g.nextEvents(bootstrapEvents) +: (0 until files).map(_ => g.nextFile())
      publish(in, input.take(1), 0, t0)
      drainOnce(ctx)
      input
    }
    publish(in, input.tail, 1, t0)
    val events = input.tail.map(_.size).sum
    val jvm = new JvmWindow
    val releasedMs = System.currentTimeMillis()
    val q = drainOnce(ctx)
    val ps = q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
    val eps = ps.map(_.numInputRows).sum /
      (ps.map(_.durationMs.get("triggerExecution").longValue).sum / 1000.0)
    // a backlog event is visible once its batch has committed; the whole
    // backlog was released when the drain started
    val visibleMs = ps.flatMap { p =>
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").longValue
      Seq.fill(p.numInputRows.toInt)((end - releasedMs).toDouble)
    }
    System.err.println(f"[cdcbench] drain: $eps%.1f events/s over ${ps.size} batches")

    val ref = new Reference().applyAll(input.flatten)
    val out = ctx.work.resolve("out")
    val dirs = spec.tables.map(t =>
      out.resolve(graft.functions.AvroSafeName.sanitize(t.name)))
    val bad = spec.tables.zip(dirs).map { case (t, d) =>
      val actual = Harness.stateOf(Trace("MaterializedTable.read") {
        MaterializedTable.read(spark, d.toString)
      })
      // UpdateSplit doubles every event's seq (its documented contract)
      Check.mismatches(ref.table(t.name).map { case (k, e) =>
        k -> e.copy(seq = 2 * e.seq) }, actual)
    }.sum
    r.attempted = events
    r.failed = bad
    r.e2e("setup_s") = (setupS, "s")
    r.e2e("ingest_eps") = (eps, "1/s")
    r.e2e("visible_p50_ms") = (Stats.p50(visibleMs), "ms")
    r.e2e("visible_p90_ms") = (Stats.pct(visibleMs, 0.9), "ms")
    r.e2e("store_mb") = (dirs.map(Harness.dirBytes).sum / 1048576.0, "MB")

    if (reads) {
      // one batch per file: the last two versions are the states before
      // and after the last file
      val before = new Reference().applyAll(input.init.flatten)
      val dirOf = spec.tables.map(_.name).zip(dirs.map(_.toString)).toMap
      val layout = Reads.Layout(dirOf, (t, key) => Seq(t, key),
        Seq("table", "key"), seqFactor = 2)
      val (samples, ratios) = Reads.loop(ctx, spec, layout, before, ref)
      Reads.report(r, samples, ratios, ctx.jobs)
    }

    ctx.jobs.foreach { jobs =>
      Harness.streamingLayer(r, ps)
      Harness.sparkBatchLayer(r, jobs, q, ps)
      Harness.tableLayer(r, spark, dirs, ref.size)
      r.layers("jvm.gc_ms") = (jvm.gcMsSince, "ms")
      r.layers("jvm.heap_peak_mb") = (jvm.heapPeakMb, "MB")
    }
    r
  }
}
