package cdcbench

/** Runs one workload and prints its result as the last line of stdout:
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{name:{value,unit}}}`.
  *
  * {{{
  * Main --workload drain|live --seed N --seconds S --trace 0|1 --work DIR
  *      [--baseline FILE] [--rate EVENTS_PER_S]
  * }}}
  * With `--trace 0` the metrics are the end-to-end ones. With `--trace 1`
  * the run is traced (Spark listener, log counter and spans on) and the
  * metrics are the per-layer ones; `--baseline FILE`, the result line of an
  * untraced run of the same seed, gives the tracing overhead. A traced
  * `drain` also drains once more at `local[1]`. `--rate` replaces `live`'s
  * offered rate, for finding the rate the program sustains.
  */
object Main {
  val workloads: Map[String, (Ctx, Args) => Result] = Map(
    "drain" -> ((c, _) => Drain.run(c, reads = true)),
    "live" -> ((c, a) =>
      Live.run(c, a.get("rate").fold(Live.spec.ratePerSec)(_.toDouble))))

  /** Every end-to-end metric any workload reports, for the overhead. */
  val e2eNames = Seq("setup_s", "ingest_eps", "visible_p50_ms",
    "visible_p90_ms", "lookup_p50_ms", "scan_p50_ms",
    "agg_p50_ms", "feed_p50_ms", "store_mb")

  /** Spans whose self time the traced run reports. */
  val spanNames = Seq("run", "CdcPipeline.drain", "GroupCommitStream.start",
    "graft-group-cdf.batch", "generator", "live.lookup", "lookup", "scan",
    "agg", "feed",
    "MaterializedTable.read", "TableGroup.read",
    "MaterializedTable.history", "MaterializedTable.filesPerBucket")

  /** Per-layer metrics a workload does not exercise read 0. */
  val layerNames: Seq[(String, String)] = Seq(
    "streaming.batches" -> "count", "streaming.rows_per_batch_p50" -> "rows",
    "streaming.trigger_ms_p50" -> "ms", "streaming.addBatch_ms_p50" -> "ms",
    "streaming.planning_ms_p50" -> "ms", "streaming.getBatch_ms_p50" -> "ms",
    "streaming.wal_ms_p50" -> "ms",
    "state.rows_total" -> "rows", "state.memory_bytes" -> "bytes",
    "state.rows_updated_per_batch" -> "rows", "state.commit_ms_p50" -> "ms",
    "spark.jobs_per_batch" -> "count", "spark.tasks_per_batch" -> "count",
    "spark.job_busy_ms_per_batch" -> "ms", "spark.driver_gap_ms_per_batch" -> "ms",
    "spark.shuffle_write_bytes_per_batch" -> "bytes",
    "spark.output_bytes_per_batch" -> "bytes") ++
    Seq("lookup", "scan", "agg", "feed").flatMap(o => Seq(
      s"spark.jobs_per_op.$o" -> "count", s"spark.tasks_per_op.$o" -> "count")) ++
    Seq("table.commits" -> "count", "table.files_per_bucket_mean" -> "files",
      "table.bytes_per_live_row" -> "bytes", "group.commit_interval_ms_p50" -> "ms",
      "cdf.batches" -> "count", "cdf.batch_ms_p50" -> "ms",
      "live.lookup_p50_ms" -> "ms",
      "live.write_ms_p50" -> "ms", "live.read_ms_p50" -> "ms",
      "reads.lookup_p90_ms" -> "ms",
      "scan.buckets_read_ratio" -> "ratio",
      "plans.max_iter_warnings" -> "count",
      "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
      "gen.late_ms_p50" -> "ms", "gen.late_ms_max" -> "ms",
      "drain.ingest_eps_1core" -> "1/s", "drain.eps_1core_over_ncore" -> "ratio",
      "error_rate" -> "ratio") ++
    spanNames.map(n => s"self_ms.$n" -> "ms") ++
    e2eNames.map(n => s"overhead.$n" -> (n match {
      case "setup_s" => "s"; case "store_mb" => "MB"
      case n if n.endsWith("_eps") => "1/s"; case _ => "ms" }))

  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val workload = a("workload")
    val run = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val work = java.nio.file.Paths.get(a("work")).toAbsolutePath
    var spark = Harness.session(Harness.cores, work)
    val ctx = Ctx(spark, work.resolve("run"), a("seed").toLong,
      a("seconds").toInt, None)
    val out =
      if (a("trace") != "1") run(ctx, a)
      else {
        MaxIterations.install()
        val jobs = new Jobs
        spark.sparkContext.addSparkListener(jobs)
        Trace.run = s"$workload-${ctx.seed}"
        Trace.on = true
        val r = try Trace("run")(run(ctx.copy(jobs = Some(jobs)), a))
        finally Trace.on = false
        spark.sparkContext.removeSparkListener(jobs)
        val spans = Trace.spans
        Trace.write(work.resolve("spans.jsonl"), spans)
        val self = Trace.selfMs(spans)
        spanNames.foreach(n => r.layers(s"self_ms.$n") = (self.getOrElse(n, 0.0), "ms"))
        r.layers("plans.max_iter_warnings") = (MaxIterations.count.get.toDouble, "count")
        // overhead: this traced run against an untraced run of the same seed
        val base = a.get("baseline").map(baseline).getOrElse(Map.empty)
        for (n <- e2eNames; (tv, u) <- r.e2e.get(n); bv <- base.get(n))
          r.layers(s"overhead.$n") = (tv - bv, u)
        if (workload == "drain") {
          // the drain once more at one core, for the core-scaling ratio
          spark.stop()
          spark = Harness.session(1, work)
          val one = Drain.run(ctx.copy(spark = spark, work = work.resolve("one-core"),
            jobs = None), reads = false, files = 1)
          val eps1 = one.e2e("ingest_eps")._1
          r.layers("drain.ingest_eps_1core") = (eps1, "1/s")
          r.layers("drain.eps_1core_over_ncore") = (eps1 /
            base.getOrElse("ingest_eps", r.e2e("ingest_eps")._1), "ratio")
          r.attempted += one.attempted
          r.failed += one.failed
        }
        r.layers("error_rate") = (r.failed.toDouble / r.attempted, "ratio")
        r
      }
    spark.stop()
    val metrics =
      if (a("trace") != "1") out.e2e.toSeq
      else layerNames.map { case (n, u) => n -> out.layers.getOrElse(n, (0.0, u)) }
    println(json(out.failed == 0, out.attempted, out.failed, metrics))
  }

  /** Metric values of an untraced result line. */
  def baseline(path: String): Map[String, Double] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path)).get("metrics")
    val m = scala.collection.mutable.Map.empty[String, Double]
    root.properties().forEach(e => m(e.getKey) = e.getValue.get("value").asDouble())
    m.toMap
  }

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"not a finite number: $v")
    v.toString
  }

  def json(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, (Double, String))]): String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      "\"metrics\":{" + metrics.map { case (k, (v, u)) =>
        s""""$k":{"value":${num(v)},"unit":"$u"}"""
      }.mkString(",") + "}}"
}
