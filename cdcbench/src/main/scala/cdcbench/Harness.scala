package cdcbench

import graft.cdc.CdcEvent
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one workload run reports. `e2e` holds the end-to-end metrics,
  * `layers` the per-layer ones (filled only when tracing).
  */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
}

/** One run's environment. `jobs` is set only in a traced run. */
final case class Ctx(spark: SparkSession, work: java.nio.file.Path, seed: Long,
    seconds: Int, jobs: Option[Jobs]) {
  def traced: Boolean = jobs.isDefined
  def dir(name: String): java.nio.file.Path = {
    val d = work.resolve(name)
    java.nio.file.Files.createDirectories(d)
    d
  }
}

object Harness {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The session every workload runs on, built the way the Graft facade
    * documents: with GraftExtensions installed.
    */
  def session(n: Int, work: java.nio.file.Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("cdcbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def envelopes(spark: SparkSession, in: java.nio.file.Path,
      maxFilesPerTrigger: Option[Int] = None): Dataset[CdcEvent] = {
    val r = spark.readStream.schema(Encoders.product[CdcEvent].schema)
    maxFilesPerTrigger.fold(r)(m => r.option("maxFilesPerTrigger", m.toLong))
      .json(in.toString).as[CdcEvent](Encoders.product[CdcEvent])
  }

  /** Runs `f` with its Spark jobs tagged as harness operation `op`. */
  def op[A](spark: SparkSession, name: String, parent: Long = -1L)(f: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Jobs.OpKey, name)
    try Trace(name, parent)(f) finally sc.setLocalProperty(Jobs.OpKey, null)
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Bytes of regular files under `dir`, skipping checksum sidecars. */
  def dirBytes(dir: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.endsWith(".crc"))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }

  def deleteTree(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator.asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }

  /** Reads a materialized table back as key JSON → state row. */
  def stateOf(df: DataFrame): Map[String, StateRow] =
    df.select("key", "lsn", "seq", "after").collect()
      .map(r => r.getString(0) -> StateRow(r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap

  /** A run's set-up, once: its value and its time in seconds. Once, in a
    * fresh JVM, so it includes the JVM's warm-up: the first set-up of a run
    * takes about 15 s and each further one 6–8 s on a 4-core machine, and
    * the median of several would leave the benchmark's time budget no room
    * for the workloads themselves.
    */
  def setUp[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    val s = secondsSince(t0)
    System.err.println(f"[cdcbench] set-up: $s%.3f s")
    (a, s)
  }

  // ---- per-layer readings ---------------------------------------------

  private def durMs(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** `streaming.*` (and, when the query is stateful, `state.*`) from the
    * progress reports of the measured batches.
    */
  def streamingLayer(r: Result, ps: Seq[StreamingQueryProgress]): Unit = {
    def p50(f: StreamingQueryProgress => Double) = Stats.p50(ps.map(f))
    r.layers("streaming.batches") = (ps.size.toDouble, "count")
    r.layers("streaming.rows_per_batch_p50") = (p50(_.numInputRows.toDouble), "rows")
    r.layers("streaming.trigger_ms_p50") = (p50(durMs(_, "triggerExecution")), "ms")
    r.layers("streaming.addBatch_ms_p50") = (p50(durMs(_, "addBatch")), "ms")
    r.layers("streaming.planning_ms_p50") = (p50(durMs(_, "queryPlanning")), "ms")
    r.layers("streaming.getBatch_ms_p50") = (p50(durMs(_, "getBatch")), "ms")
    r.layers("streaming.wal_ms_p50") = (p50(durMs(_, "walCommit")), "ms")
    val st = ps.flatMap(_.stateOperators.headOption)
    r.layers("state.rows_total") =
      (st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "rows")
    r.layers("state.memory_bytes") =
      (st.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes")
    r.layers("state.rows_updated_per_batch") =
      (Stats.p50(st.map(_.numRowsUpdated.toDouble)), "rows")
    r.layers("state.commit_ms_p50") = (Stats.p50(st.map(_.commitTimeMs.toDouble)), "ms")
  }

  /** `spark.*_per_batch` for the writer query's batches: jobs, tasks, time
    * with at least one job running, the rest of the trigger (driver gap),
    * shuffle and output bytes. Medians over batches.
    */
  def sparkBatchLayer(r: Result, jobs: Jobs, q: StreamingQuery,
      ps: Seq[StreamingQueryProgress]): Unit = {
    val byBatch = jobs.all.filter(_.query == q.id.toString).groupBy(_.batch)
    val rows = ps.map { p =>
      val js = byBatch.getOrElse(p.batchId, Nil)
      val busy = Jobs.busyMs(js)
      (js.size.toDouble, js.map(_.tasks).sum.toDouble, busy,
        math.max(0.0, durMs(p, "triggerExecution") - busy),
        js.map(_.shuffleBytes).sum.toDouble, js.map(_.outputBytes).sum.toDouble)
    }
    r.layers("spark.jobs_per_batch") = (Stats.p50(rows.map(_._1)), "count")
    r.layers("spark.tasks_per_batch") = (Stats.p50(rows.map(_._2)), "count")
    r.layers("spark.job_busy_ms_per_batch") = (Stats.p50(rows.map(_._3)), "ms")
    r.layers("spark.driver_gap_ms_per_batch") = (Stats.p50(rows.map(_._4)), "ms")
    r.layers("spark.shuffle_write_bytes_per_batch") = (Stats.p50(rows.map(_._5)), "bytes")
    r.layers("spark.output_bytes_per_batch") = (Stats.p50(rows.map(_._6)), "bytes")
  }

  /** `table.*` for materialized tables, read from public metadata. */
  def tableLayer(r: Result, spark: SparkSession,
      tables: Seq[java.nio.file.Path], liveRows: Long): Unit = {
    import graft.cdc.MaterializedTable
    val versions = tables.map { d =>
      Trace("MaterializedTable.history") {
        MaterializedTable.history(spark, d.toString).select("version")
          .collect().map(_.getLong(0)).maxOption.getOrElse(0L)
      }
    }
    val files = tables.flatMap { d =>
      Trace("MaterializedTable.filesPerBucket") {
        MaterializedTable.filesPerBucket(spark, d.toString).values.toSeq
      }
    }
    r.layers("table.commits") = (versions.sum.toDouble, "count")
    r.layers("table.files_per_bucket_mean") = (Stats.mean(files.map(_.toDouble)), "files")
    r.layers("table.bytes_per_live_row") =
      (tables.map(dirBytes).sum.toDouble / math.max(1L, liveRows), "bytes")
  }

  /** Await `cond`, polling, for at most `timeoutMs`. */
  def await(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val end = System.nanoTime() + timeoutMs * 1000000L
    while (!cond && System.nanoTime() < end) Thread.sleep(20)
    cond
  }
}
