package cdcbench

import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Percentiles and other small helpers over samples. */
object Stats {
  /** Nearest-rank percentile (q in [0, 1]); 0 for no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  def p50(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Length of the union of [start, end] intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long =
    intervals.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
        if (b <= end) (sum, end) else (sum + b - math.max(a, end), b)
      }._1
}

/** Spark jobs, attributed to the streaming batch or harness operation that
  * launched them. Streaming jobs carry the query id and batch id as local
  * properties; the harness tags its own calls with [[Jobs.OpKey]].
  */
final class Jobs extends SparkListener {
  import Jobs.Job

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs(e.jobId) = Job(e.jobId, prop("sql.streaming.queryId").getOrElse(""),
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      prop(Jobs.OpKey).getOrElse(""), e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      stageJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += si.numTasks
        Option(si.taskMetrics).foreach { m =>
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  def all: Seq[Job] = synchronized(jobs.values.filter(_.endMs >= 0).toSeq)
}

object Jobs {
  val OpKey = "cdcbench.op"

  final case class Job(id: Int, query: String, batch: Long, op: String,
      startMs: Long, var endMs: Long = -1, var tasks: Int = 0,
      var shuffleBytes: Long = 0, var outputBytes: Long = 0)

  /** Time with at least one of the jobs running, ms. */
  def busyMs(js: Seq[Job]): Double =
    Stats.covered(js.map(j => (j.startMs, j.endMs))).toDouble
}

/** Counts the optimizer's "Max iterations" warnings (a rule batch that did
  * not reach a fixed point).
  */
object MaxIterations {
  val count = new java.util.concurrent.atomic.AtomicLong(0)
  @volatile private var installed = false

  def install(): Unit = synchronized {
    if (!installed) {
      import org.apache.logging.log4j.{Level, LogManager}
      import org.apache.logging.log4j.core.LoggerContext
      import org.apache.logging.log4j.core.appender.AbstractAppender
      import org.apache.logging.log4j.core.config.Property
      val app = new AbstractAppender("cdcbench-max-iter", null, null, true,
          Property.EMPTY_ARRAY) {
        override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
          if (e.getMessage.getFormattedMessage.contains("Max iterations"))
            count.incrementAndGet()
      }
      app.start()
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      cfg.getRootLogger.addAppender(app, Level.WARN, null)
      // the optimizers log under their own class names in this package
      val lc = new org.apache.logging.log4j.core.config.LoggerConfig(
        "org.apache.spark.sql", Level.WARN, true)
      cfg.addLogger("org.apache.spark.sql", lc)
      ctx.updateLoggers()
      installed = true
    }
  }
}

/** JVM counters over a window: GC time and peak heap. */
final class JvmWindow {
  private def gcMs = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private val heapPools = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  heapPools.foreach(_.resetPeakUsage())
  private val gc0 = gcMs

  def gcMsSince: Double = (gcMs - gc0).toDouble
  def heapPeakMb: Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
