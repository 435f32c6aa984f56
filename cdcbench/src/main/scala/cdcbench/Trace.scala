package cdcbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** In-memory spans around the harness's calls into graft. Off by default:
  * a disabled span costs one volatile read. Spans carry a name, start, end,
  * the span that caused them and the run id; they are written out once, at
  * the end of a run.
  */
object Trace {
  final case class Span(id: Long, name: String, parent: Long, run: String,
      startNs: Long, endNs: Long)

  @volatile var on = false
  @volatile var run = "untraced"
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  /** The current thread's open span, for work handed to another thread. */
  def currentId: Long = current.get()

  def apply[A](name: String, parent: Long = -1L)(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val prev = current.get()
      val p = if (parent >= 0) parent else prev.longValue
      current.set(id)
      val t0 = System.nanoTime()
      try f
      finally {
        done.add(Span(id, name, p, run, t0, System.nanoTime()))
        current.set(prev)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  /** Self time per span name, in ms: each span's duration minus the part of
    * its interval that its children cover (children on any thread).
    */
  def selfMs(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Stats.covered(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.name -> (s.endNs - s.startNs - covered) / 1e6
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Spans as JSON lines, times relative to the first span. */
  def write(path: java.nio.file.Path, all: Seq[Span]): Unit = {
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    val lines = all.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""run":"${s.run}","start_ms":${(s.startNs - t0) / 1e6}%.3f,""" +
        f""""end_ms":${(s.endNs - t0) / 1e6}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
