package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** In-memory spans around the benchmark's calls into program layers.
  * A span carries its name, start and end (ns since the tracer was
  * made), the id of its parent span on the same thread, and the run
  * id. Disabled tracers run the body and record nothing. Spans are
  * written out once, at the end. */
final class Tracer(val enabled: Boolean, runId: String) {
  import Tracer.Span

  private val t0 = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val start = System.nanoTime() - t0
      try body
      finally {
        done.add(Span(id, parents.headOption.getOrElse(0L), name, start,
          System.nanoTime() - t0))
        stack.set(parents)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** Self time per span name: each span's duration minus its
    * children's, summed by name, in ms. */
  def selfMs: Seq[(String, Double, Int)] = {
    val all = spans
    val childNs = all.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(s => s.end - s.start).sum
    }
    all.groupBy(_.name).toSeq.map { case (name, ss) =>
      val self = ss.map(s => s.end - s.start - childNs.getOrElse(s.id, 0L)).sum
      (name, self / 1e6, ss.size)
    }.sortBy(-_._2)
  }

  def write(path: Path): Unit = {
    val lines = spans.map { s =>
      Json.obj("run" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end)
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, start: Long,
      end: Long)
}
