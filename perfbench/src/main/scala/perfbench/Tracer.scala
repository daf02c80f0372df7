package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext

/** One call into an engine layer, timed from the benchmark thread. */
final case class Span(
    id: String, op: String, pass: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the engine.
  *
  * Each span tags the Spark jobs it causes with its own id (the job
  * group of the calling thread), so [[LayerListener]] can file jobs,
  * stages and tasks under it. Nothing is traced inside the engine. The
  * untraced tracer ([[Tracer.Off]]) only runs the body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var op = ""
  private var pass = -1
  private var seq = 0

  def begin(opName: String, passNo: Int): Unit = { op = opName; pass = passNo }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      seq += 1
      val id = s"$pass/$op/$name/$seq"
      sc.setJobGroup(id, s"$op $name", interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.clearJobGroup()
        spans += Span(id, op, pass, name, t0, t1)
      }
    }
}

object Tracer {
  val Off = new Tracer(null, enabled = false)
}
