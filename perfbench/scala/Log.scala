package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** In-memory event log of one run, written out as JSON lines at the end.
  *
  * Every measured call is an `op` record carrying its outcome; a call that
  * throws or whose output is wrong stays in the log as `ok=false` and the
  * summarizer (`perfbench/metrics.py`) never turns it into a timing. Result
  * checks made after the measured window are `check` records that name the
  * op they judge, so a wrong answer fails its op retroactively.
  */
final class Log(val traced: Boolean) {
  private val lines = new ConcurrentLinkedQueue[String]()
  private val nextId = new AtomicLong(0)
  // (current op id, open span ids) of the calling thread, for span parents
  private val opOf = new ThreadLocal[Long] { override def initialValue() = 0L }
  private val spanStack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def now(): Long = System.currentTimeMillis()

  def emit(ev: String, fields: (String, Any)*): Unit =
    lines.add(Log.obj(("ev" -> ev) +: fields))

  /** Run `body` as op `kind`; returns (op id, result or None on a throw).
    * The duration covers `body` only. */
  def op[T](kind: String, extra: (String, Any)*)(body: => T): (Long, Option[T]) = {
    val id = nextId.incrementAndGet()
    val t0 = now(); val n0 = System.nanoTime()
    val outer = opOf.get()
    opOf.set(id)
    try {
      val r = span(kind)(body)
      emit("op", Seq[(String, Any)]("id" -> id, "kind" -> kind, "t0" -> t0,
        "dur" -> (System.nanoTime() - n0) / 1e9, "ok" -> true) ++ extra: _*)
      (id, Some(r))
    } catch {
      case e: Throwable =>
        emit("op", Seq[(String, Any)]("id" -> id, "kind" -> kind, "t0" -> t0,
          "dur" -> (System.nanoTime() - n0) / 1e9, "ok" -> false,
          "err" -> Log.describe(e)) ++ extra: _*)
        (id, None)
    } finally opOf.set(outer)
  }

  /** With tracing on, record a span around one call into a layer: name,
    * start, end, parent span and the op it serves. Spans stay in memory
    * and are written with the rest of the log at the end. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = nextId.incrementAndGet()
      val parent = spanStack.get().headOption.getOrElse(0L)
      spanStack.set(id :: spanStack.get())
      val t0 = System.nanoTime(); val w0 = now()
      try body
      finally {
        spanStack.set(spanStack.get().tail)
        emit("span", "id" -> id, "name" -> name, "parent" -> parent,
          "op" -> opOf.get(), "t0" -> w0, "dur" -> (System.nanoTime() - t0) / 1e9)
      }
    }

  /** Record an op whose timing was taken by the caller. */
  def opDone(kind: String, t0: Long, durS: Double, ok: Boolean,
      extra: (String, Any)*): Long = {
    val id = nextId.incrementAndGet()
    emit("op", Seq[(String, Any)]("id" -> id, "kind" -> kind, "t0" -> t0,
      "dur" -> durS, "ok" -> ok) ++ extra: _*)
    id
  }

  /** A result check; `op` names the op it judges (0 for a run-level check). */
  def check(name: String, op: Long, ok: Boolean, why: => String = ""): Boolean = {
    emit("check", "name" -> name, "op" -> op, "ok" -> ok,
      "why" -> (if (ok) "" else why.take(400)))
    ok
  }

  def value(name: String, v: Any): Unit = emit("value", "name" -> name, "v" -> v)

  def writeTo(path: String): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.UTF_8))
    try lines.forEach { l => w.write(l); w.write('\n') } finally w.close()
  }
}

object Log {
  /** The error and its root cause, one line each (a retryable read error
    * often surfaces wrapped in a generic job-abort message). */
  def describe(e: Throwable): String = {
    def line(t: Throwable) =
      s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("")}".linesIterator.nextOption()
        .getOrElse("").take(300)
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    if (root eq e) line(e) else s"${line(e)} / root cause ${line(root)}"
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\""); case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n"); case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.lang.Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${quote(k)}:${render(v)}" }.mkString("{", ",", "}")
}
