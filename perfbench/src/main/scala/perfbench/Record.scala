package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** One clock for every record: epoch microseconds, read from the
  * monotonic nano clock anchored once at start. Spark's listener events
  * carry epoch milliseconds and are scaled onto the same axis. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Minimal JSON encoder for the flat records the benchmark writes. */
object Json {
  def enc(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => enc(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => enc(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + enc(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(enc).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => str(k) + ":" + enc(x) }.mkString("{", ",", "}")
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Records kept in memory and written as JSONL when the run ends, so
  * the measured window does no file I/O of the benchmark's own. */
final class Sink {
  private val lines = new ConcurrentLinkedQueue[String]()
  def emit(kind: String, kv: (String, Any)*): Unit =
    lines.add(Json.obj(("kind" -> kind) +: kv: _*))
  def writeTo(path: String): Unit = {
    val w = new BufferedWriter(new FileWriter(path))
    try lines.forEach { l => w.write(l); w.newLine() } finally w.close()
  }
}

/** The traced run's span log: name, start, end, parent span and the
  * per-query or per-batch id, plus counts measured at the same boundary.
  * Spans live in the records [[Sink]] under kind "span". */
final class Spans(out: Sink) {
  private val ids = new AtomicLong()
  def nextId(): Long = ids.incrementAndGet()
  def add(id: Long, parent: Long, name: String, qid: String,
          t0: Long, t1: Long, attrs: Map[String, Any] = Map.empty): Unit =
    out.emit("span", "id" -> id, "parent" -> parent, "name" -> name,
      "qid" -> qid, "t0" -> t0, "t1" -> t1, "attrs" -> attrs)
}

/** The heap the program retains at a quiet point of a run: a full
  * collection, then the heap in use, which is then only what is still
  * referenced (cached blocks, broadcasts, state maps). The benchmark
  * calls it between queries and between micro-batch chunks, outside
  * every timed window. */
object Heap {
  def checkpoint(rec: Sink): Unit = {
    val t0 = Clock.nowUs()
    System.gc()
    rec.emit("heap", "t0" -> t0, "t1" -> Clock.nowUs(),
      "used" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def committed: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
}
