package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Minimal JSON writing (the report is flat maps and lists). */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).stripTrailingZeros().toPlainString match {
      case s if s.contains('E') => s
      case s => s
    }
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}

/** Latency samples of one operation stream (milliseconds). */
final class Samples {
  private val buf = ArrayBuffer.empty[Double]
  def add(ms: Double): Unit = synchronized { buf += ms; () }
  def addAll(o: Samples): Unit = synchronized { buf ++= o.values; () }
  def values: Seq[Double] = synchronized(buf.toVector)
  def count: Int = synchronized(buf.size)
  def sum: Double = synchronized(buf.sum)
  /** Linear-interpolated percentile (the `statistics.quantiles` inclusive
    * method), 0 when empty. */
  def pct(p: Double): Double = Samples.pct(values, p)
}

object Samples {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p / 100.0 * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Throughput as the median over whole `windowNs` windows from `t0` of
    * the operations that ended in each (`ends` in nanoTime), so a short
    * stall moves it less than it moves the mean over the phase. */
  def windowRate(ends: Seq[Long], t0: Long, t1: Long, windowNs: Long): Double = {
    val n = ((t1 - t0) / windowNs).toInt
    if (n < 1) ends.size / ((t1 - t0) / 1e9)
    else {
      val counts = new Array[Int](n)
      ends.foreach { e => val w = ((e - t0) / windowNs).toInt; if (w >= 0 && w < n) counts(w) += 1 }
      median(counts.toSeq.map(_ / (windowNs / 1e9)))
    }
  }
}

/** A named failure: the workload, the operation and what was thrown or
  * found wrong. Every one is kept and counted against the attempts. */
final case class Failure(workload: String, op: String, cls: String, message: String) {
  def json: String = Json.obj(Seq("workload" -> Json.str(workload), "op" -> Json.str(op),
    "class" -> Json.str(cls), "message" -> Json.str(message.take(400))))
}

final class Failures(workload: String) {
  private val buf = ArrayBuffer.empty[Failure]
  val attempted = new AtomicLong(0)
  def wrong(op: String, message: String): Unit =
    synchronized { buf += Failure(workload, op, "WrongAnswer", message); () }
  def thrown(op: String, e: Throwable): Unit =
    synchronized { buf += Failure(workload, op, e.getClass.getName, String.valueOf(e.getMessage)); () }
  def all: Seq[Failure] = synchronized(buf.toVector)
}

/** Per-layer accumulators for the traced run: call counts, busy time and
  * latency samples per (layer, op), plus free-form counters. Self time of a
  * layer is its busy time minus the time of the nested layer spans that
  * ran inside it on the same thread. */
object Trace {
  @volatile var enabled: Boolean = false

  final class Acc {
    val calls = new LongAdder
    val busyNs = new LongAdder
    val errors = new LongAdder
    val samples = new Samples
  }
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private val layerSelfNs = new ConcurrentHashMap[String, LongAdder]()

  private final class Frame(val layer: String) { var childNs = 0L }
  private val Metadata = Set("catalog", "backend")
  private val stack = ThreadLocal.withInitial[java.util.ArrayDeque[Frame]](
    () => new java.util.ArrayDeque[Frame]())

  def acc(key: String): Acc = accs.computeIfAbsent(key, _ => new Acc)
  def count(key: String, n: Long = 1L): Unit =
    if (enabled) counters.computeIfAbsent(key, _ => new LongAdder).add(n)
  def counter(key: String): Long = Option(counters.get(key)).map(_.sum).getOrElse(0L)
  def addSelf(layer: String, ns: Long): Unit =
    if (enabled) layerSelfNs.computeIfAbsent(layer, _ => new LongAdder).add(ns)
  def selfNs(layer: String): Long = Option(layerSelfNs.get(layer)).map(_.sum).getOrElse(0L)

  /** Times `f` as `layer.op`; nested spans on this thread are subtracted
    * from this span's self time. */
  def span[T](layer: String, op: String)(f: => T): T =
    if (!enabled) f
    else {
      val st = stack.get()
      val fr = new Frame(layer)
      st.push(fr)
      val t0 = System.nanoTime()
      var ok = false
      try { val r = f; ok = true; r }
      finally {
        val d = System.nanoTime() - t0
        st.pop()
        val a = acc(s"$layer.$op")
        a.calls.increment(); a.busyNs.add(d); a.samples.add(d / 1e6)
        if (!ok) a.errors.increment()
        addSelf(layer, d - fr.childNs)
        val parent = st.peek()
        if (parent != null) parent.childNs += d
        // metadata time not already inside a metadata span: what a query's
        // analysis spent in the catalog and backend layers
        if (Metadata(layer) && (parent == null || !Metadata(parent.layer))) count("metadata.top_ns", d)
      }
    }

  def keys: Seq[String] = accs.keySet.asScala.toSeq.sorted

  def reset(): Unit = { accs.clear(); counters.clear(); layerSelfNs.clear() }
}

/** Bytes the calling thread has read and written so far, from the kernel's
  * per-thread I/O accounting (zero where the file is unavailable). */
object ThreadIo {
  private val available = new java.io.File("/proc/thread-self/io").canRead
  def readWrite(): (Long, Long) =
    if (!available) (0L, 0L)
    else try {
      var r = 0L; var w = 0L
      val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/thread-self/io"))
      lines.forEach { l =>
        if (l.startsWith("rchar:")) r = l.substring(6).trim.toLong
        else if (l.startsWith("wchar:")) w = l.substring(6).trim.toLong
      }
      (r, w)
    } catch { case _: Exception => (0L, 0L) }
}
