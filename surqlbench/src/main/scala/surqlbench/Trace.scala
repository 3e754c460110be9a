package surqlbench

import scala.collection.mutable

/** One timed call into a layer. Spans of one statement share `stmt`;
  * `parent` is the enclosing span (0 at the statement root). */
final case class Span(id: Int, stmt: Int, parent: Int, name: String,
    start: Long, end: Long) {
  def ns: Long = end - start
}

/** In-memory span recorder around the layer calls the benchmark makes.
  * When disabled, `span` is a plain call: untraced runs time statements
  * only at their outer boundary. `onEnter` publishes the innermost open
  * span id (to Spark as a job-local property), so jobs launched inside a
  * layer call are billed to it. */
final class Tracer(var enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  var onEnter: Int => Unit = _ => ()
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var stmt = 0

  /** Id of the statement opened last. */
  def currentStatement: Int = stmt

  /** Opens a new statement: the following spans get a fresh statement id. */
  def statement[T](name: String)(body: => T): T = {
    if (enabled) stmt += 1
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      onEnter(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        onEnter(stack.headOption.getOrElse(0))
        spans += Span(id, stmt, parent, name, t0, t1)
      }
    }

  /** Wall time of one empty span with this tracer's hooks, in ns: what
    * tracing adds per span to the statement it wraps. */
  def spanCostNs(n: Int = 20000): Double = {
    val was = enabled
    val kept = spans.size
    enabled = true
    val t0 = System.nanoTime()
    (1 to n).foreach(_ => span("probe")(()))
    val ns = (System.nanoTime() - t0).toDouble / n
    spans.remove(kept, spans.size - kept)
    enabled = was
    ns
  }

  /** Self time per span: its duration minus the part its children cover. */
  def selfNs: Map[Int, Long] = {
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) childNs(s.parent) += s.ns)
    spans.iterator.map(s => s.id -> (s.ns - childNs(s.id))).toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(Json.obj(Seq("id" -> s.id, "stmt" -> s.stmt, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end)))
      w.newLine()
    } finally w.close()
  }
}

/** Minimal JSON rendering for the benchmark's own output files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) str(d.toString) else d.toString

  def value(v: Any): String = v match {
    case null                   => "null"
    case s: String              => str(s)
    case b: Boolean             => b.toString
    case i: Int                 => i.toString
    case l: Long                => l.toString
    case s: Short               => s.toString
    case b: Byte                => b.toString
    case f: Float               => num(f.toDouble)
    case d: Double              => num(d)
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal          => d.bigDecimal.toPlainString
    case r: org.apache.spark.sql.Row =>
      r.toSeq.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(String.valueOf(k)) + ":" + value(x) }
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[Byte]         => str(java.util.Base64.getEncoder.encodeToString(a))
    case a: Array[_]            => a.map(value).mkString("[", ",", "]")
    case j: JsonText            => j.text
    case other                  => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Already-rendered JSON, embedded as is. */
final case class JsonText(text: String)

/** Paces a run in whole rounds: a round starts only if, going by the last
  * round's length, it ends within the measured seconds (the first always
  * starts). The number of rounds thus stays the same from run to run unless
  * the round length itself moves by a large factor. */
final class RoundClock(seconds: Double) {
  private val t0 = System.nanoTime()
  private var last = -1L
  private var lastLen = 0L
  def another(): Boolean =
    last < 0 || (last - t0) + lastLen <= (seconds * 1e9).toLong
  def roundEnded(): Unit = {
    val now = System.nanoTime()
    lastLen = now - (if (last < 0) t0 else last)
    last = now
  }
}

/** Order statistics over measured samples. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** GC time and post-GC heap occupancy from the JVM's management beans. */
object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  /** CPU time of the calling thread, in ns. */
  def threadCpuNs: Long = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  /** (steal, total) CPU ticks of the whole machine from /proc/stat: steal
    * is time the host ran something else while a virtual CPU wanted to
    * run. (0, 0) where the file does not exist. */
  def stealTicks: (Long, Long) = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val xs = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (if (xs.length > 7) xs(7) else 0L, xs.sum)
      } finally src.close()
    }
  }

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  /** Heap in use right after the most recent collection of each heap pool. */
  def heapAfterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}
