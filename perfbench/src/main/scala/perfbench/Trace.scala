package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.Row

/** One timed call into a layer. Times are `System.nanoTime` values;
  * `parent` is the index of the enclosing span (-1 for a root) and every
  * span of one wave or one pass shares `trace`. */
final case class Span(name: String, start: Long, end: Long, parent: Int, trace: Long) {
  def nanos: Long = end - start
}

/** In-memory span recorder. When disabled it only runs the body, so the
  * untraced run pays nothing for it. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](name: String, trace: Long)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.length
      spans += Span(name, System.nanoTime(), 0L, open.headOption.getOrElse(-1), trace)
      open = idx :: open
      try body
      finally {
        open = open.tail
        spans(idx) = spans(idx).copy(end = System.nanoTime())
      }
    }

  /** One JSON object per line: name, start/end in ns, parent index, trace. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.iterator.zipWithIndex.map { case (s, i) =>
      s"""{"id":$i,"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":${s.parent},"trace":${s.trace}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Stats {
  /** Nearest-rank percentile of an already sorted sample. */
  def pct(sorted: IndexedSeq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.length - 1, math.max(0, math.ceil(p / 100.0 * sorted.length).toInt - 1)))

  /** Median; the mean of the two middle values when the count is even. */
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of the usual reporting percentiles that still has at
    * least ten samples above it, or None when even p50 has too few. */
  def highestSupported(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (100.0 - p) / 100.0 >= 10)

  /** Self time of every span: its duration minus the part of it that its
    * direct children cover (overlapping children are merged first). */
  def selfTimes(spans: IndexedSeq[Span]): IndexedSeq[Long] = {
    val children = spans.indices.filter(i => spans(i).parent >= 0).groupBy(i => spans(i).parent)
    spans.indices.map { i =>
      val s = spans(i)
      val ivs = children.getOrElse(i, Nil)
        .map(c => (math.max(s.start, spans(c).start), math.min(s.end, spans(c).end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.nanos - covered
    }
  }
}

/** Order-independent fingerprint of a multiset of rows: the row count and
  * the wrapping sum of a 64-bit hash of each row's canonical text. */
final case class Fingerprint(rows: Long, hash: Long) {
  override def toString: String = f"$rows%d:$hash%016x"
}

object Fingerprint {
  def parse(s: String): Fingerprint = {
    val Array(n, h) = s.split(":")
    Fingerprint(n.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  def hash64(s: String): Long = {
    import scala.util.hashing.MurmurHash3.stringHash
    (stringHash(s, 0x5bd1e995).toLong << 32) | (stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  def ofStrings(rows: Iterable[String]): Fingerprint =
    Fingerprint(rows.size.toLong, rows.foldLeft(0L)((acc, r) => acc + hash64(r)))

  def ofRows(rows: Iterable[Row]): Fingerprint = ofStrings(rows.map(render))

  /** Canonical text of a value: doubles to 9 significant digits, decimals
    * without trailing zeros, map entries sorted, nested rows in order. */
  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => canonicalDouble(d)
    case f: Float => canonicalDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => render(b.bigDecimal)
    case bytes: Array[Byte] => bytes.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def canonicalDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros.toPlainString
}

/** Per-layer task counters, charged by `keyOf` on a job's or stage's
  * local properties (the streaming query id, or the job group). Attached
  * only in the traced run. */
final class LayerListener(keyOf: java.util.Properties => Option[String]) extends SparkListener {
  final class Counters {
    var jobs = 0L; var taskCpuNs = 0L; var shuffleBytes = 0L
    var inputBytes = 0L; var outputBytes = 0L
  }
  val byKey = new java.util.concurrent.ConcurrentHashMap[String, Counters]()
  private val stageKey = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  /** Time spent in these callbacks: the tracing cost. */
  val busyNanos = new java.util.concurrent.atomic.AtomicLong()

  private def counters(k: String) = byKey.computeIfAbsent(k, _ => new Counters)

  @volatile private var lastEvent = System.nanoTime()

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    lastEvent = System.nanoTime()
    busyNanos.addAndGet(lastEvent - t0)
  }

  /** Events reach the listener asynchronously: waits until none has
    * arrived for 250 ms, so the counters hold every finished task. */
  def settle(): Unit =
    while (System.nanoTime() - lastEvent < 250000000L) Thread.sleep(50)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    keyOf(e.properties).foreach { k =>
      val c = counters(k); c.synchronized { c.jobs += 1 }
      e.stageIds.foreach(stageKey.put(_, k))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    keyOf(e.properties).foreach(stageKey.put(e.stageInfo.stageId, _))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val k = stageKey.get(e.stageId)
    val m = e.taskMetrics
    if (k != null && m != null) {
      val c = counters(k)
      c.synchronized {
        c.taskCpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}
