package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One traced interval. Times are epoch milliseconds; `parent` 0 is a
  * root. Spans of one operation share their root's id as `trace`. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty)

/** In-memory span buffer, written out once when the run ends. */
final class Spans {
  private val next = new AtomicLong(0)
  private val buf = new ConcurrentLinkedQueue[Span]()
  def newId(): Long = next.incrementAndGet()
  def add(s: Span): Unit = buf.add(s)
  def all: Seq[Span] = buf.asScala.toSeq.sortBy(s => (s.startMs, s.id))

  def write(path: String): Unit = {
    val lines = all.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_ms" -> (s.endMs - s.startMs)) ++ s.attrs.toSeq)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}

/** Spark-side counters of the traced run, from one listener.
  *
  * Jobs are attributed through the job group the harness sets around
  * each call (`span-<id>`), so a job becomes a child span of the
  * construct/execute span that caused it. Only events that arrive
  * while `recording` is set are counted. */
final class Profile(spans: Spans) extends SparkListener {
  @volatile var recording = false

  private val open = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val done = new ConcurrentLinkedQueue[(Long, Long, String)]()
  val tasks, cpuNs, scanBytes, shuffleWrite, shuffleRead, spillBytes, outputBytes =
    new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (recording) {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      open.put(e.jobId, (e.time, group))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = open.remove(e.jobId)
    if (s != null) {
      done.add((s._1, e.time, s._2))
      val parent = Option(s._2).filter(_.startsWith("span-"))
        .map(_.stripPrefix("span-").toLong).getOrElse(0L)
      spans.add(Span(spans.newId(), parent, parent, s"job ${e.jobId}",
        s._1.toDouble, e.time.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (recording && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.increment()
      cpuNs.add(m.executorCpuTime)
      scanBytes.add(m.inputMetrics.bytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      spillBytes.add(m.diskBytesSpilled)
      outputBytes.add(m.outputMetrics.bytesWritten)
    }

  /** (start, end, group) of every finished job. */
  def jobs: Seq[(Long, Long, String)] = done.asScala.toSeq

  /** Seconds during which at least one job was active. */
  def jobActiveSec: Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    jobs.map(j => (j._1, j._2)).sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }
}

/** Collects every StreamingQueryProgress, per query name. */
final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(name: String): Seq[StreamingQueryProgress] =
    events.asScala.toSeq.filter(_.name == name).sortBy(_.batchId)
}

/** Minimal JSON rendering for the run record and the span file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** Medians and percentiles of samples (linear interpolation). */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** /proc readings: the box stamp and the JVM's peak resident set. */
object Box {
  private def read(p: String): Seq[String] =
    try {
      val src = scala.io.Source.fromFile(p)
      try src.getLines().toList finally src.close()
    } catch { case _: Throwable => Nil }

  /** (total jiffies, steal jiffies) of the aggregate cpu line. */
  def cpu(): (Long, Long) = read("/proc/stat").headOption
    .map(_.trim.split("\\s+").drop(1).map(_.toLong))
    .map(f => (f.sum, if (f.length > 7) f(7) else 0L))
    .getOrElse((0L, 0L))

  def stealPct(from: (Long, Long), to: (Long, Long)): Double = {
    val total = to._1 - from._1
    if (total <= 0) 0.0 else 100.0 * (to._2 - from._2) / total
  }

  def loadAvg(): Seq[Double] = read("/proc/loadavg").headOption
    .map(_.split("\\s+").take(3).map(_.toDouble).toSeq).getOrElse(Nil)

  def peakRssMb(): Double = read("/proc/self/status")
    .find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
