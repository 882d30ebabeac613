package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable

/** Spans around the benchmark's calls into the engine, kept in memory and
  * written once at the end of the run.
  *
  * A span is `<module>.<call>`. While it is open, every Spark job started
  * from the calling thread carries the span's id as a local property; a
  * listener registered here (not by the engine) maps each job's stages to
  * that span and sums the job, task, shuffle-write and spill counts of
  * their tasks, and the records those tasks wrote. Counts land on the
  * innermost open span; a parent's totals include its children's.
  *
  * When tracing is off, `span` only runs its body: no listener, no local
  * properties, no clock reads.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  final class Span(val id: Int, val name: String, val parent: Int, val round: Int) {
    var startNs: Long = 0L
    var endNs: Long = 0L
    var rows: Long = -1L
    var files: Long = -1L
    var jobs: Long = 0L
    var tasks: Long = 0L
    var shuffleBytes: Long = 0L
    var spillBytes: Long = 0L
    var recordsWritten: Long = 0L
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  /** Round the spans opened from now on belong to (-1: set-up). */
  var round: Int = -1
  private var paused = false

  /** Whether spans are being recorded right now. */
  def active: Boolean = enabled && !paused

  /** Runs `body` with no spans recorded (the untraced reference round). */
  def untraced[T](body: => T): T = {
    val was = paused
    paused = true
    try body finally paused = was
  }

  // listener-bus thread writes, the main thread reads after a drain
  private val stageSpan = mutable.Map[Int, Span]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      id.map(_.toInt).filter(spans.indices.contains).foreach { i =>
        val s = spans(i)
        s.jobs += 1
        e.stageIds.foreach(st => stageSpan(st) = s)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        s.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.recordsWritten += m.outputMetrics.recordsWritten
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled || paused) body
    else {
      val s = listener.synchronized {
        val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), round)
        spans += s
        s
      }
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      s.startNs = System.nanoTime()
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Rows returned by the innermost open span's call. */
  def rows(n: Long): Unit = if (enabled && !paused) stack.headOption.foreach(_.rows = n)

  /** Files written by the innermost open span's call. */
  def files(n: Long): Unit = if (enabled && !paused) stack.headOption.foreach(_.files = n)

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.BusDrain(sc)

  /** Every recorded span, after the listener has caught up. */
  def all: Seq[Span] = { drain(); listener.synchronized(spans.toSeq) }

  /** Sum of the top-level span durations of round `r`, leaving out spans
    * named in `outside` (calls made after the timed part). */
  def topLevelSeconds(r: Int, outside: Set[String]): Double =
    all.filter(s => s.round == r && s.parent < 0 && !outside(s.name)).map(_.seconds).sum

  /** Per-layer metrics: for each span name, the totals over every recorded
    * span of that name (set-up and the one traced round). A parent's counts
    * include its children's. `.rows` is what the harness recorded as the
    * call's result; for a call that writes instead of returning (no rows
    * recorded), it is the records its tasks wrote. */
  def perLayer(names: Seq[String]): Seq[(String, Double, String)] = {
    val ss = all
    def inclusive(s: Span, f: Span => Long): Long =
      f(s) + ss.filter(_.parent == s.id).map(inclusive(_, f)).sum
    names.flatMap { name =>
      val mine = ss.filter(_.name == name)
      def tot(f: Span => Long) = mine.map(f).sum.toDouble
      Seq(
        (s"${name}_s", mine.map(_.seconds).sum, "s"),
        (s"$name.rows", tot(s => if (s.rows >= 0) s.rows else inclusive(s, _.recordsWritten)), "count"),
        (s"$name.jobs", tot(inclusive(_, _.jobs)), "count"),
        (s"$name.tasks", tot(inclusive(_, _.tasks)), "count"),
        (s"$name.shuffle_bytes", tot(inclusive(_, _.shuffleBytes)), "bytes"),
        (s"$name.spill_bytes", tot(inclusive(_, _.spillBytes)), "bytes"))
    }
  }

  /** Files written by every span of this name. */
  def filesWritten(name: String): Double =
    all.filter(_.name == name).map(s => math.max(s.files, 0L)).sum.toDouble

  /** Every span as one JSON document. */
  def toJson: String = all.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"round":${s.round},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"rows":${s.rows},"files":${s.files},""" +
      s""""jobs":${s.jobs},"tasks":${s.tasks},"shuffle_bytes":${s.shuffleBytes},"spill_bytes":${s.spillBytes},""" +
      s""""records_written":${s.recordsWritten}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val SpanKey = "perfbench.span"
}
