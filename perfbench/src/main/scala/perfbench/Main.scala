package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** One benchmark run in a fresh JVM: set up the workload's inputs, measure
  * one round of its operations, check the outputs, and print the result as
  * the last line (`PERFBENCH_RESULT {...}`), which the launcher (run.py)
  * completes and re-prints.
  *
  *   --workload <name> --seed <n> --trace <0|1>
  *   --seconds <s>  accepted and printed; a run measures one round, which
  *                  at the benchmark's sizes lasts longer than that
  *   --work <dir>   scratch directory for stores, docs and outputs
  *   --tiny         every input at a size that runs in seconds
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, tiny: Boolean)

  /** A check's outcome, counted as one operation of its `kind`.
    * `knownFault` marks a check that fails on the current engine because
    * of a named fault: it counts as a failed operation, not as a wrong
    * output. */
  final case class Check(name: String, ok: Boolean, knownFault: Boolean = false,
      kind: String = "checks")

  /** What one round did. `wallS` is the user-visible time of the round's
    * timed calls; `ops` maps each kind of operation to (attempted,
    * failed); `wrong` names the checks whose outputs were wrong;
    * `context` holds the workload's own figures. */
  final case class Round(wallS: Double, ops: Map[String, (Long, Long)],
      wrong: Seq[String], context: Map[String, Double]) {
    def attempted: Long = ops.values.map(_._1).sum
    def failed: Long = ops.values.map(_._2).sum
  }

  object Round {
    def of(wallS: Double, ops: Map[String, (Long, Long)], checks: Seq[Check],
        context: Map[String, Double]): Round =
      Round(wallS, ops ++ checks.groupBy(_.kind).map { case (k, cs) =>
          k -> (cs.size.toLong, cs.count(!_.ok).toLong) },
        checks.filter(c => !c.ok && !c.knownFault).map(_.name).distinct, context)
  }

  /** A workload: `generate` makes the inputs, `prepare` does the rest of
    * set-up, `round` measures and checks one round. */
  trait Workload {
    def generate(): Unit
    def prepare(): Unit = ()
    def round(r: Int): Round
    /** work after the measured round (e.g. writing what the launcher checks) */
    def finish(): Unit = ()
    /** figures of the measured round for the record (not metrics) */
    def record(r: Round): Map[String, Double] = r.context
    /** extra figures of a traced run for its record */
    def traceExtras(): Map[String, Double] = Map.empty
  }

  /** Every per-layer span; each is reported on every workload (0 where the
    * workload does not call it). */
  val LayerSpans: Seq[String] = Seq(
    "run.extract", "run.mentions", "run.canonicalize", "run.increment",
    "link.entities", "link.edges", "canon.cc", "canon.map",
    "graph.commit", "graph.read", "graph.compact", "graph.lookup",
    "fixtures.generate") ++ Analytics.Queries.map("entry." + _)

  /** Span metrics left out of the result: counts that read 0 on every
    * workload at these sizes (no spill anywhere, no shuffle in input
    * generation), so that the per-layer list stays within 128 metrics. */
  val Omitted: Set[String] = Analytics.Queries.map(q => s"entry.$q.spill_bytes").toSet ++
    Set("fixtures.generate.shuffle_bytes", "fixtures.generate.spill_bytes",
      "graph.lookup.spill_bytes", "graph.read.spill_bytes")

  def parse(argv: Array[String]): Opts = {
    val m = mutable.Map[String, String]()
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--tiny" => m("tiny") = "1"; i += 1
        case k if k.startsWith("--") && i + 1 < argv.length => m(k.drop(2)) = argv(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unknown argument '$other'")
      }
    }
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(m("work")), m.contains("tiny"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile (p in (0, 100]). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  /** Peak resident memory of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** The calibration probe of graft.Bench: a fixed integer-mixing loop on
    * one thread and on every core. Context for comparing runs across
    * hosts, not a metric. */
  def calibrate(threads: Int): (Double, Double) = {
    def mixLoop(iters: Long): Long = {
      var h = 0x9E3779B97F4A7C15L; var i = 0L
      while (i < iters) { h = java.lang.Long.rotateLeft(h * 0x100000001B3L, 13) ^ i; i += 1 }
      h
    }
    mixLoop(20000000L)
    val single = time { if (mixLoop(400000000L) == 42L) println("") }._2
    val all = time {
      val ts = (1 to threads).map(_ => new Thread(() => { if (mixLoop(400000000L) == 42L) println("") }))
      ts.foreach(_.start()); ts.foreach(_.join())
    }._2
    (single, all)
  }

  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def json(m: Map[String, Any]): String = m.toSeq.sortBy(_._1).map { case (k, v) =>
    val s = v match {
      case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
      case b: Boolean => b.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case x => jsonString(x.toString)
    }
    jsonString(k) + ":" + s
  }.mkString("{", ",", "}")

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    Files.createDirectories(o.work)
    val spark = graft.run.Sessions.local(cores, appName = s"perfbench-${o.workload}")
    try run(spark, o, jvmStart, cores)
    finally spark.stop()
  }

  def run(spark: SparkSession, o: Opts, jvmStartMs: Long, cores: Int): Unit = {
    val tracer = new Tracer(spark.sparkContext, o.trace)
    val wl: Workload = o.workload match {
      case "build_gazetteer" => new Kg.Build(spark, o, tracer, vendorPool = 0)
      case "build_vendor_skew" => new Kg.Build(spark, o, tracer, vendorPool = 1000000)
      case "serve_increment_lookup" => new Kg.Serve(spark, o, tracer)
      case "analytics_sf001" => new Analytics(spark, o, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    println(s"[perfbench] workload=${o.workload} seed=${o.seed} seconds=${o.seconds} " +
      s"trace=${if (o.trace) 1 else 0} tiny=${o.tiny} cores=$cores")

    // ---- set-up: JVM start -> ready, inputs generated once
    val genS = time(tracer.span("fixtures.generate")(wl.generate()))._2
    wl.prepare()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val (calSingle, calAll) = calibrate(cores)
    println(f"[perfbench] setup: ready after $setupS%.3f s (generation $genS%.3f s)")
    println(f"[perfbench] calib_single_sec=$calSingle%.3f calib_allcores_sec=$calAll%.3f")

    // ---- when tracing: an untraced warm-up round, then an untraced
    // reference round the traced round is set against (both warm)
    val reference = if (o.trace) {
      tracer.untraced(wl.round(-1))
      System.gc()
      Some(tracer.untraced(wl.round(-2)))
    } else None

    // ---- the measured round: exactly one, whatever --seconds says, so
    // that a faster engine never changes what a run measures (the first
    // round in a fresh JVM when untraced; a warm one when traced)
    System.gc()
    tracer.round = 0
    val (r, whole) = time(wl.round(0))
    tracer.round = -1
    println(f"[perfbench] round 0: ${r.wallS}%.4f s timed, ${whole - r.wallS}%.3f s checks, attempted ${r.attempted}, failed ${r.failed}" +
      r.context.toSeq.sortBy(_._1).map { case (k, v) => f" $k=$v%.4f" }.mkString)
    wl.finish()
    val ops = r.ops.map { case (k, (att, fl)) => k -> s"$att attempted, $fl failed" }
    r.wrong.foreach(w => println(s"[perfbench] CHECK FAILED: $w"))

    val metrics: Map[String, (Double, String)] =
      if (!o.trace) Map("setup_s" -> (setupS, "s"), "round_s" -> (r.wallS, "s"))
      else {
        val layers = tracer.perLayer(LayerSpans).filterNot(m => Omitted(m._1))
        val untraced = reference.get.wallS
        // the read-back under graph.read belongs to the checks, not the timed part
        val top = tracer.topLevelSeconds(0, Set("graph.read"))
        val drift = Kg.copyDrift()
        if (drift > 0) println(s"[perfbench] WARNING: $drift engine function(s) that Kg.tracedBuild " +
          "restates changed since it was written; the build spans describe the old steps")
        Files.writeString(o.work.resolve("trace.json"), tracer.toJson)
        println(f"[perfbench] trace: untraced round $untraced%.4f s, traced round ${r.wallS}%.4f s, " +
          f"top-level spans $top%.4f s")
        (layers.map { case (k, v, u) => k -> (v, u) } ++ Seq(
          "graph.commit.files" -> (tracer.filesWritten("graph.commit"), "count"),
          "trace.coverage" -> (top / untraced, "ratio"),
          "trace.overhead" -> (r.wallS / untraced - 1.0, "ratio"),
          "trace.copy_drift" -> (drift.toDouble, "count"))).toMap
      }

    val rec = wl.record(r) ++ (if (o.trace) wl.traceExtras() else Map.empty) ++ Map(
      "calib_single_sec" -> calSingle, "calib_allcores_sec" -> calAll,
      "generate_s" -> genS, "peak_rss_mb" -> peakRssMb())
    println("[perfbench] record " + json(Map[String, Any](
      "workload" -> o.workload, "seed" -> o.seed) ++ rec))
    println("[perfbench] operations " + json(ops))
    val metricsJson = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      "\"" + k + "\":" + json(Map("value" -> v, "unit" -> u)) }.mkString("{", ",", "}")
    println(s"PERFBENCH_RESULT {\"correct\":${r.wrong.isEmpty},\"attempted\":${r.attempted}," +
      s"\"failed\":${r.failed},\"metrics\":$metricsJson}")
  }
}
