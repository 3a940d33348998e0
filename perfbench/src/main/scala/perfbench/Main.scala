package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One operation's output, kept until the end of the run and then checked
  * against what the benchmark computed apart from the program.
  */
trait Outcome

/** A workload: seeded inputs built at construction, then operations. */
trait Workload {
  /** Operations per round; a run attempts whole rounds, so every run has the
    * same mix of operations.
    */
  def roundSize: Int = 1
  /** Runs operation `k` of the run and returns its output and the number of
    * input rows it processed.
    */
  def op(k: Int, tr: Tracer): (Outcome, Long)
  /** Isolated layer calls, made only inside a traced operation. */
  def probes(k: Int, tr: Tracer): Unit = ()
  /** What is wrong with operation `k`'s output; empty when it is correct. */
  def check(k: Int, out: Outcome): Seq[String]
}

object Workloads {
  val names: Seq[String] = Seq("clip_signal", "neardup", "schema_catalog")

  /** `scale` shrinks the inputs (the self-test runs at a tiny scale). */
  def make(name: String, spark: SparkSession, seed: Long, scale: Double): Workload =
    name match {
      case "clip_signal"    => new ClipWorkload(spark, seed, (40000 * scale).toInt)
      case "neardup"        => new NearDupWorkload(spark, seed, (1000 * scale).toInt)
      case "schema_catalog" => new CatalogWorkload(spark, seed, (3000 * scale).toInt)
    }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
      .mkString("{", ", ", "}")
}

/** Host-wide CPU accounting from /proc/stat (read only): steal time and the
  * CPU time of every process but this one, over a window.
  */
object Host {
  final case class Sample(stealS: Double, busyS: Double, ownCpuS: Double)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def ownCpuS(): Double = os.getProcessCpuTime / 1e9

  def sample(): Sample = {
    val own = ownCpuS()
    // cpu user nice system idle iowait irq softirq steal ... in USER_HZ (100/s)
    val f = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+").drop(1).map(_.toDouble)
      finally src.close()
    } catch { case NonFatal(_) => Array.fill(8)(0.0) }
    def at(i: Int) = if (i < f.length) f(i) / 100.0 else 0.0
    Sample(at(7), at(0) + at(1) + at(2) + at(5) + at(6), own)
  }

  /** (steal seconds, other processes' CPU seconds) between two samples. */
  def delta(a: Sample, b: Sample): (Double, Double) =
    (b.stealS - a.stealS,
      math.max(0.0, (b.busyS - a.busyS) - (b.ownCpuS - a.ownCpuS)))

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}

object Session {
  /** Spark's scratch space goes under the JVM's temp dir, which the launcher
    * points into the run's own directory.
    */
  def start(): SparkSession = {
    val tmp = sys.props("java.io.tmpdir")
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.audio.AudioGen.registerFormats()
    s
  }
}

object Main {
  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: --workload <" + Workloads.names.mkString("|") +
      "> --seed <n> --seconds <n> --trace <0|1>")
    sys.exit(2)
  }

  private final case class Op(k: Int, wallS: Double, rows: Long,
                              out: Option[Outcome])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", usage("missing --workload"))
    if (!Workloads.names.contains(workload)) usage(s"unknown workload '$workload'")
    val seed = opts.get("seed").flatMap(_.toLongOption).getOrElse(usage("bad --seed"))
    val seconds = opts.get("seconds").flatMap(_.toDoubleOption).getOrElse(usage("bad --seconds"))
    val trace = opts.get("trace") match {
      case Some("0") => false
      case Some("1") => true
      case _ => usage("bad --trace")
    }
    // process start as the launcher saw it; the JVM's own start otherwise
    val t0Ms = sys.props.get("perfbench.t0ms").flatMap(_.toLongOption)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    val outDir = sys.props.getOrElse("perfbench.out", "perfbench/out")

    val spark = Session.start()
    try run(spark, workload, seed, seconds, trace, t0Ms, outDir)
    finally spark.stop()
  }

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
                  trace: Boolean, t0Ms: Long, outDir: String): Unit = {
    val tSession = System.currentTimeMillis()
    val w = Workloads.make(name, spark, seed, 1.0)
    val tInputs = System.currentTimeMillis()
    val tr = new Tracer(spark, trace)
    val ops = mutable.ArrayBuffer.empty[Op]
    val opSpans = mutable.Map.empty[Int, Span]
    var k = 0

    def runOne(): Op = {
      val firstSpan = tr.all.size
      val t0 = System.nanoTime()
      val res = try Some(tr.span("op") {
        val r = w.op(k, tr)
        if (trace) w.probes(k, tr)
        r
      }) catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: operation $k failed: $e")
          None
      }
      // a traced operation's time leaves out its probes
      val wall =
        if (!trace) (System.nanoTime() - t0) / 1e9
        else {
          val s = tr.all(firstSpan)
          opSpans(k) = s
          s.durS - tr.children(s).filter(_.probe).map(_.durS).sum
        }
      val o = Op(k, wall, res.map(_._2).getOrElse(0L), res.map(_._1))
      k += 1
      o
    }
    def runRound(): Seq[Op] = Seq.fill(w.roundSize)(runOne())

    // warm-up: whole rounds until the time per round settles (JIT, codegen)
    val warm = mutable.ArrayBuffer.empty[Double]
    def settled = warm.size >= 2 &&
      math.abs(warm.last - warm(warm.size - 2)) <= 0.1 * warm(warm.size - 2)
    while (warm.size < 2 || (!settled && warm.size < 3))
      warm += runRound().map(_.wallS).sum
    val warmOps = k

    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3
    System.err.println(f"perfbench: set-up ${setupS}%.1f s: JVM and session ${(tSession - t0Ms) / 1e3}%.1f s, " +
      f"inputs ${(tInputs - tSession) / 1e3}%.1f s, warm-up ${warm.sum}%.1f s")
    val host0 = Host.sample()
    val tStart = System.nanoTime()
    while (ops.size < 2 * w.roundSize || (System.nanoTime() - tStart) / 1e9 < seconds)
      ops ++= runRound()
    val host1 = Host.sample()
    val (stealS, otherS) = Host.delta(host0, host1)
    val cpuS = host1.ownCpuS - host0.ownCpuS
    val regionS = (System.nanoTime() - tStart) / 1e9
    System.err.println(f"perfbench: host over the timed region ($regionS%.1f s): " +
      f"steal_s=$stealS%.2f other_cpu_s=$otherS%.2f; warm-up rounds " +
      warm.map(t => f"$t%.2f").mkString("[", ", ", "] s") + "; timed ops " +
      ops.map(o => f"${o.wallS}%.2f").mkString("[", ", ", "] s"))

    val failed = ops.count(_.out.isEmpty)
    val problems = ops.flatMap(o => o.out.toSeq.flatMap(w.check(o.k, _)))
    problems.take(20).foreach(p => System.err.println(s"perfbench: check failed: $p"))
    val good = ops.filter(_.out.nonEmpty)
    val walls = good.map(_.wallS)
    val n = ops.size.toDouble

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("rows_per_s", good.map(_.rows).sum / walls.sum, "rows/s"),
      ("op_p50_s", Layers.median(walls.toSeq), "s"),
      ("cpu_s_per_op", cpuS / n, "s"),
      ("peak_rss_mb", Host.peakRssMb(), "MB"))
    val metrics =
      if (!trace) e2e
      else {
        System.err.println("perfbench: traced end-to-end (probes excluded): " +
          Json.metrics(e2e))
        tr.write(java.nio.file.Paths.get(outDir, s"trace-$name-seed$seed.jsonl"))
        Layers.metrics(tr, ops.flatMap(o => opSpans.get(o.k)).toSeq) ++ Seq(
          ("host.steal_s", stealS / n, "s"),
          ("host.other_cpu_s", otherS / n, "s"))
      }
    println(s"""{"correct": ${problems.isEmpty}, "attempted": ${ops.size}, "failed": $failed, "metrics": ${Json.metrics(metrics)}}""")
  }
}

/** Per-layer metrics from the traced operations' spans: the median over
  * operations of each value per operation. A layer the workload does not
  * call has no span and reads 0.
  */
object Layers {
  /** Layer metric → the span whose duration it is. */
  private val spanTimes = Seq(
    "spec.lint_s" -> "spec.lint", "spec.parse_s" -> "spec.parse",
    "compile.suite_s" -> "compile.suite",
    "exec.row_checks_s" -> "exec.row_checks",
    "table.unique_s" -> "table.unique", "table.fk_s" -> "table.fk",
    "table.drift_s" -> "table.drift", "table.stats_s" -> "table.stats",
    "audio.decode_s" -> "audio.decode", "audio.signal_s" -> "audio.signal",
    "pipeline.bands_s" -> "pipeline.bands",
    "pipeline.candidates_s" -> "pipeline.candidates",
    "pipeline.pairs_s" -> "pipeline.pairs", "pipeline.cc_s" -> "pipeline.cc")

  /** Spark totals of an operation's own spans (probes left out). */
  private val sparkTotals = Seq(
    ("exec.analysis_s", "phase.analysis", "s"),
    ("exec.optimization_s", "phase.optimization", "s"),
    ("exec.planning_s", "phase.planning", "s"),
    ("exec.jobs", "jobs", "count"),
    ("exec.job_s", "job_s", "s"),
    ("exec.task_run_s", "task_run_s", "s"),
    ("exec.task_cpu_s", "task_cpu_s", "s"),
    ("exec.shuffle_write_mb", "shuffle_write_mb", "MB"),
    ("exec.shuffle_read_mb", "shuffle_read_mb", "MB"),
    ("exec.spill_mb", "spill_mb", "MB"))

  val names: Seq[String] = spanTimes.map(_._1) ++ sparkTotals.map(_._1) ++ Seq(
    "exec.codegen_s", "exec.gc_s", "pipeline.candidate_pairs",
    "pipeline.verified_pairs", "pipeline.verify_yield", "pipeline.cc_jobs",
    "host.steal_s", "host.other_cpu_s")

  /** The median; NaN (printed as null) for no values. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def metrics(tr: Tracer, opSpans: Seq[Span]): Seq[(String, Double, String)] = {
    val perOp = opSpans.map { o =>
      val sub = tr.subtree(o)
      val probes = tr.children(o).filter(_.probe)
      val probeIds = probes.flatMap(p => tr.subtree(p)).map(_.id).toSet
      val own = sub.filterNot(s => probeIds(s.id))
      def sumOf(spans: Seq[Span], k: String) = spans.map(_.get(k)).sum
      val times = spanTimes.map { case (m, sn) => m -> sub.filter(_.name == sn).map(_.durS).sum }
      val totals = sparkTotals.map { case (m, k, _) => m -> sumOf(own, k) }
      val cand = sumOf(sub, "pipeline.candidate_pairs")
      val ver = sumOf(sub, "pipeline.verified_pairs")
      (times ++ totals ++ Seq(
        "exec.codegen_s" -> (o.codegenS - probes.map(_.codegenS).sum),
        "exec.gc_s" -> (o.gcS - probes.map(_.gcS).sum),
        "pipeline.candidate_pairs" -> cand,
        "pipeline.verified_pairs" -> ver,
        "pipeline.verify_yield" -> (if (cand > 0) ver / cand else 0.0),
        "pipeline.cc_jobs" -> sub.filter(_.name == "pipeline.cc")
          .flatMap(tr.subtree).map(_.get("jobs")).sum)).toMap
    }
    val units = (spanTimes.map(_._1 -> "s") ++ sparkTotals.map(t => t._1 -> t._3) ++ Seq(
      "exec.codegen_s" -> "s", "exec.gc_s" -> "s",
      "pipeline.candidate_pairs" -> "count", "pipeline.verified_pairs" -> "count",
      "pipeline.verify_yield" -> "ratio", "pipeline.cc_jobs" -> "count")).toMap
    names.filterNot(_.startsWith("host.")).map(m =>
      (m, Layers.median(perOp.map(_(m))), units(m)))
  }
}
