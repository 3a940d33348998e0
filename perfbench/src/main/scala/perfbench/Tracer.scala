package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer, with what ran inside it. */
final class Span(val id: Int, val parent: Int, val name: String,
                 val probe: Boolean) {
  var startNs = 0L
  var endNs = 0L
  /** Inclusive JVM-wide deltas over the span. */
  var gcS = 0.0
  var codegenS = 0.0
  /** Exclusive attributions: Spark work done while this span was the
    * innermost one, and counts the workload recorded in it.
    */
  private val vals = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized {
    vals(k) = vals.getOrElse(k, 0.0) + v
  }
  def get(k: String): Double = synchronized(vals.getOrElse(k, 0.0))
  def all: Map[String, Double] = synchronized(vals.toMap)
  def durS: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the traced run. A span is one call into a layer's
  * public function, made from the benchmark's own code: a name, a start, an
  * end and a parent. Spark work is attributed to the innermost open span:
  * jobs through their job group, tasks through their stage's job, and
  * query-execution phases through a listener-bus drain at each span
  * boundary. GC and codegen-compile time are JVM-wide counters read at the
  * boundaries. Spans stay in memory until [[write]].
  *
  * A disabled tracer runs each body as is and records nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Span]
  private val byStage = new java.util.concurrent.ConcurrentHashMap[Int, Span]
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Span, Long)]
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Double]]

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcS(): Double = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3

  private val mb = 1024.0 * 1024.0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null) Option(byGroup.get(g)).foreach { s =>
        s.add("jobs", 1)
        jobs.put(e.jobId, (s, e.time))
        e.stageIds.foreach(st => byStage.putIfAbsent(st, s))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { case (s, t0) =>
        s.add("job_s", (e.time - t0) / 1e3)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(byStage.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        if (m != null) {
          s.add("task_run_s", m.executorRunTime / 1e3)
          s.add("task_cpu_s", m.executorCpuTime / 1e9)
          s.add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / mb)
          s.add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / mb)
          s.add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / mb)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases.add(qe.tracker.phases.map { case (k, p) => k -> p.durationMs / 1e3 })
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Delivers pending listener events, then hands the query phases that
    * arrived to `s` (the span that was innermost while they ran).
    */
  private def settle(s: Option[Span]): Unit = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    var p = phases.poll()
    while (p != null) {
      s.foreach(sp => p.foreach { case (k, v) => sp.add(s"phase.$k", v) })
      p = phases.poll()
    }
  }

  /** Runs `body` as a span named `name`. A probe span is an isolated layer
    * call made only in the traced run; it is kept out of the operation's
    * own Spark totals.
    */
  def span[T](name: String, probe: Boolean = false)(body: => T): T = {
    if (!enabled) return body
    settle(open.headOption)
    val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name, probe)
    spans += s
    open = s :: open
    val sc = spark.sparkContext
    val group = s"perfbench-span-${s.id}"
    byGroup.put(group, s)
    sc.setJobGroup(group, name)
    val gc0 = gcS()
    val cg0 = CodeGenerator.compileTime
    s.startNs = System.nanoTime()
    try body
    finally {
      s.endNs = System.nanoTime()
      s.gcS = gcS() - gc0
      s.codegenS = (CodeGenerator.compileTime - cg0) / 1e9
      settle(Some(s))
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"perfbench-span-${p.id}", p.name)
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** Adds a count to the innermost open span. */
  def count(name: String, v: Double): Unit =
    if (enabled) open.headOption.foreach(_.add(name, v))

  def all: Seq[Span] = spans.toSeq

  def children(s: Span): Seq[Span] = spans.iterator.filter(_.parent == s.id).toSeq

  /** The span and every span below it. */
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Self time: the span's duration minus the part its children cover
    * (children of one span run one after another).
    */
  def selfS(s: Span): Double = s.durS - children(s).map(_.durS).sum

  /** Writes every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val extra = s.all.map { case (k, v) => s""""$k":${Json.num(v)}""" }
      (Seq(s""""id":${s.id}""", s""""parent":${s.parent}""",
        s""""name":${Json.str(s.name)}""", s""""probe":${s.probe}""",
        s""""start_ns":${s.startNs}""", s""""end_ns":${s.endNs}""",
        s""""self_s":${Json.num(selfS(s))}""", s""""gc_s":${Json.num(s.gcS)}""",
        s""""codegen_s":${Json.num(s.codegenS)}""") ++ extra).mkString("{", ",", "}")
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
