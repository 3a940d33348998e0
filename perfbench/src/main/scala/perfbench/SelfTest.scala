package perfbench

import org.apache.spark.sql.SparkSession

/** Self-test of the benchmark's checks: runs one round of every workload at
  * a tiny scale (traced, so the probes and the layer metrics run too),
  * requires every output to pass its checks, then alters each checked
  * output in turn and requires the checks to fail on it.
  *
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark: SparkSession = Session.start()
    var ok = true
    def expect(cond: Boolean, what: String): Unit = {
      println((if (cond) "ok    " else "FAIL  ") + what)
      ok &&= cond
    }
    try Workloads.names.foreach { name =>
      val w = Workloads.make(name, spark, seed = 1L, scale = 0.02)
      val tr = new Tracer(spark, enabled = true)
      val outs = (0 until w.roundSize).map { k =>
        tr.span("op") {
          val o = w.op(k, tr)._1
          w.probes(k, tr)
          o
        }
      }
      outs.zipWithIndex.foreach { case (o, k) =>
        val problems = w.check(k, o)
        problems.foreach(p => println(s"      $p"))
        expect(problems.isEmpty, s"$name: operation $k passes its checks")
      }
      val layers = Layers.metrics(tr, tr.all.filter(s => s.name == "op" && s.parent == -1))
      expect(layers.forall(m => !m._2.isNaN), s"$name: ${layers.size} layer metrics from the trace")
      val altered: Seq[(String, Int, Outcome)] = w match {
        case c: ClipWorkload => Seq(("one violation row dropped", 0, c.dropViolationRow(outs(0))))
        case d: NearDupWorkload => Seq(
          ("a Jaccard score shifted", 0, d.shiftScore(outs(0))),
          ("a component relabelled", 0, d.relabelComponent(outs(0))))
        case c: CatalogWorkload => outs.indices.map(k =>
          (s"the gate's verdict on schema $k flipped", k, c.flipVerdict(outs(k))))
      }
      altered.foreach { case (what, k, o) =>
        expect(w.check(k, o).nonEmpty, s"$name: the checks catch $what")
      }
      spark.catalog.clearCache()
    } finally spark.stop()
    println(if (ok) "self-test passed" else "self-test FAILED")
    sys.exit(if (ok) 0 else 1)
  }
}
