package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.pipeline.Dedup

/** `neardup`: documents in 4-way near-duplicate clusters. Each cluster has a
  * 30-word base text over a 5000-word vocabulary; members 1 to 3 are the
  * base with one seeded word substituted, and in every tenth cluster member 3
  * is an exact copy of the base instead. Every pair in a cluster then has a
  * 3-shingle Jaccard of at least 0.6, above the 0.5 threshold, so the pair
  * graph is a union of 4-cliques whatever the seed, and the work per
  * operation does not depend on the seed. One operation is
  * `Dedup.jaccardPairsLsh` then `Dedup.dedupGroups`, both collected, with
  * the SQL cache cleared afterwards. Only the `pipeline` layer does work.
  */
final class NearDupWorkload(spark: SparkSession, seed: Long, clusters: Int)
    extends Workload {
  import NearDupWorkload.DupOut

  private val threshold = 0.5
  private val wordsPerDoc = 30
  private val vocab = 5000

  private def mix(a: Long, b: Long, c: Long): Long = {
    var z = seed ^ (a * 0x9E3779B97F4A7C15L) ^ (b * 0xBF58476D1CE4E5B9L) ^ (c * 0x94D049BB133111EBL)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def pick(bound: Int, a: Long, b: Long, c: Long): Int =
    java.lang.Math.floorMod(mix(a, b, c), bound.toLong).toInt

  /** id → text; ids are cluster * 4 + member. */
  private val docs: Map[Long, String] = (0 until clusters).flatMap { c =>
    val base = Array.tabulate(wordsPerDoc)(j => pick(vocab, c, 0, j))
    (0 until 4).map { m =>
      val words =
        if (m == 0 || (m == 3 && c % 10 == 0)) base
        else {
          val w = base.clone()
          w(pick(wordsPerDoc, c, m, 200)) = pick(vocab, c, m, 300)
          w
        }
      (c * 4L + m) -> words.map(i => s"w$i").mkString(" ")
    }
  }.toMap

  /** The planted exact copies: (base id, copy id). */
  private val copies: Seq[(Long, Long)] =
    (0 until clusters by 10).map(c => (c * 4L, c * 4L + 3))

  // an RDD-level persist: clearing the SQL cache between operations leaves it
  private val input: DataFrame = {
    val rows = docs.toSeq.sortBy(_._1).map { case (id, t) => Row(id, t) }
    val rdd = spark.sparkContext
      .parallelize(rows, 2 * spark.sparkContext.defaultParallelism)
      .persist(StorageLevel.MEMORY_ONLY)
    rdd.count()
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("id", LongType, nullable = false), StructField("text", StringType))))
  }

  def op(k: Int, tr: Tracer): (Outcome, Long) = {
    val pairs = Dedup.jaccardPairsLsh(input, "id", "text", threshold = threshold)
    val pr = tr.span("pipeline.pairs") {
      pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    tr.count("pipeline.verified_pairs", pr.size)
    val groups = tr.span("pipeline.cc") {
      Dedup.dedupGroups(pairs).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    spark.catalog.clearCache()
    (DupOut(pr, groups), docs.size.toLong)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  override def probes(k: Int, tr: Tracer): Unit = {
    tr.span("pipeline.bands", probe = true)(noop(Dedup.minhashBands(input, "id", "text", 8)))
    tr.span("pipeline.candidates", probe = true) {
      tr.count("pipeline.candidate_pairs", Dedup.minhashCandidates(input, "id", "text").count())
    }
    spark.catalog.clearCache()
  }

  private def shingles(text: String): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < 3) Set(t.mkString(" ")) else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def check(k: Int, out: Outcome): Seq[String] = {
    val o = out.asInstanceOf[DupOut]
    val bad = mutable.ArrayBuffer.empty[String]
    o.pairs.foreach { case (a, b, j) =>
      val (sa, sb) = (shingles(docs(a)), shingles(docs(b)))
      val inter = sa.intersect(sb).size
      val exact = inter.toDouble / (sa.size + sb.size - inter)
      if (math.abs(exact - j) > 1e-6 || exact < threshold - 1e-9)
        bad += f"op $k: pair ($a, $b) reported Jaccard $j%.6f, recomputed $exact%.6f"
    }
    val reported = o.pairs.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    copies.filterNot(reported).foreach(c => bad += s"op $k: exact copy $c not reported")

    // union-find over the reported pairs
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    o.pairs.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comps = parent.keys.toSeq.groupBy(find).values
      .map(m => m.min -> m.size.toLong).toMap
    if (o.groups.toMap != comps || o.groups.size != comps.size)
      bad += s"op $k: ${o.groups.size} components reported, union-find over the pairs gives ${comps.size}" +
        (if (o.groups.size == comps.size) " with other canonical ids or member counts" else "")
    if (o.groups.map(_._2).sum != parent.size)
      bad += s"op $k: member counts sum to ${o.groups.map(_._2).sum}, pairs hold ${parent.size} ids"
    bad.take(5).toSeq
  }

  /** The self-test's alterations. */
  def shiftScore(out: Outcome): Outcome = {
    val o = out.asInstanceOf[DupOut]
    val (a, b, j) = o.pairs.head
    o.copy(pairs = (a, b, j + 0.01) +: o.pairs.tail)
  }
  def relabelComponent(out: Outcome): Outcome = {
    val o = out.asInstanceOf[DupOut]
    val (c, n) = o.groups.head
    o.copy(groups = (c + 1, n) +: o.groups.tail)
  }
}

object NearDupWorkload {
  final case class DupOut(pairs: Seq[(Long, Long, Double)],
                          groups: Seq[(Long, Long)]) extends Outcome
}
