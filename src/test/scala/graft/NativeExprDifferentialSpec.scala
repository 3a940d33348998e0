package graft

import graft.functions.{BandMinsExpr, IntersectCountExpr, ShinglesExpr, VariantTopKindExpr}
import org.apache.spark.sql.functions._

/** Differential tests for the round-6 native hot-path expressions: each
  * must be value-identical to the column recipe it replaced (the recipes
  * stay in the codebase as the readable semantic spec — Dedup.shingles,
  * Dedup.bandHash, the schema_of_variant type CASE — so the equivalence
  * is checked against the real thing, not a reimplementation).
  */
class NativeExprDifferentialSpec extends SparkTestBase {

  import spark.implicits._

  private def texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a b", "one", "", "  ", "x  y   z", // empty tokens from repeated spaces
    "dup dup dup dup dup", // heavy repetition → distinct collapses
    "tab\tand newline keep literal", // only space splits
    "ünïcode tökens ünïcode tökens mixed", // non-ASCII hashing
    (1 to 200).map(i => s"w$i").mkString(" ") // long doc
  )

  test("ShinglesExpr ≡ Dedup.shingles column recipe (non-null texts)") {
    val df = texts.zipWithIndex.map(_.swap).toDF("id", "t")
    for (n <- Seq(1, 2, 3, 5)) {
      val rows = df.select(col("id"),
          pipeline.Dedup.shingles(col("t"), n).as("old"),
          ShinglesExpr(col("t"), n).as("nw"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"shingle mismatch id=${r.getInt(0)} n=$n")
      }
    }
  }

  test("BandMinsExpr ≡ per-band bandHash folds, both engines") {
    val df = texts.zipWithIndex.map(_.swap).toDF("id", "t")
      .select(col("id"), pipeline.Dedup.shingles(col("t"), 3).as("sh"))
    for (engine <- Seq("md5", "xxhash64"); numBands <- Seq(1, 4, 8)) {
      val olds = (0 until numBands)
        .map(b => pipeline.Dedup.bandHash(col("sh"), b, engine).as(s"o_$b"))
      val rows = df.select(
          (col("id") +: BandMinsExpr(col("sh"), numBands, engine).as("nw")
            +: olds): _*)
        .collect()
      rows.foreach { r =>
        val nw = r.getSeq[String](1)
        val old = (0 until numBands).map(b => r.getString(2 + b))
        assert(nw == old,
          s"band mins mismatch id=${r.get(0)} engine=$engine bands=$numBands")
      }
    }
  }

  test("BandMinsExpr rejects an unknown engine at construction, before any job runs") {
    val df = texts.toDF("t").select(pipeline.Dedup.shingles(col("t"), 3).as("sh"))
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    Seq("sha1", "md5\"", "").foreach { engine =>
      val e = intercept[IllegalArgumentException](
        df.select(BandMinsExpr(col("sh"), 4, engine)))
      assert(e.getMessage.contains(s"unknown minhash hash engine '$engine'"))
    }
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(null).length == jobsBefore)
  }

  test("IntersectCountExpr ≡ size(filter(array_intersect, notNull))") {
    val pairs = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("a"), Seq("b")),
      (Seq.empty[String], Seq("a")),
      (Seq("x", "y"), Seq("y", "x")),
      ((1 to 150).map("s" + _), (100 to 250).map("s" + _)))
    val df = pairs.toDF("a", "b")
    val rows = df.select(
        IntersectCountExpr(col("a"), col("b")).as("nw"),
        size(filter(array_intersect(col("a"), col("b")),
          x => x.isNotNull)).cast("long").as("old"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("VariantTopKindExpr matches the schema_of_variant-based dispatch " +
      "labels on parsed JSON of every type") {
    val docs = Seq("null", "{}", """{"a":1,"b":{"c":[1,2]}}""", "[]",
      """[1,"x",null]""", "\"s\"", "true", "false", "1", "-2.5", "1e40",
      "12345678901234567890123456789012345678901", "0.1")
    val df = docs.zipWithIndex.map(_.swap).toDF("id", "j")
      .select(col("id"), parse_json(col("j")).as("v"))
    // the dispatch only consumes these CASE outcomes — compare the final
    // classification, not the raw schema string
    def classify(sch: org.apache.spark.sql.Column) =
      when(sch === "VOID", "null")
        .when(sch.startsWith("OBJECT"), "object")
        .when(sch.startsWith("ARRAY"), "array")
        .when(sch === "STRING" || sch === "DATE" ||
          sch.startsWith("TIMESTAMP") || sch === "BINARY" || sch === "UUID",
          "string")
        .when(sch === "BOOLEAN", "boolean")
        .otherwise("number")
    val rows = df.select(
        classify(schema_of_variant(col("v"))).as("old"),
        classify(VariantTopKindExpr(col("v"))).as("nw"),
        // the numCanon storage-class arms must agree too
        (schema_of_variant(col("v")) === "DOUBLE").as("oldD"),
        (VariantTopKindExpr(col("v")) === "DOUBLE").as("nwD"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1))
      assert(r.getBoolean(2) == r.getBoolean(3))
    }
  }

  test("simhash64 packed-lane aggregation: long-doc lane-carry safety " +
      "(counts far past 16-bit)") {
    // 70k identical tokens: a 16-bit lane would overflow at 65,536; the
    // 32-bit lanes must not carry, and the code must equal the 1-token doc
    // (sign bits depend only on the per-bit majority, unanimous here)
    val big = ("tok " * 70000).trim
    val df = Seq((1L, big), (2L, "tok")).toDF("id", "t")
    val codes = pipeline.Dedup.simhash64(df, "id", "t")
      .orderBy("k").collect().map(_.getLong(1))
    assert(codes(0) == codes(1))
  }
}
