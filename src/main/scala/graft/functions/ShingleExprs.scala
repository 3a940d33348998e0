package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native (codegen'd) distinct word n-gram shingles — the hot-path form of
  * [[graft.pipeline.Dedup.shingles]]'s column recipe. The column form
  * (split + sequence + transform(slice + array_join) + array_distinct) runs
  * through interpreted higher-order functions: ~|tokens| lambda
  * evaluations with boxing per document, which dominated the signature
  * pass at bench sf1. This expression builds the identical array in one
  * JVM pass: same `split(" ", -1)` tokenization, same space-joined
  * n-grams, same first-occurrence distinct order, same single whole-text
  * shingle for documents shorter than n words. (One deliberate edge
  * difference: a NULL text yields a NULL array here, where the column
  * recipe yields `array(null)` — both shapes produce zero candidate pairs
  * downstream because null shingles and null band hashes never
  * equi-join.)
  */
case class ShinglesExpr(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    ShinglesExpr.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShinglesExpr.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

object ShinglesExpr {

  /** Distinct space-joined n-grams of `split(text, " ", -1)` tokens in
    * first-occurrence order; whole text as one shingle when shorter than
    * n tokens.
    */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length >= n) {
      val seen = new java.util.LinkedHashSet[String]
      var i = 0
      val last = toks.length - n
      while (i <= last) {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[AnyRef](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
      new GenericArrayData(out)
    } else new GenericArrayData(
      Array[AnyRef](UTF8String.fromString(toks.mkString(" "))))
  }

  def apply(c: Column, n: Int): Column =
    GraftColumnBridge.column(ShinglesExpr(GraftColumnBridge.expression(c), n))
}

/** Native per-band MinHash minima over a shingle array — the hot-path form
  * of [[graft.pipeline.Dedup.bandHash]] applied for every band. The column
  * form evaluated numBands interpreted `transform(shingles, md5…)` lambdas
  * per document (measured: the dominant cost of the whole LSH candidate
  * pass). This expression produces the identical numBands-element array in
  * one JVM pass, digesting each (band, shingle) pair once and comparing
  * digests as unsigned bytes — exactly the lexicographic order of the
  * lowercase hex rendering Spark's `md5` emits (hex digits are
  * nibble-monotone), so the selected minima are byte-identical. The
  * xxhash64 engine reproduces Spark's `xxhash64(band, shingle)` chain
  * (seed 42, int then UTF8 bytes) with numeric minima rendered via
  * Long.toString, exactly the old `array_min(...).cast("string")`.
  */
case class BandMinsExpr(child: Expression, numBands: Int, engine: String)
    extends UnaryExpression {
  // checked at plan build: `engine` is also spliced into generated code
  require(engine == "md5" || engine == "xxhash64",
    s"unknown minhash hash engine '$engine' (md5 | xxhash64)")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "band_minhash"

  override protected def nullSafeEval(input: Any): Any =
    BandMinsExpr.mins(input.asInstanceOf[ArrayData], numBands, engine)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"""graft.functions.BandMinsExpr.mins($c, $numBands, "$engine")""")

  override protected def withNewChildInternal(newChild: Expression): BandMinsExpr =
    copy(child = newChild)
}

object BandMinsExpr {

  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  private val hexChars = "0123456789abcdef".toCharArray

  private def toHex(b: Array[Byte]): String = {
    val out = new Array[Char](b.length * 2)
    var i = 0
    while (i < b.length) {
      out(2 * i) = hexChars((b(i) >> 4) & 0xf)
      out(2 * i + 1) = hexChars(b(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** a < b as unsigned byte strings (== lexicographic order of their
    * lowercase hex renderings).
    */
  private def ltUnsigned(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  def mins(arr: ArrayData, numBands: Int, engine: String): ArrayData = {
    val m = arr.numElements()
    val out = new Array[AnyRef](numBands)
    engine match {
      case "md5" =>
        val digest = md5Local.get()
        val prefixes = Array.tabulate(numBands)(b =>
          (b.toString + ":").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // digest bytes per shingle, unsigned-compared; hex rendered once
        // per band at the end instead of once per (band, shingle)
        var b = 0
        while (b < numBands) {
          var best: Array[Byte] = null
          var i = 0
          while (i < m) {
            if (!arr.isNullAt(i)) {
              digest.reset()
              digest.update(prefixes(b))
              digest.update(arr.getUTF8String(i).getBytes)
              val d = digest.digest()
              if (best == null || ltUnsigned(d, best)) best = d
            }
            i += 1
          }
          out(b) = if (best == null) null else UTF8String.fromString(toHex(best))
          b += 1
        }
      case "xxhash64" =>
        import org.apache.spark.sql.catalyst.expressions.XxHash64Function
        import org.apache.spark.sql.types.{IntegerType, StringType => SType}
        var b = 0
        while (b < numBands) {
          var has = false
          var best = 0L
          var i = 0
          while (i < m) {
            if (!arr.isNullAt(i)) {
              val h1 = XxHash64Function.hash(b, IntegerType, 42L)
              val h = XxHash64Function.hash(arr.getUTF8String(i), SType, h1)
              if (!has || h < best) { best = h; has = true }
            }
            i += 1
          }
          out(b) = if (has) UTF8String.fromString(java.lang.Long.toString(best))
                   else null
          b += 1
        }
      case other => throw new IllegalArgumentException(
        s"unknown minhash hash engine '$other' (md5 | xxhash64)")
    }
    new GenericArrayData(out)
  }

  def apply(c: Column, numBands: Int, engine: String): Column =
    GraftColumnBridge.column(
      BandMinsExpr(GraftColumnBridge.expression(c), numBands, engine))
}

/** Native count of common non-null elements of two string arrays — the
  * hot-path form of `size(filter(array_intersect(a, b), x -> x != null))`
  * in the exact-Jaccard verification: both `array_intersect` and `filter`
  * are interpreted (no codegen) and materialize an intermediate result
  * array per candidate pair, when the verification only needs the COUNT.
  * PRECONDITION: both arrays are element-distinct (shingle sets are by
  * construction). The count then equals |A ∩ B| over non-null elements —
  * exactly the old expression. With duplicates it overcounts: for a = [x],
  * b = [x, x] it returns 2 where `size(array_intersect(a, b))` returns 1.
  */
case class IntersectCountExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    IntersectCountExpr.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.IntersectCountExpr.count($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCountExpr =
    copy(left = newLeft, right = newRight)
}

object IntersectCountExpr {

  /** |{x ∈ a, x non-null} ∩ {y ∈ b, y non-null}| for element-distinct
    * string arrays: build a set over the smaller side, probe the larger.
    */
  def count(a: ArrayData, b: ArrayData): Long = {
    val (small, large) =
      if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = small.numElements()
    val set = new java.util.HashSet[UTF8String](Math.max(8, n * 2))
    var i = 0
    while (i < n) {
      if (!small.isNullAt(i)) set.add(small.getUTF8String(i))
      i += 1
    }
    var c = 0L
    val m = large.numElements()
    var j = 0
    while (j < m) {
      if (!large.isNullAt(j) && set.contains(large.getUTF8String(j))) c += 1L
      j += 1
    }
    c
  }

  def apply(a: Column, b: Column): Column =
    GraftColumnBridge.column(IntersectCountExpr(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
