package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the similarity / dedup hot paths.
  *
  * Why these exist (measured at sf0.1, local[32]): the unrolled 64-term
  * dot-product Column expression cost ~27 µs/pair — a multi-thousand-node
  * expression tree that Janino compiles into bytecode too large for the
  * JIT, so it runs effectively interpreted and floods the JVM code cache
  * (slowing every query that follows). A tight generated LOOP is ~100
  * bytes of bytecode, JIT-compiles to vectorized machine code, and stays
  * inside WholeStageCodegen. Same story for per-element `transform(...)`
  * lambdas (higher-order functions never codegen): 128 minhash passes as
  * lambdas cost ~0.4 ms/doc; one fused loop costs ~10 µs/doc.
  *
  * Each expression implements BOTH `nullSafeEval` (interpreted) and
  * `doGenCode` (codegen), and a spec asserts they agree.
  */
object GraftFunctions {

  /** Resolve a required literal-INT parameter with a real error message
    * (a bare partial function would die with a MatchError when a SQL
    * user passes a column or a BIGINT literal).
    */
  private def intLit(fn: String, e: Expression): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal INT parameter, got: $other")
  }

  /** Window-size parameters (n-gram width, rolling-fp window) must be ≥ 1:
    * n = 0 would emit sz+1 zero hashes and negative n an oversized
    * all-zero array — silent garbage, so fail at plan time instead.
    */
  private def posIntLit(fn: String, e: Expression): Int = {
    val i = intLit(fn, e)
    if (i < 1) throw new IllegalArgumentException(
      s"$fn expects a positive window size, got: $i")
    i
  }

  /** Name → expression builder for every native function. Shared by the
    * per-session runtime registration and the SparkSessionExtensions
    * injection, so the two surfaces can never drift.
    */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> (es => ArrayDotD(es(0), es(1))),
    "sorted_intersect_count" -> (es => SortedIntersectCount(es(0), es(1))),
    "sorted_intersect_ge05" -> (es => SortedIntersectGe05(es(0), es(1))),
    "minhash_band_buckets" ->
      (es => MinHashBandBuckets(es(0), intLit("minhash_band_buckets", es(1)))),
    "lsh_packed_bands" ->
      (es => LshPackedBands(es(0), intLit("lsh_packed_bands", es(1)),
        intLit("lsh_packed_bands", es(2)))),
    "lsh_band_buckets" ->
      (es => LshBandBuckets(es(0), intLit("lsh_band_buckets", es(1)),
        intLit("lsh_band_buckets", es(2)))),
    "lsh_probe_buckets" ->
      (es => LshBandBuckets(es(0), intLit("lsh_probe_buckets", es(1)),
        intLit("lsh_probe_buckets", es(2)), probeFlips = true)),
    "ngram_hash_set" ->
      (es => NgramHashSet(es(0), posIntLit("ngram_hash_set", es(1)))),
    "ngram_hash_seq" ->
      (es => NgramHashSeq(es(0), posIntLit("ngram_hash_seq", es(1)))),
    "simhash32" -> (es => Simhash32(es.head)),
    "simhash64" -> (es => Simhash64(es.head)),
    "rolling_fp" ->
      (es => RollingFp(es(0), posIntLit("rolling_fp", es(1)))),
    "cdc_boundaries" ->
      (es => CdcBoundaries(es(0), posIntLit("cdc_boundaries", es(1)),
        posIntLit("cdc_boundaries", es(2)))),
    "vec_sum" ->
      (es => VectorSumD(es.head).toAggregateExpression()),
    "vec_sum_long" ->
      (es => VectorSumL(es.head).toAggregateExpression()),
    "vec_cos6" -> (es => VecCos6(es(0), es(1), es(2), es(3))),
    "vec_cos6i" -> (es => VecCos6i(es(0), es(1), es(2), es(3))),
    "top_k_sum_long" ->
      (es => TopKSumLong(es(0), posIntLit("top_k_sum_long", es(1)))
        .toAggregateExpression()),
  )

  /** Idempotent per-session registration; operators call this before
    * building plans that use `call_function` on these names. Skips only
    * when EVERY graft name already resolves (so a foreign function that
    * happens to share one name cannot suppress the rest).
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    val allPresent = builders.forall { case (name, _) =>
      reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name))
    }
    if (!allPresent) {
      builders.foreach { case (name, builder) =>
        reg.createOrReplaceTempFunction(name, builder, "built-in")
      }
      // the optimizer extension rides along for programmatic sessions:
      // the single-row-cross rewrite (SURVEY §5). A session built with
      // GraftSparkExtensions already has both, and a second copy of the
      // rule would run in a second optimizer batch
      if (!spark.experimental.extraOptimizations
          .contains(graft.plans.SingleRowCrossToEquiJoin)) {
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+
            graft.plans.SingleRowCrossToEquiJoin
      }
    }
  }
}

/** Library entry point for SQL-first users: register the engine's native
  * functions through the public extension mechanism —
  * `spark.sql.extensions=graft.functions.GraftSparkExtensions` (or
  * `SparkSession.builder.withExtensions(new GraftSparkExtensions)`) —
  * so `spark.sql("SELECT vec_dot(a, b) ...")` resolves without any
  * graft API call.
  */
class GraftSparkExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft.functions", name),
        builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.SingleRowCrossToEquiJoin)
  }
}

/** Exact dot product of two float-array columns as double, summing in
  * element order (bit-identical to a left-to-right `list_reduce` fold, so
  * results hash-match the DuckDB oracle).
  */
case class ArrayDotD(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** [[SortedIntersectCount]] fused with the Jaccard ≥ 0.5 admission
  * test: returns the intersection size when the pair qualifies
  * (`2·inter ≥ uni` ⟺ `3·inter ≥ |a|+|b|`), −1 otherwise — and the
  * merge walk EXITS as soon as the bound is unreachable
  * (`inter + min(remaining)` is an exact upper bound on the final
  * intersection, so the early exit never changes the verdict). LSH
  * candidate streams are mostly FALSE pairs — at the 10× ScaleUp
  * corpus ~400M candidates carry ~28M true pairs — and a false pair's
  * walk now stops roughly a third of the way in instead of consuming
  * both arrays.
  */
case class SortedIntersectGe05(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements()
    val nb = y.numElements()
    val need = 0L + na + nb // qualify iff 3·inter ≥ need
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val rem = math.min(na - i, nb - j)
      if (3L * (c + rem) < need) return -1L
      val la = x.getLong(i); val lb = y.getLong(j)
      if (la < lb) i += 1
      else if (la > lb) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    if (3L * c >= need) c else -1L
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val need = ctx.freshName("need")
      val rem = ctx.freshName("rem")
      val la = ctx.freshName("la"); val lb = ctx.freshName("lb")
      s"""
         |final int $na = $a.numElements();
         |final int $nb = $b.numElements();
         |final long $need = 0L + $na + $nb;
         |int $i = 0; int $j = 0; long $c = 0L;
         |${ev.value} = -1L;
         |while ($i < $na && $j < $nb) {
         |  final int $rem = ($na - $i < $nb - $j) ? $na - $i : $nb - $j;
         |  if (3L * ($c + $rem) < $need) break;
         |  final long $la = $a.getLong($i);
         |  final long $lb = $b.getLong($j);
         |  if ($la < $lb) $i++;
         |  else if ($la > $lb) $j++;
         |  else { $c++; $i++; $j++; }
         |}
         |if ($i >= $na || $j >= $nb) {
         |  if (3L * $c >= $need) ${ev.value} = $c;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Intersection size of two SORTED long-array columns via a merge walk —
  * O(|a|+|b|), no per-row hash set (Spark's `array_intersect` builds one
  * per call). Inputs must be sorted and duplicate-free; the dedup
  * operators sort their hashed element sets once at signature time.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements()
    val nb = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val la = x.getLong(i); val lb = y.getLong(j)
      if (la < lb) i += 1
      else if (la > lb) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val la = ctx.freshName("la"); val lb = ctx.freshName("lb")
      s"""
         |final int $na = $a.numElements();
         |final int $nb = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $na && $j < $nb) {
         |  final long $la = $a.getLong($i);
         |  final long $lb = $b.getLong($j);
         |  if ($la < $lb) { $i++; }
         |  else if ($la > $lb) { $j++; }
         |  else { $c++; $i++; $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Shared 64-bit mixing (splitmix64 finalizer) for the hash families
  * below. Generated code calls these statics — the loop body stays a few
  * bytecodes and the mixing constants live in one place.
  */
object Mix {
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Seeded element hash: h_j(t). */
  def h(t: Long, j: Int): Long = mix64(t ^ mix64(j.toLong))
  /** Band bucket key from (band, min1, min2). */
  def bucket(b: Int, m1: Long, m2: Long): Long =
    mix64(mix64(b.toLong ^ m1) ^ m2)
  /** FNV-1a 64 over the raw UTF-8 bytes, finalized with mix64. */
  def strHash(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val b = s.getBytes
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xFF)) * 0x100000001B3L; i += 1 }
    mix64(h)
  }

  /** Spark's `round(x, 6)` double semantics, replicated exactly
    * (RoundBase: NaN/Infinity pass through, else BigDecimal.valueOf →
    * setScale(6, HALF_UP) → doubleValue) so the fused cosine expressions
    * below are bit-identical to the composed
    * `round(vec_dot(a,b)/(na*nb), 6)` Column formula they replace —
    * pinned by ExpressionPropertySpec against Spark's own `round`.
    */
  @inline def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Full work of VecCos6 (shared by eval and codegen): element-order
    * float dot product (identical to ArrayDotD's fold) divided by the
    * precomputed norms, rounded to 6 — the cross-engine cosine contract
    * of the whole similarity/mining family, fused into ONE hot method so
    * every consumer (exact top-k, hard negatives, triplets, bitext, the
    * probe re-rank) shares a single JIT compilation instead of each
    * stage paying its own warm-up for a structurally-identical
    * expression tree.
    */
  def cos6d(a: ArrayData, b: ArrayData, na: Double, nb: Double): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    round6(s / (na * nb))
  }

  /** Full work of VecCos6i: [[cos6d]] quantized to integer micro-units —
    * exactly `CAST(FLOOR(round(dot/(na·nb), 6) · 1e6 + 0.5) AS BIGINT)`
    * (floor-of-double then truncating cast; Scala's `.toLong` matches
    * Spark's double→long cast on every value floor can produce,
    * including NaN→0 and ±Infinity→Long.Min/MaxValue).
    */
  def cos6i(a: ArrayData, b: ArrayData, na: Double, nb: Double): Long =
    math.floor(cos6d(a, b, na, nb) * 1000000.0 + 0.5).toLong

  private val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Full work of Simhash32 (shared by eval and codegen): for each token
    * take the first 4 bytes of its MD5 as an unsigned 32-bit value
    * (exactly `conv(substring(md5(t), 1, 8), 16, 10)`), then set output
    * bit j when the ±1 majority of the tokens' bit j is positive.
    */
  def simhash32(arr: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val md = md5Local.get()
    val counts = new Array[Int](32)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      md.reset()
      val d = md.digest(arr.getUTF8String(i).getBytes)
      val h = ((d(0) & 0xFF) << 24) | ((d(1) & 0xFF) << 16) |
        ((d(2) & 0xFF) << 8) | (d(3) & 0xFF)
      var j = 0
      while (j < 32) {
        if (((h >>> j) & 1) == 1) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 32) { if (counts(j) > 0) out |= 1L << j; j += 1 }
    out
  }

  /** Full work of Simhash64 (shared by eval and codegen): for each token
    * take the first 8 bytes of its MD5 as a big-endian 64-bit value
    * (exactly the `substr(md5(t), 1, 16)` hex prefix), then set output
    * bit j when the ±1 majority of the tokens' bit j is positive.
    */
  def simhash64(arr: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val md = md5Local.get()
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      md.reset()
      val d = md.digest(arr.getUTF8String(i).getBytes)
      var h = 0L
      var k = 0
      while (k < 8) { h = (h << 8) | (d(k) & 0xFFL); k += 1 }
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) out |= 1L << j; j += 1 }
    out
  }

  /** Full work of RollingFp (shared by eval and codegen): polynomial
    * rolling hash h ← (h·257 + codepoint) mod 1e9+7 over the string's
    * Unicode code points — exactly the SQL oracle's
    * `unicode(substr(t, i, 1))` walk, for ANY input, not just ASCII.
    * Returns [full-text hash, min k-codepoint window hash] — the
    * winnowing-style signature; the window min falls back to the full
    * hash for strings shorter than k. The window pass is a true rolling
    * update (drop the outgoing term via 257^(k-1) mod p, shift, add) —
    * O(n), not O(n·k); per-window values are identical to a fresh fold.
    */
  def rollingFp(s: org.apache.spark.unsafe.types.UTF8String, k: Int): GenericArrayData = {
    val str = s.toString
    var n = 0
    var idx = 0
    while (idx < str.length) { idx += Character.charCount(str.codePointAt(idx)); n += 1 }
    val cps = new Array[Int](n)
    idx = 0; var i = 0
    while (idx < str.length) {
      val cp = str.codePointAt(idx)
      cps(i) = cp; i += 1; idx += Character.charCount(cp)
    }
    val M = 1000000007L
    var full = 0L
    i = 0
    while (i < n) { full = (full * 257L + cps(i)) % M; i += 1 }
    var winMin = full
    if (n >= k) {
      var pow = 1L
      var t = 0
      while (t < k - 1) { pow = pow * 257L % M; t += 1 }
      var h = 0L
      var j = 0
      while (j < k) { h = (h * 257L + cps(j)) % M; j += 1 }
      winMin = h
      j = k
      while (j < n) {
        val drop = cps(j - k) * pow % M
        h = ((h - drop + M) % M * 257L + cps(j)) % M
        if (h < winMin) winMin = h
        j += 1
      }
    }
    new GenericArrayData(Array(full, winMin))
  }

  /** Full work of CdcBoundaries (shared by eval and codegen): the SAME
    * windowed polynomial rolling hash as [[rollingFp]], emitting every
    * 1-based codepoint position i (k ≤ i ≤ n) whose k-window hash is ≡ 0
    * mod 2^maskBits — the content-defined chunk boundary test (FastCDC's
    * gear test, sans min/max clamps, so every boundary is a pure
    * function of its LOCAL window: an edit can only move boundaries
    * within k codepoints of it, never shift the rest of the stream).
    * Expected chunk length is 2^maskBits codepoints.
    */
  def cdcBoundaries(s: org.apache.spark.unsafe.types.UTF8String,
      k: Int, maskBits: Int): GenericArrayData = {
    val str = s.toString
    var n = 0
    var idx = 0
    while (idx < str.length) { idx += Character.charCount(str.codePointAt(idx)); n += 1 }
    val cps = new Array[Int](n)
    idx = 0; var i = 0
    while (idx < str.length) {
      val cp = str.codePointAt(idx)
      cps(i) = cp; i += 1; idx += Character.charCount(cp)
    }
    val M = 1000000007L
    val mod = 1L << maskBits
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    if (n >= k) {
      var pow = 1L
      var t = 0
      while (t < k - 1) { pow = pow * 257L % M; t += 1 }
      var h = 0L
      var j = 0
      while (j < k) { h = (h * 257L + cps(j)) % M; j += 1 }
      if (h % mod == 0L) out += k.toLong
      j = k
      while (j < n) {
        val drop = cps(j - k) * pow % M
        h = ((h - drop + M) % M * 257L + cps(j)) % M
        if (h % mod == 0L) out += (j + 1).toLong
        j += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Full work of NgramHashSet (shared by eval and codegen): hash every
    * token, combine each n-token window order-sensitively, sort, dedup.
    */
  def ngramHashSet(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                   n: Int): GenericArrayData = {
    val sz = arr.numElements()
    if (sz < n) return new GenericArrayData(Array.emptyLongArray)
    val g = ngramHashes(arr, n)
    java.util.Arrays.sort(g)
    var w = 1
    var i = 1
    while (i < g.length) {
      if (g(i) != g(w - 1)) { g(w) = g(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(g, w))
  }

  /** Positional variant (NgramHashSeq): the hash of every n-token
    * window IN ORDER, no dedup — element k is the gram starting at
    * token k. The span detector needs positions, so the set form's
    * sort/dedup would destroy exactly the information it consumes.
    */
  def ngramHashSeq(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                   n: Int): GenericArrayData = {
    val sz = arr.numElements()
    if (sz < n) return new GenericArrayData(Array.emptyLongArray)
    new GenericArrayData(ngramHashes(arr, n))
  }

  private def ngramHashes(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                          n: Int): Array[Long] = {
    val sz = arr.numElements()
    val th = new Array[Long](sz)
    var i = 0
    while (i < sz) { th(i) = strHash(arr.getUTF8String(i)); i += 1 }
    val g = new Array[Long](sz - n + 1)
    i = 0
    while (i <= sz - n) {
      var hh = 0L
      var k = 0
      while (k < n) { hh = mix64(hh ^ th(i + k)); k += 1 }
      g(i) = hh
      i += 1
    }
    g
  }
}

/** All MinHash-LSH band bucket keys for a hashed element set in ONE pass:
  * for band b of `bands`, bucket_b = mix(b, min_t h_{2b}(t), min_t
  * h_{2b+1}(t)) — the r=2 banding of MinHash(2·bands). Fused loop:
  * elements × (2·bands) cheap mixes, ~40× cheaper than the equivalent
  * `transform`/`array_min` lambda stack (which evaluates interpreted).
  * The hash family differs from the lambda version's xxhash64 — candidate
  * sets differ immaterially; verification makes the output identical.
  */
case class MinHashBandBuckets(child: Expression, bands: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(2 * bands)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val t = arr.getLong(i)
      var j = 0
      while (j < 2 * bands) {
        val hv = Mix.h(t, j)
        if (hv < mins(j)) mins(j) = hv
        j += 1
      }
      i += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) { out(b) = Mix.bucket(b, mins(2 * b), mins(2 * b + 1)); b += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val mins = ctx.freshName("mins")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val b = ctx.freshName("b"); val t = ctx.freshName("t")
      val hv = ctx.freshName("hv"); val out = ctx.freshName("out")
      val nb = bands
      s"""
         |final int $n = $a.numElements();
         |final long[] $mins = new long[${2 * nb}];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  final long $t = $a.getLong($i);
         |  for (int $j = 0; $j < ${2 * nb}; $j++) {
         |    final long $hv = graft.functions.Mix.h($t, $j);
         |    if ($hv < $mins[$j]) $mins[$j] = $hv;
         |  }
         |}
         |final long[] $out = new long[$nb];
         |for (int $b = 0; $b < $nb; $b++) {
         |  $out[$b] = graft.functions.Mix.bucket($b, $mins[2 * $b], $mins[2 * $b + 1]);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Packed hyperplane sign codes for `bands` LSH bands of `rows` planes
  * each over a 64-d float embedding: code_b = Σ_i sign(w_{b·rows+i} · x)
  * · 2^(rows-1-i). Plane weights are graft.sim.Vectors.planeWeight's
  * sparse ±1 matrix, referenced as a flat double[] — identical buckets
  * to the unrolled-Column version this replaces, at loop-codegen cost.
  */
case class LshPackedBands(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  // per-JVM memo, not per-instance: see LshBandBuckets.sparse — the
  // expression object is deserialized per task, so an instance-level
  // lazy val rebuilds this 6 MB table on every task
  @transient private lazy val weights: Array[Double] =
    LshPackedBands.denseWeights(bands, rows)

  override protected def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val n = math.min(64, x.numElements())
    val out = new Array[Int](bands)
    var b = 0
    while (b < bands) {
      var packed = 0
      var i = 0
      while (i < rows) {
        val p = b * rows + i
        var dot = 0.0
        var k = 0
        while (k < n) { dot += weights(p * 64 + k) * x.getFloat(k); k += 1 }
        packed = packed * 2 + (if (dot > 0.0) 1 else 0)
        i += 1
      }
      out(b) = packed
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val w = ctx.addReferenceObj("weights", weights, "double[]")
      val n = ctx.freshName("n"); val out = ctx.freshName("out")
      val b = ctx.freshName("b"); val i = ctx.freshName("i")
      val k = ctx.freshName("k"); val p = ctx.freshName("p")
      val dot = ctx.freshName("dot"); val packed = ctx.freshName("packed")
      s"""
         |final int $n = java.lang.Math.min(64, $a.numElements());
         |final int[] $out = new int[$bands];
         |for (int $b = 0; $b < $bands; $b++) {
         |  int $packed = 0;
         |  for (int $i = 0; $i < $rows; $i++) {
         |    final int $p = $b * $rows + $i;
         |    double $dot = 0.0;
         |    for (int $k = 0; $k < $n; $k++) {
         |      $dot += $w[$p * 64 + $k] * (double) $a.getFloat($k);
         |    }
         |    $packed = $packed * 2 + ($dot > 0.0 ? 1 : 0);
         |  }
         |  $out[$b] = $packed;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshPackedBands {
  /** JVM-wide memo of the dense plane-weight table per (bands, rows) —
    * the flat layout the codegen path walks (see LshBandBuckets for the
    * per-task-rebuild rationale).
    */
  private val weightCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  private[functions] def denseWeights(bands: Int, rows: Int): Array[Double] =
    weightCache.computeIfAbsent((bands, rows), { key =>
      Array.tabulate(key._1 * key._2 * 64) { idx =>
        graft.sim.Vectors.planeWeight(idx / 64, idx % 64)
      }
    })
}

/** Hashed hyperplane-LSH band bucket keys in ONE fused pass:
  * bucket_b = xxhash64(b, code_b) where code_b is LshPackedBands' packed
  * sign code — bit-identical to Spark's `xxhash64(b, element_at(packed,
  * b+1))` (replicated via the engine's own XXH64.hashInt, seed 42).
  * With `probeFlips` set (the `lsh_probe_buckets` registration) each
  * band emits `rows + 1` keys — its own bucket plus every 1-bit sign
  * flip (`xxhash64(b, code ^ (1 << i))`, the multi-probe LSH query
  * side) — so corpus keys and probe keys come from the same compute.
  *
  * Exists because composing `lsh_packed_bands` with a per-band
  * `transform` lambda is a performance trap: CollapseProject inlines the
  * packing expression INTO the lambda, so the full bands×rows×dim
  * packing re-evaluates once per band (per flip, on the probe side),
  * interpreted — measured 768× the work at the dedup-LSH band count.
  * One top-level native expression keeps the packing single-pass and
  * inside whole-stage codegen.
  */
case class LshBandBuckets(child: Expression, bands: Int, rows: Int,
    probeFlips: Boolean = false)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** The planeWeight matrix is Achlioptas-sparse (~3/4 zeros), so the
    * per-plane dot walks a compressed (dimension, sign) list instead of
    * all 64 dims — ~4× fewer multiply-adds, same values bit-for-bit for
    * FINITE inputs (skipping a zero-weight term only drops `0.0 * x`,
    * an exact no-op; a NaN component in a skipped dimension would no
    * longer poison the dot, which is why non-finite vectors must be
    * QC-gated before indexing — Pipeline.indexEmbeddings and
    * Dedup.dedupEmbeddingLshFrom both enforce the gate at the call
    * site).
    * Flat arrays with a prefix-offset index keep the walk cache-linear.
    */
  // per-JVM, not per-instance: the expression object rides the task
  // binary, so a @transient lazy val here is rebuilt by EVERY task —
  // ~80 ms of plane-table construction that dwarfs the per-partition
  // banding work once the input is spread over many tasks (measured:
  // the 32-task banding stage spent 97.8 CPU-s where the 1-task one
  // spent 1.3 s — all setup). The table is a pure function of
  // (bands, rows), so all tasks (and all queries in a session) share
  // one copy through the companion's memo.
  @transient private lazy val sparse: (Array[Int], Array[Int], Array[Double]) =
    LshBandBuckets.sparsePlanes(bands, rows)

  private def compute(x: ArrayData): GenericArrayData = {
    val (off, idx, sgn) = sparse
    val n = math.min(64, x.numElements())
    val perBand = if (probeFlips) rows + 1 else 1
    val out = new Array[Long](bands * perBand)
    var b = 0
    while (b < bands) {
      var packed = 0
      var i = 0
      while (i < rows) {
        val p = b * rows + i
        var dot = 0.0
        var j = off(p)
        val end = off(p + 1)
        while (j < end) {
          val k = idx(j)
          if (k < n) dot += sgn(j) * x.getFloat(k)
          j += 1
        }
        packed = packed * 2 + (if (dot > 0.0) 1 else 0)
        i += 1
      }
      val seed = XXH64.hashInt(b, 42L)
      out(b * perBand) = XXH64.hashInt(packed, seed)
      if (probeFlips) {
        var f = 0
        while (f < rows) {
          out(b * perBand + 1 + f) = XXH64.hashInt(packed ^ (1 << f), seed)
          f += 1
        }
      }
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshBandBuckets", this, classOf[LshBandBuckets].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.evalArray($a);")
  }

  /** Codegen entry point (avoids regenerating the triple loop as source:
    * the JIT compiles this one hot method once for all rows).
    */
  def evalArray(x: ArrayData): GenericArrayData = compute(x)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBandBuckets {
  /** JVM-wide memo of the Achlioptas-sparse plane table per
    * (bands, rows) geometry — see the `sparse` field note. Determinism:
    * the table is a pure function of the key, so concurrent builders
    * race only on who inserts the identical value.
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int),
      (Array[Int], Array[Int], Array[Double])]()

  private[functions] def sparsePlanes(bands: Int,
      rows: Int): (Array[Int], Array[Int], Array[Double]) =
    planeCache.computeIfAbsent((bands, rows), { key =>
      val planes = key._1 * key._2
      val off = new Array[Int](planes + 1)
      val idx = Array.newBuilder[Int]
      val sgn = Array.newBuilder[Double]
      var p = 0
      var nnz = 0
      while (p < planes) {
        var k = 0
        while (k < 64) {
          val w = graft.sim.Vectors.planeWeight(p, k)
          if (w != 0.0) { idx += k; sgn += w; nnz += 1 }
          k += 1
        }
        p += 1
        off(p) = nnz
      }
      (off, idx.result(), sgn.result())
    })
}

/** Word n-gram hashed set: tokens → sorted, distinct 64-bit hashes of
  * every n consecutive tokens (order-sensitive combine). One fused pass
  * replaces a `transform(sequence, i -> xxhash64(concat_ws(...)))` +
  * `array_distinct` lambda stack that evaluated interpreted at ~1 ms/doc.
  * Output is already sorted for the merge-walk verifier. Gram identity is
  * hash-based on both the Spark and oracle side of the Jaccard pipeline
  * (64-bit: collision odds are negligible at corpus vocabulary sizes).
  */
case class NgramHashSet(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    Mix.ngramHashSet(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Mix.ngramHashSet($a, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Positional n-gram hashes: element k is the 64-bit hash of the n-token
  * window starting at token k (no sort, no dedup — see NgramHashSet for
  * the set form). Feeds the duplicated-span detector, where the gram's
  * POSITION is the payload.
  */
case class NgramHashSeq(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    Mix.ngramHashSeq(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Mix.ngramHashSeq($a, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 32-bit SimHash over a distinct-token string array, MD5 bit-parity
  * with the portable `conv(substring(md5(t),1,8),16,10)` + ±1-majority
  * formulation the oracle uses. One fused pass replaces a 32-way
  * `aggregate` lambda stack over the token array (interpreted, and
  * wildly JIT-sensitive: 0.5-8 s for 5,000 docs depending on what ran
  * before it in the session).
  */
case class Simhash32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    Mix.simhash32(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Mix.simhash32($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash over a distinct-token string array (Manku et al. 2007
  * configuration), MD5 bit-parity with the portable
  * `substr(md5(t), 1, 16)` + ±1-majority formulation the oracle
  * reproduces as two 32-bit halves. Same fused-loop rationale as
  * Simhash32 (which stays registered for narrow-fingerprint users).
  */
case class Simhash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    Mix.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Mix.simhash64($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing-style document fingerprint: [full polynomial rolling hash,
  * min k-byte window hash] over the input string's bytes (base 257,
  * mod 1e9+7 — small enough that the SQL oracle can reproduce it with
  * exact integer arithmetic). The window min is the content-shift-
  * tolerant half: two documents sharing any k-byte run can share it.
  */
case class RollingFp(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    Mix.rollingFp(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Mix.rollingFp($a, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Content-defined chunk boundary positions over a string — see
  * [[Mix.cdcBoundaries]]. `k` is the rolling-window length, `maskBits`
  * the boundary mask (expected chunk ≈ 2^maskBits codepoints). The
  * modulus 1e9+7 arithmetic is small enough for the SQL oracle to
  * reproduce with exact integer lambdas.
  */
case class CdcBoundaries(child: Expression, k: Int, maskBits: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    Mix.cdcBoundaries(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, maskBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Mix.cdcBoundaries($a, $k, $maskBits);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Elementwise sum of a float-array column as `array<double>`.
  * Replaces the posexplode → per-(group, pos) avg shape, which
  * shuffles |corpus| × dim rows; this buffers ONE dim-length double
  * vector per group and merges buffers, so the shuffle carries
  * groups × dim doubles with normal partial aggregation. Like any
  * float summation its result is accumulation-order-dependent, so it
  * belongs in recall-pinned (rows-checked) operators, not hash-verified
  * ones — which is why the IVF/PQ trainers moved to the exact
  * [[VectorSumL]] over micro-unit quantizations. Buffer sizes lazily
  * from the first row (dimension-agnostic); mismatched rows fold at
  * the shorter length.
  */
case class VectorSumD(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val arr = v.asInstanceOf[ArrayData]
      val b = if (buf.length == 0) new Array[Double](arr.numElements()) else buf
      var i = 0
      val m = math.min(arr.numElements(), b.length)
      while (i < m) { b(i) += arr.getFloat(i).toDouble; i += 1 }
      b
    }
  }

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] =
    if (b1.length == 0) b2
    else if (b2.length == 0) b1
    else {
      var i = 0
      val m = math.min(b1.length, b2.length)
      while (i < m) { b1(i) += b2(i); i += 1 }
      b1
    }

  override def eval(buf: Array[Double]): Any =
    if (buf.length == 0) null else new GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    var i = 0
    while (i < buf.length) { bb.putDouble(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Double](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getDouble(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorSumD =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorSumD =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VectorSumD =
    copy(child = newChild)
}

/** Elementwise sum of a BIGINT-array column as `array<bigint>` — the
  * EXACT centroid accumulator of the quantized Lloyd trainer
  * (Similarity.ivfCentroids / pqTrain). Unlike [[VectorSumD]], integer
  * addition is associative and commutative, so the result is
  * accumulation-order-INDEPENDENT — which is what lets quantizer
  * training sit under the DuckDB hash gate: the oracle's per-dimension
  * `SUM(qe[k])` reproduces it bit-for-bit regardless of partitioning.
  * Same buffer/merge shape as VectorSumD (one dim-length long vector
  * per group; groups × dim longs on the shuffle).
  */
case class VectorSumL(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val arr = v.asInstanceOf[ArrayData]
      val b = if (buf.length == 0) new Array[Long](arr.numElements()) else buf
      var i = 0
      val m = math.min(arr.numElements(), b.length)
      while (i < m) { b(i) += arr.getLong(i); i += 1 }
      b
    }
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] =
    if (b1.length == 0) b2
    else if (b2.length == 0) b1
    else {
      var i = 0
      val m = math.min(b1.length, b2.length)
      while (i < m) { b1(i) += b2(i); i += 1 }
      b1
    }

  override def eval(buf: Array[Long]): Any =
    if (buf.length == 0) null else new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorSumL =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorSumL =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VectorSumL =
    copy(child = newChild)
}

/** Rounded cosine of two float-array columns given their precomputed
  * norms: `round(dot(a,b)/(na·nb), 6)` as ONE fused expression — see
  * [[Mix.cos6d]] for why (single shared JIT compilation across the
  * similarity/mining family; bit-identical to the composed formula).
  *
  * NULL on a zero divisor (a zero-norm degenerate vector) — the one
  * deliberate divergence from the composed formula, chosen because
  * both alternatives are worse at corpus scale: a raw IEEE division
  * yields NaN, which is GREATEST in Spark's double ordering and would
  * rank the degenerate vector above every real neighbour in every
  * top-k window (and diverge from the oracle); the composed `Divide`
  * under the engine's ANSI default THROWS DIVIDE_BY_ZERO and kills
  * the whole pass on one bad vector. NULL sorts last under
  * `cos6 DESC` and drops out of aggregates — the embed_qc ingest gate
  * remains the real defense; this is the belt after those braces.
  * Found by review; spec-pinned.
  */
case class VecCos6(a: Expression, b: Expression, na: Expression, nb: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
  override def first: Expression = a
  override def second: Expression = b
  override def third: Expression = na
  override def fourth: Expression = nb
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def nullSafeEval(x: Any, y: Any, n1: Any, n2: Any): Any = {
    val d = n1.asInstanceOf[Double] * n2.asInstanceOf[Double]
    if (d == 0.0) null
    else Mix.cos6d(x.asInstanceOf[ArrayData], y.asInstanceOf[ArrayData],
      n1.asInstanceOf[Double], n2.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y, n1, n2) =>
      s"""
         |if ($n1 * $n2 == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.Mix.cos6d($x, $y, $n1, $n2);
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): Expression =
    copy(a = f, b = s, na = t, nb = q)
}

/** [[VecCos6]] quantized to integer micro-units (the `c6i`/`cos_ppm`
  * contract): `CAST(FLOOR(round(dot/(na·nb), 6) · 1e6 + 0.5) AS BIGINT)`
  * as one fused expression — see [[Mix.cos6i]]. NULL on a zero divisor,
  * same rationale and spec as [[VecCos6]].
  */
case class VecCos6i(a: Expression, b: Expression, na: Expression, nb: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
  override def first: Expression = a
  override def second: Expression = b
  override def third: Expression = na
  override def fourth: Expression = nb
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override protected def nullSafeEval(x: Any, y: Any, n1: Any, n2: Any): Any = {
    val d = n1.asInstanceOf[Double] * n2.asInstanceOf[Double]
    if (d == 0.0) null
    else Mix.cos6i(x.asInstanceOf[ArrayData], y.asInstanceOf[ArrayData],
      n1.asInstanceOf[Double], n2.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y, n1, n2) =>
      s"""
         |if ($n1 * $n2 == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.Mix.cos6i($x, $y, $n1, $n2);
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): Expression =
    copy(a = f, b = s, na = t, nb = q)
}

/** Bounded top-k sum: per group, the exact BIGINT sum of the k largest
  * long values plus how many values that was (`struct(s, n)`,
  * n = min(group size, k)). The aggregation buffer is a k-length sorted
  * array by construction — O(k) per key, spill-friendly partial
  * aggregation — replacing the `collect_list` → sort → slice → fold
  * shape whose per-key state grows with the GROUP (corpus-linear for
  * the bitext k-NN denominators: a hub target vector can land in every
  * probed list). Sum-of-k-largest is tie-order-invariant, so the result
  * is identical to the full-sort formulation the DuckDB oracle keeps
  * (`ROW_NUMBER() ≤ k` then SUM).
  */
case class TopKSumLong(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def dataType: DataType = StructType(Seq(
    StructField("s", LongType, nullable = false),
    StructField("n", LongType, nullable = false)))
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  /** Insert keeping the buffer sorted ascending (element 0 = the
    * current k-th largest, the eviction candidate). k is small (the
    * k-NN averaging depth), so the shift-insert is a handful of moves.
    */
  private def insert(buf: Array[Long], v: Long): Array[Long] =
    if (buf.length < k) {
      val out = new Array[Long](buf.length + 1)
      var i = 0
      while (i < buf.length && buf(i) < v) { out(i) = buf(i); i += 1 }
      out(i) = v
      while (i < buf.length) { out(i + 1) = buf(i); i += 1 }
      out
    } else if (v > buf(0)) {
      var i = 0
      while (i + 1 < k && buf(i + 1) < v) { buf(i) = buf(i + 1); i += 1 }
      buf(i) = v
      buf
    } else buf

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) buf else insert(buf, v.asInstanceOf[Long])
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var out = b1
    var i = 0
    while (i < b2.length) { out = insert(out, b2(i)); i += 1 }
    out
  }

  override def eval(buf: Array[Long]): Any = {
    var s = 0L
    var i = 0
    while (i < buf.length) { s += buf(i); i += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](s, buf.length.toLong))
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKSumLong =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKSumLong =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopKSumLong =
    copy(child = newChild)
}
