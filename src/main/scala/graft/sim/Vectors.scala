package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared vector primitives for the similarity / embedding-dedup family.
  *
  * `dot64`/`norm64` unroll the 64-dim arithmetic into plain codegen'd
  * expressions (no lambda interpretation on pair-sized inputs), folding
  * left-to-right so doubles are bit-identical with the DuckDB oracle's
  * `list_reduce`. `bandBuckets` computes random-hyperplane LSH bucket
  * keys: `bands` OR'd bands of `rows` planes each — per-row projection
  * only, the explode of band keys is the only fan-out.
  */
object Vectors {

  /** Deterministic sparse hyperplane weight for plane p, dimension k
    * (splitmix64-style finalizer — a fixed pseudo-random matrix).
    * Weights are {-1, 0, +1} with ~1/4 density (sparse random
    * projections, Achlioptas 2003): sign-LSH collision behaviour is
    * preserved while each plane dot stays a ~16-term codegen expression
    * instead of 64 — generated stages stay well under Janino's 64 KB
    * method limit even when fused.
    */
  def planeWeight(p: Int, k: Int): Double = {
    var x = p.toLong * 0x9E3779B97F4A7C15L + k.toLong * 0xC2B2AE3D27D4EB4FL +
      0x165667B19E3779F9L
    x ^= (x >>> 33); x *= 0xFF51AFD7ED558CCDL; x ^= (x >>> 33)
    if (((x >>> 1) & 3L) != 0L) 0.0
    else if ((x & 1L) == 0L) 1.0
    else -1.0
  }

  /** Exact dot product of two float array columns via the native loop
    * expression (graft.functions.ArrayDotD): element-order summation,
    * bit-identical to the DuckDB oracle's left-to-right `list_reduce`
    * fold. The unrolled 64-term Column version this replaces measured
    * ~27 µs/pair — its expression tree compiled to bytecode too big for
    * the JIT. Requires GraftFunctions.register on the session.
    */
  def dot64(a: String, b: String): Column =
    call_function("vec_dot", col(a), col(b))

  /** L2 norm of a 64-d float array column: sqrt(dot(c, c)), same
    * summation order as the unrolled version it replaces.
    */
  def norm64(c: String): Column =
    sqrt(call_function("vec_dot", col(c), col(c)))

  /** The family-wide rounded-cosine contract
    * `round(dot(a,b)/(na·nb), 6)` as ONE fused native expression
    * (graft.functions.VecCos6) — bit-identical to composing
    * `round(dot64(a,b)/(na*nb), 6)` (spec-pinned), but every consumer
    * (exact top-k, mining, the probe re-rank) shares a single generated
    * hot method instead of each paying its own JIT warm-up for a
    * structurally-identical round/divide tree.
    */
  def cos6(a: Column, b: Column, na: Column, nb: Column): Column =
    call_function("vec_cos6", a, b, na, nb)

  /** [[cos6]] quantized to integer micro-units (the `c6i` contract):
    * `CAST(FLOOR(round(·, 6) · 1e6 + 0.5) AS BIGINT)` fused
    * (graft.functions.VecCos6i).
    */
  def cos6i(a: Column, b: Column, na: Column, nb: Column): Column =
    call_function("vec_cos6i", a, b, na, nb)

  /** Adds a `bucket_arr` column of `bands` LSH bucket keys for the
    * 64-d `embedding` column: each band packs `rows` hyperplane sign
    * bits and hashes them with the band id (bands never share buckets).
    * Candidate recall at cosine c is 1-(1-p^rows)^bands with
    * p = 1-acos(c)/π.
    *
    * The whole pack-and-hash is ONE native expression
    * (graft.functions.LshBandBuckets). It replaced a
    * `lsh_packed_bands` + per-band `transform(... xxhash64 ...)` lambda
    * composition: CollapseProject inlined the packing expression INTO
    * the lambda, re-running the full bands×rows×dim pack once PER BAND,
    * interpreted — a 768× blow-up at the dedup-LSH band count. Bucket
    * values are unchanged (the native hash replicates SQL
    * `xxhash64(b, code)` exactly), so multi-probe query keys still
    * land in these buckets.
    */
  def withBandBuckets(df: DataFrame, bands: Int, rows: Int): DataFrame =
    df.withColumn("bucket_arr",
      call_function("lsh_band_buckets", col("embedding"), lit(bands), lit(rows)))

  /** Adds a `bucket_arr` of multi-probe bucket keys: per band, the
    * band's own bucket plus the `rows` buckets at Hamming distance 1
    * (each sign bit flipped). The closest non-colliding bucket for a
    * near neighbour is overwhelmingly one whose single least-confident
    * plane disagrees (Lv et al., multi-probe LSH), so probing 1-bit
    * flips recovers most of the recall a bigger index would buy —
    * query-side only, the corpus index never grows.
    *
    * Fused native expression (`lsh_probe_buckets` — LshBandBuckets with
    * probe flips): the previous packed-bands + flatten/transform lambda
    * composition had the same CollapseProject trap as the corpus side —
    * the packing re-evaluated once per (band × flip), interpreted —
    * harmless on a 20-row query slice, ~80× waste on a large query
    * frame. Bucket values are unchanged (spec-pinned against the SQL
    * formulation).
    */
  def withProbeBuckets(df: DataFrame, bands: Int, rows: Int): DataFrame =
    df.withColumn("bucket_arr",
      call_function("lsh_probe_buckets", col("embedding"), lit(bands), lit(rows)))
}
