package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic corpus scale-up: replicate the driver's synthetic
  * tables K× with key-space shifts so foreign keys stay consistent,
  * producing a larger scale factor for SCALE testing (the adaptive
  * choosers — direct↔grid candidates, broadcast↔shuffle label joins,
  * the connected-components finish — all switch on data statistics,
  * and the shipped test scale factors exercise mostly their small-side
  * branches).
  *
  * Replication must not manufacture artificial cross-replica
  * near-duplicates, or every dedup operator's workload turns into one
  * giant K-clique per source document:
  *
  *  - `documents.text`: replica i > 0 tags every word of length ≥ 5
  *    with an `xi` suffix. Intra-replica duplicate/near-dup structure
  *    is preserved EXACTLY (the tagging is a bijection on texts within
  *    a replica); cross-replica word-3-gram Jaccard drops to ~0.07 on
  *    this corpus (a shared gram needs all three words short), far
  *    under every 0.5 threshold, while stopword-class short words stay
  *    intact for the language/quality heuristics.
  *  - `embeddings.embedding`: replica i > 0 multiplies element j by a
  *    Rademacher sign drawn from xxhash64(i, j). Norms and ALL
  *    intra-replica angles are exactly preserved (one orthogonal map
  *    per replica); cross-replica cosines concentrate around 0 with
  *    sd ≈ 1/√768 ≈ 0.036, far under the 0.35/0.8 thresholds.
  *  - key columns shift by `rep × (max(key)+1)` with the SAME stride on
  *    both sides of every foreign key (orders.o_custkey moves with
  *    customer.c_custkey, lineitem with orders/part/supplier, …).
  *  - `region`/`nation` stay fixed — TPC-H dimension tables do not
  *    grow with scale factor, and nationkey references stay valid.
  *
  * Usage: ScaleUp <srcDir> <outDir> <factor>
  */
object ScaleUp {

  private val Tables = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcDir> <outDir> <factor>")
    val Array(src, out, f) = args
    val factor = f.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts physical type varies by corpus generation (INT64 ns
      // needs this setting; timestamp[us] ignores it). ScaleUp copies
      // ts VERBATIM — replicas keep whatever layout the source had,
      // and consumers normalize through core.Tables.events. Any future
      // ts arithmetic here must route through Tables.normalizeTs first.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    scaleAll(spark, src, out, factor)
    spark.stop()
  }

  /** `only` restricts which tables are written (strides still come from
    * the full source so key shifts stay identical to a full scale-up) —
    * the sf1 recall spec replicates just `embeddings` this way instead
    * of paying for the whole corpus.
    */
  def scaleAll(spark: SparkSession, src: String, out: String, factor: Int,
      only: Seq[String] = Tables): Unit = {
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    // one stride per key space, shared across every table that
    // references it — strides come from the SOURCE key ranges
    def stride(t: String, c: String): Long = {
      val row = read(t).agg(max(col(c))).head
      require(!row.isNullAt(0),
        s"ScaleUp: table '$t' is empty — cannot derive key stride from max($c)")
      row.getLong(0) + 1L
    }
    val sCust = stride("customer", "c_custkey")
    val sSupp = stride("supplier", "s_suppkey")
    val sPart = stride("part", "p_partkey")
    val sOrder = stride("orders", "o_orderkey")
    val sEvent = stride("events", "event_id")
    val sUser = stride("events", "user_id")
    val sDoc = stride("documents", "doc_id")
    val sVec = stride("embeddings", "vec_id")

    // cross-join each row with rep = 0..factor-1 (generator-side, no
    // shuffle), then shift/perturb per replica
    def replicate(df: DataFrame): DataFrame =
      df.withColumn("rep", explode(sequence(lit(0L), lit(factor - 1L))))
    def shift(c: String, s: Long): Column = col(c) + col("rep") * s

    // replica 0 is the source corpus byte-for-byte; i > 0 tags long
    // words so cross-replica similarity dies while intra-replica
    // structure survives untouched
    def tagText(c: Column): Column = when(col("rep") === 0L, c).otherwise(
      array_join(
        transform(split(c, " "),
          w => when(length(w) >= 5, concat(w, lit("x"), col("rep"))).otherwise(w)),
        " "))
    // per-replica Rademacher sign map: orthogonal, so norms and
    // intra-replica angles are exact; cross-replica cosine ~ N(0, 1/d)
    def signFlip(c: Column): Column = when(col("rep") === 0L, c).otherwise(
      transform(c, (x, j) =>
        x * (pmod(xxhash64(col("rep"), j), lit(2L)) * 2L - 1L).cast("float")))

    val scaled: Map[String, DataFrame] = Map(
      "region" -> read("region"),
      "nation" -> read("nation"),
      "customer" -> replicate(read("customer"))
        .withColumn("c_custkey", shift("c_custkey", sCust)),
      "supplier" -> replicate(read("supplier"))
        .withColumn("s_suppkey", shift("s_suppkey", sSupp)),
      "part" -> replicate(read("part"))
        .withColumn("p_partkey", shift("p_partkey", sPart)),
      "orders" -> replicate(read("orders"))
        .withColumn("o_orderkey", shift("o_orderkey", sOrder))
        .withColumn("o_custkey", shift("o_custkey", sCust)),
      "lineitem" -> replicate(read("lineitem"))
        .withColumn("l_orderkey", shift("l_orderkey", sOrder))
        .withColumn("l_partkey", shift("l_partkey", sPart))
        .withColumn("l_suppkey", shift("l_suppkey", sSupp)),
      "events" -> replicate(read("events"))
        .withColumn("event_id", shift("event_id", sEvent))
        .withColumn("user_id", shift("user_id", sUser)),
      "documents" -> replicate(read("documents"))
        .withColumn("doc_id", shift("doc_id", sDoc))
        .withColumn("text", tagText(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long")),
      "embeddings" -> replicate(read("embeddings"))
        .withColumn("vec_id", shift("vec_id", sVec))
        .withColumn("embedding", signFlip(col("embedding"))))

    scaled.filter { case (t, _) => only.contains(t) }.foreach { case (t, df) =>
      val cols = read(t).columns.map(col) // source column order, drops rep
      // keep file counts scan-friendly: dims stay single-file, fact
      // tables get a handful of files per replica
      val parts =
        if (t == "region" || t == "nation") 1 else math.min(32, 2 * factor)
      df.select(cols.toIndexedSeq: _*)
        .repartition(parts)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
      println(s"scaled $t -> $out/$t.parquet")
    }
  }
}
