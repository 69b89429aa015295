package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Mirrors what we would ship as cluster defaults: AQE on (runtime
  * shuffle coalescing + skew-join splitting), modest shuffle
  * parallelism for local runs (overridable), UTC session time zone so
  * timestamp math is stable across engines. Every main (`Bench`,
  * `Verify`) starts from [[builder]], so they run the shipped conf.
  */
object Graft {
  def session(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The engine's standard conf on a `local[cpus]` master; callers may
    * add settings before `getOrCreate()`.
    */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // object-buffer aggregates (top_k_sum_long, collect_list in the
      // reassembly operators) fall back to SORT-based aggregation after
      // 128 in-memory groups by default — at mining-family group counts
      // (thousands of anchors/targets per partition) that silently
      // replaces an O(rows) hash fold with an O(rows log rows) sort of
      // the full pair frame. 64k groups × small fixed-size buffers is
      // still a few MB per task; the fallback remains for the genuinely
      // unbounded aggregations (per-document collect_list at corpus
      // grain).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      // NOTE: spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
      // (true) was measured and REJECTED: it let AQE byte-coalesce the
      // one cached frame in the engine — pagerank's CPU-dense edge
      // list — down to ~1 partition at sf1 sizes, serializing every
      // iteration's join (sf1 pagerank +1.7 s); the full-width cached
      // layout it replaces is the behavior the iterated join wants.
      // NOTE: lowering spark.sql.adaptive.coalescePartitions.
      // minPartitionSize (64k) was measured and REJECTED: it spread
      // every small exchange across many tiny tasks and the scheduling
      // overhead showed up as sys/user jumping 0.10 → 0.35 with every
      // timed entry slower. CPU-dense narrow frames that AQE's byte
      // model under-parallelizes are fixed at their use sites with
      // explicit-count repartitions instead (cooccur_pmi, the LSH band
      // pack, search_doc) — surgical width where the CPU is, default
      // coalescing everywhere else.
      // InferFiltersFromGenerate clones the generator's input expression
      // into an inferred size()>0 filter; with wide unrolled projections
      // (LSH banding) that triples a multi-thousand-node expression in
      // one codegen stage and OOMs Janino. The inferred filter is purely
      // an optimization and our generator inputs are never null.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // generated classes live in one JVM-wide LRU cache of 100 entries
      // by default, far under graft's working set, counted as compiles
      // under an unbounded cache: a `curate` iteration uses about 234
      // classes, `syncAndIndex` 52, and one sweep of all 145 entries
      // 2,686 at sf0.1 (about 2,636 at sf0.01). Under the default each
      // warm `curate` iteration recompiled ~166 classes with Janino at
      // ~30 ms each. 4096 is the next power of two above the full
      // suite. Its cost after two sf0.01 sweeps of all entries (4
      // cores): heap 195 MB against 119 MB at the default, metaspace
      // 219 MB against 198 MB. The conf is static and the cache is
      // JVM-wide, sized once when code is first generated: it takes
      // effect when a Graft session is the first in the JVM to
      // generate code.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      // native graft functions resolve in plain SQL on any session built
      // here; programmatic sessions call GraftFunctions.register instead
      .config("spark.sql.extensions", "graft.functions.GraftSparkExtensions")
      // shuffle scratch on RAM-backed tmpfs: the local disk writes at
      // ~265 MB/s and the pair-join shuffles are multi-GB — on a real
      // cluster this is the executors' local NVMe
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // reclaim reliable-checkpoint files when their RDD is GC'd — a
      // long-lived session otherwise accumulates every Materialize pin
      // on the checkpoint store forever
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      // giant unrolled plans make per-execution UI metadata MBs each;
      // don't let a long query sequence accumulate it on the driver heap
      .config("spark.sql.ui.retainedExecutions", "8")
}
