package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** Scan-width adaptivity for CPU-dense map work.
  *
  * A parquet scan's parallelism is capped by its physical layout:
  * Spark assigns one task per file split, and within a file the rows
  * of a row group are read entirely by the task owning its midpoint.
  * The driver's testdata ships each table as ONE file with ONE row
  * group, so every expression evaluated in a scan stage — shingle
  * explodes, md5 hashing, band packing, partial aggregation — runs on
  * a single core no matter how many the session has (measured: the
  * heavy_hitters CMS build spent 1.6 s of its 2.9 s wall on one task;
  * the cooccur_pmi pair generation 1.4 s, likewise single-task).
  *
  * [[spreadScan]] is the guide's input-skew remedy ("one huge
  * unsplittable file → repartition immediately after the read") made
  * scale-adaptive: it round-robin-repartitions to the session width
  * ONLY when the table's on-disk size proves the scan cannot reach
  * that width on its own (`bytes < maxPartitionBytes × width` means
  * even perfectly-split files yield fewer splits than cores). At
  * production scale the guard is false and the call is an exact
  * no-op — no added exchange, no corpus-sized shuffle. When it does
  * fire, the shuffled bytes are bounded by the guard itself:
  * width × maxPartitionBytes (a few GB on a big session), paid once,
  * against map CPU that is otherwise serialized onto one core.
  *
  * The repartition is deterministic under retry (round-robin sorts its
  * input first — `spark.sql.execution.sortBeforeRepartition`, default
  * on) and every consumer in this engine is value-identical under any
  * partitioning (the oracle gate re-checks that on every run).
  *
  * The other half is build-side adaptivity: every join against a
  * measured frame (a model table, a label or node frame) picks its
  * build side in [[buildSide]], against the one row cap
  * [[BroadcastCapRows]] (whole side for a broadcast, per task for a
  * shuffled hash table), and records the choice in [[Decisions]].
  */
object Adaptive {

  /** On-disk bytes of `dir/name.parquet` (file or directory of parts);
    * -1 when the path cannot be stat'ed (the caller then leaves the
    * frame alone — never fail a query over a missing stat).
    */
  private def tableBytes(spark: SparkSession, dir: String, name: String): Long =
    try {
      val p = new Path(s"$dir/$name.parquet")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getLength
    } catch { case scala.util.control.NonFatal(_) => -1L }

  /** Spread a just-scanned `table` frame to session width iff its
    * physical layout cannot reach that width (see object doc). `df`
    * must be the frame as read from `dir` — the stat and the scan must
    * describe the same bytes (a caller-side name/path mismatch silently
    * stats the wrong file: the spread then either stays off or fires
    * bounded by the guard — never incorrect, only mistuned).
    *
    * Width proxy note: `numShufflePartitions` stands in for "session
    * width". On a cluster with the default 200 partitions and a small
    * table the spread fires at 200-way — bounded by the guard
    * (≤ maxPartitionBytes × 200 shuffled bytes, each partition under
    * one split) and still the right call: the table was too small to
    * occupy the cluster any other way.
    */
  def spreadScan(spark: SparkSession, df: DataFrame, dir: String,
      table: String): DataFrame = {
    val np = spark.sessionState.conf.numShufflePartitions
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val bytes = tableBytes(spark, dir, table)
    if (bytes < 0 || bytes >= maxSplit * np.toLong) df
    else df.repartition(np)
  }

  /** The one measured-broadcast row cap: every join whose build side
    * is a measured frame chooses through [[buildSide]] against it. 2M
    * narrow key→count rows is tens of MB framed: comfortably inside
    * executor broadcast budgets, far under the 8 GB/512M-row hard cap.
    * Callers must pass NARROW key-value frames (the row cap is a byte
    * cap only under that contract).
    */
  val BroadcastCapRows: Long = 2000000L

  /** The engine's one build-side chooser for joins against a measured
    * frame. `rows` (the caller's count of the side) at or under
    * [[BroadcastCapRows]] broadcasts, so the other side streams
    * map-side and keeps its partitioning. Past it, the side builds a
    * shuffled hash table per task, still sort-free (pinned frames carry
    * no statistics, so the planner would otherwise sort-merge the
    * stream). A hinted shuffled hash join cannot spill, so it is taken
    * only while each task's table stays under the same cap:
    * `rows <= BroadcastCapRows * numShufflePartitions`. Every measured
    * side is keyed by its join key (one row per token, bigram, node or
    * item), so hash partitions split it evenly. Larger sides get the
    * planner's join (sort-merge, which spills).
    *
    * Records one `Decision(site, choice, rows, BroadcastCapRows)` per
    * call, choice `broadcast`, `shuffle_hash` or `planner`, and returns
    * the choice as a function, so one count steers every side it
    * measures (lm's two model tables, every CC round's label joins,
    * both pagerank sides) under one record. The sites: `tfidf.idfJoin`,
    * `rarity.idfJoin`, `lm.modelJoin`, `cc.labelJoin`,
    * `dedup.labelJoin`, `pagerank.nodeJoin`.
    */
  private[graft] def buildSide(rows: Long, site: String): DataFrame => DataFrame = {
    val tasks = SQLConf.get.numShufflePartitions
    val (choice, side): (String, DataFrame => DataFrame) =
      if (rows <= BroadcastCapRows) ("broadcast", org.apache.spark.sql.functions.broadcast(_))
      else if (rows <= BroadcastCapRows * tasks) ("shuffle_hash", _.hint("shuffle_hash"))
      else ("planner", identity)
    Decisions.record(site, choice, rows.toDouble, BroadcastCapRows.toDouble)
    side
  }

  /** Pin `df`, count it and choose its build side ([[buildSide]]). For
    * frames that are BOUNDED by construction (vocabulary tables, model
    * tables) the count is a cheap job; callers whose frame is
    * corpus-sized must not use this. The pin is lazy: the full count
    * materializes every partition in its own job (an eager pin runs one
    * job more, see Materialize).
    */
  def broadcastIfSmall(df: DataFrame, site: String): DataFrame = {
    import Materialize.MatOps
    val pinned = df.materializeOnce()
    buildSide(pinned.count(), site)(pinned)
  }
}
