package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sink side of the engine (reference: indexing.rs:61-115 chunked batched
  * upsert in chunks of 5000, meili.rs:187+ index writes, storage.rs
  * ON CONFLICT upserts).
  *
  * The reference streams row batches into Postgres/Meilisearch; the
  * columnar equivalent is a deterministic batch assignment (so a re-run
  * writes the same chunks — idempotent like the reference's upserts)
  * followed by a partitioned write, one directory per chunk, which a
  * downstream bulk-loader can apply chunk-by-chunk.
  */
object Sinks {

  /** Assign deterministic chunk ids: rows ordered by `keyCol` within each
    * `streamCol` value, `chunkSize` rows per chunk (indexing.rs:75).
    *
    * The frame is hash-partitioned on the stream column with an
    * explicit session-width count first. That meets the window's
    * distribution, so the window adds no exchange of its own, and AQE
    * cannot coalesce an explicit-count exchange: the window and
    * whatever consumes it (the chunk files' writers in [[chunkedWrite]])
    * run on every core. Spark cannot get there on its own: the
    * window's own exchange is one AQE sizes by shuffle bytes, and a
    * chunked sink's few MB of rows coalesce to ONE task, while the
    * stage's cost is CPU that bytes do not predict — row numbering and
    * one file-writer set-up per chunk file.
    */
  def withChunks(df: DataFrame, streamCol: String, keyCol: String,
                 chunkSize: Int): DataFrame = {
    val np = df.sparkSession.sessionState.conf.numShufflePartitions
    val w = Window.partitionBy(col(streamCol)).orderBy(col(keyCol))
    df.repartition(np, col(streamCol))
      .withColumn("chunk_id", ((row_number().over(w) - 1) / chunkSize).cast("long"))
  }

  /** Chunked batched write: one output directory per (stream, chunk) so a
    * bulk upsert loader can consume chunks independently and resume after
    * failure — the columnar form of the reference's batched index upsert.
    */
  def chunkedWrite(df: DataFrame, streamCol: String, keyCol: String,
                   chunkSize: Int, path: String, format: String = "parquet"): Unit =
    withChunks(df, streamCol, keyCol, chunkSize)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(streamCol, "chunk_id")
      .format(format)
      .save(path)

  /** Hive-style partitioned layout write — the 100 TB table layout that
    * makes coarse predicates FREE: a reader filtering on a partition
    * column never opens non-matching directories (the scan plans with
    * `PartitionFilters`, pruning before any I/O — verified by spec).
    * Partition columns must be low-cardinality (lang, source, date);
    * high-cardinality partitioning explodes the file count, which is
    * what `writeBucketed` is for instead. The two compose: partition by
    * date, bucket by key within each partition.
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String],
                       format: String = "parquet"): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .format(format)
      .save(path)

  /** Bucketed co-located write — the SURVEY §5 "bucket both sides by
    * key" move that makes the diff-sync (and any other repeated
    * equi-join/agg on the same key) SHUFFLE-FREE at read time: the one
    * shuffle happens here, at write time, and every later join between
    * tables bucketed the same way on the same key plans with no
    * Exchange. At 100 TB this is the difference between shuffling two
    * billion-row metadata tables on every sync cycle and never
    * shuffling them again. `sortBy` lets sort-merge joins skip their
    * sorts too when buckets land as single files.
    */
  def writeBucketed(df: DataFrame, table: String, keyCol: String,
                    buckets: Int, path: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keyCol).sortBy(keyCol).format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Append a batch INTO an existing bucketed table with the same
    * bucket spec (must match the `writeBucketed` call that created it —
    * Spark rejects a mismatched spec rather than silently breaking the
    * layout). New rows land in correctly-named bucket files, so
    * exchange-free reads survive the append; what degrades is file
    * count (one file per bucket per append), which `compact` owns.
    */
  def appendBucketed(df: DataFrame, table: String, keyCol: String,
                     buckets: Int): Unit =
    df.write.mode(SaveMode.Append)
      .bucketBy(buckets, keyCol).sortBy(keyCol).format("parquet")
      .saveAsTable(table)

  /** Re-register a bucketed table written by `writeBucketed` in a NEW
    * session. Spark's bucketing METADATA lives in the catalog and (with
    * the default in-memory catalog) dies with the writing session,
    * while the data files — bucket ids encoded in their names — persist
    * at `path`; recreating the table entry with the SAME bucket spec
    * over the same location restores exchange-free reads. No-op when
    * the table is already registered. The caller owns spec consistency:
    * re-registering with a different (keyCol, buckets) than the data
    * was written with would silently mis-bucket joins.
    */
  def restoreBucketed(spark: org.apache.spark.sql.SparkSession, table: String,
                      path: String, keyCol: String, buckets: Int): Unit = {
    if (!spark.catalog.tableExists(table)) {
      val schema = spark.read.parquet(path).schema.toDDL
      spark.sql(
        s"""CREATE TABLE $table ($schema) USING PARQUET
           |CLUSTERED BY ($keyCol) SORTED BY ($keyCol) INTO $buckets BUCKETS
           |LOCATION '$path'""".stripMargin)
    }
  }

  /** Small-file compaction — the maintenance pass every long-running
    * columnar sink needs: streaming micro-batches, chunked writes, and
    * fine-grained partitions all accrete files far below the ideal scan
    * unit, and a 100 TB table read through millions of KB-files spends
    * more time opening footers than scanning rows. Rewrites the dataset
    * into ~`targetRows`-row files via a round-robin repartition (no key
    * shuffle semantics to preserve — compaction is layout-only, and
    * round-robin spreads rows evenly regardless of the input's skew).
    * VERIFIES losslessness by counting the written output (a
    * metadata-cheap scan for parquet: row counts come from footers) and
    * failing loudly on any mismatch; returns that verified row count.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, inPath: String,
              outPath: String, targetRows: Long = 1000000L,
              format: String = "parquet"): Long = {
    require(targetRows >= 1, s"compact needs targetRows >= 1, got $targetRows")
    val df = spark.read.format(format).load(inPath)
    val n = df.count()
    val files = math.max(1, math.ceil(n.toDouble / targetRows).toInt)
    df.repartition(files)
      .write.mode(SaveMode.Overwrite).format(format).save(outPath)
    val written = spark.read.format(format).load(outPath).count()
    require(written == n,
      s"compact lost rows: read $n from $inPath, wrote $written to $outPath")
    written
  }

  /** Crash-safe replace of the directory at `path` — the one write
    * primitive behind every committed mutation of persisted state (the
    * stores' tombstone sets, dead maps, meta rows and compactions via
    * `graft.core.IndexScratch`, the maintenance write-backs of
    * `sync.Maintenance`, the rollup folds). The reference gets this
    * from Postgres transactions (storage.rs upserts, outbox.rs); the
    * columnar equivalent is write-new-then-rename, the commit step of
    * Delta Lake's `_delta_log` and Iceberg's snapshot swap without the
    * log.
    *
    * Protocol: `write(<path>.staging)` runs to completion (it may READ
    * from `path` — nothing moves until it returns), then `path` →
    * `<path>.trash` (skipped when `path` does not exist yet, e.g. a
    * store's first tombstone set), `<path>.staging` → `path`, delete
    * the trash. The commit point is the moment `path` is absent while
    * the staging write is complete (Spark's `_SUCCESS` marker): from
    * then on the staging directory is the committed version. Every crash leaves a state [[recover]] reads
    * correctly:
    *  - staging incomplete, or complete but `path` still in place: the
    *    old version is what readers see; the next rewrite overwrites
    *    the staging directory.
    *  - `path` moved to trash, staging complete: `path` is absent, and
    *    [[recover]] renames the staging directory into place — the new
    *    version is committed. The trash is never the source of truth.
    *  - new version in place, trash left over: deleted by the next run.
    * Directory rename is atomic on HDFS and local filesystems; object
    * stores without atomic rename need a manifest-swap commit instead.
    */
  def swapRewrite(spark: org.apache.spark.sql.SparkSession, path: String)(
      write: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val staging = new Path(path + ".staging")
    val trash = new Path(path + ".trash")
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crash between the renames left the committed version in
    // staging: move it into place before this write reuses the name
    recover(spark, path)
    write(staging.toString)
    if (fs.exists(trash)) fs.delete(trash, true)
    if (fs.exists(target))
      require(fs.rename(target, trash), s"swapRewrite could not stage out $path")
    require(fs.rename(staging, target),
      s"swapRewrite could not move staging into place for $path")
    fs.delete(trash, true)
  }

  /** Finish a [[swapRewrite]] that crashed between its renames: when
    * `path` is absent and `<path>.staging` holds `_SUCCESS`, the staging
    * directory IS the committed version — rename it into place. No-op
    * otherwise. Readers of swap-committed state call this before
    * listing `path` (`graft.core.IndexScratch.read` does).
    */
  def recover(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val target = new Path(path)
    val staging = new Path(path + ".staging")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(target) && fs.exists(new Path(staging, "_SUCCESS")))
      require(fs.rename(staging, target),
        s"could not recover committed staging into place for $path")
  }

  /** [[swapRewrite]] of a frame as a plain or partitioned table, for
    * callers that report the rewritten row count (one read-back count
    * job). A PARTITIONED write of an empty frame emits no
    * schema-bearing data file (only `_SUCCESS`) — swapping that in
    * would leave an unreadable path, so it is refused before any
    * rename: an all-rows-dropped rewrite is a table delete the caller
    * must do explicitly. (Non-partitioned empty writes keep a
    * schema-bearing empty part file and swap fine.)
    */
  def swapRewrite(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                  path: String, format: String = "parquet",
                  partitionCols: Seq[String] = Nil): Long = {
    swapRewrite(spark, path) { staging =>
      df.write.mode(SaveMode.Overwrite).format(format)
        .partitionBy(partitionCols: _*).save(staging)
      if (partitionCols.nonEmpty &&
          !graft.core.IndexScratch.hasDataFiles(spark, staging)) {
        val p = new org.apache.hadoop.fs.Path(staging)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        throw new IllegalArgumentException(
          s"swapRewrite: refusing to swap an EMPTY partitioned rewrite " +
            s"into $path (it would leave no readable schema); delete the " +
            s"table explicitly if that is intended")
      }
    }
    spark.read.format(format).load(path).count()
  }

  /** Materialize the PACKED TRAINING CORPUS — the step after
    * `shardPackDocs`/`curateCorpus` that turns the shard MANIFEST into
    * the on-disk layout a trainer reads: document rows joined to their
    * shard assignment, repartitioned BY SHARD so each shard lands as
    * one coherent unit, written hive-partitioned by `shard_id` (a
    * trainer's data loader reads shard k via partition pruning — one
    * directory, no scan of the rest). Overwrite mode keeps re-runs
    * idempotent. Returns the read-back per-shard audit (docs + tokens
    * per shard, FROM THE FILES) so the caller reconciles what landed
    * against the manifest it planned — the check a production writer
    * runs before publishing the corpus snapshot.
    *
    * Scale shape: one narrow manifest join (doc_id keys) + one shuffle
    * on shard_id — the minimum to co-locate a shard's docs in one
    * writer task; the audit is a footer-level scan of the written
    * parquet.
    */
  def writeShardedCorpus(docs: DataFrame, manifest: DataFrame,
      path: String): DataFrame = {
    val joined = docs.join(manifest.select("doc_id", "shard_id", "n_tokens"),
      "doc_id")
    joined
      .repartition(col("shard_id")) // whole shards per writer task
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard_id")
      .parquet(path)
    docs.sparkSession.read.parquet(path)
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("shard_tokens"))
  }

  /** Latest-wins upsert merge into an existing snapshot (storage.rs:118+
    * ON CONFLICT DO UPDATE): union + one row per key by source priority.
    * Single shuffle on the key; at 100 TB this is MERGE over bucketed
    * tables.
    */
  def upsert(base: DataFrame, updates: DataFrame, keyCol: String): DataFrame = {
    val tagged = base.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__src").desc)
    tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__src", "__rn")
  }
}
