package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit, max, min}

import graft.core.Materialize.MatOps
import graft.sinks.Sinks

/** Shared plumbing for the persisted stores (the ANN vector index, the
  * MinHash dedup index, the search, span, chunk and decision stores):
  * a deterministic per-corpus scratch location, a cheap source-content
  * fingerprint, the build-if-missing-or-stale marker protocol, and the
  * ONE commit protocol every store mutation goes through.
  *
  * Commit rule. A build is committed by its `_INDEX_OK` marker
  * ([[ensureBuilt]]); its writes are plain overwrites. Every LATER
  * mutation of a store's state — a tombstone set, a dead map, a meta
  * row, a compaction rewrite — replaces its directory through
  * `Sinks.swapRewrite` ([[commit]], [[writeMeta]], [[rewriteBucketed]]),
  * never through a delete-then-write overwrite, so a crash at any
  * point leaves either the old or the new version readable.
  * Appends stay appends; they are guarded by the stores' id checks.
  *
  * Recovery rule. Readers see committed state only through [[read]]
  * and [[bucketedTable]], which first run `Sinks.recover`: a crash
  * between the swap's two renames is finished by moving the completed
  * staging directory into place. Every append is preceded by such a
  * read, so nothing writes to a path whose committed version still
  * sits in staging.
  *
  * Nothing here is vector- or dedup-specific — it lives in core so the
  * stores don't have to reach across feature packages for it.
  */
object IndexScratch {

  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Versioned per-corpus scratch location for query-entry indexes.
    * v2: quantizer training moved to exact integer-quantized Lloyd
    * arithmetic — artifacts trained by the v1 float path are no longer
    * bit-compatible with the training-replay oracles, so the version
    * bump forces a rebuild rather than trusting a stale cache.
    */
  def scratchBase(dir: String, kind: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-index-v2-$kind-${md5hex(dir).take(10)}"

  /** Hadoop-FS existence probe (works for any configured filesystem,
    * not just local paths — the stores' artifacts live wherever the
    * cluster's default FS puts them).
    */
  def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The DATA files under `path` (recursive), in path order, as
    * Spark's file index lists them: a name starting with `_` or `.` at
    * any level below `path` is not data (`_SUCCESS`, `_temporary/`,
    * `.crc`). Empty when `path` does not exist.
    */
  def dataFiles(spark: SparkSession, path: String): Seq[org.apache.hadoop.fs.LocatedFileStatus] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val base = p.toUri.getPath
    val it = fs.listFiles(p, true)
    val files = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.LocatedFileStatus]
    while (it.hasNext) {
      val f = it.next()
      val below = f.getPath.toUri.getPath.stripPrefix(base).split('/').filter(_.nonEmpty)
      if (!below.exists(n => n.startsWith("_") || n.startsWith("."))) files += f
    }
    files.sortBy(_.getPath.toString).toSeq
  }

  /** True when `path` holds at least one actual DATA file
    * ([[dataFiles]]). `pathExists` is NOT enough for
    * a partitioned parquet sink: a committed write whose transform
    * produced zero rows leaves the directory with `_SUCCESS` and no
    * part files, and `spark.read.parquet` on that THROWS ("unable to
    * infer schema") instead of returning zero rows — so empty-state
    * guards must probe for data files, not the directory.
    */
  def hasDataFiles(spark: SparkSession, path: String): Boolean =
    dataFiles(spark, path).nonEmpty

  /** Cheap content fingerprint of a source table directory: relative
    * paths, sizes, and mtimes of its data files, recursively
    * (hive-partitioned sources keep data in subdirectories — a
    * top-level listing would fingerprint as empty). Filesystem metadata
    * only — no Spark job, no data read. Catches in-place regeneration
    * of the source corpus, which a path-keyed marker alone cannot; a
    * touched-but-equal source costs one spurious rebuild — the safe
    * direction. Limitation (accepted): a rewrite that preserves every
    * file's name, length, AND mtime is indistinguishable — closing that
    * would mean reading data, which at index-store scale is the build.
    */
  def sourceFingerprint(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      val it = fs.listFiles(p, true)
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      val base = p.toUri.getPath
      while (it.hasNext) {
        val f = it.next()
        val rel = f.getPath.toUri.getPath.stripPrefix(base)
        entries += s"$rel:${f.getLen}:${f.getModificationTime}"
      }
      md5hex(entries.sorted.mkString("\n"))
    }
  }

  /** Build-if-missing-or-stale: the completion marker is stamped with
    * the SOURCE fingerprint, so a crashed half-written build (no
    * marker) and an in-place source regeneration (fingerprint mismatch)
    * both rebuild; Overwrite semantics make the rebuild safe.
    */
  def ensureBuilt(basePath: String, fingerprint: String)(
      build: => Unit): Unit = {
    val marker = java.nio.file.Paths.get(basePath, "_INDEX_OK")
    val fresh = java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") == fingerprint
    if (!fresh) {
      build
      java.nio.file.Files.createDirectories(marker.getParent)
      java.nio.file.Files.write(marker, fingerprint.getBytes("UTF-8"))
    }
  }

  // --- the commit protocol --------------------------------------------

  /** The committed parquet state at `path`, or None when nothing is
    * committed there (after recovering a crashed swap).
    */
  def read(spark: SparkSession, path: String): Option[DataFrame] = {
    Sinks.recover(spark, path)
    if (pathExists(spark, path)) Some(spark.read.parquet(path)) else None
  }

  /** [[read]] of state that must exist. */
  def readRequired(spark: SparkSession, path: String): DataFrame =
    read(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed state at $path"))

  /** Commit a small frame (an id set, a one-row meta) as the new state
    * at `path`: one file, swapped into place.
    */
  def commit(df: DataFrame, path: String): Unit =
    Sinks.swapRewrite(df.sparkSession, path)(
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(_))

  /** Remove the state at `path`. Staging goes first, so a completed
    * staging directory can never be recovered into the dropped place.
    */
  def drop(spark: SparkSession, path: String): Unit =
    Seq(".staging", ".trash", "").foreach { suffix =>
      val p = new org.apache.hadoop.fs.Path(path + suffix)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }

  /** Fold a mutation set (tombstones, a dead map) into storage: `fold`
    * rewrites the store's tables with the set applied, then the set is
    * dropped. A crash before the drop leaves the set over tables that
    * already honour it, so reads are unchanged and a replay converges.
    */
  def foldInto(spark: SparkSession, path: String)(
      fold: DataFrame => Unit): Unit =
    read(spark, path).foreach { set =>
      fold(set.materializeOnce(eager = true))
      drop(spark, path)
    }

  // --- tombstones: the deleted-id set of a store under `basePath` ------

  def tombstonesPath(basePath: String): String = s"$basePath/tombstones"

  def tombstones(spark: SparkSession, basePath: String): Option[DataFrame] =
    read(spark, tombstonesPath(basePath))

  /** Hide tombstoned rows. The set is delete-batch-sized, so the
    * anti-join broadcasts and a bucketed frame keeps its layout.
    */
  def live(df: DataFrame, tomb: Option[DataFrame], key: String): DataFrame =
    tomb.map(t => df.join(broadcast(t.select(key)), Seq(key), "left_anti"))
      .getOrElse(df)

  /** Add the ids of a one-column frame to the tombstone set (id-set
    * union: idempotent, unknown ids are no-ops). Writes O(deleted so
    * far), never O(store).
    */
  def addTombstones(ids: DataFrame, basePath: String): Unit = {
    val del = ids.distinct()
    commit(tombstones(ids.sparkSession, basePath)
      .map(_.unionByName(del).distinct()).getOrElse(del),
      tombstonesPath(basePath))
  }

  // --- meta: the one-row counters a store reads instead of recounting --

  def writeMeta(spark: SparkSession, basePath: String,
      fields: (String, Long)*): Unit =
    commit(spark.range(1).select(fields.map { case (name, v) =>
      lit(v).as(name) }: _*), s"$basePath/meta")

  def readMeta(spark: SparkSession, basePath: String): Option[DataFrame] =
    read(spark, s"$basePath/meta")

  /** The first field of a meta row that must exist (a store's commit
    * point, e.g. the monotone-crawl high-water mark).
    */
  def metaLong(spark: SparkSession, basePath: String): Long =
    readRequired(spark, s"$basePath/meta").head().getLong(0)

  // --- bucketed store tables -------------------------------------------

  /** A store's bucketed table: recovered, re-registered over its files
    * if this session has no catalog entry (`Sinks.restoreBucketed`),
    * and re-listed — appends may arrive from another session, and a
    * stale relation cache would hide them.
    */
  def bucketedTable(spark: SparkSession, table: String, path: String,
      keyCol: String, buckets: Int): DataFrame = {
    Sinks.recover(spark, path)
    Sinks.restoreBucketed(spark, table, path, keyCol, buckets)
    spark.catalog.refreshTable(table)
    spark.table(table)
  }

  /** Compaction rewrite of a bucketed store table: `df` (which may read
    * the table) lands as a staging table with the same bucket spec and
    * is swapped over `path`; the live catalog entry keeps its location.
    */
  def rewriteBucketed(df: DataFrame, table: String, path: String,
      keyCol: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    Sinks.swapRewrite(spark, path) { staging =>
      Sinks.writeBucketed(df, s"${table}_staging", keyCol, buckets,
        Some(staging))
      spark.sql(s"DROP TABLE IF EXISTS ${table}_staging")
    }
    if (spark.catalog.tableExists(table)) spark.catalog.refreshTable(table)
  }

  // --- monotone crawl stores (span, chunk) -----------------------------

  /** One crawl-sync step of a monotone-id `(doc_id, text)` store: the
    * upstream rows above the meta high-water mark go to `append` as one
    * batch.
    *
    * @return the number of new documents absorbed
    */
  def syncAboveMark(upstream: DataFrame, basePath: String)(
      append: (DataFrame, String) => Unit): Long = {
    val maxDoc = metaLong(upstream.sparkSession, basePath)
    val batch = upstream.select("doc_id", "text")
      .filter(col("doc_id") > maxDoc)
      .materializeOnce() // one scan feeds the count AND the append
    val n = batch.count()
    if (n > 0) append(batch, basePath)
    n
  }

  /** The verification-artifact split of a monotone-id store: the older
    * four-fifths of `docs` (by doc_id) go to `build`, the newest fifth
    * to `append` as one crawl batch. Deterministic given the corpus.
    */
  def buildThenAppend(docs: DataFrame, basePath: String)(
      build: (DataFrame, String) => Unit,
      append: (DataFrame, String) => Unit): Unit = {
    val d = docs.select("doc_id", "text")
    val bounds = d.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val t = lo + (hi - lo) * 4 / 5
    build(d.filter(col("doc_id") <= t), basePath)
    append(d.filter(col("doc_id") > t), basePath)
  }
}
