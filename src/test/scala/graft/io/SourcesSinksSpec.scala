package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, LongType, StringType}

import graft.SparkSpec
import graft.sinks.Sinks
import graft.sources.Sources

class SourcesSinksSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("csv source round-trips the documents table with an explicit schema") {
    val dir = tmp("graft-csv")
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "lang", "source", "n_chars")
    docs.write.mode("overwrite").option("header", "true").csv(dir)
    val schema = new StructType()
      .add("doc_id", LongType).add("lang", StringType)
      .add("source", StringType).add("n_chars", LongType)
    val back = Sources.csv(spark, dir, schema)
    assert(back.count() == docs.count())
    assert(back.agg(sum("n_chars")).head.getLong(0) ==
      docs.agg(sum("n_chars")).head.getLong(0))
  }

  test("jsonl source reads valid rows and quarantines corrupt ones") {
    val dir = tmp("graft-jsonl")
    val docs = graft.core.Tables.documents(spark, sf).select("doc_id", "lang")
    docs.write.mode("overwrite").json(dir)
    val schema = new StructType().add("doc_id", LongType).add("lang", StringType)
    val back = Sources.jsonl(spark, dir, schema)
    assert(back.filter(col("doc_id").isNotNull && col("_corrupt_record").isNull)
      .count() == docs.count())
  }

  test("chunked sink writes one directory per (stream, chunk) of bounded size") {
    val dir = tmp("graft-chunks")
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_id", "event_type", "user_id")
    Sinks.chunkedWrite(ev, "event_type", "event_id", chunkSize = 100, path = dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == ev.count())
    // no chunk exceeds its size; every chunk but the last per stream is full
    // partition-path columns read back type-inferred → go through Number
    val sizes = back.groupBy("event_type", "chunk_id").count().collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[Number]("chunk_id").longValue, r.getAs[Long]("count")))
    assert(sizes.forall(_._3 <= 100))
    val maxChunk = sizes.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(sizes.filter(s => s._2 < maxChunk(s._1)).forall(_._3 == 100))
  }

  test("chunk ids follow each stream's key order, several chunks per stream") {
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_id", "event_type", "user_id")
    val chunkSize = 40
    // driver-side reference: a stream's rows sorted by key, index div chunkSize
    val rows = ev.collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("event_id")))
    assert(rows.map(_._2).distinct.length == rows.length)
    val reference = rows.groupBy(_._1).toSeq.flatMap { case (stream, rs) =>
      rs.map(_._2).sorted.zipWithIndex.map { case (k, i) => (stream, k, (i / chunkSize).toLong) }
    }.toSet
    assert(reference.groupBy(_._1).values.forall(_.map(_._3).max >= 2),
      "the case must hold several chunks per stream")
    val assigned = Sinks.withChunks(ev, "event_type", "event_id", chunkSize)
      .select("event_type", "event_id", "chunk_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(assigned == reference)
    val dir = tmp("graft-chunk-layout")
    Sinks.chunkedWrite(ev, "event_type", "event_id", chunkSize, dir)
    val back = spark.read.parquet(dir).select("event_type", "event_id", "chunk_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet
    assert(back == reference)
  }

  test("bucketed tables make the key join exchange-free (SURVEY §5 diff sync)") {
    val dir = tmp("graft-buckets")
    val remote = graft.core.Tables.orders(spark, sf)
      .select(col("o_orderkey").as("key"), col("o_totalprice").as("rev"))
    val local = remote.withColumn("rev", col("rev") + 1.0)
    Sinks.writeBucketed(remote, "bk_remote", "key", buckets = 8,
      path = Some(s"$dir/remote"))
    Sinks.writeBucketed(local, "bk_local", "key", buckets = 8,
      path = Some(s"$dir/local"))
    try {
      // test-scale tables would broadcast (where bucketing is moot and the
      // planner rightly disables the bucketed scan); force the sort-merge
      // path a billion-row metadata join takes at 100 TB
      val joined = spark.table("bk_remote").hint("merge")
        .join(spark.table("bk_local").withColumnRenamed("rev", "rev2"), "key")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketed scan disabled:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == remote.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS bk_remote")
      spark.sql("DROP TABLE IF EXISTS bk_local")
    }
  }

  test("salted join equals the plain join on a skewed key") {
    // hot key: every lineitem row of one order number joined to a dim —
    // salting must not change the result set
    val fact = graft.core.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("key"), col("l_quantity"))
    val dim = graft.core.Tables.orders(spark, sf)
      .select(col("o_orderkey").as("key"), col("o_orderstatus"))
    val plain = fact.join(dim, "key")
    val salted = graft.core.Skew.saltedJoin(fact, dim, "key", salt = 8)
    assert(salted.count() == plain.count())
    assert(salted.columns.sorted.sameElements(plain.columns.sorted))
    val a = plain.groupBy("key").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = salted.groupBy("key").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("upsert sink keeps exactly one latest-wins row per key") {
    val base = graft.core.Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice")
    val updates = base.filter(col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 5000.0)
    val merged = Sinks.upsert(base, updates, "o_orderkey").collect()
    assert(merged.length == base.count())
    val byKey = merged.map(r =>
      r.getAs[Long]("o_orderkey") -> r.getAs[Double]("o_totalprice")).toMap
    val orig = base.collect().map(r =>
      r.getAs[Long]("o_orderkey") -> r.getAs[Double]("o_totalprice")).toMap
    assert(byKey.forall { case (k, v) =>
      if (k % 2 == 0) v == orig(k) + 5000.0 else v == orig(k)
    })
  }

  test("partitioned layout prunes non-matching directories at the scan") {
    val out = java.nio.file.Files.createTempDirectory("graft_part").toString
    val docs = graft.core.Tables.documents(spark, sf)
    graft.sinks.Sinks.writePartitioned(docs, out, Seq("lang"))
    val back = spark.read.parquet(out)
    val filtered = back.filter(col("lang") === "en")
    val plan = filtered.queryExecution.executedPlan.toString
    // the predicate must land in PartitionFilters (directory pruning,
    // zero I/O for other langs), not a post-scan Filter
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
      s"lang predicate did not become a partition filter:\n$plan")
    assert(filtered.count() ==
      docs.filter(col("lang") === "en").count())
    // round trip is lossless across the partition split
    assert(back.count() == docs.count())
  }

  test("chunked sink round-trips through the ORC format too") {
    val out = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val docs = graft.core.Tables.documents(spark, sf).limit(50)
    graft.sinks.Sinks.chunkedWrite(docs, "lang", "doc_id", 20, out, format = "orc")
    val back = spark.read.orc(out)
    assert(back.count() == 50)
    assert(back.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("compaction collapses a fragmented chunk layout losslessly") {
    val frag = java.nio.file.Files.createTempDirectory("graft_frag").toString
    val out = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val docs = graft.core.Tables.documents(spark, sf)
    // chunked write fragments into one directory per (lang, chunk)
    graft.sinks.Sinks.chunkedWrite(docs, "lang", "doc_id", 25, frag)
    def parquetFiles(p: String) = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
        .count(_.toString.endsWith(".parquet"))
    }
    val before = parquetFiles(frag)
    val n = graft.sinks.Sinks.compact(spark, frag, out, targetRows = 250)
    val after = parquetFiles(out)
    assert(n == docs.count())
    assert(before > after, s"compaction did not reduce files ($before -> $after)")
    assert(after == math.ceil(n / 250.0).toInt)
    // content survives byte-for-byte (chunk metadata columns included)
    val a = spark.read.parquet(frag).collect().map(_.toString).sorted
    val b = spark.read.parquet(out).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("jdbc source reads a real embedded database as partitioned range scans") {
    // Apache Derby (on the Spark classpath) embedded in-memory: the
    // partitioned JDBC read runs against an actual database, not just
    // plan construction. derby.log goes to /tmp, the db name is unique
    // per run (a memory db lives for the JVM — a fixed name would fail
    // CREATE TABLE on suite re-run), and the db drops afterwards.
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val dbName = s"graftdb${System.nanoTime()}"
    val url = s"jdbc:derby:memory:$dbName;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE items (id BIGINT PRIMARY KEY, name VARCHAR(32), val DOUBLE)")
      val ps = conn.prepareStatement("INSERT INTO items VALUES (?, ?, ?)")
      (0 until 100).foreach { i =>
        ps.setLong(1, i.toLong); ps.setString(2, s"n$i"); ps.setDouble(3, i * 1.5)
        ps.addBatch()
      }
      ps.executeBatch()
      st.close(); ps.close()
    } finally conn.close()
    try {
      val df = graft.sources.Sources.jdbc(spark, url, "items", "id", 0L, 100L, 4)
      // four bounded WHERE range scans, one per partition
      assert(df.rdd.getNumPartitions == 4)
      val rows = df.collect()
      assert(rows.length == 100)
      assert(rows.map(_.getAs[Long]("ID")).sorted.toSeq == (0L until 100L).toSeq)
      assert(rows.forall(r => r.getAs[Double]("VAL") == r.getAs[Long]("ID") * 1.5))
      // predicate pushdown genuinely reaches the connector: the filter
      // appears as a PushedFilters entry on the JDBC relation scan
      val filtered = df.filter(col("ID") < 10)
      val plan = filtered.queryExecution.executedPlan.toString
      assert(plan.contains("LessThan(ID,10)"),
        s"JDBC filter not pushed to the database:\n$plan")
      assert(filtered.count() == 10)
    } finally {
      // in-memory Derby drops via the drop=true connection, which
      // SIGNALS success with SQLState 08006
      try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$dbName;drop=true")
      catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }
    }
  }

  test("sharded corpus write lands each shard whole, audited, and prunable") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sf).select("doc_id", "text")
    val manifest = graft.curate.Curate.shardPackDocs(docs)
    val out = java.nio.file.Files.createTempDirectory("shardwrite").toString
    val audit = graft.sinks.Sinks.writeShardedCorpus(docs, manifest, out)
      .collect().map(r => r.getAs[Long]("shard_id") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("shard_tokens"))).toMap
    val planned = manifest.groupBy("shard_id")
      .agg(count(lit(1)).as("n"), sum("n_tokens").as("t"))
      .collect().map(r => r.getAs[Long]("shard_id") ->
        (r.getAs[Long]("n"), r.getAs[Long]("t"))).toMap
    // what landed == what the manifest planned, shard by shard
    assert(audit == planned)
    // a trainer reading shard 0 sees exactly its docs via pruning
    val s0 = spark.read.parquet(out).filter(col("shard_id") === 0)
    assert(s0.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    val expected0 = manifest.filter(col("shard_id") === 0)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(s0.select("doc_id").collect().map(_.getLong(0)).sorted
      .sameElements(expected0))
    // text rides along: shard rows carry the full document
    assert(s0.columns.toSet == Set("doc_id", "text", "n_tokens", "shard_id"))
    // re-run is idempotent
    val audit2 = graft.sinks.Sinks.writeShardedCorpus(docs, manifest, out)
      .collect().map(r => r.getAs[Long]("shard_id") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("shard_tokens"))).toMap
    assert(audit2 == planned)
  }
}
