package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Pins the `events.ts` physical-type adaptivity of [[Tables]].
  *
  * The driver has regenerated testdata with two different parquet layouts
  * for `ts` — nanosecond INT64 (rounds ≤7) and `timestamp[us]` (round 8+).
  * Both must load as identical epoch-ns Longs so every downstream
  * operator and DuckDB `epoch_ns(ts)` oracle is layout-independent.
  */
class TablesSpec extends SparkSpec {

  test("events.ts loads as epoch-ns LongType from the live testdata") {
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts").dataType == LongType)
    val row = ev.agg(min("ts"), max("ts")).head
    // sanity: epoch-ns magnitude (2020s dates are ~1.6e18 ns)
    assert(row.getLong(0) > 1_000_000_000_000_000_000L)
    assert(row.getLong(1) < 3_000_000_000_000_000_000L)
  }

  test("normalizeTs: INT64 ns passes through; timestamp_us converts to the same ns values") {
    import spark.implicits._
    val ns = Seq(1706140800_123456000L, 1706227200_000000789L).toDF("ts")
    val asLong = Tables.normalizeTs(ns)
    assert(asLong.schema("ts").dataType == LongType)
    assert(asLong.collect().map(_.getLong(0)).sorted.sameElements(
      Array(1706140800_123456000L, 1706227200_000000789L)))

    // Round-trip through parquet timestamp[us]: write the same instants as
    // microsecond timestamps, re-read (arrives as TIMESTAMP under the UTC
    // session), normalize, and require ns equality (sub-us digits truncate).
    val dir = java.nio.file.Files.createTempDirectory("graft-tables-spec").toString
    try {
      ns.select(timestamp_micros(($"ts" / 1000L).cast(LongType)).as("ts"))
        .write.mode("overwrite").parquet(s"$dir/events_us.parquet")
      val back = Tables.normalizeTs(spark.read.parquet(s"$dir/events_us.parquet"))
      assert(back.schema("ts").dataType == LongType)
      assert(back.collect().map(_.getLong(0)).sorted.sameElements(
        Array(1706140800_123456000L, 1706227200_000000000L)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("normalizeTs rejects an unsupported ts type with a named error") {
    import spark.implicits._
    val bad = Seq("x").toDF("ts")
    val err = intercept[IllegalArgumentException](Tables.normalizeTs(bad))
    assert(err.getMessage.contains("events.ts"))
  }

  test("embeddings.label is optional: kept when present, tolerated when absent") {
    import spark.implicits._
    import org.apache.spark.sql.types.IntegerType
    // live testdata carries it — canonical read keeps it as Int
    val live = Tables.embeddings(spark, sf)
    assert(live.columns.contains("label"))
    assert(live.schema("label").dataType == IntegerType)
    // a synthetic frame without it normalizes fine (derived stores,
    // ANN index frames) — and a Long label coerces down like other keys
    val noLabel = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    assert(Tables.normalize(noLabel, "embeddings").columns.toSeq ==
      Seq("vec_id", "embedding"))
    val longLabel = Seq((1L, Seq(1.0f), 7L)).toDF("vec_id", "embedding", "label")
    val n = Tables.normalize(longLabel, "embeddings")
    assert(n.schema("label").dataType == IntegerType)
    assert(n.head.getAs[Int]("label") == 7)
  }

  test("a read never changes the session's conf and names a setting it lacks") {
    val before = spark.conf.getAll
    Tables.orders(spark, sf)
    Tables.events(spark, sf)
    assert(spark.conf.getAll == before)

    val local = spark.newSession()
    local.conf.set("spark.sql.session.timeZone", "America/New_York")
    val zone = intercept[IllegalStateException](Tables.orders(local, sf))
    assert(zone.getMessage.contains("spark.sql.session.timeZone"))
    assert(local.conf.get("spark.sql.session.timeZone") == "America/New_York")

    local.conf.set("spark.sql.session.timeZone", "UTC")
    local.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val nanos = intercept[IllegalStateException](Tables.events(local, sf))
    assert(nanos.getMessage.contains("spark.sql.legacy.parquet.nanosAsLong"))
    assert(local.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false")
  }

  test("the table plan memo keeps at most its fixed number of entries") {
    val root = java.nio.file.Files.createTempDirectory("graft-plan-memo").toFile
    try {
      val first = new java.io.File(root, "0")
      Tables.region(spark, sf).write.parquet(s"$first/region.parquet")
      // more distinct snapshot directories than the memo keeps
      val dirs = first +: (1 to 70).map { i =>
        val d = new java.io.File(root, i.toString)
        org.apache.commons.io.FileUtils.copyDirectory(first, d)
        d
      }
      dirs.foreach(d => Tables.region(spark, d.toString))
      assert(Tables.planCacheSize == 64)
      // a hit serves the shared instance
      val last = dirs.last.toString
      assert(Tables.region(spark, last) eq Tables.region(spark, last))
      assert(Tables.region(spark, last).count() == 5)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  import TablesSpec.{load, tableNames}

  /** Spark jobs started on this thread while `body` runs. The listener
    * bus delivers events in order, so once a closing sentinel job's
    * start arrives, every earlier job's start has been counted.
    */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.spec.window"
    val tag = s"tables-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val closed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty(key)).foreach { t =>
          if (t == tag) jobs.incrementAndGet()
          else if (t == tag + "-end") closed.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      try body finally sc.setLocalProperty(key, tag + "-end")
      sc.parallelize(Seq(1), 1).count()
      assert(closed.await(30, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get()
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  test("reading every table of a directory the session never read launches no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fresh-snapshot").toFile
    try {
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(sf), dir)
      val jobs = jobsDuring(tableNames.foreach(load(_, dir.toString)))
      assert(jobs == 0, s"$jobs Spark jobs to plan ${tableNames.size} table reads")
      // ...and the plans read the data
      assert(Tables.nation(spark, dir.toString).count() == 25)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  /** A scan planned with the driver-side footer schema must have the
    * schema Spark's own inference gives, before and after `normalize`
    * (the scan makes every field nullable either way, so a footer's
    * `required` fields do not show).
    */
  private def assertInferenceSchema(dir: String, table: String): Unit = {
    val path = s"$dir/$table.parquet"
    val inferred = spark.read.parquet(path)
    assert(spark.read.schema(Tables.footerSchema(spark, path, table)).parquet(path).schema ==
      inferred.schema, s"$table footer schema differs from inference")
    assert(load(table, dir).schema == Tables.normalize(inferred, table).schema,
      s"$table normalized schema differs from inference")
  }

  test("a table's footer schema equals Spark's inferred schema at sf0.001") {
    tableNames.foreach(assertInferenceSchema(sf, _))
  }

  test("a table's footer schema equals Spark's inferred schema on drift layouts") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val root = java.nio.file.Files.createTempDirectory("graft-footer-drift").toFile
    // a file without Spark's row-schema metadata, as non-Spark writers
    // leave it: the footer's parquet types go through the converter
    def raw(dir: String, table: String, schema: String)(fill: org.apache.parquet.example.data.Group => Unit): Unit = {
      val mt = MessageTypeParser.parseMessageType(schema)
      val w = ExampleParquetWriter.builder(new Path(s"$dir/$table.parquet/part-0.parquet"))
        .withType(mt).withConf(spark.sparkContext.hadoopConfiguration).build()
      try {
        val g = new SimpleGroupFactory(mt).newGroup()
        fill(g)
        w.write(g)
      } finally w.close()
    }
    val events = (ts: String) => s"""message spark_schema {
      required int64 event_id; required int64 ts ($ts); required int64 user_id;
      required binary event_type (STRING); required double value; required binary props (STRING); }"""
    def eventRow(g: org.apache.parquet.example.data.Group): Unit = {
      g.add("event_id", 1L); g.add("ts", 1706140800123456L); g.add("user_id", 7L)
      g.add("event_type", "click"); g.add("value", 1.5); g.add("props", "{}")
    }
    try {
      val layouts = Seq(
        "events-ns" -> ("events", events("TIMESTAMP(NANOS,true)")),
        "events-us" -> ("events", events("TIMESTAMP(MICROS,true)")),
        "events-ntz" -> ("events", events("TIMESTAMP(MICROS,false)")))
      layouts.foreach { case (name, (table, schema)) =>
        val dir = new java.io.File(root, name).toString
        raw(dir, table, schema)(eventRow)
        assertInferenceSchema(dir, table)
      }
      val orders = new java.io.File(root, "orders-int32-date").toString
      raw(orders, "orders", """message spark_schema {
        required int32 o_orderkey; required int32 o_custkey; required binary o_orderstatus (STRING);
        required int64 o_totalprice (DECIMAL(12,2)); required int32 o_orderdate (DATE);
        required binary o_orderpriority (STRING); }""") { g =>
        g.add("o_orderkey", 1); g.add("o_custkey", 2); g.add("o_orderstatus", "F")
        g.add("o_totalprice", 12345L); g.add("o_orderdate", 19000); g.add("o_orderpriority", "1-URGENT")
      }
      assertInferenceSchema(orders, "orders")
      // Spark-written drift variants carry Spark's own row schema
      val spark32 = new java.io.File(root, "customer-spark").toString
      Tables.customer(spark, sf)
        .withColumn("c_custkey", col("c_custkey").cast("int"))
        .withColumn("c_nationkey", col("c_nationkey").cast("long"))
        .write.parquet(s"$spark32/customer.parquet")
      assertInferenceSchema(spark32, "customer")
      val lineitem = new java.io.File(root, "lineitem-spark").toString
      Tables.lineitem(spark, sf)
        .withColumn("l_shipdate", col("l_shipdate").cast("date"))
        .withColumn("l_quantity", col("l_quantity").cast("decimal(12,2)"))
        .withColumn("l_linenumber", col("l_linenumber").cast("long"))
        .write.parquet(s"$lineitem/lineitem.parquet")
      assertInferenceSchema(lineitem, "lineitem")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  test("a table path with no data file is a named error") {
    val dir = java.nio.file.Files.createTempDirectory("graft-no-data").toFile
    try {
      // a directory holding only a job marker, and no directory at all
      val empty = new java.io.File(dir, "orders.parquet")
      empty.mkdirs()
      new java.io.File(empty, "_SUCCESS").createNewFile()
      val err = intercept[IllegalArgumentException](Tables.orders(spark, dir.toString))
      assert(err.getMessage.contains("orders: no parquet data file"), err.getMessage)
      val gone = intercept[IllegalArgumentException](Tables.region(spark, dir.toString))
      assert(gone.getMessage.contains("region: no parquet data file"), gone.getMessage)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }
}

object TablesSpec {
  val tableNames = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** The named table of `dir` through its `Tables` loader. */
  def load(table: String, dir: String): org.apache.spark.sql.DataFrame = {
    val spark = graft.SparkSpec.session
    table match {
      case "region"     => Tables.region(spark, dir)
      case "nation"     => Tables.nation(spark, dir)
      case "customer"   => Tables.customer(spark, dir)
      case "supplier"   => Tables.supplier(spark, dir)
      case "part"       => Tables.part(spark, dir)
      case "orders"     => Tables.orders(spark, dir)
      case "lineitem"   => Tables.lineitem(spark, dir)
      case "events"     => Tables.events(spark, dir)
      case "documents"  => Tables.documents(spark, dir)
      case "embeddings" => Tables.embeddings(spark, dir)
    }
  }
}
