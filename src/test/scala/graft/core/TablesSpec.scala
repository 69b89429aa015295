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
}
