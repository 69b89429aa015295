package graft.core

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins [[Tables]]' physical-layout adaptivity for EVERY loader, not
  * just `events.ts`: the driver regenerates testdata between rounds and
  * has already changed physical types once (`events.ts` INT64-ns →
  * `timestamp[us]`, which DNF'd a whole round). Each test writes a
  * plausible drifted layout of a table — integer width flips, float/
  * decimal measures, date32 / timestamp_ntz / INT64-ns date columns,
  * double-element embeddings — and requires the loader to return
  * values IDENTICAL to the canonical layout with the canonical schema.
  * Only losslessly-convertible variants are pinned for equality (e.g.
  * decimal(12,2) on columns whose live values are 2-decimal-exact).
  */
class TablesVariantSpec extends SparkSpec {
  import TablesSpec.load

  /** Write `variant` as `<tmp>/<table>.parquet`, load through the named
    * Tables loader, and require schema + exact value equality with the
    * canonical-layout load.
    */
  private def pinVariant(table: String, canonicalDf: DataFrame, variant: DataFrame): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-variant-$table").toString
    try {
      variant.write.mode("overwrite").parquet(s"$dir/$table.parquet")
      val loaded = load(table, dir)
      assert(loaded.schema == canonicalDf.schema,
        s"$table variant schema ${loaded.schema.simpleString} != canonical ${canonicalDf.schema.simpleString}")
      val extra = loaded.exceptAll(canonicalDf).count()
      val missing = canonicalDf.exceptAll(loaded).count()
      assert(extra == 0 && missing == 0,
        s"$table variant load differs from canonical: $extra extra / $missing missing rows")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("orders: date32 o_orderdate + int32 o_orderkey load identically") {
    val o = Tables.orders(spark, sf)
    pinVariant("orders", o, o
      .withColumn("o_orderdate", col("o_orderdate").cast(DateType)) // midnight-aligned: lossless
      .withColumn("o_orderkey", col("o_orderkey").cast(IntegerType)))
  }

  test("orders: timestamp_ntz o_orderdate loads identically") {
    val o = Tables.orders(spark, sf)
    pinVariant("orders", o,
      o.withColumn("o_orderdate", col("o_orderdate").cast(TimestampNTZType)))
  }

  test("lineitem: date32 l_shipdate + decimal l_quantity + int64 l_linenumber load identically") {
    val l = Tables.lineitem(spark, sf)
    pinVariant("lineitem", l, l
      .withColumn("l_shipdate", col("l_shipdate").cast(DateType))
      .withColumn("l_quantity", col("l_quantity").cast(DecimalType(12, 2))) // 2-dec-exact column
      .withColumn("l_linenumber", col("l_linenumber").cast(LongType)))
  }

  test("customer: int32 c_custkey + int64 c_nationkey load identically") {
    val c = Tables.customer(spark, sf)
    pinVariant("customer", c, c
      .withColumn("c_custkey", col("c_custkey").cast(IntegerType))
      .withColumn("c_nationkey", col("c_nationkey").cast(LongType)))
  }

  test("part: decimal p_retailprice + int64 p_size load identically") {
    val p = Tables.part(spark, sf)
    pinVariant("part", p, p
      .withColumn("p_retailprice", col("p_retailprice").cast(DecimalType(12, 2))) // 2-dec-exact
      .withColumn("p_size", col("p_size").cast(LongType)))
  }

  test("region: int64 r_regionkey loads identically") {
    val r = Tables.region(spark, sf)
    pinVariant("region", r, r.withColumn("r_regionkey", col("r_regionkey").cast(LongType)))
  }

  test("documents: int32 n_chars loads identically") {
    val d = Tables.documents(spark, sf)
    pinVariant("documents", d, d.withColumn("n_chars", col("n_chars").cast(IntegerType)))
  }

  test("embeddings: array<double> embedding + int32 vec_id load identically") {
    val e = Tables.embeddings(spark, sf)
    pinVariant("embeddings", e, e
      .withColumn("embedding", col("embedding").cast(ArrayType(DoubleType))) // float→double→float: lossless
      .withColumn("vec_id", col("vec_id").cast(IntegerType)))
  }

  test("embeddings: optional label column is kept when present (knn_classify consumes it)") {
    val e = Tables.embeddings(spark, sf)
    assert(e.columns.contains("label"))
    // absence tolerated + Long→Int coercion: TablesSpec pins both
  }

  test("events: raw INT64-ns ts (rounds ≤7 layout) loads identically") {
    val ev = Tables.events(spark, sf) // canonical: ts already epoch-ns Long
    pinVariant("events", ev, ev) // writing it back produces a plain INT64 column
  }

  test("events: timestamp_ntz ts loads identically") {
    val ev = Tables.events(spark, sf)
    // integral `div`: float division corrupts epoch-ns magnitudes
    pinVariant("events", ev, ev.withColumn("ts",
      timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType)))
  }

  test("unsupported drift throws with table.column named") {
    val o = Tables.orders(spark, sf).limit(10)
    val dir = java.nio.file.Files.createTempDirectory("graft-variant-bad").toString
    try {
      o.withColumn("o_orderdate", date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val err = intercept[IllegalArgumentException](Tables.orders(spark, dir).collect())
      assert(err.getMessage.contains("orders.o_orderdate"), err.getMessage)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("missing column throws with table.column named") {
    val o = Tables.orders(spark, sf).limit(10)
    val dir = java.nio.file.Files.createTempDirectory("graft-variant-miss").toString
    try {
      o.drop("o_orderpriority").write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val err = intercept[IllegalArgumentException](Tables.orders(spark, dir).collect())
      assert(err.getMessage.contains("orders.o_orderpriority"), err.getMessage)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("extra generator columns are dropped, canonical order preserved") {
    val o = Tables.orders(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-variant-extra").toString
    try {
      o.withColumn("o_comment", lit("x"))
        .select(col("o_comment"), col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val loaded = Tables.orders(spark, dir)
      assert(loaded.schema == o.schema)
      assert(loaded.exceptAll(o).count() == 0 && o.exceptAll(loaded).count() == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
