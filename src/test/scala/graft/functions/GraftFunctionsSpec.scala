package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** The native expressions must agree with independent Column-level
  * formulations of the same math, and their interpreted eval must agree
  * with their generated code (the driver may run either path).
  */
class GraftFunctionsSpec extends SparkSpec {

  private def registered: Unit = GraftFunctions.register(spark)

  private def docsTokens: DataFrame =
    Tables.documents(spark, sf)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))

  test("register on an extension session leaves the optimizer rule to the extension") {
    val fresh = spark.newSession()
    GraftFunctions.register(fresh)
    assert(fresh.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot")))
    // GraftSparkExtensions injects SingleRowCrossToEquiJoin already; a
    // second copy here would run the rule in a second optimizer batch
    assert(!fresh.experimental.extraOptimizations
      .contains(graft.plans.SingleRowCrossToEquiJoin))
  }

  test("vec_dot matches an independent zip_with/aggregate fold") {
    registered
    val rows = Tables.embeddings(spark, sf)
      .select(
        call_function("vec_dot", col("embedding"), col("embedding")).as("fast"),
        expr("""aggregate(zip_with(embedding, embedding,
                 (x, y) -> cast(x as double) * cast(y as double)),
                 cast(0 as double), (s, v) -> s + v)""").as("ref"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("sorted_intersect_count matches size(array_intersect)") {
    registered
    val sets = docsTokens
      .select(col("doc_id"),
        array_sort(expr("transform(toks, t -> xxhash64(t))")).as("s"))
    val pairs = sets.as("a").join(sets.as("b"),
        col("a.doc_id") + 1 === col("b.doc_id"))
      .select(
        call_function("sorted_intersect_count", col("a.s"), col("b.s")).as("fast"),
        size(array_intersect(col("a.s"), col("b.s"))).cast("long").as("ref"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("simhash32 matches the portable md5 SQL formulation") {
    registered
    val rows = docsTokens
      .select(
        call_function("simhash32", col("toks")).as("fast"),
        expr("""aggregate(
            sequence(0, 31), cast(0 as bigint),
            (acc, j) -> acc + IF(
              aggregate(transform(toks,
                  t -> cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint)),
                0, (a, h) -> a + IF((shiftright(h, j) & 1) = 1, 1, -1)) > 0,
              shiftleft(cast(1 as bigint), j), cast(0 as bigint)))""").as("ref"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("simhash64 matches the two-half portable md5 formulation") {
    registered
    // the reference formulation the DuckDB oracle uses: 32-bit majority
    // fingerprints over hex chars 9-16 (low word) and 1-8 (high word),
    // recombined by a 32-bit shift — bit-identical to the native
    // big-endian 8-byte read
    def half(from: Int) =
      s"""aggregate(sequence(0, 31), cast(0 as bigint), (acc, j) -> acc + IF(
         |  aggregate(transform(toks,
         |      t -> cast(conv(substring(md5(t), $from, 8), 16, 10) as bigint)),
         |    0, (a, h) -> a + IF((shiftright(h, j) & 1) = 1, 1, -1)) > 0,
         |  shiftleft(cast(1 as bigint), j), cast(0 as bigint)))""".stripMargin
    val rows = docsTokens
      .select(
        call_function("simhash64", col("toks")).as("fast"),
        expr(s"${half(9)} + shiftleft(${half(1)}, 32)").as("ref"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("ngram_hash_set has one hash per distinct 3-gram, sorted") {
    registered
    val rows = Tables.documents(spark, sf)
      .select(split(col("text"), " ").as("toks"))
      .select(
        call_function("ngram_hash_set", col("toks"), lit(3)).as("g"),
        expr("""size(array_distinct(
             CASE WHEN size(toks) >= 3
               THEN transform(sequence(0, size(toks) - 3),
                      i -> concat_ws(' ', element_at(toks, i+1),
                                          element_at(toks, i+2),
                                          element_at(toks, i+3)))
               ELSE array() END))""").cast("long").as("n_ref"))
      .select(size(col("g")).cast("long").as("n"), col("n_ref"),
        (col("g") === array_sort(col("g"))).as("sorted"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1))
      assert(r.getBoolean(2))
    }
  }

  test("ngram_hash_seq is positional: element k = hash of window at k, no dedup") {
    registered
    val rows = Tables.documents(spark, sf)
      .select(split(col("text"), " ").as("toks"))
      .select(col("toks"),
        call_function("ngram_hash_seq", col("toks"), lit(3)).as("seq"),
        call_function("ngram_hash_set", col("toks"), lit(3)).as("set"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val toks = r.getSeq[String](0)
      val seq = r.getSeq[Long](1)
      val set = r.getSeq[Long](2)
      // length sz-n+1 (0 when too short), NO dedup/sort
      val expectLen = math.max(0, toks.length - 3 + 1)
      assert(seq.length == expectLen)
      // the multiset of positional hashes deduped+sorted IS the set form —
      // same hash family, so positions only add information
      assert(seq.distinct.sorted == set)
      // element k must depend only on the window at k: windows with equal
      // token triples must hash equal, distinct triples must hash distinct
      val windows = toks.sliding(3).toSeq
      if (windows.nonEmpty && seq.nonEmpty) {
        val byWindow = windows.zip(seq).groupBy(_._1)
        byWindow.values.foreach(g => assert(g.map(_._2).distinct.size == 1))
        assert(byWindow.keySet.size == seq.distinct.size)
      }
    }
  }

  test("n-gram and rolling-fp window parameters reject n < 1") {
    registered
    Seq("ngram_hash_set", "ngram_hash_seq").foreach { fn =>
      Seq(0, -2).foreach { bad =>
        val err = intercept[Exception] {
          spark.sql(s"SELECT $fn(array('a','b','c'), $bad)").collect()
        }
        assert(err.getMessage.contains("positive"), s"$fn($bad): ${err.getMessage}")
      }
    }
    val err = intercept[Exception] {
      spark.sql("SELECT rolling_fp('abc', 0)").collect()
    }
    assert(err.getMessage.contains("positive"))
  }

  test("lsh_band_buckets equals the packed-bands + SQL xxhash64 composition") {
    registered
    // the fused expression must produce bit-identical buckets to the
    // two-step form (packing + per-band SQL xxhash64) it replaced —
    // multi-probe query keys are still computed with the SQL xxhash64
    val rows = Tables.embeddings(spark, sf)
      .select(col("embedding"),
        call_function("lsh_band_buckets", col("embedding"), lit(16), lit(4)).as("fused"),
        call_function("lsh_packed_bands", col("embedding"), lit(16), lit(4)).as("packed"))
      .withColumn("ref",
        expr("transform(sequence(0, 15), b -> xxhash64(b, element_at(packed, b + 1)))"))
      .select(col("fused"), col("ref"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("lsh_probe_buckets equals the packed-bands + SQL flip composition") {
    registered
    val rows = Tables.embeddings(spark, sf)
      .select(col("embedding"),
        call_function("lsh_probe_buckets", col("embedding"), lit(16), lit(4)).as("fused"),
        call_function("lsh_packed_bands", col("embedding"), lit(16), lit(4)).as("packed"))
      .withColumn("ref",
        expr("""flatten(transform(sequence(0, 15), b ->
               transform(array(0, 1, 2, 4, 8), f ->
                 xxhash64(b, element_at(packed, b + 1) ^ f))))"""))
      .select(col("fused"), col("ref"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("vec_sum matches a posexplode elementwise sum (within float-order tolerance)") {
    registered
    val viaAgg = Tables.embeddings(spark, sf)
      .groupBy((col("vec_id") % 7).as("g"))
      .agg(call_function("vec_sum", col("embedding")).as("sv"))
      .collect().map(r => r.getAs[Long]("g") -> r.getSeq[Double](1)).toMap
    val viaExplode = Tables.embeddings(spark, sf)
      .select((col("vec_id") % 7).as("g"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("g", "pos").agg(sum(col("v").cast("double")).as("s"))
      .collect()
      .groupBy(_.getAs[Long]("g"))
      .map { case (g, rows) =>
        g -> rows.sortBy(_.getAs[Int]("pos")).map(_.getAs[Double]("s")).toSeq
      }
    assert(viaAgg.keySet == viaExplode.keySet)
    viaAgg.foreach { case (g, sv) =>
      val ref = viaExplode(g)
      assert(sv.length == ref.length)
      sv.zip(ref).foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b)))
      }
    }
  }

  test("native functions resolve from plain SQL") {
    registered
    val d = spark.sql(
      "SELECT vec_dot(array(cast(1.5 as float), cast(2.0 as float)), " +
        "array(cast(2.0 as float), cast(0.5 as float))) AS d")
      .first().getDouble(0)
    assert(d == 4.0)
    val c = spark.sql(
      "SELECT sorted_intersect_count(array(1L, 3L, 7L), array(3L, 5L, 7L)) AS c")
      .first().getLong(0)
    assert(c == 2L)
  }

  test("the SQL extension injects every native function without error") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftSparkExtensions().apply(ext)
    // injection and runtime registration share GraftFunctions.builders, so
    // the real invariant is that every builder also resolves on the live
    // session after register() — derived from the list itself so a new
    // expression can never leave this test stale
    registered
    val reg = spark.sessionState.functionRegistry
    val missing = GraftFunctions.builders.map(_._1).filterNot { name =>
      reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name))
    }
    assert(missing.isEmpty, s"unregistered native functions: $missing")
    assert(GraftFunctions.builders.map(_._1).distinct.size ==
      GraftFunctions.builders.size, "duplicate builder names")
  }

  test("registerViews exposes the full table surface to plain SQL") {
    graft.core.Tables.registerViews(spark, sf)
    graft.functions.GraftFunctions.register(spark)
    val viaSql = spark.sql(
      """SELECT n_name, COUNT(*) AS n FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin).collect()
    assert(viaSql.nonEmpty)
    // native functions resolve against the views too
    val dot = spark.sql(
      """SELECT vec_id, vec_dot(embedding, embedding) AS d
        |FROM embeddings ORDER BY vec_id LIMIT 5""".stripMargin).collect()
    assert(dot.length == 5 && dot.forall(_.getAs[Double]("d") > 0))
  }

  test("vec_cos6 / vec_cos6i match the composed round/floor column formula") {
    registered
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
      .withColumn("norm", sqrt(call_function("vec_dot", col("embedding"), col("embedding"))))
    val rows = e.as("a").join(e.as("b"), col("a.vec_id") + 1 === col("b.vec_id"))
      .select(
        call_function("vec_cos6", col("a.embedding"), col("b.embedding"),
          col("a.norm"), col("b.norm")).as("fast"),
        round(call_function("vec_dot", col("a.embedding"), col("b.embedding"))
          / (col("a.norm") * col("b.norm")), 6).as("ref"),
        call_function("vec_cos6i", col("a.embedding"), col("b.embedding"),
          col("a.norm"), col("b.norm")).as("fasti"),
        expr("""CAST(FLOOR(round(vec_dot(a.embedding, b.embedding)
               | / (a.norm * b.norm), 6) * 1000000.0D + 0.5D) AS BIGINT)""".stripMargin)
          .as("refi"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getLong(2) == r.getLong(3))
    }
  }

  test("vec_cos6 / vec_cos6i are NULL on a zero divisor (degenerate vectors sort last)") {
    registered
    val sqlc = spark.sqlContext
    import sqlc.implicits._
    // a zero-norm (degenerate) vector must score NULL and therefore
    // sort LAST under cos6 DESC: an IEEE NaN would rank it ABOVE every
    // real neighbour, and the composed Divide under this engine's ANSI
    // default would instead kill the whole pass with DIVIDE_BY_ZERO —
    // neither is acceptable for a corpus-scale mining query (embed_qc
    // is the real gate; this is the belt after those braces)
    val rows = Seq((Array(0f, 0f), Array(1f, 2f)))
      .toDF("a", "b")
      .select(
        call_function("vec_cos6", col("a"), col("b"),
          sqrt(call_function("vec_dot", col("a"), col("a"))),
          sqrt(call_function("vec_dot", col("b"), col("b")))).as("fast"),
        call_function("vec_cos6i", col("a"), col("b"),
          sqrt(call_function("vec_dot", col("a"), col("a"))),
          lit(1.0)).as("fasti"),
        // and a well-formed pair through the same projection stays defined
        call_function("vec_cos6", col("b"), col("b"),
          sqrt(call_function("vec_dot", col("b"), col("b"))),
          sqrt(call_function("vec_dot", col("b"), col("b")))).as("ok"))
      .collect()
    assert(rows.head.isNullAt(0) && rows.head.isNullAt(1))
    assert(rows.head.getDouble(2) == 1.0)
  }

  test("round6 replicates Spark's round(x, 6) on adversarial doubles") {
    // the fused cosine's rounding half must be bit-identical to the
    // engine's own Round expression — including half-up ties, negatives,
    // values with no exact binary representation, and non-finite inputs
    val vals = Seq(0.1234565, -0.1234565, 0.9999995, -0.9999995, 1.0000005,
      0.0000005, -0.0000005, 1.0 / 3.0, -2.0 / 3.0, 0.729384756e-3,
      Double.MinPositiveValue, 0.0, -0.0, 123.4567894999999, -7.37e-7,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    import spark.implicits._
    val sparkRounded = vals.toDF("x").select(round(col("x"), 6)).collect()
      .map(_.getDouble(0))
    vals.zip(sparkRounded).foreach { case (x, ref) =>
      val got = Mix.round6(x)
      assert(java.lang.Double.compare(got, ref) == 0 ||
        (got.isNaN && ref.isNaN), s"round6($x) = $got, spark round = $ref")
    }
  }

  test("top_k_sum_long matches the collect_list sort/slice/fold formulation") {
    registered
    // group sizes straddle k on purpose: doc_id % 7 gives groups larger
    // than k = 4, % 97 gives many groups smaller than k
    Seq(7, 97).foreach { m =>
      // values bounded like the micro-unit cosines the aggregate serves
      // (full-range longs would overflow the ANSI reference fold)
      val rows = Tables.documents(spark, sf)
        .select((col("doc_id") % m).as("g"),
          (pmod(xxhash64(col("text")), lit(2000001L)) - 1000000L).as("v"))
        .groupBy("g")
        .agg(
          call_function("top_k_sum_long", col("v"), lit(4)).as("t"),
          expr("""aggregate(slice(reverse(array_sort(collect_list(v))), 1, 4),
                 | 0L, (x, y) -> x + y)""".stripMargin).as("refS"),
          least(count(lit(1)), lit(4L)).as("refN"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val t = r.getStruct(1)
        assert(t.getLong(0) == r.getLong(2), s"sum mismatch in group ${r.get(0)}")
        assert(t.getLong(1) == r.getLong(3), s"count mismatch in group ${r.get(0)}")
      }
    }
  }

  test("interpreted eval agrees with generated code for every expression") {
    registered
    // every native function evaluated over real data twice: once under
    // whole-stage codegen, once fully interpreted — the two code paths
    // are separate implementations for the loop expressions
    def results(): Seq[String] = {
      val t = docsTokens.select(col("doc_id"),
          call_function("simhash32", col("toks")).as("a"),
          call_function("simhash64", col("toks")).as("a64"),
          call_function("ngram_hash_set", col("toks"), lit(3)).as("b"),
          call_function("ngram_hash_seq", col("toks"), lit(3)).as("bq"),
          call_function("sorted_intersect_count",
            array_sort(expr("transform(toks, x -> xxhash64(x))")),
            array_sort(expr("transform(toks, x -> xxhash64(x, 7))"))).as("c"),
          call_function("rolling_fp", concat_ws(" ", col("toks")), lit(8)).as("d"))
        .collect().map(_.toString).toSeq
      val e = Tables.embeddings(spark, sf).select(col("vec_id"),
          call_function("vec_dot", col("embedding"), col("embedding")).as("v"),
          call_function("vec_cos6", col("embedding"), col("embedding"),
            sqrt(call_function("vec_dot", col("embedding"), col("embedding"))),
            lit(1.0)).as("c6"),
          call_function("vec_cos6i", col("embedding"), col("embedding"),
            sqrt(call_function("vec_dot", col("embedding"), col("embedding"))),
            lit(1.0)).as("c6i"),
          call_function("lsh_packed_bands", col("embedding"), lit(8), lit(4)).as("p"),
          call_function("lsh_band_buckets", col("embedding"), lit(8), lit(4)).as("pb"),
          call_function("minhash_band_buckets",
            expr("transform(embedding, x -> xxhash64(x))"), lit(16)).as("m"))
        .collect().map(_.toString).toSeq
      (t ++ e).sorted
    }
    val codegen = results()
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = results()
      assert(interpreted == codegen)
    } finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }
}
