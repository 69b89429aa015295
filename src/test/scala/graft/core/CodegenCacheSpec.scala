package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{Pipeline, SparkSpec}
import graft.tools.QueryProfile.codegenCompiles

/** Spark keeps generated classes in one JVM-wide LRU cache, 100 entries
  * by default. One curation flow needs more than that, so under the
  * default every pass evicted classes before their next use and
  * recompiled most of them; `Graft.builder` sizes the cache to hold
  * graft's working set.
  */
class CodegenCacheSpec extends SparkSpec {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Empty the JVM-wide cache, as a fresh JVM starts, so the first pass
    * compiles the flow's whole working set whatever ran before it.
    */
  private def emptyCodegenCache(): Unit = {
    // the cache and its type are private to Spark
    val getter = CodeGenerator.getClass.getDeclaredMethod("cache")
    getter.setAccessible(true)
    val cache = getter.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  test("the curation flow compiles its generated classes once, not every pass") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
    emptyCodegenCache()
    def pass(): Long = {
      val before = codegenCompiles
      val gates = Pipeline.curateGates(spark, sf)
      noop(Pipeline.curateCorpusFrom(spark, sf, gates))
      noop(Pipeline.curationReportFrom(gates))
      codegenCompiles - before
    }
    val compiles = Seq.fill(3)(pass())
    // the working set is larger than Spark's default cache of 100
    assert(compiles.head > 100, s"compiles per pass: $compiles")
    // Under the default cache every warm pass recompiles most of the
    // working set. Under graft's cap a warm pass may still compile a
    // few classes: a class's text carries its whole-stage codegen id,
    // which AQE assigns in the order it creates query stages, and that
    // order can change with which running stage finishes first. Each
    // such variant compiles once (observed: 0 to 12 per pass).
    assert(compiles(2) < compiles.head / 4, s"compiles per pass: $compiles")
  }
}
