package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.graftshim.CodegenCacheShim
import org.json4s._
import org.json4s.jackson.JsonMethods

/** A stage compiled once is not compiled again on the next run of the
  * same query. Spark sizes its generated-class cache once per JVM, when
  * CodeGenerator is first used; every spec's session loads
  * GraftExtensions, so the cache has graft's size whichever spec gets
  * there first. */
class CodegenReuseSpec extends SparkSpec {

  private val key = "spark.sql.codegen.cache.maxEntries"

  /** The benchmark's `tail` workload: cheap batch queries whose warm runs
    * are mostly fixed per-query cost. */
  private lazy val tail: Seq[String] = {
    implicit val formats: Formats = DefaultFormats
    val json = JsonMethods.parse(
      Files.readString(Paths.get("perfbench/workloads.json")))
    (json \ "workloads" \ "tail" \ "queries").extract[Seq[String]]
  }

  private def cycle(): Unit = tail.foreach { n =>
    Harness.force(SparkEntry.queries(n)(spark, sf0001))
    spark.catalog.clearCache()
  }

  test("a GraftExtensions session sizes the codegen cache for graft") {
    assert(spark.conf.get(key) == GraftExtensions.CodegenCacheEntries.toString)
  }

  test("the second run of the tail queries compiles no class") {
    assert(tail.nonEmpty)
    cycle()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    cycle()
    assert(compiles.getCount - before == 0)
  }

  test("an explicit cache size is left as the user set it") {
    val explicit = new SparkConf(false).set(key, "64")
    CodegenCacheShim.sizeIfUnset(explicit, GraftExtensions.CodegenCacheEntries)
    assert(explicit.get(key) == "64")
    val unset = new SparkConf(false)
    CodegenCacheShim.sizeIfUnset(unset, GraftExtensions.CodegenCacheEntries)
    assert(unset.get(key) == GraftExtensions.CodegenCacheEntries.toString)
  }
}
