package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.{col, lit, map, raise_error, struct, xxhash64}

import graft.operators.CodeOps

class HarnessSpec extends SparkSpec {

  test("force falls back to count() on an unhashable type, never on a failing query") {
    val withMap = spark.range(3).select(map(lit("k"), col("id")).as("m"))
    intercept[AnalysisException](withMap.select(xxhash64(struct(col("*")))).collect())
    Harness.force(withMap)
    // count() prunes the failing projection away and succeeds
    val failing = spark.range(1).select(raise_error(lit("boom")).cast("string").as("e"))
    assert(failing.count() == 1)
    val e = intercept[Exception](Harness.force(failing))
    assert(!e.isInstanceOf[AnalysisException] && e.getMessage.contains("boom"))
    val t = Harness.timed(spark, 1)(failing)
    assert(t.errored && t.message.exists(_.contains("boom")))
  }

  test("the flagship entry query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("src builds a SparkSession in one place, graft/Harness.scala") {
    // matches a call, not this file's own pattern string
    val builder = "SparkSession\\s*\\.\\s*builder".r
    val sites = Files.walk(Paths.get("src")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        val code = CodeOps.strip(Files.readString(p)).text
        builder.findAllIn(code).map(_ => p.toString)
      }
    assert(sites == Seq("src/main/scala/graft/Harness.scala"),
      "build sessions with graft.Harness.session so every caller runs Bench's engine")
  }
}
