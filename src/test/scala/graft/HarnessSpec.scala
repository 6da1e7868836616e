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

  test("per-document walks become DataFrames only through operators/PerDoc") {
    // per src/main file: occurrences of `literal` in comment-stripped code
    def sites(literal: String): Map[String, Int] =
      Files.walk(Paths.get("src/main")).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
        .map { p =>
          val code = CodeOps.strip(Files.readString(p)).text
          p.getFileName.toString ->
            code.sliding(literal.length).count(_ == literal)
        }
        .filter(_._2 > 0).toMap
    assert(sites("mapPartitions") == Map("PerDoc.scala" -> 1),
      "walk documents, batch or streaming, with PerDoc.walk / walkMedia")
    assert(sites(".rdd") == Map.empty && sites(".as[Long]") == Map.empty,
      "a walk reads its ids through PerDoc, not a typed or RDD copy")
    assert(sites("createDataFrame(rdd") ==
      Map("ParquetFooter.scala" -> 1, "Sources.scala" -> 1),
      "only the two file-list walks build a DataFrame from an RDD")
    assert(sites("""col("doc_id") < 300""") == Map("Catalog.scala" -> 1),
      "take the fixture slice from Catalog.fixtureSlice / fixtureDocIds")
  }
}
