package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Catalog

import scala.jdk.CollectionConverters._

/** Fixture-drift canary.
  *
  * Round 6 lost ten queries to a silent fixture regeneration: the driver
  * rewrote events.parquet with `ts` as timestamp[us] (TIMESTAMP_NTZ to
  * Spark) where the previous generation carried TIMESTAMP(NANOS) (LongType
  * under nanosAsLong). Nothing failed at the boundary — queries downstream
  * threw or silently computed on a 1000×-compressed time axis.
  *
  * This spec pins (a) the NORMALIZED schema contract every consumer relies
  * on (Catalog.table output types), (b) the set of RAW physical encodings
  * the normalization boundary knows how to handle, and (c) the decoded
  * events time axis spanning ~30 days — the exact failure mode that
  * slipped through. When the driver regenerates fixtures with new types,
  * this fails with a readable diff instead of costing a round.
  */
class FixtureCanarySpec extends SparkSpec {

  private val expectedNormalized: Map[String, Map[String, DataType]] = Map(
    "region" -> Map("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Map("n_nationkey" -> IntegerType, "n_regionkey" -> IntegerType),
    "customer" -> Map("c_custkey" -> LongType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
    "supplier" -> Map("s_suppkey" -> LongType, "s_nationkey" -> IntegerType),
    "part" -> Map("p_partkey" -> LongType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
    "orders" -> Map("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampNTZType),
    "lineitem" -> Map("l_orderkey" -> LongType, "l_quantity" -> DoubleType,
      "l_shipdate" -> TimestampNTZType, "l_returnflag" -> StringType),
    "events" -> Map("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Map("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Map("vec_id" -> LongType, "label" -> IntegerType,
      "embedding" -> ArrayType(FloatType, containsNull = true))
  )

  test("normalized fixture schemas match the consumer contract") {
    val diffs = expectedNormalized.toSeq.sortBy(_._1).flatMap {
      case (name, cols) =>
        val actual = Catalog.table(spark, sf0001, name).schema
          .map(f => f.name -> f.dataType).toMap
        cols.toSeq.sortBy(_._1).flatMap { case (c, t) =>
          actual.get(c) match {
            case None => Some(s"$name.$c: MISSING (have: ${actual.keys.toSeq.sorted.mkString(", ")})")
            case Some(a) if a != t => Some(s"$name.$c: expected $t, fixture now yields $a")
            case _ => None
          }
        }
    }
    assert(diffs.isEmpty, "\nFIXTURE DRIFT:\n" + diffs.mkString("\n"))
  }

  test("events raw ts encoding is one the normalization boundary handles") {
    // every SF the driver touches: sf0.001 (tests/warmup), sf0.01
    // (Verify), sf0.1 (Bench) — drift can land per-SF if the driver
    // regenerates them separately
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1").foreach { sf =>
      val raw = spark.read.parquet(s"$sf/events.parquet").schema
        .find(_.name == "ts").map(_.dataType)
      assert(
        raw.exists(t => t == LongType || t == TimestampNTZType || t == TimestampType),
        s"$sf events.parquet ts arrived as $raw — Catalog.normalizeTs has no " +
          "branch for this encoding; add one before trusting any time-axis query")
    }
  }

  test("decoded events time axis spans ~30 days (not 1970, not 1000x off)") {
    val Array(row) = Catalog.table(spark, sf0001, "events")
      .agg(min("ts").as("lo"), max("ts").as("hi")).collect()
    val lo = row.getTimestamp(0).getTime
    val hi = row.getTimestamp(1).getTime
    val days = (hi - lo) / 86400000.0
    assert(days > 20 && days < 45,
      s"events ts span is $days days (min=${row.getTimestamp(0)}, " +
        s"max=${row.getTimestamp(1)}) — expected ~30; the decode scale is wrong")
    assert(lo > java.sql.Timestamp.valueOf("2000-01-01 00:00:00").getTime,
      s"events min ts is ${row.getTimestamp(0)} — epoch-1970 smell, decode scale wrong")
  }

  test("staged events dir tracks fixture regeneration (no stale serve)") {
    // Simulate the round-6 event: same fixture path, new bytes. The
    // staging layer must key the staged copy on the file's generation
    // (mtime+size), never hand back the previous generation's dir.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    val tmp = Files.createTempDirectory("canary-regen")
    val fixture = tmp.resolve("events.parquet")
    Files.copy(Paths.get(s"$sf0001/events.parquet"), fixture,
      StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(fixture, FileTime.fromMillis(1000000000000L))
    val gen1 = graft.streaming.Streams.stagedTableDir(fixture.toString)
    // "regenerate": rewrite the file with a different mtime (content
    // identity is irrelevant to the key — any rewrite must re-stage)
    Files.setLastModifiedTime(fixture, FileTime.fromMillis(2000000000000L))
    val gen2 = graft.streaming.Streams.stagedTableDir(fixture.toString)
    assert(gen1 != gen2,
      s"staging served the stale pre-regeneration dir $gen1")
    // and the staged entry resolves to the live fixture bytes
    val staged = Paths.get(gen2).resolve("events.parquet")
    assert(Files.exists(staged))
    assert(Files.size(staged) == Files.size(fixture))

    // a batch artifact follows the same rule: scan_csv's staged CSV copy
    // of customer is written once per generation, reused while the
    // fixture is unchanged, and written again after it changes
    val customer = tmp.resolve("customer.parquet")
    Files.copy(Paths.get(s"$sf0001/customer.parquet"), customer)
    def csvStages(): Int = {
      val listing = Files.list(Paths.get(Scratch.runRoot))
      try listing.iterator().asScala.count(_.getFileName.toString.startsWith("stage-csv-"))
      finally listing.close()
    }
    def scanCsv() = SparkEntry.queries("scan_csv")(spark, tmp.toString).collect().toSeq
    val before = csvStages()
    val rows1 = scanCsv()
    assert(csvStages() == before + 1)
    assert(scanCsv() == rows1 && csvStages() == before + 1,
      "an unchanged fixture must reuse its staged copy")
    Files.setLastModifiedTime(customer, FileTime.fromMillis(2000000000000L))
    assert(scanCsv() == rows1)
    assert(csvStages() == before + 2,
      "a regenerated fixture must be staged again")
  }

  test("streaming eventsStream decodes the same time axis as batch") {
    import org.apache.spark.sql.streaming.OutputMode
    val decoded = graft.streaming.Streams.runToMemory(
      graft.streaming.Streams.eventsStream(spark, sf0001)
        .groupBy().agg(min("ts").as("lo"), max("ts").as("hi")),
      OutputMode.Complete())
    val Array(srow) = decoded.collect()
    val Array(brow) = Catalog.table(spark, sf0001, "events")
      .agg(min("ts"), max("ts")).collect()
    assert(srow.getTimestamp(0) == brow.getTimestamp(0) &&
      srow.getTimestamp(1) == brow.getTimestamp(1),
      s"stream span (${srow.getTimestamp(0)}..${srow.getTimestamp(1)}) != " +
        s"batch span (${brow.getTimestamp(0)}..${brow.getTimestamp(1)})")
  }
}
