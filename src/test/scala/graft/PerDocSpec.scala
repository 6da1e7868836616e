package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.operators.{Multimodal, PerDoc}

/** The one walk every per-document operator produces rows through. */
class PerDocSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("k", IntegerType, nullable = false),
    StructField("note", StringType)))

  private def ids = spark.range(9).toDF("doc_id")

  test("a walk emitting 0, 1 and 3 rows per id returns exactly those rows") {
    def emit(d: Long): Seq[Row] = (d % 3) match {
      case 0 => Nil
      case 1 => Seq(Row(d, 0, null))
      case _ => (0 until 3).map(k => Row(d, k, s"d$d"))
    }
    def key(r: Row) = (r.getLong(0), r.getInt(1), Option(r.getString(2)))
    val got = PerDoc.walk(ids, schema)(emit).collect().map(key).sorted.toSeq
    val want = (0L until 9L).flatMap(emit).map(key).sorted
    assert(got == want)
    assert(got.length == 12)
  }

  test("the output schema keeps its names, types and nullability") {
    val walked = PerDoc.walk(ids, schema)(d => Iterator.single(Row(d, 1, "x")))
    assert(walked.schema == schema)
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(7L, Row(Array[Byte](1, 2, 3), "application/octet-stream",
          Map.empty[String, String])))),
      StructType(Seq(StructField("id", LongType),
        StructField("media", Multimodal.mediaType))))
    val lengths = PerDoc.walkMedia(media, schema) { (d, bytes) =>
      Iterator.single(Row(d, bytes.length, null))
    }
    assert(lengths.schema == schema)
    assert(lengths.collect().toSeq == Seq(Row(7L, 3, null)))
  }

  test("a walk over a stream of ids returns the batch walk's rows") {
    import org.apache.spark.sql.streaming.OutputMode
    import graft.sources.Catalog
    import graft.streaming.Streams
    def walked(ids: org.apache.spark.sql.DataFrame) =
      PerDoc.walk(ids, schema) { d =>
        (0 until (d % 3).toInt).map(k => Row(d, k, s"d$d"))
      }
    def key(r: Row) = (r.getLong(0), r.getInt(1), r.getString(2))
    val batch = walked(Catalog.fixtureDocIds(spark, sf0001)).collect()
    val streamed = Streams.runToMemory(
      walked(Catalog.fixtureDocIdStream(spark, sf0001)), OutputMode.Append())
    assert(streamed.schema == schema)
    assert(streamed.collect().map(key).sorted.toSeq ==
      batch.map(key).sorted.toSeq)
    assert(batch.nonEmpty)
  }

  test("a walk chained on a walk-built media frame reads it by position") {
    // the synthMedia shape: a walk emits (id, media struct); the walks
    // that read it get those schemaless Rows, with no serializer between
    val mediaSchema = StructType(Seq(StructField("id", LongType),
      StructField("media", Multimodal.mediaType)))
    val media = PerDoc.walk(ids, mediaSchema) { d =>
      Iterator.single(Row(d, Row(Array.fill(d.toInt)(7.toByte),
        "application/octet-stream", Map("k" -> "v"))))
    }
    def lengths(df: org.apache.spark.sql.DataFrame) =
      PerDoc.walkMedia(df, schema) { (d, bytes) =>
        Iterator.single(Row(d, bytes.length, null))
      }.collect().map(r => r.getLong(0) -> r.getInt(1)).sorted.toSeq
    assert(lengths(media) == (0L until 9L).map(d => d -> d.toInt))
    // resize reads mime and meta by position too
    assert(lengths(Multimodal.resize(media, 4)) ==
      (0L until 9L).map(_ -> 4))
  }

  test("a walker's IllegalArgumentException reaches the caller when forced") {
    val walked = PerDoc.walk(ids, schema) { d =>
      require(d != 4, s"walker: doc $d is corrupt")
      Iterator.single(Row(d, 0, null))
    }
    // construction is lazy; forcing runs the walker on the executors
    val e = intercept[SparkException](Harness.force(walked))
    assert(e.getMessage.contains(
      "IllegalArgumentException: requirement failed: walker: doc 4 is corrupt"))
  }

  test("a frame without a bigint id in column 0 is rejected up front") {
    val e = intercept[IllegalArgumentException](
      PerDoc.walk(ids.selectExpr("cast(doc_id AS string) AS s"), schema)(
        d => Iterator.single(Row(d, 0, null))))
    assert(e.getMessage.contains("bigint id in column 0"))
  }
}
