package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.sources.Catalog

/** Multimodal column plumbing (SURVEY.md §2.11): the codecs are
  * documented stubs, but the schema, batch shape, fan-out, and
  * metadata contracts are real and pinned here.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def media() =
    Multimodal.asMedia(
      Catalog.table(spark, sf0001, "documents").limit(20),
      "doc_id", "text", Seq("lang"))

  test("doc dispatch routes by declared mime and is loud on unknown") {
    val mixed = Multimodal.synthMixedDocsMedia(
      Catalog.table(spark, sf0001, "documents").limit(30)
        .select("doc_id"))
    val out = Multimodal.docDispatchFeatures(mixed)
      .select("id", "format").as[(Long, String)].collect().toMap
    assert(out.size == 30)
    out.foreach { case (id, fmt) =>
      val want = (id % 3) match {
        case 0 => "html"; case 1 => "markdown"; case _ => "pdf"
      }
      assert(fmt == want, s"id=$id")
    }
    // an undeclared mime must fail the job loudly, not guess
    val bogus = mixed.withColumn("media",
      struct(col("media.bytes").as("bytes"),
        lit("application/octet-stream").as("mime"),
        col("media.meta").as("meta")))
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.docDispatchFeatures(bogus).count()
    }
    assert(e.getMessage != null)
  }

  test("resize emits exactly targetBytes per payload and keeps meta") {
    val out = Multimodal.resize(media(), 64)
    val rows = out.select(col("id"),
        length(col("media.bytes")).as("n"),
        col("media.meta")("orig_bytes").as("orig"))
      .as[(Long, Int, String)].collect()
    assert(rows.length == 20)
    assert(rows.forall(_._2 == 64))
    assert(rows.forall(_._3.toInt > 0))
  }

  test("resize is deterministic (same payload -> same bytes)") {
    val a = Multimodal.resize(media(), 32)
      .select(col("id"), md5(col("media.bytes")).as("h"))
      .as[(Long, String)].collect().toMap
    val b = Multimodal.resize(media(), 32)
      .select(col("id"), md5(col("media.bytes")).as("h"))
      .as[(Long, String)].collect().toMap
    assert(a == b)
  }

  test("frameSample fans out to exactly F frames that reassemble the payload") {
    val out = Multimodal.frameSample(media(), 4)
    val n = out.groupBy("id").agg(count(lit(1)).as("f"))
      .select("f").as[Long].collect()
    assert(n.forall(_ == 4L))
    // Concatenating the frames in order restores the original bytes.
    val restored = out
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("frame_idx"), col("frame.bytes").as("b"))))
        .as("fs"))
      .select(col("id"),
        md5(concat(col("fs")(0)("b"), col("fs")(1)("b"),
          col("fs")(2)("b"), col("fs")(3)("b"))).as("h"))
      .as[(Long, String)].collect().toMap
    val orig = media()
      .select(col("doc_id"), md5(col("media.bytes")).as("h"))
      .as[(Long, String)].collect().toMap
    assert(restored == orig)
  }

  test("frame metadata records the frame index") {
    val out = Multimodal.frameSample(media(), 2)
      .select(col("frame_idx"), col("frame.meta")("frame").as("m"))
      .as[(Int, String)].collect()
    assert(out.forall { case (i, m) => m == i.toString })
  }
}
