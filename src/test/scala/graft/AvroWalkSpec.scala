package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.AvroWalk

class AvroWalkSpec extends AnyFunSuite {

  test("closed-form fixture parses to the oracle's exact fields") {
    for (d <- 0L to 60L) {
      val recs = AvroWalk.parse(AvroWalk.synth(d))
      var i = 0
      (0 until AvroWalk.blocks(d)).foreach { b =>
        (0 until AvroWalk.recsIn(d, b)).foreach { r =>
          val a = recs(i)
          assert(a.blockIdx == b && a.recIdx == r, s"d=$d i=$i")
          assert(a.recId == 100 * d + 10 * b + r, s"d=$d b=$b r=$r")
          assert(a.name == s"n${(d + b + r) % 13}", s"d=$d b=$b r=$r")
          assert(a.score == (d % 7) + r / 4.0, s"d=$d b=$b r=$r")
          i += 1
        }
      }
      assert(i == recs.length, s"d=$d")
    }
    // both codecs fire: even = null, odd = deflate
    assert((0L to 10L).exists(_ % 2 == 0) && (0L to 10L).exists(_ % 2 == 1))
  }

  test("the BUNDLED org.apache.avro reader decodes our containers " +
      "(and our walk decodes its)") {
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericDatumReader,
      GenericDatumWriter, GenericRecord}
    import org.apache.avro.file.{CodecFactory, DataFileStream,
      DataFileWriter}
    val schema = new Schema.Parser().parse(AvroWalk.FixtureSchemaJson)
    // our bytes → library reader
    for (d <- Seq(2L, 3L, 7L, 10L)) {
      val in = new DataFileStream[GenericRecord](
        new java.io.ByteArrayInputStream(AvroWalk.synth(d)),
        new GenericDatumReader[GenericRecord](schema))
      val mine = AvroWalk.parse(AvroWalk.synth(d))
      var i = 0
      while (in.hasNext) {
        val rec = in.next()
        assert(rec.get("rec_id").asInstanceOf[Long] == mine(i).recId,
          s"d=$d i=$i")
        assert(rec.get("name").toString == mine(i).name, s"d=$d i=$i")
        assert(rec.get("score").asInstanceOf[Double] == mine(i).score,
          s"d=$d i=$i")
        i += 1
      }
      assert(i == mine.length, s"d=$d record counts diverge")
      in.close()
    }
    // library bytes (deflate codec, its own block layout) → our walk
    val out = new java.io.ByteArrayOutputStream()
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.setCodec(CodecFactory.deflateCodec(6))
    w.create(schema, out)
    (0 until 7).foreach { r =>
      val rec = new GenericData.Record(schema)
      rec.put("rec_id", 500L + r)
      rec.put("name", s"lib$r")
      rec.put("score", r / 4.0)
      w.append(rec)
    }
    w.close()
    val mine = AvroWalk.parse(out.toByteArray)
    assert(mine.length == 7)
    mine.zipWithIndex.foreach { case (a, r) =>
      assert(a.recId == 500L + r && a.name == s"lib$r" &&
        a.score == r / 4.0, s"r=$r")
    }
  }

  test("malformed containers fail loudly by name") {
    val good = AvroWalk.synth(3L) // deflate doc
    // bad magic
    val b1 = good.clone(); b1(0) = 'X'
    val e1 = intercept[IllegalArgumentException](AvroWalk.parse(b1))
    assert(e1.getMessage.contains("magic"), e1.getMessage)
    // flipped sync marker on the first block: find the 16-byte sync
    // right after the metadata terminator — easier: flip the LAST 16
    // bytes (the final block's trailing sync)
    val b2 = good.clone()
    b2(b2.length - 3) = (b2(b2.length - 3) ^ 0x7f).toByte
    val e2 = intercept[IllegalArgumentException](AvroWalk.parse(b2))
    assert(e2.getMessage.contains("sync"), e2.getMessage)
    // foreign schema is refused by name, not guessed at
    val alien = ("""{"type":"record","name":"Other","fields":""" +
      """[{"name":"x","type":"int"}]}""").getBytes("UTF-8")
    val out = new java.io.ByteArrayOutputStream()
    out.write('O'); out.write('b'); out.write('j'); out.write(1)
    def vint(v: Long): Unit = {
      var z = (v << 1) ^ (v >> 63)
      while ((z & ~0x7fL) != 0) { out.write(((z & 0x7f) | 0x80).toInt); z >>>= 7 }
      out.write(z.toInt)
    }
    vint(1)
    val k = "avro.schema".getBytes("UTF-8")
    vint(k.length.toLong); out.write(k, 0, k.length)
    vint(alien.length.toLong); out.write(alien, 0, alien.length)
    vint(0)
    out.write(new Array[Byte](16), 0, 16)
    val e3 = intercept[IllegalArgumentException](
      AvroWalk.parse(out.toByteArray))
    assert(e3.getMessage.contains("decode subset"), e3.getMessage)
  }

}
