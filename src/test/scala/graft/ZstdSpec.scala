package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Zstd

class ZstdSpec extends AnyFunSuite with WalkerFuzz {

  test("XXH64 matches Spark's catalyst implementation") {
    // the independent cross-check the checksum ladder rests on: our
    // from-spec XXH64 against the one Spark's xxhash64 expression uses
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    val rng = new scala.util.Random(8878)
    for (trial <- 0 until 200) {
      val n = rng.nextInt(200)
      val b = Array.fill(n)(rng.nextInt(256).toByte)
      val seed = if (trial % 3 == 0) 0L else rng.nextLong()
      val ours = Zstd.xxh64(b, 0, n, seed)
      val spark = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET,
        n, seed)
      assert(ours == spark, s"trial $trial n=$n seed=$seed")
    }
  }

  test("closed-form streams walk to the oracle fields") {
    for (d <- 0L until 100L) {
      val m = Zstd.walk(Zstd.synth(d))
      val nf = (1 + d % 3).toInt
      assert(m.nFrames == nf, s"d=$d")
      assert(m.nSkippable ==
        (if (d % 4 == 0 && d % 3 >= 1) 1 else 0), s"d=$d skip")
      assert(m.checksummed == (if (d % 2 == 0) nf else 0))
      assert(m.dictId == (if (d % 5 == 0) (d % 100000) + 1 else -1L))
      var blocks = 0
      var rle = 0
      var bytesTotal = 0L
      var sum = 0L
      (0 until nf).foreach { j =>
        val nb = (2 + (d + j) % 3).toInt
        (0 until nb).foreach { k =>
          blocks += 1
          if ((d + j + k) % 2 == 0) {
            val len = (20 + (7 * d + 13 * k) % 100).toInt
            bytesTotal += len
            (0 until len).foreach(p => sum += (d + 31 * j + 17 * k + p) % 251)
          } else {
            rle += 1
            val len = (10 + (d + k) % 50).toInt
            bytesTotal += len
            sum += len * ((d + j + k) % 251)
          }
        }
      }
      assert(m.nBlocks == blocks && m.nRleBlocks == rle)
      assert(m.contentBytes == bytesTotal && m.contentSum == sum)
    }
  }

  test("both integrity ladders fail loudly") {
    // checksum: flip a content byte in an even-id (checksummed) stream
    val good = Zstd.synth(2L)
    val bad = good.clone()
    // the first raw block's bytes start after magic(4)+fhd(1)+
    // window(0/1)+fcs+blockhdr(3); flip deep inside the stream instead
    bad(bad.length - 10) = (bad(bad.length - 10) ^ 0x55).toByte
    intercept[IllegalArgumentException](Zstd.walk(bad))
    // a raw block relabeled btype=2 is now DECODED as a compressed
    // block (the r15 boundary fell) — its bytes are not a valid
    // literals+sequences body, so the walk still fails loudly
    val frame = Zstd.synth(1L).clone()
    val hdrAt = 4 + 1 + 1
    frame(hdrAt) = ((frame(hdrAt) & ~0x06) | 0x04).toByte
    intercept[RuntimeException](Zstd.walk(frame))
  }

  test("compressed-block fixture walks to the closed forms") {
    for (d <- 0L until 40L) {
      val m = Zstd.walk(Zstd.synthCompressed(d))
      val nf = Zstd.cFrames(d)
      assert(m.nFrames == nf && m.nSkippable == 0, s"d=$d frames")
      assert(m.nBlocks == 2 * nf && m.nCompressedBlocks == 2 * nf,
        s"d=$d blocks")
      assert(m.nSequences == 4 * nf, s"d=$d seqs")
      assert(m.checksummed == nf, s"d=$d checksums")
      var bytes = 0L; var sum = 0L
      for (j <- 0 until nf; k <- 0 until 2) {
        val v = Zstd.cV(d, j, k); val l1 = Zstd.cL1(d, j, k)
        val ml1 = Zstd.cMl1(d, j, k); val lt1 = Zstd.cLT1(d, j)
        val ml2 = Zstd.cMl2(d, j, k); val lt2 = Zstd.cLT2(d, j, k)
        val m2 = Zstd.cM2(d, j, k)
        bytes += l1 + ml1 + lt1 + ml2 + lt2
        sum += (l1 + ml1).toLong * v
        (l1 until l1 + lt1).foreach(p => sum += Zstd.cTail(d, j, k, p))
        sum += ml2.toLong * (if (m2 == 2) Zstd.cTail(d, j, k, l1 + lt1 - 1)
          else v)
        (l1 + lt1 until l1 + lt1 + lt2).foreach(p =>
          sum += Zstd.cTail(d, j, k, p))
      }
      assert(m.contentBytes == bytes, s"d=$d content bytes")
      assert(m.contentSum == sum, s"d=$d content sum")
    }
  }

  test("the reference codec decompresses our compressed streams " +
      "byte-exactly") {
    // from-spec ENCODER conformance: zstd-jni (the codec Spark itself
    // bundles) must read every fixture layout rotation — Huffman
    // direct weights (uniform + skewed, 1- and 4-stream), raw and
    // Treeless literals, predefined / FSE_Compressed / OF-RLE /
    // Repeat sequence modes, explicit and repeat offsets
    for (d <- 0L until 30L) {
      val stream = Zstd.synthCompressed(d)
      val mine = Zstd.decompress(stream)
      val ref = new java.io.ByteArrayOutputStream()
      val in = new com.github.luben.zstd.ZstdInputStream(
        new java.io.ByteArrayInputStream(stream))
      in.setContinuous(true)
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n > 0) { ref.write(buf, 0, n); n = in.read(buf) }
      in.close()
      assert(java.util.Arrays.equals(mine, ref.toByteArray),
        s"d=$d: reference codec disagrees with our decoder on our encoder")
    }
  }

  test("our decoder decompresses reference-compressed data byte-exactly") {
    // decoder conformance the other direction: real zstd output at
    // levels that exercise predefined tables (low), FSE-compressed
    // tables + 4-stream literals (high), RLE, and repeat offsets
    val rng = new scala.util.Random(1588)
    val inputs = Seq(
      ("repetitive", Array.tabulate(50000)(i =>
        ("the quick brown zstd fox " + (i / 100)).getBytes("UTF-8")
          .apply(i % 20))),
      ("structured", Array.tabulate(120000)(i => ((i % 251) ^ (i / 997)).toByte)),
      ("lowentropy", Array.tabulate(80000)(i =>
        (if (i % 7 == 0) rng.nextInt(4) else 65 + (i / 1000) % 4).toByte)),
      ("tiny", "abcabcabcabc".getBytes("UTF-8")),
      ("rle", Array.fill(30000)(7.toByte)))
    for ((name, input) <- inputs; level <- Seq(1, 3, 9, 19)) {
      val comp = com.github.luben.zstd.Zstd.compress(input, level)
      val mine = Zstd.decompress(comp)
      assert(java.util.Arrays.equals(mine, input),
        s"$name@$level: decode mismatch (${mine.length} vs ${input.length})")
      // and the hardened walk agrees on the integrity ladders
      val m = Zstd.walk(comp)
      assert(m.contentBytes == input.length, s"$name@$level walk bytes")
    }
  }

  test("the repeated-text frame round-trips and the reference codec " +
      "reads it") {
    for (d <- 0L until 15L) {
      val base = s"the quick data lake row r${d % 10} ".getBytes("UTF-8")
      val reps = (2 + d % 4).toInt
      val stream = Zstd.synthRepeated(base, reps)
      val mine = Zstd.decompress(stream)
      assert(mine.length == base.length * reps, s"d=$d length")
      (0 until reps).foreach(i => assert(java.util.Arrays.equals(
        java.util.Arrays.copyOfRange(mine, i * base.length,
          (i + 1) * base.length), base), s"d=$d rep $i"))
      val ref = com.github.luben.zstd.Zstd.decompress(stream, mine.length)
      assert(java.util.Arrays.equals(ref, mine), s"d=$d reference")
      Zstd.walk(stream) // integrity ladders (FCS + XXH64) hold
    }
  }



  // ------------------------------------------------------ dictionaries

  test("dict-fed frames walk to the closed forms through all three " +
      "inheritance channels") {
    for (d <- 0L until 40L) {
      val m = Zstd.walk(Zstd.synthDictFrame(d), Zstd.synthDict(d))
      assert(m.dictId == Zstd.dictIdOf(d), s"d=$d dict id")
      assert(m.nFrames == 1 && m.nBlocks == 1 && m.nCompressedBlocks == 1)
      assert(m.nSequences == 2, s"d=$d sequences")
      assert(m.checksummed == 1, s"d=$d checksum verified")
      val fc = Zstd.dictFrameContent(d)
      assert(m.contentBytes == fc.length, s"d=$d content bytes")
      assert(m.contentSum == fc.map(_ & 0xff).map(_.toLong).sum,
        s"d=$d content sum")
      // decompress returns the frame content WITHOUT the dictionary
      // history prefix
      assert(java.util.Arrays.equals(
        Zstd.decompress(Zstd.synthDictFrame(d), Zstd.synthDict(d)), fc),
        s"d=$d decompressed bytes")
    }
  }

  test("SHARED-dictionary frames: many docs decode against one shard " +
      "dictionary, parsed once") {
    // the r18 table-level-dictionary shape: frames for docs d in one
    // shard g share dictionary g; the parsed handle is reused across
    // all of them and every (d, g) pair walks to its closed forms
    for (g <- 0L until 4L) {
      val pd = Zstd.parseDictionary(Zstd.synthDict(g))
      for (off <- 0L until 8L) {
        val d = g * 64 + off * 7 // varied docs inside the shard
        val m = Zstd.walk(Zstd.synthSharedDictFrame(d, g), pd)
        assert(m.dictId == Zstd.dictIdOf(g), s"d=$d g=$g dict id")
        assert(m.nSequences == 2 && m.checksummed == 1, s"d=$d g=$g")
        val fc = Zstd.sharedDictFrameContent(d, g)
        assert(m.contentBytes == fc.length, s"d=$d g=$g content bytes")
        assert(m.contentSum == fc.map(_ & 0xff).map(_.toLong).sum,
          s"d=$d g=$g content sum")
      }
    }
    // the g == d diagonal degenerates to the per-doc twin exactly
    for (d <- 0L until 10L)
      assert(java.util.Arrays.equals(
        Zstd.synthSharedDictFrame(d, d), Zstd.synthDictFrame(d)),
        s"d=$d shared(d, d) != per-doc frame")
  }

  test("the reference codec decompresses our SHARED-dictionary frames " +
      "byte-exactly") {
    for (g <- 0L until 3L; off <- 0L until 5L) {
      val d = g * 64 + off * 11
      val dict = Zstd.synthDict(g)
      val stream = Zstd.synthSharedDictFrame(d, g)
      val fc = Zstd.sharedDictFrameContent(d, g)
      val dst = new Array[Byte](fc.length)
      val n = com.github.luben.zstd.Zstd.decompressUsingDict(
        dst, 0, stream, 0, stream.length, dict)
      assert(!com.github.luben.zstd.Zstd.isError(n),
        s"d=$d g=$g reference codec error: " +
          com.github.luben.zstd.Zstd.getErrorName(n))
      assert(n == fc.length && java.util.Arrays.equals(dst, fc),
        s"d=$d g=$g reference codec disagrees on our shared-dict frame")
    }
  }

  test("the reference codec decompresses our dict-fed frames with our " +
      "from-spec dictionary byte-exactly") {
    for (d <- 0L until 25L) {
      val dict = Zstd.synthDict(d)
      // the reference codec parses our structured dictionary: id first
      assert(com.github.luben.zstd.Zstd.getDictIdFromDict(dict)
        == Zstd.dictIdOf(d), s"d=$d reference codec reads our dict id")
      val stream = Zstd.synthDictFrame(d)
      val fc = Zstd.dictFrameContent(d)
      val dst = new Array[Byte](fc.length)
      val n = com.github.luben.zstd.Zstd.decompressUsingDict(
        dst, 0, stream, 0, stream.length, dict)
      assert(!com.github.luben.zstd.Zstd.isError(n),
        s"d=$d reference codec error: " +
          com.github.luben.zstd.Zstd.getErrorName(n))
      assert(n == fc.length && java.util.Arrays.equals(dst, fc),
        s"d=$d reference codec disagrees on our dict-fed frame")
    }
  }

  test("our decoder reads reference-compressed data under a REAL " +
      "trained dictionary byte-exactly") {
    // ZDICT-trained dictionary (zstd-jni bundles the trainer): 256-
    // symbol Huffman table with FSE-compressed weights, trained FSE
    // tables — the heaviest real-world shape our parseDict must load
    val trainer = new com.github.luben.zstd.ZstdDictTrainer(1 << 20, 4096)
    val docs = (0 until 400).map { i =>
      (s"log line user=${i % 13} action=click path=/p/${i % 7} " +
        s"status=${200 + (i % 3)} latency=${i % 97}ms").getBytes("UTF-8")
    }
    docs.foreach(s => trainer.addSample(s))
    val dict = trainer.trainSamples()
    assert(com.github.luben.zstd.Zstd.getDictIdFromDict(dict) != 0)
    for (i <- 0 until 40; level <- Seq(1, 3, 9, 19)) {
      val input = docs(i * 7 % docs.length)
      val comp = com.github.luben.zstd.Zstd.compressUsingDict(
        input, dict, level)
      val mine = Zstd.decompress(comp, dict)
      assert(java.util.Arrays.equals(mine, input),
        s"doc $i level $level: trained-dict decode mismatch")
      val m = Zstd.walk(comp, dict)
      assert(m.contentBytes == input.length, s"doc $i level $level walk")
    }
  }

  test("our decoder reads reference-compressed data under a raw " +
      "content-only dictionary byte-exactly") {
    // rawContent mode: window history only, default tables and
    // {1,4,8} offsets — the other dictionary flavor the reference
    // codec auto-detects by the missing magic
    val rawDict = Array.tabulate(2000)(i => ((i * 31 + 7) % 251).toByte)
    for (d <- 0 until 10; level <- Seq(1, 3, 19)) {
      val input = Array.tabulate(600)(i =>
        rawDict((i * 13 + d * 101) % rawDict.length))
      val comp = com.github.luben.zstd.Zstd.compressUsingDict(
        input, rawDict, level)
      val mine = Zstd.decompress(comp, rawDict)
      assert(java.util.Arrays.equals(mine, input),
        s"d=$d level $level: raw-dict decode mismatch")
    }
  }

  test("dict-fed compressed blocks without the dictionary are rejected " +
      "by name, and a wrong dictionary is refused") {
    val e1 = intercept[IllegalArgumentException](
      Zstd.walk(Zstd.synthDictFrame(3L)))
    assert(e1.getMessage.contains("need their dictionary"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Zstd.decompress(Zstd.synthDictFrame(3L)))
    assert(e2.getMessage.contains("need their dictionary"), e2.getMessage)
    // dictIdOf(3) != dictIdOf(4): the id cross-check fires by name
    val e3 = intercept[IllegalArgumentException](
      Zstd.walk(Zstd.synthDictFrame(3L), Zstd.synthDict(4L)))
    assert(e3.getMessage.contains("but dictionary"), e3.getMessage)
  }

  test("a match offset beyond the DECLARED window is rejected — and the " +
      "reference codec agrees") {
    // the frame is structurally valid and the in-memory decoder holds
    // the full history; only the RFC 8878 §3.1.1.1.2 declared-window
    // rule makes it corrupt. Both our walk and decompress refuse, and
    // the reference codec rejects the same bytes.
    val bad = Zstd.synthOverWindowFrame()
    val e1 = intercept[IllegalArgumentException](Zstd.walk(bad))
    assert(e1.getMessage.contains("exceeds the declared"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](Zstd.decompress(bad))
    assert(e2.getMessage.contains("exceeds the declared"), e2.getMessage)
    val refRejects =
      try {
        val dst = new Array[Byte](4096)
        val n = com.github.luben.zstd.Zstd.decompress(dst, bad)
        com.github.luben.zstd.Zstd.isError(n)
      } catch { case _: com.github.luben.zstd.ZstdException => true }
    assert(refRejects,
      "reference codec accepted an over-window offset our walk rejects")
  }

  test("a declared window beyond the in-memory bound is rejected by name") {
    // patch a fixture frame's window descriptor (offset 5: magic 4 +
    // fhd 1) to exponent 31 → wlog 41
    val b = Zstd.synthCompressed(1L).clone()
    b(5) = 0xF8.toByte
    val e = intercept[IllegalArgumentException](Zstd.walk(b))
    assert(e.getMessage.contains("in-memory walk bound"), e.getMessage)
  }

  test("a crafted oversized skippable frame cannot loop decompress") {
    // size >= 2^31 went negative under .toInt and moved pos BACKWARD
    // (the r16 ADVICE) — both entry points must fail loudly instead
    val b = new Array[Byte](16)
    // skippable magic 0x184D2A50 LE
    b(0) = 0x50; b(1) = 0x2A; b(2) = 0x4D; b(3) = 0x18
    // declared size 0xFFFFFFF0
    b(4) = 0xF0.toByte; b(5) = 0xFF.toByte
    b(6) = 0xFF.toByte; b(7) = 0xFF.toByte
    val e1 = intercept[IllegalArgumentException](Zstd.decompress(b))
    assert(e1.getMessage.contains("overruns"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](Zstd.walk(b))
    assert(e2.getMessage.contains("overruns"), e2.getMessage)
  }

  // even trials corrupt the dictionary, odd trials the frame
  fuzzTest(Row("dictionary parsing and dict-fed walk terminate loudly " +
    "under random corruption", 17017, 200, 4, Seq(Case("zstd-dict",
      t => if (t % 2 == 0) Zstd.synthDict((t % 11).toLong)
           else Zstd.synthDictFrame((t % 11).toLong),
      { (t, b) =>
        val d = (t % 11).toLong
        if (t % 2 == 0) Zstd.walk(Zstd.synthDictFrame(d), b)
        else Zstd.walk(b, Zstd.synthDict(d))
      }))))
}
