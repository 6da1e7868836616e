package graft

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import graft.operators.ParquetFooter

/** Footer-walk tests: the from-scratch Thrift compact-protocol parse
  * is cross-checked field by field against the BUNDLED org.apache
  * .parquet reader (the Avro-row discipline applied to the lake
  * format), on both writer lineages available here — the
  * parquet-cpp-arrow fixture files and a parquet-mr file written by
  * Spark itself in this suite. */
class ParquetFooterSpec extends SparkSpec {

  private def reference(path: String) = {
    val r = ParquetFileReader.open(
      new LocalInputFile(java.nio.file.Paths.get(path)))
    try r.getFooter finally r.close()
  }

  test("fixture footers match the bundled parquet-hadoop reader") {
    for (t <- Seq("nation", "events", "documents", "embeddings")) {
      val path = s"$sf0001/$t.parquet"
      val mine = ParquetFooter.walkFile(path)
      val ref = reference(path)
      assert(mine.numRows ==
        ref.getBlocks.asScala().map(_.getRowCount).sum, s"$t rows")
      assert(mine.nRowGroups == ref.getBlocks.size(), s"$t row groups")
      assert(mine.createdBy == ref.getFileMetaData.getCreatedBy, s"$t writer")
      val refChunks = ref.getBlocks.asScala().flatMap(_.getColumns.asScala())
      assert(mine.chunks.size == refChunks.size, s"$t chunk count")
      mine.chunks.zip(refChunks).foreach { case (m, r) =>
        assert(m.colPath == r.getPath.toDotString, s"$t path")
        assert(m.numValues == r.getValueCount, s"$t ${m.colPath} values")
        assert(m.totalCompressed == r.getTotalSize,
          s"$t ${m.colPath} compressed")
        assert(m.totalUncompressed == r.getTotalUncompressedSize,
          s"$t ${m.colPath} uncompressed")
        assert(m.codec == r.getCodec.name, s"$t ${m.colPath} codec")
        assert(m.nullCount == r.getStatistics.getNumNulls,
          s"$t ${m.colPath} nulls")
        assert(m.dataPageOffset == r.getFirstDataPageOffset,
          s"$t ${m.colPath} data offset")
      }
    }
  }

  test("int and string stats decode to the true column extremes") {
    val m = ParquetFooter.walkFile(s"$sf0001/nation.parquet")
    val byPath = m.chunks.map(c => c.colPath -> c).toMap
    assert(byPath("n_nationkey").ptype == "INT32")
    assert(byPath("n_nationkey").minStr == "0")
    assert(byPath("n_name").ptype == "BYTE_ARRAY")
    assert(byPath("n_name").minStr == "NATION_0")
    assert(byPath("n_name").maxStr == "NATION_9")
  }

  test("nested list path and timestamp annotation are resolved") {
    val emb = ParquetFooter.walkFile(s"$sf0001/embeddings.parquet")
    val leaf = emb.chunks.find(_.colPath == "embedding.list.element")
    assert(leaf.isDefined, emb.chunks.map(_.colPath).mkString(","))
    assert(leaf.get.ptype == "FLOAT")
    assert(leaf.get.minStr == null) // floats: rendering not canonical
    val ev = ParquetFooter.walkFile(s"$sf0001/events.parquet")
    val byPath = ev.chunks.map(c => c.colPath -> c).toMap
    assert(byPath("ts").isTimestamp && byPath("ts").ptype == "INT64")
    assert(!byPath("event_id").isTimestamp)
    // micros render as integers; the oracle compares via epoch_us
    assert(byPath("ts").minStr.forall(_.isDigit))
  }

  test("a Spark-written (parquet-mr lineage) file walks identically") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-footer").toString
    Seq((1L, "a", 2.5), (2L, "b", 3.5), (3L, null: String, 4.5))
      .toDF("k", "s", "v").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")).head
    val mine = ParquetFooter.walkFile(file)
    val ref = reference(file)
    assert(mine.numRows == 3 && mine.nRowGroups == 1)
    assert(mine.createdBy == ref.getFileMetaData.getCreatedBy)
    val byPath = mine.chunks.map(c => c.colPath -> c).toMap
    assert(byPath("k").minStr == "1" && byPath("k").maxStr == "3")
    assert(byPath("s").nullCount == 1)
    assert(byPath("s").minStr == "a" && byPath("s").maxStr == "b")
    assert(byPath("v").minStr == null) // doubles stay un-rendered
    val refChunks = ref.getBlocks.asScala().flatMap(_.getColumns.asScala())
    mine.chunks.zip(refChunks).foreach { case (m, r) =>
      assert(m.colPath == r.getPath.toDotString)
      assert(m.numValues == r.getValueCount)
      assert(m.totalCompressed == r.getTotalSize)
    }
  }

  test("unknown-field skip consumes one byte per bool list element") {
    // compact list header: size 3 in the high nibble, elem type BOOL
    // TRUE (1) in the low — each element then occupies ONE byte
    // (0x01/0x02); a zero-width bool skip would desync here (ADVICE
    // r15). Trailing 0x7f is a sentinel that must NOT be consumed.
    val listBool = Array[Byte](0x31, 1, 2, 1, 0x7f)
    assert(ParquetFooter.skipValueForTest(listBool, 9) == 4) // TList
    // struct-FIELD bools still carry zero payload bytes: a struct of
    // one true field (header 0x11: delta 1, type bool-true) then stop
    val structBool = Array[Byte](0x11, 0, 0x7f)
    assert(ParquetFooter.skipValueForTest(structBool, 12) == 2) // TStruct
    // a bool list element outside 1/2 is a named failure, not a skip
    val bad = Array[Byte](0x31, 1, 5, 1)
    val e = intercept[IllegalArgumentException](
      ParquetFooter.skipValueForTest(bad, 9))
    assert(e.getMessage.contains("bool list element"), e.getMessage)
  }

  test("malformed files fail loudly") {
    val good = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$sf0001/nation.parquet"))
    def withBytes(b: Array[Byte])(f: String => Unit): Unit = {
      val p = java.nio.file.Files.createTempFile("graft-footer-bad", ".parquet")
      java.nio.file.Files.write(p, b)
      try f(p.toString)
      finally java.nio.file.Files.delete(p)
    }
    withBytes(good.take(good.length - 4)) { p =>
      assert(intercept[IllegalArgumentException](
        ParquetFooter.walkFile(p)).getMessage.contains("magic"))
    }
    withBytes("JUNKJUNKJUNKJUNK".getBytes) { p =>
      assert(intercept[IllegalArgumentException](
        ParquetFooter.walkFile(p)).getMessage.contains("magic"))
    }
    val hugeLen = good.clone()
    // footer length claims more bytes than the file holds
    hugeLen(good.length - 8) = -1
    hugeLen(good.length - 7) = -1
    hugeLen(good.length - 6) = -1
    hugeLen(good.length - 5) = 0x0f
    withBytes(hugeLen) { p =>
      assert(intercept[IllegalArgumentException](
        ParquetFooter.walkFile(p)).getMessage.contains("overruns"))
    }
  }


  // scala.jdk.CollectionConverters without the import-dance noise
  private implicit class JList[A](l: java.util.List[A]) {
    def asScala(): Seq[A] = {
      val b = Seq.newBuilder[A]
      (0 until l.size()).foreach(i => b += l.get(i))
      b.result()
    }
  }
}
