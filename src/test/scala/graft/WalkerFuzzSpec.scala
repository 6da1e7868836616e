package graft

import graft.operators._

/** The byte-mutation fuzz rows of every binary walker, and of the text
  * walkers over the UTF-8 bytes of their fixture; see [[WalkerFuzz]]
  * for the contract. The Codecs decoders' and Zstd dictionary rows live
  * in their own specs. */
class WalkerFuzzSpec extends SparkSpec with WalkerFuzz {

  /** The sf0.001 events file's footer region. */
  private lazy val parquetFooter: Array[Byte] = {
    val good = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"))
    val footerLen = Bin.u32le(good, good.length - 8, good.length).toInt
    java.util.Arrays.copyOfRange(good, good.length - 8 - footerLen,
      good.length - 8)
  }

  /** A text walker's row input: its fixture's UTF-8 bytes, mutated,
    * then decoded. */
  private def text(label: String, fixture: Int => String)(
      entry: String => Any): Seq[Case] =
    one(label, t => fixture(t).getBytes("UTF-8"))(
      b => entry(new String(b, "UTF-8")))

  private val rows: Seq[Row] = Seq(
    Row("Adts: walk terminates loudly under random corruption", 1357, 200,
      4, one("adts", t => Adts.synth((t % 13).toLong))(Adts.parse)),
    Row("ArrowIpc: walk terminates loudly under random corruption", 1818,
      250, 5, one("arrow", t => ArrowIpc.synth((t % 13).toLong))(
        ArrowIpc.walk)),
    Row("Avc: decoder terminates loudly under random corruption", 4242, 300,
      6, one("avc", t => Avc.synthIFrame((t % 11).toLong))(Avc.decodeIFrame)),
    Row("AvroWalk: parser terminates loudly under random corruption", 60660,
      300, 6, one("avro", t => AvroWalk.synth((t % 9).toLong))(
        AvroWalk.parse)),
    Row("Epub: parser terminates loudly under random corruption", 31337, 300,
      6, one("epub", t => Epub.synth((t % 9).toLong))(Epub.parse)),
    Row("Exif: parser terminates loudly under random corruption", 23, 300, 6,
      one("exif", t => Exif.synth((t % 8).toLong))(Exif.parse)),
    Row("Feed: parser terminates loudly under random corruption", 7001, 300,
      6, text("feed", t => Feed.synth((t % 9).toLong))(Feed.parse)),
    Row("Flac: parser terminates loudly under random corruption", 99, 300, 6,
      one("flac", t => Flac.synth((t % 7).toLong))(Flac.meta)),
    Row("Flac: frame decoder terminates loudly under random corruption",
      1234, 300, 6, one("flac-audio", t => Flac.synthAudio((t % 9).toLong))(
        Flac.decodeAudio)),
    Row("Fmp4: walk terminates loudly under random corruption", 4747, 200, 5,
      one("fmp4", t => Fmp4.synthFmp4Data((t % 13).toLong))(
        Fmp4.fragmentSamples)),
    Row("Gzip: walk terminates loudly under random corruption", 1952, 200, 4,
      one("gzip", t => Gzip.synth((t % 11).toLong))(Gzip.members)),
    Row("Hevc: hvcC walk terminates loudly under random corruption", 8181,
      200, 5, one("hvcc", t => Hevc.synthHevcMp4((t % 15).toLong))(
        Hevc.hvccMeta)),
    Row("Hevc: walk terminates loudly under random corruption", 6565, 300, 5,
      one("hevc", t => Hevc.synthHevcStream((t % 19).toLong))(Hevc.nalMeta)),
    Row("Icc: walk terminates loudly under random corruption", 1931, 200, 4,
      one("icc", t => Icc.synth((t % 13).toLong))(Icc.parse)),
    Row("Ico: walk terminates loudly under random corruption", 1337, 200, 4,
      one("ico", t => Ico.synth((t % 9).toLong))(Ico.entries)),
    Row("Id3: parser terminates loudly under random corruption", 17, 300, 6,
      one("id3", t => Id3.synth((t % 8).toLong))(Id3.parse)),
    Row("Mp3Side: parse terminates loudly under random corruption", 2417,
      200, 3, Seq(Case("mp3-side",
        t => Mp3Side.encode((t % 9).toLong, t % 4, 1 + t % 2),
        (t, b) => Mp3Side.parse(b, 0, 1 + t % 2)))),
    Row("Ogg: parser terminates loudly under random corruption", 4242, 300,
      6, one("ogg", t => Ogg.synth((t % 11).toLong))(Ogg.parse)),
    Row("ParquetFooter: footer parse terminates loudly under random " +
      "corruption", 1515, 200, 4,
      one("parquet-footer", _ => parquetFooter)(ParquetFooter.parseFooter)),
    Row("Pdf: parser terminates loudly under random corruption — never " +
      "hangs", 1234, 400, 8,
      one("pdf", t => Pdf.synthPdf((t % 9).toLong))(Pdf.extract),
      garbage = 100),
    Row("Proto: parser terminates loudly under random corruption", 515151,
      300, 4, one("proto", t => Proto.synth((t % 9).toLong))(Proto.parse)),
    Row("Sfnt: walk terminates loudly under random corruption", 5301, 200, 4,
      one("sfnt", t => Sfnt.synth((t % 11).toLong))(Sfnt.parse)),
    Row("Sitemap: parser terminates loudly under random corruption", 7002,
      300, 6, text("sitemap", t => Sitemap.synth((t % 9).toLong))(
        Sitemap.parse)),
    Row("Sitemap: index parser terminates loudly under random corruption",
      7003, 300, 6, text("sitemap-index",
        t => Sitemap.synthIndex((t % 9).toLong))(Sitemap.parseIndex)),
    Row("Svg: parser terminates loudly under random corruption", 7004, 300,
      6, text("svg", t => Svg.synth((t % 9).toLong))(Svg.parse)),
    Row("Tiff: walk terminates loudly under random corruption", 2424, 250, 5,
      one("tiff", t => Tiff.synth((t % 15).toLong))(Tiff.parse)),
    Row("Webm: walk terminates loudly under random corruption", 1616, 200, 5,
      one("webm", t => Webm.synth((t % 13).toLong))(Webm.parse)),
    Row("Webp: VP8L decoder terminates loudly under random corruption", 2026,
      300, 6, one("vp8l", { t =>
        val d = (t % 17).toLong
        Webp.encodeVp8l(Webp.synthImage(d), (d % 6).toInt, d)
      })(Webp.decodeVp8l)),
    Row("Webp: animated walk terminates loudly under random corruption",
      3434, 150, 5, one("webp-anim", t => Webp.synthAnim((t % 11).toLong))(
        Webp.animFrames)),
    Row("Webp: container walk terminates loudly under random corruption",
      777, 150, 4, one("webp", t => Webp.synthWebp((t % 9).toLong))(
        Webp.meta)),
    Row("Zstd: compressed-block walk terminates loudly under random " +
      "corruption", 16161, 250, 5,
      one("zstd-compressed", t => Zstd.synthCompressed((t % 19).toLong))(
        Zstd.walk(_))),
    Row("Zstd: walk terminates loudly under random corruption", 2848, 200, 4,
      one("zstd", t => Zstd.synth((t % 17).toLong))(Zstd.walk(_))))

  rows.foreach(fuzzTest)
}
