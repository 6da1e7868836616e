package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.{LongType, StructType}

/** The one place a per-document walk becomes a DataFrame: the media and
  * document operators run in the per-partition codec batch shape
  * (SURVEY §2, `llm_multimodal_col`) — `Dataset.mapPartitions` over the
  * input rows with a row encoder for the output schema. A walker
  * supplies only the output schema and the rows one document yields
  * (zero, one or many); moving every walker to another mechanism is an
  * edit here.
  *
  * The same walk runs on a batch frame and on a streaming one (a stream
  * of ids from `Catalog.fixtureDocIdStream`), so a streaming ingest
  * query calls its batch walker. The id is the bigint in column 0 of
  * the input. Two walks stay outside: `ParquetFooter.footerFeatures`
  * and `etl_footer_audit` parallelize a driver-side file list and read
  * no ids.
  *
  * When one walk feeds another directly, Catalyst removes the
  * serializer pair between them and the second walker gets the first
  * one's Rows, which carry no schema: walkers read fields by position. */
object PerDoc {

  /** `f(id)` for each row of `ids`. */
  def walk(ids: DataFrame, schema: StructType)(
      f: Long => IterableOnce[Row]): DataFrame =
    rows(ids, schema)(r => f(r.getLong(0)))

  /** `f(id, media.bytes)` for each row of a media frame (an id plus the
    * `media` struct of [[Multimodal.mediaType]]). */
  def walkMedia(df: DataFrame, schema: StructType)(
      f: (Long, Array[Byte]) => IterableOnce[Row]): DataFrame = {
    val mediaIdx = df.schema.fieldIndex("media")
    rows(df, schema) { r =>
      f(r.getLong(0), Multimodal.bytesOf(r.getStruct(mediaIdx)))
    }
  }

  /** `f(row)` for each input row. Walkers that read more of the row
    * than the id and the bytes (mime, meta, a text column) call it
    * directly and read the id with `row.getLong(0)`. */
  private[operators] def rows(df: DataFrame, schema: StructType)(
      f: Row => IterableOnce[Row]): DataFrame =
    partitions(df, schema)(_.flatMap(f))

  /** The core: `f` maps one partition's input rows to its output rows,
    * for a walker that keeps state per partition (`Zstd`'s dictionary
    * cache). */
  private[operators] def partitions(df: DataFrame, schema: StructType)(
      f: Iterator[Row] => Iterator[Row]): DataFrame = {
    require(df.schema.nonEmpty && df.schema.head.dataType == LongType,
      "a per-document walk needs the bigint id in column 0, got " +
        df.schema.simpleString)
    df.mapPartitions(f)(Encoders.row(schema))
  }
}
