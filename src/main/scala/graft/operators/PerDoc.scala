package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructType}

/** The one place a per-document walk becomes a DataFrame: the media and
  * document operators run in the per-partition codec batch shape
  * (SURVEY §2, `llm_multimodal_col`) — `rdd.mapPartitions` over the
  * input rows, then `createDataFrame(rdd, schema)`. A walker supplies
  * only the output schema and the rows one document yields (zero, one
  * or many); moving every walker to another mechanism is an edit here.
  *
  * The id is the bigint in column 0 of the input. Three walks stay
  * outside: `Zstd.sharedDictFeatures` keeps a dictionary cache per
  * partition, and `ParquetFooter.footerFeatures` and `etl_footer_audit`
  * parallelize a file list and read no ids. */
object PerDoc {

  /** `f(id)` for each row of `ids`. */
  def walk(ids: DataFrame, schema: StructType)(
      f: Long => IterableOnce[Row]): DataFrame = {
    requireId(ids)
    rows(ids, schema)(r => f(r.getLong(0)))
  }

  /** `f(id, media.bytes)` for each row of a media frame (an id plus the
    * `media` struct of [[Multimodal.mediaType]]). */
  def walkMedia(df: DataFrame, schema: StructType)(
      f: (Long, Array[Byte]) => IterableOnce[Row]): DataFrame = {
    requireId(df)
    val mediaIdx = df.schema.fieldIndex("media")
    rows(df, schema) { r =>
      f(r.getLong(0), r.getStruct(mediaIdx).getAs[Array[Byte]]("bytes"))
    }
  }

  /** The core: `f(row)` for each input row. Walkers that read more of
    * the row than the id and the bytes (mime, meta, a text column) call
    * it directly. */
  private[operators] def rows(df: DataFrame, schema: StructType)(
      f: Row => IterableOnce[Row]): DataFrame = {
    val rdd = df.rdd.mapPartitions(_.flatMap(f))
    df.sparkSession.createDataFrame(rdd, schema)
  }

  private def requireId(df: DataFrame): Unit =
    require(df.schema.nonEmpty && df.schema.head.dataType == LongType,
      "a per-document walk needs the bigint id in column 0, got " +
        df.schema.simpleString)
}
