package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Table catalog over the driver-generated parquet fixtures.
  *
  * Mirrors the reference's Container/Table notion (jx_base/container.py:
  * a named queryable collection with discovered schema — SURVEY.md §1.1)
  * as a thin name→DataFrame resolver. Schema discovery is Parquet
  * footer metadata (no inference cost); at 100 TB the same API would be
  * backed by a real metastore/Delta catalog, and the per-table reader
  * keeps predicate pushdown + column pruning available to Catalyst.
  */
object Catalog {
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The parquet footer schema of `path`, read once per fixture
    * generation (`Scratch.once`), for batch and streaming readers alike.
    * `spark.read.parquet` re-infers the schema at every DataFrame
    * CONSTRUCTION (~88 ms measured: file listing + footer decode + a
    * driver-side inference pass) vs ~10 ms with an explicit schema; a
    * bench run constructs each table hundreds of times. This is exactly
    * the metastore shape the scaladoc above promises at 100 TB: schema
    * from the catalog, bytes from the scan. The inferred schema is
    * conf-dependent (legacy nanosAsLong maps TIMESTAMP(NANOS) to
    * LongType), so that flag is part of the artifact's name. */
  private[graft] def footerSchema(spark: SparkSession,
      path: String): org.apache.spark.sql.types.StructType = {
    val nanos =
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    graft.Scratch.once(s"footer-schema-nanosAsLong-$nanos", path)(
      _ => spark.read.parquet(path).schema)
  }

  /** Read one fixture table rooted at sfDir.
    *
    * events.parquet's physical `ts` encoding has changed across fixture
    * generations (TIMESTAMP(NANOS) → timestamp[us]); normalize on the
    * OBSERVED type, not an assumed encoding, so every consumer sees one
    * stable TimestampType regardless of which fixture generation is on
    * disk. DuckDB reads the same file for the oracle; with the session
    * timezone pinned to UTC the normalized values are identical.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "orders_nested") return ordersNested(spark, sfDir)
    val path = s"$sfDir/$name.parquet"
    val df = spark.read.schema(footerSchema(spark, path)).parquet(path)
    if (name == "events") normalizeTs(df) else df
  }

  /** The fixture slice the per-document walkers synthesize from: the
    * `doc_id` column of the documents with `doc_id < 300`. The DuckDB
    * oracles spell the same slice out as `WHERE doc_id < 300`. */
  def fixtureDocIds(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents")
      .filter(col("doc_id") < 300).select("doc_id")

  /** Normalize an `events`-shaped frame's `ts` column to session-TZ
    * TimestampType, keyed on the observed type:
    *  - LongType — nanos-since-epoch under
    *    spark.sql.legacy.parquet.nanosAsLong (old TIMESTAMP(NANOS)
    *    fixture); integer DIV, since nanos exceed 2^53 and double math
    *    would corrupt them.
    *  - TimestampNTZType — timestamp[us] fixture; with the session TZ
    *    pinned to UTC the NTZ→LTZ cast is an exact micros passthrough.
    *  - TimestampType — already normalized.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** Derived snowflake view: orders with its lineitem children nested
    * as an array<struct> `lines` column — the jx_sqlite parent/child
    * table shape (SURVEY §1.1) the dotted-`from` descent targets. Built
    * on the fly from the flat fixtures with one shuffle on the parent
    * key; at 100 TB this would be a materialized nested parquet and the
    * descent reads it shuffle-free. Line order inside an array is
    * execution-dependent — nested consumers must aggregate or re-sort,
    * never rely on element order (same contract as any collect_list).
    */
  private def ordersNested(spark: SparkSession, sfDir: String): DataFrame = {
    val lines = table(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(collect_list(struct(
        col("l_partkey"), col("l_suppkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))).as("lines"))
    table(spark, sfDir, "orders")
      .join(lines, col("o_orderkey") === col("l_orderkey"), "left")
      .drop("l_orderkey")
  }

  /** Register every fixture table as a temp view (for spark.sql parity). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    tableNames.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))
}
