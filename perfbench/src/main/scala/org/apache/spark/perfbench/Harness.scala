package org.apache.spark.perfbench

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

/** Session and force for the benchmark, with graft.Bench's settings. */
object Harness {

  /** graft.Bench's session: local[cores], shuffle partitions = cores,
    * GraftExtensions, periodic GC every 60 s. Scratch and warehouse
    * live under `scratch`, which run.py places inside the checkout. */
  def session(cores: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", graft.Scratch.dir("spark-local"))
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.minBatchesToRetain", "1")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** graft.Bench's force, bit_xor(xxhash64(struct(*))), built but not run:
    * the hash projection and the aggregate over it. Left carries the
    * AnalysisException of an output xxhash64 cannot consume; that is the
    * only case that may fall back to count(). */
  def forcingFrames(df: DataFrame): Either[AnalysisException, (DataFrame, DataFrame)] =
    try {
      val hashed = df.select(xxhash64(struct(col("*"))).as("h"))
      Right(hashed -> hashed.agg(expr("bit_xor(h)")))
    } catch { case e: AnalysisException => Left(e) }

  /** The forced value as recorded in the expected-output file. */
  def hashOf(f: DataFrame): String = {
    val r = f.collect()(0)
    if (r.isNullAt(0)) "null" else r.getLong(0).toString
  }

  def countOf(df: DataFrame): String = s"count:${df.count()}"

  /** First line of an error message, for the artifact. */
  def firstLine(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse("").linesIterator.find(_.nonEmpty)
    s"${e.getClass.getSimpleName}: ${m.getOrElse("")}".take(300)
  }
}
