package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

/** The one way to build a session, force a query and time it. Bench,
  * Verify, the tools and the tests all run through here, so they all
  * measure and check the same engine. */
object Harness {

  /** Cores for `local[N]` and the shuffle partition count. */
  def cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Timed runs per query; clamped to ≥1, since k=0 would leave no
    * figure to record after the whole warm-up. */
  def runsPerQuery: Int =
    math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_K", "3").toInt)

  /** The smallest fixture: same plan shapes, near-zero data. */
  private val warmDir = "/root/testdata/sf0.001"

  def session(cores: Int): SparkSession = {
    // SPARK_GRAFT_LOCAL_DIRS (comma-separated) spreads shuffle spill
    // across several devices — the local.dir-lists-every-NVMe shape a
    // real cluster node runs; a ×1000 `ScaleCorpus` dedup verify shuffles
    // (~80 GB) exceed any single device of a one-box run.
    val spill = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIRS", Scratch.dir("spark-local"))
    spill.split(',').foreach(d => Files.createDirectories(Paths.get(d)))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Shuffle/spill files on scratch (tmpfs when available): measure
      // the engine, not the box's disk queue (BENCH_r03 contention).
      .config("spark.local.dir", spill)
      // Streaming: the AvailableNow replays are one-shot — retaining the
      // default 100 batches of checkpoint/state history is pure I/O.
      .config("spark.sql.streaming.minBatchesToRetain", "1")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      // Periodic driver GC (Spark's own ContextCleaner knob, default
      // 30min — longer than the whole bench): the suite's iterative
      // operators localCheckpoint thousands of RDDs across 414×(3+1)
      // query runs, and with an 8g driver heap nothing ever triggers
      // the full GC that lets ContextCleaner drop their block-manager
      // entries — measured as a monotone late-suite drift (the
      // alphabetically-last stream_* family read uniformly +0.3-3 s
      // in affected runs while the same queries probe fast in a fresh
      // JVM). 60s keeps the block registry bounded for the whole run.
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Force full evaluation of every output column, not just row counts.
    * A bare count() lets Catalyst prune the projection, so select-only
    * queries (str_*, cast_*, proj_select, …) would time the parquet
    * scan instead of their expressions. Reducing a hash of the whole
    * row defeats pruning while still returning one tiny driver value.
    * bit_xor, not sum: ANSI mode makes sum() of random 64-bit hashes
    * overflow almost surely. Falls back to count() only when the hash
    * select fails analysis (an output type xxhash64 can't consume); any
    * other failure propagates. */
  def force(df: DataFrame): Unit =
    try df.select(xxhash64(struct(col("*"))).as("h"))
      .agg(expr("bit_xor(h)")).collect()
    catch { case _: AnalysisException => df.count() }

  /** Every declared query in suite order: batch queries first,
    * true-streaming runs last — streaming leaves state-store
    * maintenance threads behind that would otherwise bleed into
    * unrelated batch timings mid-run. */
  def suite: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val (streaming, batch) =
      SparkEntry.queries.toSeq.sortBy(_._1).partition(_._1.startsWith("stream_"))
    batch ++ streaming
  }

  /** Run the WHOLE suite untimed at the smallest fixture. One tiny
    * query is not enough — the first timed queries otherwise pay
    * JVM-wide costs that have nothing to do with them: whole-stage
    * codegen compilation, parquet/orc reader init, and (measured at
    * ~8 s) the streaming micro-batch + state store machinery, which
    * all of it lands on whichever stream_* query happens to run first.
    * Plans at sf0.001 have the same shapes, so JIT profiles carry over,
    * and so do the compiled classes: the ~3,500 this warm-up compiles
    * fit in the generated-class cache GraftExtensions sizes
    * (CodegenCacheEntries). */
  def warmUp(spark: SparkSession): Unit = {
    suite.foreach { case (_, fn) =>
      try force(fn(spark, warmDir)) catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
  }

  /** One run of a query: wall seconds, and the first line of the
    * exception when it threw. */
  final case class Run(seconds: Double, error: Option[String])

  final case class Timing(runs: Seq[Run]) {
    def message: Option[String] = runs.flatMap(_.error).headOption
    def errored: Boolean = message.isDefined
    /** The figure of record: min over the CLEAN runs only. A throwing
      * run typically fails near-instantly, and letting it into the min
      * would time an errored query as ~0 s. When every run errored
      * there is no honest timing; record the MAX (the fullest account
      * of the time burned) so the figure stays numeric. */
    def figure: Double = {
      val clean = runs.collect { case Run(s, None) => s }
      if (clean.nonEmpty) clean.min else runs.map(_.seconds).max
    }
  }

  /** Build and force `query` k times. Min-of-k is the number of record:
    * the box's documented contamination modes (GC pressure from a
    * heavy neighbour, a host-dropped page cache forcing cold scans)
    * inflate a SINGLE run, and neither can make a query run faster
    * than its plan allows. A run that throws is recorded as errored,
    * never timed as a success. The cache is cleared after each run so
    * a block a query built internally cannot distort later timings. */
  def timed(spark: SparkSession, k: Int)(query: => DataFrame): Timing =
    Timing((1 to k).map { _ =>
      val t0 = System.nanoTime()
      val error =
        try { force(query); None }
        catch { case e: Throwable => Some(firstLine(e)) }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      Run(dt, error)
    })

  private def firstLine(e: Throwable): String = {
    val m = Option(e.getMessage).flatMap(_.linesIterator.find(_.nonEmpty))
    s"${e.getClass.getSimpleName}: ${m.getOrElse("")}".take(500)
  }
}
