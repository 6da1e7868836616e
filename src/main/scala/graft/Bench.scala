package graft
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
object Bench {

  /** Force full evaluation of every output column, not just row counts.
    * A bare count() lets Catalyst prune the projection, so select-only
    * queries (str_*, cast_*, proj_select, …) would time the parquet
    * scan instead of their expressions. Reducing a hash of the whole
    * row defeats pruning while still returning one tiny driver value.
    * bit_xor, not sum: ANSI mode makes sum() of random 64-bit hashes
    * overflow almost surely. Falls back to count() only when the hash
    * select fails analysis (an output type xxhash64 can't consume); any
    * other failure propagates and marks the run errored. */
  private def force(df: DataFrame): Unit =
    try df.select(xxhash64(struct(col("*"))).as("h"))
      .agg(expr("bit_xor(h)")).collect()
    catch { case _: AnalysisException => df.count() }

  /** 1-minute load average — recorded in the bench line so a measure
    * taken on a contended box is visible in the artifact itself
    * (BENCH_r05 recorded 5.1× baseline purely because ScaleBench jobs
    * shared the box; the number was unexplainable from the record). */
  private def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ").head.toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Other live java processes (excluding this JVM). On a quiet
    * sbt-launched run this is 1 (the sbt parent); anything more means
    * another build/bench was running alongside the measure. */
  private def otherJava(): Int =
    try {
      import scala.jdk.CollectionConverters._
      val self = ProcessHandle.current().pid()
      ProcessHandle.allProcesses().iterator().asScala.count { p =>
        p.pid() != self && p.info().command()
          .map[Boolean](c => c.endsWith("/java") || c == "java")
          .orElse(false)
      }
    } catch { case _: Throwable => -1 }

  /** Page-cache size (GiB) from /proc/meminfo. Run-to-run variance
    * traced to this in round 7: a dropped cache (observed 2 GiB on a
    * 125 GiB box mid-sequence) forces fixture scans to cold VM disk
    * and scan-bound queries randomly pay 3-10x — visible here, not
    * explainable from load1 alone. */
  private def cachedGb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().collectFirst {
        case l if l.startsWith("Cached:") =>
          math.round(l.split("\\s+")(1).toDouble / 1024 / 1024 * 10) / 10.0
      }.getOrElse(-1.0) finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Total sectors read across block devices (/proc/diskstats field 6)
    * — the delta over the run separates "slow because recomputed" from
    * "slow because cold disk". */
  private def sectorsRead(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/diskstats")
      try src.getLines().map { l =>
        val f = l.trim.split("\\s+")
        // whole devices only (vda, sda, nvme0n1...), skip partitions
        if (f.length > 5 && f(2).matches("[a-z]+[a-z0-9]*") &&
            !f(2).matches(".*\\d+p\\d+") && !f(2).matches("[a-z]+d[a-z]\\d+"))
          f(5).toLong else 0L
      }.sum finally src.close()
    } catch { case _: Throwable => -1L }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val loadStart = load1()
    val cachedStart = cachedGb()
    val sectorsStart = sectorsRead()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Shuffle/spill files on scratch (tmpfs when available): measure
      // the engine, not the box's disk queue (BENCH_r03 contention).
      .config("spark.local.dir", Scratch.dir("spark-local"))
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
    // Batch queries first, true-streaming runs last: streaming leaves
    // state-store maintenance threads behind that would otherwise bleed
    // into unrelated batch timings mid-run.
    val (streaming, batch) =
      SparkEntry.queries.toSeq.sortBy(_._1).partition(_._1.startsWith("stream_"))
    // Warm-up: run the WHOLE suite untimed at the smallest fixture.
    // One tiny entry() query is not enough — the first queries of the
    // timed loop otherwise pay JVM-wide costs that have nothing to do
    // with them: whole-stage codegen compilation, parquet/orc reader
    // init, and (measured at ~8 s) the streaming micro-batch + state
    // store machinery, which all of it lands on whichever stream_*
    // query happens to run first. Plans at sf0.001 have the same
    // shapes, so JIT profiles carry over, and so do the compiled
    // classes: the ~3,500 this warm-up compiles fit in the generated-
    // class cache GraftExtensions sizes (CodegenCacheEntries).
    val warmDir = "/root/testdata/sf0.001"
    (batch ++ streaming).foreach { case (_, fn) =>
      try force(fn(spark, warmDir)) catch { case _: Throwable => () }
    }
    // Pre-stage the target-SF format round-trips (fingerprint-keyed,
    // written once per fixture and reused): the timed scan_* queries
    // measure the READ path, not a first-run staging write.
    Seq("scan_csv", "scan_jsonl", "scan_orc", "join_bucketed",
        "sink_csv", "sink_jsonl").foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        try force(fn(spark, sfDir)) catch { case _: Throwable => () }
      }
    }
    spark.catalog.clearCache()
    // k=3 runs per query, min is the number of record. The box has two
    // documented contamination modes (BASELINE.md): GC pressure from an
    // alphabetically-adjacent heavy query, and a host-dropped page cache
    // forcing cold VM-disk scans. Both inflate a SINGLE run; neither can
    // make a query run FASTER than its plan allows, so min-of-k is
    // immune to both while staying honest about plan cost. All k
    // per-run timings are kept in BENCH_LAST.json for variance review.
    // clamped to ≥1: k=0 would crash runs.min AFTER the whole warm-up
    val benchK = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_K", "3").toInt)
    // A query that throws must NOT bench as near-instant (the silent-
    // flattery trap): any throwing run marks the query errored in the
    // artifact, and the contract line carries n_errors so a nonzero
    // count is impossible to miss. Correctness is a separate gate, but
    // the bench record itself now tells the truth.
    val allRuns = (batch ++ streaming).map { case (name, fn) =>
      val runs = (1 to benchK).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { force(fn(spark, sfDir)); true }
          catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        // Isolate queries: drop any cache a query built internally so a
        // lingering block doesn't distort later timings.
        spark.catalog.clearCache()
        (dt, ok)
      }
      (name, runs, runs.exists(!_._2))
    }
    val errors = allRuns.collect { case (name, _, true) => name }
    // Per-query figure of record: min over the CLEAN runs only. A
    // throwing run typically fails near-instantly, and letting it into
    // the min would bench an errored query as ~0 s — flagged by
    // n_errors yet still flattering the headline total. When every run
    // errored there is no honest timing; record the MAX (the fullest
    // account of the time burned) so the artifact stays numeric/JSON
    // where NaN would not parse.
    val results = allRuns.map { case (name, runs, _) =>
      val clean = runs.collect { case (dt, true) => dt }
      name -> (if (clean.nonEmpty) clean.min else runs.map(_._1).max)
    }
    def ms(v: Double): Double = math.round(v * 1000) / 1000.0
    def fmt(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + ms(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val streamingTotal = ms(results.collect {
      case (k, v) if k.startsWith("stream_") => v }.sum)
    // The round record keeps only the TAIL of stdout, so order for
    // end-weighted survival: first a full per-query detail line sorted
    // ascending (truncation eats sub-ms noise at the front; the slow
    // queries that matter sit at the end, inside the capture window),
    // then a final COMPACT contract line — total + top-10 slowest —
    // short enough to always survive whole and parse.
    println(s"""{"metric":"detail","unit":"sec","queries":${fmt(results.sortBy(_._2))}}""")
    val top10 = fmt(results.sortBy(-_._2).take(10))
    val readGb = { val s = sectorsRead()
      if (s < 0 || sectorsStart < 0) -1.0
      else math.round((s - sectorsStart) * 512.0 / 1e9 * 10) / 10.0 }
    val telemetry = s""""load1_start":$loadStart,"load1_end":${load1()},""" +
      s""""other_java":${otherJava()},""" +
      s""""cached_gb_start":$cachedStart,"cached_gb_end":${cachedGb()},""" +
      s""""disk_read_gb":$readGb"""
    val errorsJson = errors.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val contract = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"k_runs":$benchK,"agg":"min","n_errors":${errors.size},"errors":$errorsJson,"streaming_sec":$streamingTotal,"batch_sec":${ms(total - streamingTotal)},$telemetry,"queries":$top10,"sf":"$sfDir"}"""
    println(contract)
    // Stdout capture is tail-windowed and decorated by the launcher, so
    // ALSO persist the full record (contract line + complete per-query
    // map + every per-run timing) as a file — the machine-checkable
    // artifact survives even when the stdout tail does not parse, and
    // the per-run arrays let a reader audit the min-of-k policy.
    // order by the FIGURE OF RECORD (clean-runs min / all-errored max),
    // not the raw min — an instantly-erroring query must not sort to
    // the top of the audit artifact as if it were the fastest query
    val figure = results.toMap
    val runsJson = allRuns.sortBy { case (k, _, _) => figure(k) }
      .map { case (k, rs, err) =>
        "\"" + k + "\":{\"runs\":[" + rs.map(r => ms(r._1)).mkString(",") +
          s"],\"error\":$err}" }.mkString("{", ",", "}")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LAST.json"),
      s"""{"contract":$contract,"detail":${fmt(results.sortBy(_._2))},"runs":$runsJson}""")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
