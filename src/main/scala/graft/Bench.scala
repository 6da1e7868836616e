package graft

object Bench {

  /** 1-minute load average — recorded in the bench line so a measure
    * taken on a contended box is visible in the artifact itself
    * (BENCH_r05 recorded 5.1× baseline purely because ×N scale jobs
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
    val loadStart = load1()
    val cachedStart = cachedGb()
    val sectorsStart = sectorsRead()
    val spark = Harness.session(Harness.cores)
    Harness.warmUp(spark, Harness.suite.map(_._1))
    // Stage the target-SF format round-trips untimed (Scratch.once:
    // written once per fixture generation in this run and reused): the
    // timed scan_* queries measure the READ path, not a first-run
    // staging write.
    Seq("scan_csv", "scan_jsonl", "scan_orc", "join_bucketed",
        "sink_csv", "sink_jsonl").foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        try Harness.force(fn(spark, sfDir)) catch { case _: Throwable => () }
      }
    }
    spark.catalog.clearCache()
    // k=3 runs per query, min over the clean runs is the number of
    // record (Harness.timed). All k per-run timings are kept in
    // BENCH_LAST.json for variance review. A query that throws must NOT
    // bench as near-instant (the silent-flattery trap): the contract
    // line carries n_errors so a nonzero count is impossible to miss,
    // and the artifact keeps each errored query's message.
    val benchK = Harness.runsPerQuery
    val timings = Harness.suite.map { case (name, fn) =>
      name -> Harness.timed(spark, benchK)(fn(spark, sfDir))
    }
    val errors = timings.collect { case (name, t) if t.errored => name }
    val results = timings.map { case (name, t) => name -> t.figure }
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
    val runsJson = timings.sortBy(_._2.figure).map { case (k, t) =>
      "\"" + k + "\":{\"runs\":[" + t.runs.map(r => ms(r.seconds)).mkString(",") +
        s"],\"error\":${t.errored}" +
        t.message.fold("")(m => ",\"message\":" + Verify.jq(m)) + "}"
    }.mkString("{", ",", "}")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LAST.json"),
      s"""{"contract":$contract,"detail":${fmt(results.sortBy(_._2))},"runs":$runsJson}""")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
