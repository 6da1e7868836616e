package org.apache.spark.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM: set-up, then timed passes over a fixed
  * query list in the given order, one query at a time on one thread.
  * Writes raw samples as JSON; run.py turns them into metrics. */
object Main {

  final case class Opts(queries: Seq[String], warmDir: String,
      timedDir: String, seconds: Double, maxSeconds: Double,
      minWarmPasses: Int, minWarmSamples: Int,
      trace: Boolean, cores: Int, scratch: String, out: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(Files.readAllLines(Paths.get(m("queries"))).asScala.toSeq.map(_.trim).filter(_.nonEmpty),
      m("warm-dir"), m("timed-dir"), m("seconds").toDouble, m("max-seconds").toDouble,
      m("min-warm-passes").toInt, m("min-warm-samples").toInt,
      m("trace") == "1", m("cores").toInt, m("scratch"), m("out"))
  }

  /** One query run: its phase walls, Catalyst's own phase times, the
    * forced value and the outcome. */
  final case class Sample(pass: Int, name: String, traced: Boolean,
      wall: Double, phases: Seq[(String, Double)], tracker: Seq[(String, Double)],
      value: String, fallback: String, error: String)

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--list")) {
      Files.write(Paths.get(args(1)), graft.SparkEntry.queries.keys.toSeq.sorted.asJava)
      sys.exit(0)
    }
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val fns = graft.SparkEntry.queries
    val unknown = o.queries.filterNot(fns.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    // Set-up, timed from JVM start: the session, then an untimed pass
    // over the queries at the warm-up fixture.
    val spark = Harness.session(o.cores, o.scratch)
    val warmErrors = ArrayBuffer.empty[Map[String, Any]]
    o.queries.foreach { n =>
      try {
        val df = fns(n)(spark, o.warmDir)
        Harness.forcingFrames(df) match {
          case Right((_, f)) => f.collect()
          case Left(_) => df.count()
        }
      } catch { case NonFatal(e) => warmErrors += Map("q" -> n, "error" -> Harness.firstLine(e)) }
      spark.catalog.clearCache()
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val samples = ArrayBuffer.empty[Sample]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    var lastPass = 0.0
    def enough: Boolean = {
      val warm = samples.filter(s => s.pass > 0 && !s.traced)
      warm.map(_.pass).distinct.size >= o.minWarmPasses &&
        warm.size >= o.minWarmSamples &&
        samples.filter(s => s.pass > 0 && s.traced).map(_.pass).distinct.size >=
          (if (o.trace) o.minWarmPasses else 0)
    }
    // Pass 0 is the first timed pass. A traced run traces it, then
    // alternates untraced and traced warm passes, so both share one JVM.
    while (pass == 0 || ((elapsed < o.seconds || !enough) &&
        elapsed + lastPass < o.maxSeconds)) {
      val traced = tracer.isDefined && pass % 2 == 0
      if (traced) tracer.get.install()
      val ps = System.nanoTime()
      o.queries.foreach { n =>
        samples += runOne(spark, fns(n), n, pass, o.timedDir, if (traced) tracer else None)
        spark.catalog.clearCache()
      }
      lastPass = (System.nanoTime() - ps) / 1e9
      if (traced) tracer.get.uninstall()
      val staged = if (tracer.isDefined) dirBytes(Paths.get(graft.Scratch.runRoot)) else -1L
      passes += Map("pass" -> pass, "traced" -> traced, "wall" -> lastPass,
        "staged_bytes" -> staged)
      pass += 1
    }
    val spans = tracer.toSeq.flatMap { tr =>
      tr.jobs.map { j =>
        Map("kind" -> "job", "qid" -> j.qid, "phase" -> j.phase,
          "id" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end,
          "stages" -> j.stages, "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks,
          "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
          "input_bytes" -> j.inputBytes, "output_bytes" -> j.outputBytes,
          "shuffle_write_bytes" -> j.shuffleWriteBytes,
          "shuffle_read_bytes" -> j.shuffleReadBytes, "spill_bytes" -> j.spillBytes)
      } ++ tr.batches.map { b =>
        Map("kind" -> "batch", "qid" -> b.qid, "batch_id" -> b.batchId,
          "trigger_ms" -> b.triggerMs, "add_batch_ms" -> b.addBatchMs,
          "query_planning_ms" -> b.queryPlanningMs, "wal_commit_ms" -> b.walCommitMs,
          "commit_offsets_ms" -> b.commitOffsetsMs, "state_commit_ms" -> b.stateCommitMs,
          "state_rows" -> b.stateRows, "input_rows" -> b.inputRows)
      }
    }
    val tableOpenMs = if (o.trace) tableOpens(spark, o.timedDir) else Seq.empty

    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    spark.stop()

    val raw = Map(
      "setup_s" -> setupS,
      "warm_errors" -> warmErrors,
      "passes" -> passes,
      "samples" -> samples.map(sampleJson),
      "spans" -> spans,
      "table_open_ms" -> tableOpenMs,
      "heap_retained_mb" -> heapMb,
      "heap_max_mb" -> rt.maxMemory() / 1048576.0,
      "cores" -> o.cores)
    Files.writeString(Paths.get(o.out), Serialization.write(raw)(DefaultFormats))
    sys.exit(0)
  }

  /** Construct, then force. Each phase is timed around its own call on
    * the calling thread; time between the calls belongs to no phase. */
  private def runOne(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      name: String, pass: Int, dir: String, tracer: Option[Tracer]): Sample = {
    val phases = ArrayBuffer.empty[(String, Double)]
    def timed[T](p: String)(body: => T): T = {
      tracer.foreach(_.phase(p))
      val s = System.nanoTime()
      try body finally phases += p -> (System.nanoTime() - s) / 1e9
    }
    tracer.foreach(_.begin(s"$pass:$name"))
    var value, fallback, error: String = null
    var tracker = Seq.empty[(String, Double)]
    val t0 = System.nanoTime()
    try {
      val df = timed("construct")(fn(spark, dir))
      timed("analysis") {
        val frames = Harness.forcingFrames(df)
        frames.foreach(_._2.queryExecution.analyzed)
        frames
      } match {
        case Right((hashed, f)) =>
          val qe = f.queryExecution
          timed("optimization")(qe.optimizedPlan)
          timed("planning")(qe.executedPlan)
          value = timed("execution")(Harness.hashOf(f))
          // Catalyst's own account; the hash projection is analysed on
          // its own frame before the aggregate over it.
          tracker = Seq(hashed, f).flatMap(_.queryExecution.tracker.phases.toSeq)
            .groupMapReduce(_._1)(_._2.durationMs / 1e3)(_ + _).toSeq
        case Left(e) =>
          fallback = Harness.firstLine(e)
          value = timed("execution")(Harness.countOf(df))
      }
    } catch { case NonFatal(e) => error = Harness.firstLine(e) }
    val t1 = System.nanoTime()
    tracer.foreach(_.end())
    Sample(pass, name, tracer.isDefined, (t1 - t0) / 1e9, phases.toSeq, tracker,
      value, fallback, error)
  }

  private def sampleJson(s: Sample): Map[String, Any] = Map(
    "pass" -> s.pass, "q" -> s.name, "traced" -> s.traced, "wall" -> s.wall,
    "phases" -> s.phases.toMap, "tracker" -> s.tracker.toMap,
    "value" -> s.value, "fallback" -> s.fallback, "error" -> s.error)

  /** Warm wall time of sources.Catalog.table over the fixture tables. */
  private def tableOpens(spark: SparkSession, dir: String): Seq[Double] =
    graft.sources.Catalog.tableNames.flatMap { t =>
      graft.sources.Catalog.table(spark, dir, t)
      (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        graft.sources.Catalog.table(spark, dir, t)
        (System.nanoTime() - t0) / 1e6
      }
    }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      catch { case NonFatal(_) => -1L } finally s.close()
    }
}
