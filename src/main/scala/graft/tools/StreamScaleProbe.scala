package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import java.util.concurrent.atomic.LongAdder
import graft.Scratch
import graft.streaming.Streams

/** Streaming scale probe (SURVEY §2.9 at ×N): drives the REAL streaming
  * operators over the events of a `ScaleCorpus` dir — same 30-day
  * span, mult× event density, mult× user cardinality (the realistic
  * shape of more traffic, NOT a longer history) — as a micro-batched
  * file-source replay (maxFilesPerTrigger=2 over its 16 ts-ordered
  * files, so watermark advance / state eviction actually happen across
  * batches instead of one batch-mode pass). Results are counted in a
  * foreachBatch sink (a LongAdder; nothing is collected — the
  * memory-sink drain the fixture-scale harness uses would not fit at
  * this size).
  *
  * Evidence target: state stays bounded by the 2 h watermark while
  * wall time grows ~linearly in events — the property that makes the
  * operator viable on an unbounded stream.
  *
  * Usage: runMain graft.tools.StreamScaleProbe mult [sfDir [op...]]
  */
object StreamScaleProbe {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse {
      System.err.println(
        "Usage: runMain graft.tools.StreamScaleProbe mult [sfDir [op...]]")
      sys.exit(2)
    }
    val sfDir = args.lift(1).getOrElse(ScaleCorpus.defaultSfDir)
    val only = args.drop(2).toSeq
    val spark = graft.Harness.session(graft.Harness.cores)
    val events = s"${ScaleCorpus.dir(spark, sfDir, mult)}/events.parquet"
    val nEvents = spark.read.parquet(events).count()
    println(s"scaled stream: $nEvents events (x$mult)")

    val footer = spark.read.parquet(events).schema
    def stream(): DataFrame = graft.sources.Catalog.normalizeTs(
      spark.readStream.schema(footer)
        .option("maxFilesPerTrigger", "2")
        .parquet(events))

    def runCounted(label: String)(df: DataFrame, mode: OutputMode): Unit =
      if (only.isEmpty || only.exists(label.contains)) {
        val ckpt = Scratch.dir("ckpt", s"sp-$label-${System.nanoTime()}")
        val rows = new LongAdder
        val t0 = System.nanoTime()
        val q = df.writeStream
          .outputMode(mode)
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: DataFrame, _: Long) => rows.add(b.count()) }
          .start()
        q.awaitTermination(); q.stop()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"""{"op":"$label","sec":$dt%.2f,"rows":${rows.sum()},"events_per_sec":${(nEvents / dt).toLong}}""")
        Scratch.deleteRecursively(ckpt)
      }

    runCounted("tumbling_watermark")(
      Streams.tumblingWithWatermark(stream()), OutputMode.Append())
    runCounted("dedup_watermark")(
      Streams.dedupWithinWatermark(stream()), OutputMode.Append())
    runCounted("stateful_user")(
      Streams.runningUserState(stream()), OutputMode.Update())
    // Gap-based session windows: the one §2.9 state shape whose growth
    // is density-sensitive by nature (each open session holds a
    // mergeable range per user until watermark + gap close it). The
    // scale claim to check: closed-session count and state stay bounded
    // by (active users × open sessions), not by event count.
    runCounted("session_window")(
      Streams.sessionCounts(stream().withWatermark("ts", "2 hours")),
      OutputMode.Append())
    // The interval joins: outer forms keep the inner form's
    // O(active interval) state — the null-extensions ride watermark
    // eviction, so emitted rows = matched pairs + the unmatched side(s)
    // behind the horizon; scale claim: throughput flat vs the inner
    // join, emitted counts linear in events.
    Seq("stream_join" -> "inner", "stream_join_outer" -> "left_outer",
        "stream_join_full" -> "full_outer",
        "stream_join_right" -> "right_outer").foreach { case (label, jt) =>
      runCounted(label)(Streams.viewClickJoin(
        stream().filter(col("event_type") === "view"),
        stream().filter(col("event_type") === "click"), jt),
        OutputMode.Append())
    }
    spark.stop()
  }
}
