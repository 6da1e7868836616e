package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import java.util.concurrent.atomic.LongAdder
import graft.Scratch
import graft.streaming.Streams

/** Streaming scale probe (SURVEY §2.9 at ×N): replicate events ×mult —
  * same 30-day span, mult× event density, mult× user cardinality (the
  * realistic shape of more traffic, NOT a longer history) — and drive
  * the REAL streaming operators over it as a micro-batched file-source
  * replay (maxFilesPerTrigger=2 over 16 staged files, so watermark
  * advance / state eviction actually happen across batches instead of
  * one batch-mode pass). Results are counted in a foreachBatch sink
  * (a LongAdder, no driver collect — the memory-sink drain the
  * fixture-scale harness uses would be driver-bound at this size).
  *
  * Evidence target: state stays bounded by the 2 h watermark while
  * wall time grows ~linearly in events — the property that makes the
  * operator viable on an unbounded stream.
  *
  * Usage: SCALE_MULT=10 sbt "runMain graft.tools.StreamScaleProbe [op...]"
  */
object StreamScaleProbe {
  def main(args: Array[String]): Unit = {
    val mult = sys.env.getOrElse("SCALE_MULT", "10").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = args.toSeq
    val spark = graft.Harness.session(graft.Harness.cores)

    // Staged-replica cache keyed on (mult, sfDir, fixture generation):
    // re-running at a different SF, or after a driver fixture
    // regeneration, must never reuse stale scaled data whose schema/ts
    // encoding no longer matches the freshly-read footer (the same
    // generation key as Scratch.once).
    val gen = s"${math.abs(sfDir.hashCode)}-" +
      math.abs(Scratch.generation(s"$sfDir/events.parquet").hashCode)
    val dir = s"/tmp/graft-stream-x$mult-$gen"
    // Reap superseded generations for this (mult, sfDir) before writing
    // a new one: each scaled dataset is GBs at ×100, and unlike the
    // symlink-only events staging, leaking one per fixture
    // regeneration would eventually fill the disk.
    Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter { f => f.isDirectory &&
        f.getName.startsWith(s"graft-stream-x$mult-${math.abs(sfDir.hashCode)}-") &&
        f.getName != s"graft-stream-x$mult-$gen" }
      .foreach(f => Scratch.deleteRecursively(f.getPath))
    // also the pre-generation-key layout from earlier rounds
    if (new java.io.File(s"/tmp/graft-stream-x$mult").isDirectory)
      Scratch.deleteRecursively(s"/tmp/graft-stream-x$mult")
    if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
      val ev = graft.sources.Catalog.table(spark, sfDir, "events")
      ev.withColumn("r", explode(expr(s"sequence(0L, ${mult - 1}L)")))
        .select(
          (col("event_id") * mult + col("r")).as("event_id"),
          col("ts"),
          (col("user_id") + col("r") * lit(10000000L)).as("user_id"),
          col("event_type"), col("value"), col("props"))
        // time-ordered file layout: range-partition on ts so the file
        // source's lexicographic part-file order IS event-time order —
        // a realistic replay where late-drops are the exception, not
        // an artifact of random file order
        .repartitionByRange(16, col("ts"))
        .sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(dir)
      // FileStreamSource replays in MTIME order, and parallel part-file
      // writes land with effectively random mtimes — restamp them in
      // path (= ts-range) order so the replay is in event-time order
      val parts = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      parts.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(1700000000000L + i * 60000L) }
    }
    val nEvents = spark.read.parquet(dir).count()
    println(s"scaled stream: $nEvents events (x$mult)")

    val footer = spark.read.parquet(dir).schema
    def stream(): DataFrame = graft.sources.Catalog.normalizeTs(
      spark.readStream.schema(footer)
        .option("maxFilesPerTrigger", "2")
        .parquet(dir))

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
      stream()
        .withWatermark("ts", "2 hours")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events")),
      OutputMode.Append())
    val clicks = stream().filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "2 hours")
    val views = stream().filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", "2 hours")
    val joined = clicks.join(views,
      col("user_id") === col("v_user") &&
        col("view_ts") >= col("click_ts") &&
        col("view_ts") <= col("click_ts") + expr("INTERVAL 2 HOURS"))
      .select(col("user_id"), col("click_id"), col("view_id"))
    runCounted("stream_join")(joined, OutputMode.Append())
    // OUTER interval joins (round 11): state is the same
    // O(active interval) as the inner form — the null-extensions ride
    // watermark eviction, so emitted rows = matched pairs + the
    // unmatched side(s) behind the horizon; scale claim: throughput
    // flat vs the inner join, emitted counts linear in events.
    def outerSides(): (DataFrame, DataFrame) = (
      stream().filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"),
          col("event_id").as("view_id"))
        .withWatermark("view_ts", "2 hours"),
      stream().filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
        .withWatermark("click_ts", "2 hours"))
    def outerCond(v: DataFrame, c: DataFrame) =
      v("user_id") === c("c_user") &&
        c("click_ts") >= v("view_ts") - expr("INTERVAL 2 HOURS") &&
        c("click_ts") <= v("view_ts")
    locally {
      val (v, c) = outerSides()
      runCounted("stream_join_outer")(
        v.join(c, outerCond(v, c), "left_outer")
          .select(col("user_id"), col("view_id"), col("click_id")),
        OutputMode.Append())
    }
    locally {
      val (v, c) = outerSides()
      runCounted("stream_join_full")(
        v.join(c, outerCond(v, c), "full_outer")
          .select(coalesce(col("user_id"), col("c_user")).as("user_id"),
            col("view_id"), col("click_id")),
        OutputMode.Append())
    }
    locally {
      val (v, c) = outerSides()
      runCounted("stream_join_right")(
        v.join(c, outerCond(v, c), "right_outer")
          .select(col("c_user").as("user_id"),
            col("view_id"), col("click_id")),
        OutputMode.Append())
    }
    spark.stop()
  }
}
