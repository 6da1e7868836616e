package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Harness, Scratch}
import graft.sources.Catalog

/** The one builder of a ×N corpus: a fixture dir with `documents`,
  * `embeddings` and `events` replicated `mult` times and every other
  * table linked to the fixture, so any declared query runs on it.
  * ×N timing is QueryProbe on the printed dir:
  *
  *   runMain graft.tools.ScaleCorpus 100 [sfDir]
  *   runMain graft.tools.QueryProbe <dir> llm_minhash_dedup_fast ...
  *
  * Replicas keep the fixture's shape while the row counts grow ×N:
  *  - each document replica appends 60 salted 8-hex tokens to the
  *    text. At ~50 original words the salted shingles outnumber the
  *    shared ones, so replica-vs-replica jaccard < 0.5: near-dup
  *    clusters keep their fixture size and candidate volume grows
  *    linearly with N, not as N². Replicas 0 and 1 share a salt, so
  *    every original document has one exact twin and the dedup verify
  *    and survivor stages see real positives;
  *  - each embedding replica gets a deterministic perturbation, for
  *    the same reason;
  *  - event replicas shift `user_id`, so the 30-day span stays and
  *    density and user count grow ×N, as more traffic would.
  *
  * Queries that take a fixed slice of the fixture (`doc_id < 300`)
  * time that slice at any N, not N× its rows.
  *
  * The dir is named by `mult`, the fixture dir and the
  * `Scratch.generation` of each replicated fixture file, so a
  * regenerated fixture gets a new dir. It is written under a temporary
  * name and moved into place when complete: a dir that exists under
  * its final name is whole. Building one reaps the superseded
  * generations of the same `mult` and fixture dir, and temporary dirs
  * whose JVM is gone.
  */
object ScaleCorpus {

  /** On disk, not tmpfs: a ×100 dir is GBs. */
  private val root = "/tmp/graft-scale"

  /** The fixture dir the ×N tools replicate by default. */
  val defaultSfDir = "/root/testdata/sf0.1"

  private val replicated = Seq("documents", "embeddings", "events")

  private def hash(s: String): String = f"${s.hashCode}%08x"

  /** The ×`mult` dir of `sfDir`, built on the first call for each
    * generation of its replicated fixture files. */
  def dir(spark: SparkSession, sfDir: String, mult: Int): String = {
    require(mult >= 1, s"mult must be >= 1, got $mult")
    val src = Paths.get(sfDir).toAbsolutePath.normalize
    val family = s"x$mult-${hash(src.toString)}-"
    val name = family + hash(replicated
      .map(t => Scratch.generation(s"$src/$t.parquet")).mkString("|"))
    val out = Paths.get(root, name)
    if (!Files.isDirectory(out)) {
      Files.createDirectories(out.getParent)
      Scratch.reapOrphans(root, "tmp")
      val listing = Files.list(out.getParent)
      try listing.iterator().asScala
        .filter { p => val n = p.getFileName.toString
          n.startsWith(family) && n != name }
        .foreach(p => Scratch.deleteRecursively(p.toString))
      finally listing.close()
      val tmp = out.resolveSibling(Scratch.ownedName("tmp"))
      try {
        write(spark, src.toString, mult, tmp.toString)
        Catalog.tableNames.filterNot(replicated.contains).foreach { t =>
          Files.createSymbolicLink(tmp.resolve(s"$t.parquet"),
            src.resolve(s"$t.parquet"))
        }
        Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE)
      } finally Scratch.deleteRecursively(tmp.toString)
    }
    out.toString
  }

  /** The three replicated tables of `sfDir`, ×`mult`, into `to`. */
  private def write(spark: SparkSession, sfDir: String, mult: Int,
      to: String): Unit = {
    // Every column in the fixture's order and type; `swap` replaces
    // the named ones. Raw reads keep each file's physical encoding
    // (events `ts`), so Catalog.table normalizes it as for the fixture.
    def replicas(t: String, prep: DataFrame => DataFrame,
        swap: (String, Column)*): DataFrame = {
      val df = spark.read.parquet(s"$sfDir/$t.parquet")
      val by = swap.toMap
      prep(df.withColumn("rep", explode(sequence(lit(0), lit(mult - 1)))))
        .select(df.schema.map(f =>
          by.get(f.name).fold(col(f.name))(_.cast(f.dataType).as(f.name))): _*)
    }
    // Salted BEFORE doc_id is re-aliased, so the salt is keyed on the
    // original id that replicas 0 and 1 share: inside the select that
    // re-aliases it, `doc_id` resolves to the new, per-replica id.
    val saltKey = when(col("rep") < 2, lit(0)).otherwise(col("rep"))
    val salt = concat_ws(" ", transform(sequence(lit(1), lit(60)), j =>
      substring(md5(concat(col("doc_id"), lit("_"), saltKey,
        lit("_"), j)), 1, 8)))
    // 64 files: one big file reads back as 1-2 scan partitions, and
    // every stage fused to the scan then runs on 1-2 cores. A real
    // corpus arrives as thousands of files.
    replicas("documents",
        _.withColumn("salted", concat(col("text"), lit(" "), salt)),
        "doc_id" -> (col("doc_id") * mult + col("rep")),
        "text" -> col("salted"))
      .repartition(64).write.parquet(s"$to/documents.parquet")
    replicas("embeddings", identity,
        "vec_id" -> (col("vec_id") * mult + col("rep")),
        "embedding" -> transform(col("embedding").cast("array<double>"),
          (x, j) => x + (col("rep") * j % 97 - lit(48)) * lit(1e-3)))
      .repartition(64).write.parquet(s"$to/embeddings.parquet")
    // Range-partitioned on ts, so part-file order is event-time order,
    // and the file source, which replays in mtime order, replays in
    // event time once the parallel writes' mtimes are restamped.
    val events = s"$to/events.parquet"
    replicas("events", identity,
        "event_id" -> (col("event_id") * mult + col("rep")),
        "user_id" -> (col("user_id") + col("rep") * lit(10000000L)))
      .repartitionByRange(16, col("ts"))
      .sortWithinPartitions("ts")
      .write.parquet(events)
    new java.io.File(events).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(1700000000000L + i * 60000L) }
  }

  /** Usage: runMain graft.tools.ScaleCorpus mult [sfDir]
    * Builds (or finds) the ×mult dir and prints its path on stdout. */
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse {
      System.err.println("Usage: runMain graft.tools.ScaleCorpus mult [sfDir]")
      sys.exit(2)
    }
    val sfDir = args.lift(1).getOrElse(defaultSfDir)
    val spark = Harness.session(Harness.cores)
    try println(dir(spark, sfDir, mult)) finally spark.stop()
  }
}
