package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import graft.operators.CodeOps

/** Within-run staging (`Scratch.once`) must not change what a query
  * returns: each query that reads a staged artifact returns the same
  * rows when it pays for the artifact itself (cold) as when an earlier
  * run in the same JVM already staged it (warm), and the unigram
  * trainers return the same rows whichever of the pair runs first.
  *
  * Each case runs on a new copy of sf0.001, written over the same
  * directory with a new mtime. The copy is a new generation of every
  * fixture file, so its registry entries start cold without any reset
  * hook: the cold run must stage something new under `runRoot`, and
  * the warm run nothing. */
class StagingOrderSpec extends SparkSpec {

  private lazy val fixtureDir = Files.createTempDirectory("staging-order")
  private var copies = 0L

  /** sf0.001 copied over the same directory with a new mtime each time:
    * a new generation of every file at an unchanged path. */
  private def freshFixtures(): String = {
    copies += 1
    val stamp = FileTime.fromMillis(1600000000000L + copies * 1000L)
    val listing = Files.list(Paths.get(sf0001))
    try listing.iterator().asScala.foreach { f =>
      val copy = fixtureDir.resolve(f.getFileName)
      Files.copy(f, copy, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(copy, stamp)
    } finally listing.close()
    fixtureDir.toString
  }

  private def rows(name: String, dir: String): Seq[String] =
    SparkEntry.queries(name)(spark, dir).collect().map(_.toString).toSeq.sorted

  private val staged = Seq(
    "scan_jsonl", "scan_csv", "scan_orc", "scan_partitioned", "scan_evolved",
    "sink_csv", "sink_jsonl", "sink_parquet_zstd", "join_bucketed",
    "etl_compact_files", "etl_footer_audit",
    "llm_knn_index_persist", "llm_knn_index_update",
    "llm_substring_dedup_rewrite", "llm_bpe_apply", "llm_bpe_byte_apply",
    "llm_unigram_train", "llm_unigram_train_pruned", "llm_unigram_apply",
    "llm_cluster_topics",
    "stream_join", "stream_join_outer", "stream_join_full",
    "stream_join_right", "stream_upsert_sink")

  /** What the run has staged so far: the entries under `runRoot`. */
  private def stagedEntries(): Set[String] = {
    val listing = Files.list(Paths.get(Scratch.runRoot))
    try listing.iterator().asScala.map(_.getFileName.toString).toSet
    finally listing.close()
  }

  /** Runs `name` on new fixtures: the rows, and what the run staged. */
  private def cold(name: String): (Seq[String], Set[String]) = {
    val dir = freshFixtures()
    val before = stagedEntries()
    val out = rows(name, dir)
    val made = stagedEntries() -- before
    assert(made.nonEmpty, s"$name staged nothing from new fixtures")
    (out, made)
  }

  staged.foreach { name =>
    test(s"$name returns the same rows cold and warm") {
      val before = stagedEntries()
      val (first, made) = cold(name)
      assert(first.nonEmpty, s"$name returned no rows")
      assert(rows(name, fixtureDir.toString) == first)
      assert(stagedEntries() -- before == made, s"$name staged again when warm")
      // the fixtures regenerated: cold again, same rows
      assert(cold(name)._1 == first)
    }
  }

  test("the unigram trainers return the same rows whichever runs first") {
    val (pruned, _) = cold("llm_unigram_train_pruned")
    val trainAfter = rows("llm_unigram_train", fixtureDir.toString)
    assert(rows("llm_unigram_train_pruned", fixtureDir.toString) == pruned)
    val (trainFirst, _) = cold("llm_unigram_train")
    assert(trainFirst == trainAfter)
    assert(rows("llm_unigram_train_pruned", fixtureDir.toString) == pruned)
  }

  test("fixture generations and staging markers live only in Scratch.scala") {
    def found(pattern: String): Seq[String] = {
      val re = pattern.r
      val walk = Files.walk(Paths.get("src/main"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .filter(p => re.findFirstIn(CodeOps.strip(Files.readString(p)).text).isDefined)
        .map(_.toString).sorted
      finally walk.close()
    }
    val scratch = "src/main/scala/graft/Scratch.scala"
    assert(found("[lL]astModifiedTime") == Seq(scratch),
      "key staged artifacts with Scratch.generation")
    assert(found("ConcurrentHashMap") == Seq(scratch),
      "register staged artifacts with Scratch.once")
    assert(found("_SUCCESS|_NROWS").forall(_ == scratch),
      "gate staged artifacts with Scratch.once, not a marker file")
  }
}
