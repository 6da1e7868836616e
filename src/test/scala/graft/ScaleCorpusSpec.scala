package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll

import graft.sources.Catalog
import graft.tools.ScaleCorpus

/** `ScaleCorpus.dir` at ×2 on copies of sf0.001: replication, reuse of a
  * whole dir, a new dir per fixture generation, the replica-0/1 exact
  * twins a declared dedup query sees, and a streaming query replaying
  * the replicated events. */
class ScaleCorpusSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val fixtureDir = Files.createTempDirectory("scale-corpus")
  private val built = scala.collection.mutable.Set.empty[String]

  /** sf0.001 copied over `fixtureDir` with mtime `stamp`: a new
    * generation of every file at an unchanged path. */
  private def fixtures(stamp: Long): String = {
    val listing = Files.list(Paths.get(sf0001))
    try listing.iterator().asScala.foreach { f =>
      val copy = fixtureDir.resolve(f.getFileName)
      Files.copy(f, copy, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(copy, FileTime.fromMillis(stamp))
    } finally listing.close()
    fixtureDir.toString
  }

  private def x2(sf: String): String = {
    val d = ScaleCorpus.dir(spark, sf, 2)
    built += d
    d
  }

  /** Every path under `dir` with its mtime. */
  private def tree(dir: String): Map[Path, FileTime] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala
      .map(p => p -> Files.getLastModifiedTime(p)).toMap
    finally walk.close()
  }

  private lazy val first = x2(fixtures(1600000000000L))

  override def afterAll(): Unit = {
    built.foreach(Scratch.deleteRecursively)
    Scratch.deleteRecursively(fixtureDir.toString)
  }

  test("documents, embeddings and events have 2x the rows; every table reads") {
    Seq("documents", "embeddings", "events").foreach { t =>
      assert(Catalog.table(spark, first, t).count() ==
        2 * Catalog.table(spark, sf0001, t).count(), t)
    }
    Catalog.tableNames.foreach { t =>
      assert(Catalog.table(spark, first, t).schema ==
        Catalog.table(spark, sf0001, t).schema, t)
      assert(Catalog.table(spark, first, t).count() > 0, t)
    }
  }

  test("a second call returns the same dir without writing") {
    val before = tree(first)
    assert(x2(fixtureDir.toString) == first)
    assert(tree(first) == before)
  }

  test("llm_exact_dedup keeps one survivor per original doc: the replica-0/1 twins") {
    val q = SparkEntry.queries("llm_exact_dedup")(spark, first)
    Harness.force(q)
    val docs = Catalog.table(spark, sf0001, "documents")
    // NULL text salts to NULL, so all NULL-text rows are one group
    val nullGroups = math.min(1L, docs.filter(col("text").isNull).count())
    assert(q.count() == docs.filter(col("text").isNotNull).count() + nullGroups)
  }

  test("stream_session_true replays the replicated events: 2x the sessions") {
    def sessions(dir: String): Long =
      SparkEntry.queries("stream_session_true")(spark, dir).count()
    assert(sessions(first) == 2 * sessions(sf0001))
  }

  test("a regenerated fixture gets a new dir; the old one and leftovers are reaped") {
    val old = first
    // a temporary dir left by a JVM that is gone
    val dead = new ProcessBuilder("true").start()
    dead.waitFor()
    val leftover = Paths.get(old).resolveSibling(s"tmp-${dead.pid()}-1")
    Files.createDirectories(leftover.resolve("documents.parquet"))
    val fresh = x2(fixtures(1600000001000L))
    assert(fresh != old && fresh != leftover.toString)
    assert(Files.isDirectory(Paths.get(fresh)))
    assert(!Files.exists(Paths.get(old)), "superseded generation not reaped")
    assert(!Files.exists(leftover), "leftover temporary dir not reaped")
    assert(Catalog.table(spark, fresh, "documents").count() ==
      2 * Catalog.table(spark, sf0001, "documents").count())
  }
}
