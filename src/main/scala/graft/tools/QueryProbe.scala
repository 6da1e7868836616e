package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.{Harness, SparkEntry}

/** Times declared queries at a given SF dir — dev utility for iterating
  * on query plans without a full Bench run. Warms up, forces and times
  * through graft.Harness exactly as Bench does, with Bench's k. For the
  * per-job and per-layer split, run perfbench with `--trace 1`. On a
  * `ScaleCorpus` dir it is the ×N timing.
  *
  * Usage: runMain graft.tools.QueryProbe [sfDir] name [name ...]
  * Env:   QP_PLANS=dir    also write explain("formatted") to dir/<name>.txt
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // Fail fast on the pre-r18 arg order ([name] [sfDir] [runs]): a
    // query name in the dir slot would silently probe the default
    // query against a nonexistent data dir.
    if (!Files.isDirectory(Paths.get(dir))) {
      System.err.println(
        s"QueryProbe: '$dir' is not a directory.\n" +
          "Usage: runMain graft.tools.QueryProbe [sfDir] name [name ...]")
      sys.exit(2)
    }
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("llm_decontaminate")
    val spark = Harness.session(Harness.cores)
    Harness.warmUp(spark)
    val planDir = sys.env.get("QP_PLANS")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      planDir.foreach { pd =>
        Files.createDirectories(Paths.get(pd))
        // queryExecution.explainString matches df.explain("formatted")
        val txt = fn(spark, dir).queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(pd, s"$n.txt"), txt)
      }
      val t = Harness.timed(spark, Harness.runsPerQuery)(fn(spark, dir))
      t.runs.zipWithIndex.foreach { case (r, i) =>
        println(f"$n run${i + 1}: ${r.seconds}%.3f s" +
          r.error.fold("")(e => s" ERROR $e"))
      }
      println(f"$n min: ${t.figure}%.3f s")
    }
    spark.stop()
  }
}
