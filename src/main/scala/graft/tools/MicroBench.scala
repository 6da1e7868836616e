package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Harness
import graft.operators.TextOps
import graft.plans.{MinHashSigExpr, VectorExprs}
import graft.sources.Catalog

/** Times the native kernels in graft/plans alone at sf0.1, each forced
  * and timed through graft.Harness (min of Bench's k runs), so a kernel
  * row measures the expression, not the scan a count() would prune to.
  *
  * Usage: runMain graft.tools.MicroBench
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cores)
    val sfDir = "/root/testdata/sf0.1"
    val docs = Catalog.table(spark, sfDir, "documents")
    val shingles = TextOps.shingles3(col("text"))
    val emb = Catalog.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = emb.select(col("vec_id").as("ia"), col("v").as("va"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("v").as("vb")))
    // Higher-order functions evaluate interpreted, outside whole-stage
    // codegen: the baseline the native dot replaces.
    def hofDot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, p) => acc + p)
    val kernels: Seq[(String, DataFrame)] = Seq(
      "scan" -> docs,
      "split" -> docs.select(split(col("text"), " ").as("w")),
      "shingles3" -> docs.select(shingles.as("sh")),
      "shingles3+hash16" -> docs.select(MinHashSigExpr.minhashSig(shingles, 16).as("sig")),
      "4M pairs HOF dot" -> pairs.select(sum(hofDot(col("va"), col("vb")))),
      "4M pairs native dot" -> pairs.select(sum(VectorExprs.dot(col("va"), col("vb")))))
    kernels.foreach { case (label, df) =>
      val t = Harness.timed(spark, Harness.runsPerQuery)(df)
      println(f"$label: ${t.figure}%.2f s" + t.message.fold("")(m => s" ERROR $m"))
    }
    spark.stop()
  }
}
