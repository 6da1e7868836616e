package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Recall-vs-cost curve for ivfTopK on the ×100 corpus (200k × dim-64,
  * nlist≈√N=447) — the evidence behind the documented nprobe default.
  *
  * 1000 deterministic queries (vec_id < 10000, id % 10 == 0 — a strict
  * subset of ScaleBench's standard 10k query set); ground truth is the
  * exact brute-force cosineTopK over the full corpus (same 6-digit
  * rounding + id tiebreak as ivfTopK, so ranking ties can't pollute
  * recall). recall@k = |IVF ∩ GT| / |GT| over all queries.
  *
  * Usage: SPARK_DRIVER_MEM honored by sbt fork; optional args:
  *   [nprobe,nprobe,...] [k]   (defaults 9,27,81 and 10)
  */
object IvfRecall {
  def main(args: Array[String]): Unit = {
    val nprobes = args.headOption.map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(9, 27, 81))
    val k = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val spark = graft.Harness.session(graft.Harness.cores)

    // The ×100 embeddings parquet is ~one 128 MB scan partition — left
    // alone, the 200M-pair brute force runs on ONE core. Spread it.
    val emb = spark.read.parquet("/tmp/graft-scale-x100/embeddings.parquet")
      .repartition(64).cache()
    val nlist = 447
    val queries = emb.filter(col("vec_id") < 10000 && col("vec_id") % 10 === 0)
    val nq = queries.count()

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // cache() is lazy — materialize INSIDE the timed block (count),
    // so cost covers assignment + probe + re-rank, not plan building.
    val gt = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", k)
      .select(col("qid"), col("nid")).cache()
    val (nGt, tBrute) = timed(gt.count())
    println(f"[ivfrecall] brute ground truth: $nGt rows, $tBrute%.1f s " +
      s"($nq queries x $k)")

    val rows = nprobes.map { np =>
      val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k,
        nlist, np).select(col("qid"), col("nid")).cache()
      val (nIvf, tIvf) = timed(ivf.count())
      val hits = ivf.join(gt, Seq("qid", "nid")).count()
      val recall = hits.toDouble / nGt
      ivf.unpersist()
      println(f"[ivfrecall] nprobe=$np%3d  recall@$k=$recall%.4f  " +
        f"cost=$tIvf%.1f s  rows=$nIvf  " +
        f"(probe fraction ${np.toDouble / nlist}%.3f)")
      (np, recall, tIvf)
    }

    val json = rows.map { case (np, r, t) =>
      f"""{"nprobe":$np,"recall":$r%.4f,"sec":$t%.1f}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"ivf_recall_curve","nlist":$nlist,"k":$k,""" +
      s""""n_queries":$nq,"brute_sec":$tBrute,"curve":$json}""")

    // kmeans-TRAINED centroids (round 11) at the middle nprobe: does
    // Lloyd training buy recall over the sampled anchors on the same
    // corpus? (The replica corpus clusters tightly, so the sampled
    // anchors are already strong — the honest comparison to publish.)
    val npMid = nprobes(nprobes.size / 2)
    val trained = Similarity.ivfTopKTrained(emb, queries, "vec_id",
      "embedding", k, nlist, npMid, rounds = 3)
      .select(col("qid"), col("nid")).cache()
    val (nTr, tTr) = timed(trained.count())
    val hitsTr = trained.join(gt, Seq("qid", "nid")).count()
    println(f"[ivfrecall] TRAINED nprobe=$npMid%3d  " +
      f"recall@$k=${hitsTr.toDouble / nGt}%.4f  cost=$tTr%.1f s  rows=$nTr")
    spark.stop()
  }
}
