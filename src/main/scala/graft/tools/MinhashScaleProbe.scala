package graft.tools

import org.apache.spark.sql.functions._

import graft.plans.MinHashLsh

/** Stage-by-stage row counts + timings of minhashNearDupPairs on a
  * /tmp scaled corpus — locates which stage's volume bent when the
  * ×1000 run exhausted the box's spill disk.
  * Usage: runMain graft.tools.MinhashScaleProbe [corpusDir] [e2e]
  *
  * `e2e` additionally runs the FULL minhashDedup — candidates → exact
  * jaccard verify → survivor anti-join — the round-9 verdict's last
  * "sized, not timed" member. The verify shuffle carries one shingle
  * array per candidate pair (~0.1 TB at ×1000), so the run wants every
  * spill device the box has: SPARK_GRAFT_LOCAL_DIRS (comma-separated,
  * read by graft.Harness.session) spreads spill across /tmp AND a
  * bounded tmpfs share — the same multiple-disk configuration a real
  * cluster node runs with, where local.dir lists every NVMe.
  */
object MinhashScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.filterNot(_ == "e2e").headOption
      .getOrElse("/tmp/graft-scale-x1000")
    val spark = graft.Harness.session(graft.Harness.cores)
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[mhprobe] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    println("[mhprobe] docs=" + docs.count())
    val (numHashes, bands, maxBucket) = (16, 4, 1000)
    val bandRows = docs.select(
      col("doc_id").as("id"),
      posexplode(MinHashLsh.lshBuckets(
        MinHashLsh.shingleHashes(col("text")), numHashes, bands))
        .as(Seq("band", "bucket")))
    time("bandRows")(println("[mhprobe] bandRows=" + bandRows.count()))
    val sizes = bandRows.groupBy("band", "bucket").count()
    time("bucket histogram") {
      sizes.select(
        count(lit(1)).as("n_buckets"),
        max("count").as("max_size"),
        sum(when(col("count") > 1, col("count") * (col("count") - 1) / 2)
          .otherwise(0)).as("pairs_uncapped"),
        sum(when(col("count") <= maxBucket,
            col("count") * (col("count") - 1) / 2).otherwise(0))
          .as("pairs_capped"),
        sum(when(col("count") > maxBucket, 1).otherwise(0)).as("n_over_cap"))
        .show(false)
    }
    val capped = bandRows
      .withColumn("bsize",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("band", "bucket")))
      .filter(col("bsize") <= maxBucket)
    val cand = capped.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(capped.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    time("candidates")(println("[mhprobe] cand=" + cand.count()))
    if (args.contains("e2e")) {
      // The REAL operator end-to-end: the verify stage joins each
      // candidate pair back to its two shingle-hash arrays and keeps
      // exact jaccard >= 0.5; survivors = docs with no verified dup of
      // smaller id. On the x1000 adversarial corpus this is the
      // ~123M-pair / ~0.1 TB shuffle the r6 record sized.
      time("e2e_minhash_dedup") {
        val survivors = graft.operators.TextOps
          .minhashDedup(docs, "doc_id", "text")
        println("[mhprobe] survivors=" + survivors.count())
      }
    }
    spark.stop()
  }
}
