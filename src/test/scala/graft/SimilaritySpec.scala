package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.Catalog

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine matches hand computation") {
    val df = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(3.0, 4.0)))
      .toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosine(col("a"), col("b"),
        Similarity.norm(col("a")), Similarity.norm(col("b"))).as("ab"),
      Similarity.cosine(col("a"), col("c"),
        Similarity.norm(col("a")), Similarity.norm(col("c"))).as("ac"))
      .as[(Double, Double)].head()
    assert(math.abs(r._1) < 1e-12)
    assert(math.abs(r._2 - 0.6) < 1e-12)
  }

  test("cosineTopK returns k neighbours ranked by similarity") {
    val emb = Catalog.table(spark, sf0001, "embeddings")
    val out = Similarity.cosineTopK(
      emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", 3)
      .as[(Long, Int, Long, Double)].collect()
    val byQ = out.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == Seq(1, 2, 3))
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sorted.reverse.toSeq,
        "similarity must be non-increasing with rank")
      assert(!rows.exists(r => r._3 == r._1), "self must be excluded")
    }
  }

  test("null-similarity neighbours: pins today's cosineTopK ranking (FOUND in CHANGES.md)") {
    val emb = Seq(
      (1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.9, 0.1, 0.0)),
      (3L, Seq(0.0, 1.0)), (4L, Seq(0.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long, Option[Double])].collect().sortBy(_._2).toSeq
    // Today's output, not the intended contract: exact top-k still
    // ranks the two null-similarity rows, after the scored one and by
    // id, so they take two of the k slots. CHANGES.md logs this as a
    // FOUND defect; a fix that drops them updates this expectation.
    assert(rows(Similarity.cosineTopK(emb, q, "vec_id", "embedding", 3)) == Seq(
      (1L, 1, 2L, Some(0.993884)), (1L, 2, 3L, None), (1L, 3, 4L, None)))
    // the LSH path keeps only the scored neighbour
    assert(rows(Similarity.lshTopK(emb, q, "vec_id", "embedding", 3, bits = 4)) ==
      Seq((1L, 1, 2L, Some(0.993884))))
  }

  test("lshTopK has reasonable recall vs brute force on fixture vectors") {
    val emb = Catalog.table(spark, sf0001, "embeddings")
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", 1)
      .filter(col("rk") === 1)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    val approx = Similarity.lshTopK(emb, q, "vec_id", "embedding", k = 1, bits = 4)
      .filter(col("rk") === 1)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    // 4-bit LSH on near-random vectors: per-bit agreement for the true
    // NN is ~1-θ/π ≈ 0.6, so expected recall@1 ≈ 0.6^4 ≈ 0.13 — assert
    // comfortably above chance (1/500) without flaking.
    assert(approx.nonEmpty)
    val hits = approx.count { case (qid, nid) => exact.get(qid).contains(nid) }
    assert(hits.toDouble / approx.size > 0.04,
      s"recall@1 too low: $hits/${approx.size}")
  }

  test("llm_knn_pq trained-codebook shortlist+rerank has real recall") {
    import org.apache.spark.sql.expressions.Window
    val e = Catalog.table(spark, sf0001, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = q.crossJoin(e.select(col("vec_id").as("nid"), col("v").as("nv")))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        expr("round(aggregate(zip_with(qv, nv, (x, y) -> (x - y) * (x - y)), " +
          "0D, (acc, x) -> acc + x), 6)").as("dist"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("dist"), col("nid"))))
      .filter(col("rk") <= 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val pq = SparkEntry.queries("llm_knn_pq")(spark, sf0001)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    // Measured 0.83 on the fixture (iid-random vectors are PQ's worst
    // case); 0.6 floor guards the mechanism without flaking.
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.6, s"PQ recall@3 too low: $recall")
    assert(pq.size == exact.size)
  }

  test("ivfPqTopK recall floor and full-probe/full-shortlist exactness") {
    import org.apache.spark.sql.expressions.Window
    val embRaw = Catalog.table(spark, sf0001, "embeddings")
    val e = embRaw.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = q.crossJoin(e.select(col("vec_id").as("nid"), col("v").as("nv")))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        expr("round(aggregate(zip_with(qv, nv, (x, y) -> (x - y) * (x - y)), " +
          "0D, (acc, x) -> acc + x), 6)").as("dist"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("dist"), col("nid"))))
      .filter(col("rk") <= 3)
      .select("qid", "rk", "nid", "dist")
    // pruned serving config (the declared query's): recall floor on
    // the worst-case iid-random fixture — measured 0.57 at
    // nprobe=4/16 lists × 20-deep shortlist
    val pruned = SparkEntry.queries("llm_knn_ivf_pq")(spark, sf0001)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val exactSet = exact.select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (exactSet & pruned).size.toDouble / exactSet.size
    assert(recall >= 0.4, s"IVF-PQ recall@3 too low: $recall")
    assert(pruned.size == exactSet.size)
    // probe ALL lists with an unbounded shortlist -> the exact-L2
    // re-rank sees every candidate, so IVF-PQ must EQUAL brute force
    val full = graft.operators.Similarity.ivfPqTopK(
      embRaw, embRaw.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 3, shortlist = 499, centroidEvery = 32, nprobe = 16)
      .collect().map(_.toSeq).toSet
    assert(full == exact.collect().map(_.toSeq).toSet)
  }

  test("ivfTopK with nprobe == nlist degrades to exact brute force") {
    val emb = Catalog.table(spark, sf0001, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", 3)
      .collect().map(_.toSeq).toSet
    val ivf = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 3,
      nlist = 16, nprobe = 16)
      .collect().map(_.toSeq).toSet
    assert(ivf == exact)
  }

  test("ivfTopK recall vs brute force beats the probe fraction") {
    val emb = Catalog.table(spark, sf0001, "embeddings")
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", 1)
      .filter(col("rk") === 1)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    val approx = Similarity.ivfTopK(emb, q, "vec_id", "embedding", k = 1,
      nlist = 16, nprobe = 4)
      .filter(col("rk") === 1)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    assert(approx.size == 20)
    // Probing 4/16 lists scans ~25% of the corpus; the true NN shares
    // the query's neighborhood, so recall must beat blind sampling.
    val hits = approx.count { case (qid, nid) => exact.get(qid).contains(nid) }
    assert(hits.toDouble / approx.size >= 0.25,
      s"recall@1 below probe fraction: $hits/${approx.size}")
  }

  test("kmeans-trained IVF recall@3 >= the modulus-rule variant on the declared fixture") {
    // the r10 verdict's done-criterion: learned centroids must not be
    // WORSE than the synthetic modulus anchors on the same fixture —
    // both declared queries, same corpus (vec_id<400) and query set
    // (vec_id<20), ground truth = exact brute force.
    val emb = Catalog.table(spark, sf0001, "embeddings")
      .filter(col("vec_id") < 400)
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", 3)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("qid", "nid").as[(Long, Long)].collect().toSet
      (exact & got).size.toDouble / exact.size
    }
    val rKmeans = recall(SparkEntry.queries("llm_knn_ivf_kmeans")(spark, sf0001))
    val rModulus = recall(SparkEntry.queries("llm_knn_ivf")(spark, sf0001))
    assert(rKmeans >= rModulus,
      s"kmeans recall $rKmeans < modulus recall $rModulus")
    assert(rKmeans >= 0.4, s"kmeans recall floor: $rKmeans")
  }

  test("kmeansCentroids keeps a previous centroid when its cluster empties") {
    // init centroids are the 4 lowest-id vectors; vec 0 and 1 are
    // IDENTICAL, so every member ties between c0 and c1 and the
    // smallest-cid tiebreak starves c1 — the Lloyd round must retain
    // c1's previous centroid (LEFT JOIN + coalesce), never drop or
    // null it.
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(-1.0, 0.0)), (4L, Seq(0.9, 0.1)), (5L, Seq(0.1, 0.9)),
      (6L, Seq(-0.9, 0.1)), (7L, Seq(0.8, 0.2)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(vecs, "vec_id", "embedding",
      nlist = 4, rounds = 2).collect()
    assert(cents.length == 4)
    assert(cents.forall(r => !r.isNullAt(1)))
    val c1 = cents.find(_.getLong(0) == 1L).get.getSeq[Double](1)
    assert(c1 == Seq(1.0, 0.0), s"starved centroid must persist: $c1")
    // and search over the trained table still returns full top-k
    val out = Similarity.ivfTopKTrained(vecs, vecs.filter(col("vec_id") < 2),
      "vec_id", "embedding", k = 3, nlist = 4, nprobe = 2, rounds = 2)
    assert(out.count() == 6)
  }

  test("ivfTopK recall holds as nlist grows at fixed nprobe/nlist ratio") {
    // The 100 TB posture claim behind the nlist ≈ √N sizing rule:
    // recall is governed by the probe RATIO, so growing nlist with the
    // corpus (16 → 36 lists here) at the same nprobe/nlist must not
    // collapse recall. Deterministic: centroids and assignment are
    // content-addressed, no RNG.
    val emb = Catalog.table(spark, sf0001, "embeddings")
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.cosineTopK(emb, q, "vec_id", "embedding", 1)
      .filter(col("rk") === 1)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    val recalls = Seq((16, 4), (36, 9)).map { case (nlist, nprobe) =>
      val approx = Similarity.ivfTopK(emb, q, "vec_id", "embedding", k = 1,
        nlist = nlist, nprobe = nprobe)
        .filter(col("rk") === 1)
        .select("qid", "nid").as[(Long, Long)].collect().toMap
      assert(approx.size == 20)
      approx.count { case (qid, nid) =>
        exact.get(qid).contains(nid) }.toDouble / approx.size
    }
    recalls.foreach(r => assert(r >= 0.25,
      s"recall@1 below the 25% probe fraction: $recalls"))
  }

  test("neardupPairs equals the brute-force pair set on fixture vectors") {
    val emb = Catalog.table(spark, sf0001, "embeddings")
      .filter(col("vec_id") < 100)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    val a = emb.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    val brute = a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosine(col("va"), col("vb"), col("na"), col("nb")), 6).as("sim"))
      .filter(col("sim") > 0.2)
      .collect().map(_.toSeq).toSet
    val lsh = Similarity.neardupPairs(
      Catalog.table(spark, sf0001, "embeddings").filter(col("vec_id") < 100),
      "vec_id", "embedding", threshold = 0.2)
      .collect().map(_.toSeq).toSet
    assert(lsh == brute,
      s"banded candidates missed ${(brute -- lsh).size} true pairs / " +
        s"invented ${(lsh -- brute).size}")
  }

  test("neardupPairs plan contains no cartesian product or BNLJ") {
    val plan = Similarity.neardupPairs(
      Catalog.table(spark, sf0001, "embeddings").filter(col("vec_id") < 100),
      "vec_id", "embedding", threshold = 0.2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "crossJoin leaked into the plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "BNLJ leaked into the plan")
  }

  test("srpSignature is deterministic") {
    val emb = Catalog.table(spark, sf0001, "embeddings").limit(10)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val s1 = emb.select(col("vec_id"), Similarity.srpSignature(col("v"), 8).as("sig"))
      .as[(Long, Long)].collect().toMap
    val s2 = emb.select(col("vec_id"), Similarity.srpSignature(col("v"), 8).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(s1 == s2)
  }
  test("ivf-pq index artifacts round-trip parquet bit-exactly") {
    val emb = Catalog.table(spark, sf0001, "embeddings")
    val (cents, cb, coded) = Similarity.ivfPqBuildIndex(
      emb, "vec_id", "embedding", dim = 64, numSub = 16,
      codebookSize = 16, centroidEvery = 32, centroidCap = Some(64))
    val ix = graft.Scratch.dir("ivfpq-index-spec")
    cents.write.mode("overwrite").parquet(s"$ix/centroids.parquet")
    cb.write.mode("overwrite").parquet(s"$ix/codebook.parquet")
    coded.write.mode("overwrite").parquet(s"$ix/codes.parquet")
    def dig(df: org.apache.spark.sql.DataFrame, cols: String): Long =
      df.selectExpr(s"xxhash64($cols) AS h")
        .agg(expr("bit_xor(h)")).collect()(0).getLong(0)
    // artifact-by-artifact: the loaded tables are the built tables
    assert(dig(spark.read.parquet(s"$ix/centroids.parquet"),
      "cid, cv, cnrm") == dig(cents, "cid, cv, cnrm"))
    assert(dig(spark.read.parquet(s"$ix/codebook.parquet"),
      "am, cw, av") == dig(cb, "am, cw, av"))
    assert(dig(spark.read.parquet(s"$ix/codes.parquet"),
      "vec_id, codes, cid") == dig(coded, "vec_id, codes, cid"))
    // end-to-end: serving from the LOAD is row-identical to serving
    // from the in-memory build (llm_knn_index_persist's hash oracle
    // re-proven inside the suite)
    val q = emb.filter(col("vec_id") < 10).limit(10)
    def serve(c: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame,
        d: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqServe(c, b, d, q, emb, "vec_id", "embedding",
        k = 3, dim = 64, numSub = 16, codebookSize = 16,
        shortlist = 20, nprobe = 4)
        .orderBy("qid", "rk").collect().map(_.toSeq).toSeq
    assert(serve(spark.read.parquet(s"$ix/centroids.parquet").limit(64),
      spark.read.parquet(s"$ix/codebook.parquet"),
      spark.read.parquet(s"$ix/codes.parquet")) ==
      serve(cents, cb, coded))
  }

  test("incremental index update equals from-scratch encode under frozen artifacts") {
    // llm_knn_index_update's provable-equality contract: with the
    // centroids/codebook immutable, (1) re-encoding the training
    // corpus reproduces the built lists byte-for-byte, and
    // (2) built(corpus) ∪ encodeWith(arrivals) == encodeWith(union) —
    // so appending the arrival codes IS the from-scratch index of the
    // union, at |arrivals| cost.
    val emb = Catalog.table(spark, sf0001, "embeddings")
    val corpus = emb.filter(col("vec_id") % 17 =!= 0)
    val arrivals = emb.filter(col("vec_id") % 17 === 0)
    val (cents, cb, coded) = Similarity.ivfPqBuildIndex(
      corpus, "vec_id", "embedding", dim = 64, numSub = 16,
      codebookSize = 16, centroidEvery = 32, centroidCap = Some(64))
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.select("vec_id", "codes", "cid").collect().map(_.toSeq).toSet
    val reenc = Similarity.ivfPqEncodeWith(cents, cb, corpus,
      "vec_id", "embedding", dim = 64, numSub = 16)
    assert(rows(reenc) == rows(coded),
      "re-encoding the corpus under its own artifacts must reproduce the lists")
    val newCodes = Similarity.ivfPqEncodeWith(cents, cb, arrivals,
      "vec_id", "embedding", dim = 64, numSub = 16)
    val unionEnc = Similarity.ivfPqEncodeWith(cents, cb, emb,
      "vec_id", "embedding", dim = 64, numSub = 16)
    assert(rows(coded) ++ rows(newCodes) == rows(unionEnc),
      "append(encode(arrivals)) must equal the from-scratch union encode")
    assert(rows(newCodes).nonEmpty && rows(coded).nonEmpty)
  }
}
