package graft

import org.apache.spark.sql.functions._
import graft.operators.{Similarity, TextOps}
import graft.plans.{MinHashLsh, VectorExprs}

/** Edge semantics of the native Catalyst expressions
  * (graft.plans.MinHashLsh / VectorExprs) — the cases a synthetic
  * fixture never exercises but a 100 TB corpus will: nulls, empty
  * strings, sub-shingle-length docs, zero vectors, ragged vectors.
  */
class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  test("shingleHashes: distinct hashes; <3 words or null -> empty/null") {
    val df = Seq(
      (1L, "a b c d"),          // 2 shingles
      (2L, "a a a a"),          // 2 shingles, both "a a a" -> 1 distinct
      (3L, "one two"),          // too short -> empty
      (4L, null.asInstanceOf[String])
    ).toDF("id", "text")
    val out = df.select(col("id"),
        MinHashLsh.shingleHashes(col("text")).as("hs"))
      .as[(Long, Option[Seq[Long]])].collect().toMap
    assert(out(1L).get.size == 2)
    assert(out(2L).get.size == 1)
    assert(out(3L).get.isEmpty)
    assert(out(4L).isEmpty) // null text -> null array
  }

  test("shingleHashes agrees with SQL xxhash64 over shingles3 strings") {
    // llm_boilerplate_ngrams pass 2 recovers strings for pass-1 hashes
    // by joining on xxhash64(sh) — the native expr (XXH64 seed 42) and
    // Spark's SQL xxhash64 must produce identical values.
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text")
    val native = df.select(explode(
        MinHashLsh.shingleHashes(col("text"))).as("h"))
      .as[Long].collect().toSet
    val sql = df.select(explode(TextOps.shingles3(col("text"))).as("sh"))
      .select(xxhash64(col("sh"))).as[Long].collect().toSet
    assert(native == sql && native.size == 7)
  }

  test("lshBuckets: bands buckets for real docs, empty for empty input") {
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5"),
      (2L, "x")
    ).toDF("id", "text")
    val out = df.select(col("id"),
        MinHashLsh.lshBuckets(MinHashLsh.shingleHashes(col("text")), 16, 4)
          .as("b"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(out(1L).size == 4)
    // the empty-doc invariant that guards against a constant-bucket
    // clique of short docs (and divide-by-zero in jaccard verify)
    assert(out(2L).isEmpty)
  }

  test("lshBuckets deterministic: identical text -> identical buckets") {
    val t = (1 to 30).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, t), (2L, t)).toDF("id", "text")
    val out = df.select(
        MinHashLsh.lshBuckets(MinHashLsh.shingleHashes(col("text")), 16, 4)
          .as("b"))
      .as[Seq[Long]].collect()
    assert(out(0) == out(1))
  }

  test("native simhash16: equal text equal hash, stable under token hash") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z")).toDF("id", "text")
    val out = df.select(col("id"), MinHashLsh.simhash16(col("text")).as("h"))
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == out(2L))
    assert(out(1L) != out(3L))
    assert(out(1L) >= 0 && out(1L) < (1 << 16))
  }

  test("native simhash64: 16-bit variant is NOT a truncation; 64 bits used") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "p q r s t u v w")).toDF("id", "text")
    val out = df.select(col("id"), MinHashLsh.simhash64(col("text")).as("h"))
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == out(2L))
    assert(out(1L) != out(3L))
    // High 48 bits carry signal for at least one of the fixtures.
    assert((out(1L) >>> 16) != 0L || (out(3L) >>> 16) != 0L)
  }

  test("vec dot/norm: sequential fold values; ragged or null -> null") {
    val df = Seq(
      (1L, Some(Seq(1.0, 2.0, 3.0)), Some(Seq(4.0, 5.0, 6.0))),
      (2L, Some(Seq(1.0, 2.0)), Some(Seq(1.0, 2.0, 3.0))), // ragged
      (3L, None, Some(Seq(1.0)))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"),
        VectorExprs.dot(col("a"), col("b")).as("d"),
        VectorExprs.norm(col("a")).as("n"))
      .as[(Long, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L)._1.contains(32.0))
    assert(out(1L)._2.exists(n => math.abs(n - math.sqrt(14.0)) < 1e-12))
    assert(out(2L)._1.isEmpty) // ragged -> null, not a partial dot
    assert(out(3L)._1.isEmpty && out(3L)._2.isEmpty)
  }

  test("cosine of a zero-norm vector is null, not a runtime error") {
    val emb = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)), (3L, Seq(0.0, 0.0))
    ).toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 1).select(col("embedding").as("q"))
    val sims = emb.crossJoin(q)
      .select(col("vec_id"), Similarity.cosine(col("q"), col("embedding"),
        Similarity.norm(col("q")), Similarity.norm(col("embedding"))))
      .as[(Long, Option[Double])].collect().toMap
    assert(sims(2L).exists(_ > 0.9))
    assert(sims(3L).isEmpty)
    // exact top-k gives the null-similarity neighbour no slot
    val rows = Similarity.cosineTopK(
        emb, emb.filter(col("vec_id") === 1), "vec_id", "embedding", 2)
      .select("nid", "sim").as[(Long, Option[Double])].collect().toMap
    assert(rows.keySet == Set(2L) && rows(2L).exists(_ > 0.9))
  }

  test("srpSign deterministic and length-independent hashing") {
    val df = Seq(
      (1L, Seq(0.5, -0.2, 0.9)), (2L, Seq(0.5, -0.2, 0.9)),
      (3L, Seq(-0.5, 0.2, -0.9))
    ).toDF("id", "v")
    val out = df.select(col("id"), VectorExprs.srpSign(col("v"), 8).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == out(2L))
    // antipodal vector flips every sign bit
    assert((out(1L) ^ out(3L)) == 255L)
  }

  test("GraftExtensions registers vec_dot/vec_norm/srp_sign for plain SQL") {
    Seq((1L, Seq(3.0, 4.0))).toDF("id", "v").createOrReplaceTempView("vt")
    val r = spark.sql(
      "SELECT vec_dot(v, v) AS d, vec_norm(v) AS n, srp_sign(v, 8) AS s FROM vt")
      .as[(Double, Double, Long)].head()
    assert(r._1 == 25.0 && r._2 == 5.0)
    // SQL-path signature must equal the DSL-path signature
    val dsl = Seq(Seq(3.0, 4.0)).toDF("v")
      .select(graft.plans.VectorExprs.srpSign(col("v"), 8))
      .as[Long].head()
    assert(r._3 == dsl)
    // non-literal bit count is rejected at registration
    assertThrows[Exception] {
      spark.sql("SELECT srp_sign(v, CAST(id AS INT)) FROM vt").collect()
    }
  }

  test("minhashNearDupPairs end-to-end: nulls and short docs are inert") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, base), (2L, base),
      (3L, null.asInstanceOf[String]), (4L, ""), (5L, "one two")
    ).toDF("doc_id", "text")
    val pairs = TextOps.minhashNearDupPairs(df, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }
}
