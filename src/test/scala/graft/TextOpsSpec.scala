package graft

import org.apache.spark.sql.functions._
import graft.operators.TextOps

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("exactDedup keeps lowest id per identical normalized text") {
    val df = Seq(
      (1L, "Hello,   World!"),
      (2L, "hello world"),          // same after normalization
      (3L, "something else entirely"),
      (4L, "HELLO WORLD")           // same again
    ).toDF("doc_id", "text")
    val kept = TextOps.exactDedup(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("llm_dedup_keep_best keeps the longest copy, lowest id on ties") {
    // The sf0.01 fixture has no exact duplicates, so the declared
    // query's argmax never fires there — pin it on crafted clusters
    // through the real query (temp parquet dir, same reader path).
    val dir = java.nio.file.Files.createTempDirectory("keepbest").toString
    Seq(
      (1L, "Hello,   World!", 15L),
      (2L, "hello world", 11L),      // same fp, shorter -> dropped
      (3L, "HELLO WORLD extended", 20L), // different fp
      (4L, "HELLO? WORLD!", 13L),    // same fp as 1/2, shorter than 1
      (5L, "solo doc", 8L),
      (6L, "Solo   DOC", 10L),       // same fp as 5, LONGER -> kept
      (7L, "solo doc!!", 10L)        // same fp, same length, higher id
    ).toDF("doc_id", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("llm_dedup_keep_best")(spark, dir)
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(out.keySet == Set(1L, 3L, 6L))
    assert(out(1L) == 3L && out(3L) == 1L && out(6L) == 3L)
  }

  test("sharded BPE trainer emits identical merges to the unsharded form") {
    // Counts are sums over disjoint word-hash shards, so the global
    // top-1 each round must see the same totals — merge rules must be
    // row-identical for any shard count, including shards > distinct
    // words (some shards empty).
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .limit(80)
    val words = docs.select(explode(split(col("text"), " ")).as("word"))
    val wf = words.groupBy("word").agg(count(lit(1)).as("freq"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("step", "left_sym", "right_sym", "merged", "cnt")
      .as[(Int, String, String, String, Long)].collect().toSeq
    val base = rows(TextOps.bpeTrainMerges(wf, 5))
    assert(base.size == 5)
    Seq(3, 8).foreach { s =>
      assert(rows(TextOps.bpeTrainMergesSharded(words, 5, s)) == base,
        s"shards=$s diverged")
    }
  }

  test("joinSegmentation shuffle fallback matches the broadcast path") {
    // The broadcast guard must be output-invisible: force the fallback
    // with a zero threshold and compare row-for-row against the
    // broadcast path on the same trained vocab.
    val wordFreq = Seq(
      ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L)
    ).toDF("word", "freq")
    val vocab = TextOps.bpeVocabSyms(wordFreq, 4).select("word", "syms")
    val words = Seq((1L, 0, "low"), (1L, 1, "newest"), (2L, 0, "widest"))
      .toDF("doc_id", "ord", "word")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("ord"), col("word"),
        array_join(col("syms"), " ").as("p"))
      .as[(Long, Int, String, String)].collect().sortBy(r => (r._1, r._2))
    val bc = rows(TextOps.joinSegmentation(words, vocab))
    val sh = rows(TextOps.joinSegmentation(words, vocab,
      maxBroadcastRows = 0L))
    assert(bc.nonEmpty && bc.toSeq == sh.toSeq)
    // And the fallback's LOOKUP join really is the shuffle-hash form
    // (the vocab's internal base∖overrides anti-join stays broadcast —
    // that one is bounded by the overrides set, not the vocab size).
    val plan = TextOps.joinSegmentation(words, vocab, maxBroadcastRows = 0L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"))
  }

  test("sharedSpans LOCATES a 60-token verbatim run repeated_spans only scores") {
    // Two docs share a 60-token verbatim run embedded at DIFFERENT
    // offsets (17 in doc 1, 5 in doc 2). llm_repeated_spans can say
    // "doc 1 has duplicated 8-grams" but not where or with whom;
    // sharedSpans must emit exactly one maximal span per doc pair
    // with both start positions and the exact token length.
    def uniq(tag: String, n: Int): Seq[String] =
      (0 until n).map(i => s"u$tag$i")
    val run = (0 until 60).map(i => s"shared$i")
    val doc1 = (uniq("a", 17) ++ run ++ uniq("b", 9)).mkString(" ")
    val doc2 = (uniq("c", 5) ++ run ++ uniq("d", 21)).mkString(" ")
    val doc3 = uniq("e", 40).mkString(" ") // no overlap
    val docs = Seq((1L, doc1), (2L, doc2), (3L, doc3)).toDF("doc_id", "text")
    val spans = TextOps.sharedSpans(docs, "doc_id", "text",
      k = 8, minLen = 50, dfCap = 8)
      .select("id_a", "id_b", "a_start", "b_start", "len_tokens")
      .as[(Long, Long, Int, Int, Long)].collect().toSeq
    assert(spans == Seq((1L, 2L, 17, 5, 60L)))
    // the located positions really do address the run: slice both docs
    val s1 = doc1.split(" ").slice(17, 17 + 60).toSeq
    val s2 = doc2.split(" ").slice(5, 5 + 60).toSeq
    assert(s1 == run && s2 == run)
    // and repeated_spans on the same corpus scores the duplication but
    // carries no location/pair information in its schema at all
    val dir = java.nio.file.Files.createTempDirectory("spans").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rs = SparkEntry.queries("llm_repeated_spans")(spark, dir)
    assert(!rs.columns.exists(c => c.contains("start") || c.contains("pos")))
    val dup = rs.filter(col("doc_id") === 1L)
      .select("n_dup").as[Long].collect().head
    assert(dup == 53) // 60-token run → 53 duplicated 8-gram windows
  }

  test("substring-dedup rewrite cuts the located run from the LATER doc only") {
    val run = (0 until 60).map(i => s"shared$i")
    val doc1 = ((0 until 17).map(i => s"ua$i") ++ run ++
      (0 until 9).map(i => s"ub$i")).mkString(" ")
    val doc2 = ((0 until 5).map(i => s"uc$i") ++ run ++
      (0 until 21).map(i => s"ud$i")).mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("cut").toString
    Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("llm_substring_dedup_rewrite")(spark, dir)
      .select("doc_id", "n_orig", "n_kept", "text_dedup")
      .as[(Long, Int, Long, String)].collect().sortBy(_._1)
    // doc 1 (first occurrence) intact; doc 2 loses exactly the 60 tokens
    assert(out(0) == ((1L, 86, 86L, doc1)))
    assert(out(1)._2 == 86 && out(1)._3 == 26L)
    assert(out(1)._4 ==
      ((0 until 5).map(i => s"uc$i") ++ (0 until 21).map(i => s"ud$i"))
        .mkString(" "))
  }

  test("sharedSpans stitches across a popular interior anchor (dfCap recall hole)") {
    // The r10 weak: a rare 60-token duplicated run whose INTERIOR
    // holds one corpus-popular 8-gram. That single anchor's df exceeds
    // dfCap and is dropped, splitting the run into two 33-token
    // islands — with minLen=50 the OLD code emitted NOTHING and the
    // rewrite left the duplication uncut. Island stitching must
    // recover the full span: the islands sit 2 anchor positions apart
    // (≤ k), so their token coverage is contiguous and every token is
    // anchor-vouched.
    def uniq(tag: String, n: Int): Seq[String] =
      (0 until n).map(i => s"$tag$i")
    val pop = uniq("pop", 8) // the popular phrase, df=11 > dfCap=8
    val run = uniq("ra", 26) ++ pop ++ uniq("rb", 26) // 60 tokens
    val doc1 = (uniq("ua", 17) ++ run).mkString(" ")
    val doc2 = (uniq("uc", 5) ++ run).mkString(" ")
    val fillers = (10L until 19L).map(i =>
      (i, (Seq(s"f${i}x", s"f${i}y") ++ pop ++ Seq(s"f${i}z", s"f${i}w"))
        .mkString(" ")))
    val docs = (Seq((1L, doc1), (2L, doc2)) ++ fillers)
      .toDF("doc_id", "text")
    val spans = TextOps.sharedSpans(docs, "doc_id", "text",
      k = 8, minLen = 50, dfCap = 8)
      .select("id_a", "id_b", "a_start", "b_start", "len_tokens")
      .as[(Long, Long, Int, Int, Long)].collect().toSeq
    assert(spans == Seq((1L, 2L, 17, 5, 60L)))
  }

  test("sharedSpans does NOT stitch across a >= k anchor gap (unvouched hole)") {
    // A popular subrun of 15 tokens (>= 2k-1) drops 8 CONSECUTIVE
    // anchors; the islands sit 9 positions apart (> k), so one token
    // of the coverage is vouched by no surviving anchor. Stitching
    // must refuse — the declared semantics only report runs every
    // token of which an anchor proves — and emit the two 27-token
    // fragments instead.
    def uniq(tag: String, n: Int): Seq[String] =
      (0 until n).map(i => s"$tag$i")
    val q = uniq("qq", 15)
    val run = uniq("ca", 20) ++ q ++ uniq("cb", 20) // 55 tokens
    val doc1 = (uniq("va", 3) ++ run).mkString(" ")
    val doc2 = (uniq("vb", 7) ++ run).mkString(" ")
    val fillers = (40L until 49L).map(i =>
      (i, (Seq(s"g${i}x") ++ q ++ Seq(s"g${i}y")).mkString(" ")))
    val docs = (Seq((31L, doc1), (32L, doc2)) ++ fillers)
      .toDF("doc_id", "text")
    val spans = TextOps.sharedSpans(docs, "doc_id", "text",
      k = 8, minLen = 10, dfCap = 8)
      .select("id_a", "id_b", "a_start", "b_start", "len_tokens")
      .as[(Long, Long, Int, Int, Long)].collect().toSeq.sortBy(_._3)
    assert(spans == Seq((31L, 32L, 3, 7, 27L), (31L, 32L, 31, 35, 27L)))
  }

  test("sharedSpans equals brute-force maximal runs on adversarial small-alphabet corpora") {
    // Property pair proving the island stitching sound AND complete:
    //  (1) with dfCap = ∞ the reported set EQUALS the brute-force
    //      maximal shared runs — stitching can never merge across a
    //      true mismatch, because no anchor covers the mismatched
    //      token, which forces an anchor gap ≥ k+1 (> the stitch
    //      bound k);
    //  (2) under a tight dfCap every reported span must still be
    //      VERBATIM true on both sides (soundness — only recall may
    //      drop). An 6-token alphabet forces heavy within- and
    //      cross-doc k-gram repetition, the adversarial regime for
    //      the diagonal construction.
    val rng = new scala.util.Random(7)
    val alpha = Vector("a", "b", "c", "d", "e", "f")
    val docs = (0 until 10).map { i =>
      (i.toLong, Seq.fill(30 + rng.nextInt(50))(
        alpha(rng.nextInt(alpha.size))).mkString(" "))
    }
    val toks = docs.map { case (id, t) => id -> t.split(" ").toVector }.toMap
    def bruteMaximalRuns(a: Vector[String], b: Vector[String], minLen: Int)
        : Set[(Int, Int, Long)] = {
      val out = collection.mutable.Set.empty[(Int, Int, Long)]
      for (diag <- -(b.size - 1) to (a.size - 1)) {
        var run = 0
        val lo = math.max(0, diag); val hi = math.min(a.size, b.size + diag)
        for (pa <- lo until hi) {
          if (a(pa) == b(pa - diag)) run += 1
          else {
            if (run >= minLen) out += ((pa - run, pa - run - diag, run.toLong))
            run = 0
          }
        }
        if (run >= minLen) out += ((hi - run, hi - run - diag, run.toLong))
      }
      out.toSet
    }
    val df = docs.toDF("doc_id", "text")
    val got = TextOps.sharedSpans(df, "doc_id", "text",
      k = 8, minLen = 10, dfCap = 1000000)
      .select("id_a", "id_b", "a_start", "b_start", "len_tokens")
      .as[(Long, Long, Int, Int, Long)].collect().toSet
    val want = (for {
      i <- docs.indices; j <- (i + 1) until docs.size
      (as, bs, len) <- bruteMaximalRuns(toks(i.toLong), toks(j.toLong), 10)
    } yield (i.toLong, j.toLong, as, bs, len)).toSet
    assert(got == want,
      s"uncapped mismatch: extra=${got -- want} missing=${want -- got}")
    // (2) tight cap: subset of truth, and every span verbatim-checked
    val capped = TextOps.sharedSpans(df, "doc_id", "text",
      k = 8, minLen = 10, dfCap = 3)
      .select("id_a", "id_b", "a_start", "b_start", "len_tokens")
      .as[(Long, Long, Int, Int, Long)].collect()
    capped.foreach { case (ia, ib, as, bs, len) =>
      val sa = toks(ia).slice(as, as + len.toInt)
      val sb = toks(ib).slice(bs, bs + len.toInt)
      assert(sa == sb && sa.size == len.toInt,
        s"capped span not verbatim: ($ia,$ib,$as,$bs,$len)")
    }
  }

  test("sharedSpans caps boilerplate anchors and keeps sub-minLen runs out") {
    // dfCap: an 8-gram shared by MANY docs (template boilerplate) must
    // not explode into pairs; a shared run shorter than minLen must
    // not emit.
    val boiler = (0 until 12).map(i => s"tpl$i").mkString(" ")
    val short = (0 until 20).map(i => s"sh$i").mkString(" ")
    val docs = ((1L to 10L).map(i => (i, s"$boiler uu$i vv$i ww$i")) ++
      Seq((20L, s"$short x20a x20b"), (21L, s"y21a y21b $short")))
      .toDF("doc_id", "text")
    // boilerplate run appears in 10 docs > dfCap=8 → no pairs from it;
    // the 20-token run is shared but minLen=50 excludes it
    val spans = TextOps.sharedSpans(docs, "doc_id", "text",
      k = 8, minLen = 50, dfCap = 8).collect()
    assert(spans.isEmpty)
    // with minLen at the 20-token run's length it emits exactly that
    val spans2 = TextOps.sharedSpans(docs, "doc_id", "text",
      k = 8, minLen = 20, dfCap = 8)
      .select("id_a", "id_b", "a_start", "b_start", "len_tokens")
      .as[(Long, Long, Int, Int, Long)].collect().toSeq
    assert(spans2 == Seq((20L, 21L, 0, 2, 20L)))
  }

  test("fingerprint native kernel equals the regex reference form") {
    // The fused one-pass normalization must be byte-identical to the
    // regex chain the DuckDB oracle computes — on the whole fixture
    // corpus AND on crafted edge strings (leading/trailing/multiple
    // spaces, punctuation runs, digits, mixed case, unicode, empties).
    val fixture = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("text"))
    val crafted = Seq(
      "", " ", "   ", "a", "A!B", "  Hello,   WORLD!!  ", "123  456",
      "!!!", "tabs\tand\nnewlines", "café Über İstanbul",
      "ALL CAPS TEXT", "a!b@c#d$e%f", "trailing space ", " leading",
      "emoji 😀 inside", "mixed42numbers and-dashes_under"
    ).toDF("text")
    Seq(fixture, crafted).foreach { df =>
      val diff = df.select(
          TextOps.fingerprint(col("text")).as("native"),
          TextOps.fingerprintRegex(col("text")).as("regex"))
        .filter(not(col("native") <=> col("regex")))
        .count()
      assert(diff == 0L, s"$diff rows diverge from the regex reference")
    }
  }

  test("boilerplateTopK: threshold fast path matches exact string top-k") {
    // 30 docs sharing one boilerplate sentence + unique tails: the
    // 20th-largest df is well above the tie floor, so the threshold
    // candidate set stays tiny and the fast path runs.
    val docs = (1L to 30L).map(i =>
      (i, s"all rights reserved contact us today item$i unique tail $i"))
      .toDF("doc_id", "text")
    val fast = TextOps.boilerplateTopK(docs, "doc_id", "text")
      .as[(String, Long)].collect().toSeq
    val exact = docs
      .select(col("doc_id"), explode(TextOps.shingles3(col("text"))).as("sh"))
      .distinct().groupBy("sh").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("sh")).limit(20)
      .as[(String, Long)].collect().toSeq
    assert(fast == exact)
    assert(fast.head._2 == 30L) // the shared boilerplate tops the list
  }

  test("boilerplateTopK: tie explosion falls back, stays exact, bounded") {
    // Every shingle unique -> every df=1 -> threshold=1 -> the
    // candidate set would be the ENTIRE df table; the candCap guard
    // must trigger the string-keyed fallback and still return the
    // exact (df desc, sh asc) top-k.
    val docs = (1L to 300L).map(i =>
      (i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"))
      .toDF("doc_id", "text")
    val out = TextOps.boilerplateTopK(docs, "doc_id", "text",
      k = 20, candCap = 64)
      .as[(String, Long)].collect().toSeq
    assert(out.size == 20)
    assert(out.forall(_._2 == 1L))
    // Exact tie-break: lexicographically first 20 shingles.
    val allSh = docs
      .select(explode(TextOps.shingles3(col("text"))).as("sh"))
      .distinct().orderBy("sh").limit(20).as[String].collect().toSeq
    assert(out.map(_._1) == allSh)
  }

  test("shingles3 produces distinct 3-gram shingles; short text -> empty") {
    val df = Seq((1L, "a b c d"), (2L, "a b")).toDF("id", "text")
    val out = df.select(col("id"), TextOps.shingles3(col("text")).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(out(1L).toSet == Set("a b c", "b c d"))
    assert(out(2L).isEmpty)
  }

  /** Texts with no 3-shingle — null, empty, two words — and two
    * identical one-shingle texts, as ids 4-8. */
  private val edgeDocs = Seq(
    (4L, null: String), (5L, ""), (6L, "one two"),
    (7L, "a a a a a a"), (8L, "a a a a a a"))

  test("minhash similarity approximates jaccard") {
    // two near-identical docs (high jaccard) vs an unrelated one
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = (1 to 60).map(i => if (i == 30) "CHANGED" else s"w$i").mkString(" ")
    val far = (100 to 160).map(i => s"x$i").mkString(" ")
    val df = (Seq((1L, base), (2L, near), (3L, far)) ++ edgeDocs)
      .toDF("doc_id", "text")
    val pairs = TextOps.minhashNearDupPairs(df, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "near-dup pair must surface via LSH")
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L),
      "unrelated doc must not pair")
    // null, empty and sub-shingle texts have no shingles and never
    // pair; two identical one-shingle texts pair at jaccard 1
    assert(pairs.filter(_._1 >= 4L) == Set((7L, 8L)))
  }

  test("minhashDedup drops the higher-id near-duplicate") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = (1 to 60).map(i => if (i == 30) "CHANGED" else s"w$i").mkString(" ")
    val df = (Seq((1L, base), (2L, near)) ++ edgeDocs).toDF("doc_id", "text")
    val kept = TextOps.minhashDedup(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 4L, 5L, 6L, 7L))
  }

  test("simhash dedup: identical text collapses, distinct text survives") {
    val df = (Seq((1L, "a b c d e"), (2L, "a b c d e"),
      (3L, "totally different words here")) ++ edgeDocs.take(3))
      .toDF("doc_id", "text")
    val rows = TextOps.simhashDedup(df, "doc_id", "text")
      .select("doc_id", "sh64").as[(Long, Option[Long])].collect().toSeq
    assert(rows.map(_._1).sorted == Seq(1L, 3L, 4L, 5L, 6L))
    // a null text keeps its row with a null fingerprint
    val sh = rows.toMap
    assert(sh(4L).isEmpty && sh(5L).isDefined)
  }

  test("simhash dedup catches near-dups within hamming<=3 of 64 bits") {
    // One changed token in a 80-token doc perturbs each of the 64 sign
    // sums by at most 2 — fingerprints land within a few bits.
    val base = (1 to 80).map(i => s"tok$i").mkString(" ")
    val near = (1 to 80).map(i => if (i == 40) "CHANGED" else s"tok$i").mkString(" ")
    val far = (1 to 80).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val kept = TextOps.simhashDedup(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L))
  }

  test("simhash recall vs minhash on a seeded near-dup corpus") {
    // 10 base docs + 5 near-dup copies (one token changed in 300 —
    // simhash's regime: each bit's sign-sum has σ≈√300, a single token
    // perturbs it by ≤2, so few bits flip). MinHash (jaccard-verified)
    // is the reference detector; banded simhash must drop at least 4 of
    // the 5 dups minhash drops, and never drop a doc minhash considers
    // unique.
    val docs = (0 until 10).map { d =>
      (d.toLong, (1 to 300).map(i => s"d${d}w$i").mkString(" "))
    }
    val dups = (0 until 5).map { d =>
      (100L + d,
       (1 to 300).map(i => if (i == 150) "XX" else s"d${d}w$i").mkString(" "))
    }
    val df = (docs ++ dups).toDF("doc_id", "text")
    val mhKept = TextOps.minhashDedup(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val shKept = TextOps.simhashDedup(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val mhDropped = (docs ++ dups).map(_._1).toSet -- mhKept
    val shDropped = (docs ++ dups).map(_._1).toSet -- shKept
    assert(mhDropped.size == 5)
    assert((shDropped intersect mhDropped).size >= 4)
    assert((shDropped -- mhDropped).isEmpty)
  }

  test("jaccard of disjoint sets is 0, identical sets is 1") {
    val df = Seq((Seq("a", "b"), Seq("a", "b"), Seq("c", "d")))
      .toDF("x", "y", "z")
    val r = df.select(
      TextOps.jaccard(col("x"), col("y")).as("same"),
      TextOps.jaccard(col("x"), col("z")).as("disjoint"))
      .as[(Double, Double)].head()
    assert(r._1 == 1.0 && r._2 == 0.0)
  }

  test("quality/lang/token expressions are null-safe and bounded") {
    val df = Seq((1L, "the cat sat on the mat"), (2L, "x")).toDF("doc_id", "text")
    val r = df.select(
      TextOps.qualityScore(col("text")).as("q"),
      TextOps.langId(col("text")).as("lang"),
      TextOps.stopwordRatio(col("text")).as("sr"))
      .as[(Double, String, Double)].collect()
    assert(r.forall(x => x._1 >= 0 && x._1 <= 1.0))
    assert(r(0)._2 == "en" && r(1)._2 == "unk")
  }

  test("lineDedup keeps first occurrence and rewrites docs (segWords=2)") {
    // seg size 2 so the crafted docs stay readable:
    //   doc 1: [a b] [c d]        — all first occurrences, kept whole
    //   doc 2: [c d] [e f]        — [c d] seen in doc 1 -> dropped
    //   doc 3: [a b] [a b] [x]    — dup WITHIN the doc + ragged tail;
    //                               first [a b] lost to doc 1, second
    //                               to position order, [x] survives
    //   doc 4: [c d]              — fully duplicate -> empty rewrite
    val df = Seq(
      (1L, "a b c d"),
      (2L, "c d e f"),
      (3L, "a b a b x"),
      (4L, "c d")
    ).toDF("doc_id", "text")
    val out = TextOps.lineDedup(df, "doc_id", "text", segWords = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_segs", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, 2L, "a b c d"),
      (2L, 2L, 1L, "e f"),
      (3L, 3L, 1L, "x"),
      (4L, 1L, 0L, "")))
  }

  test("lineDedup is idempotent on its own output") {
    val df = Seq(
      (1L, "a b c d"), (2L, "c d e f"), (3L, "a b a b x"), (4L, "c d")
    ).toDF("doc_id", "text")
    val once = TextOps.lineDedup(df, "doc_id", "text", segWords = 2)
      .select(col("doc_id"), col("clean_text").as("text"))
    val twice = TextOps.lineDedup(once, "doc_id", "text", segWords = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_segs", "n_kept").as[(Long, Long, Long)]
      .collect().toSeq
    // Every surviving segment is globally unique, so a second pass
    // keeps everything (the empty doc contributes one empty segment
    // from the '' tokenization, deduped against doc order like any
    // other segment — count it as n_segs=1).
    twice.foreach { case (_, segs, kept) =>
      assert(kept == segs || (segs == 1L && kept <= 1L)) }
    val total = twice.map(_._2).sum
    val keptT = twice.map(_._3).sum
    assert(keptT >= total - 1) // at most the empty-string seg collides
  }

  test("bpeTrainMerges: greedy non-overlap on runs, hierarchical merges") {
    val wf = Seq(("aaaa", 3L), ("aab", 2L)).toDF("word", "freq")
    val out = TextOps.bpeTrainMerges(wf, 2)
      .select("step", "left_sym", "right_sym", "merged", "cnt")
      .as[(Int, String, String, String, Long)].collect().toSeq
    // Step 1: (a,a) appears 3x in "aaaa" (x3) + 1x in "aab" (x2) = 11.
    // Greedy left-to-right rewrites "aaaa" -> (aa)(aa) — NOT (aa),a,a —
    // so step 2's top pair is (aa,aa) with weight 3 (plus "aab" ->
    // (aa),b contributing (aa,b) weight 2).
    assert(out == Seq(
      (1, "a", "a", "aa", 11L),
      (2, "aa", "aa", "aaaa", 3L)))
  }

  test("bpeTrainMerges: deterministic lexical tiebreak on equal counts") {
    // "xy" and "xz" both weight 5: tie on cnt, (x,y) < (x,z) lexically.
    val wf = Seq(("xy", 5L), ("xz", 5L)).toDF("word", "freq")
    val out = TextOps.bpeTrainMerges(wf, 1)
      .select("left_sym", "right_sym").as[(String, String)].collect().toSeq
    assert(out == Seq(("x", "y")))
  }

  test("unigram viterbi: global optimum beats greedy longest-match") {
    import graft.operators.Unigram
    // The crafted ambiguity: "abcd" where the greedy longest-prefix
    // ("abc" then forced "d", score (2/T)·(2/T)) loses to the global
    // Viterbi split "a"+"bcd" ((10/T)·(10/T)) — the case separating
    // unigram-LM from WordPiece's greedy walk.
    val wf = Seq(("abcd", 1L)).toDF("word", "freq")
    val vocab = Seq(("abc", 2L), ("d", 2L), ("a", 10L), ("bcd", 10L),
      ("b", 1L), ("c", 1L)).toDF("piece", "cnt")
    val seg = Unigram.viterbiSegment(wf, vocab, 4, 12)
      .select("word", "parts", "pieces")
      .as[(String, Seq[Int], Seq[String])].collect().toSeq
    assert(seg == Seq(("abcd", Seq(1, 3), Seq("a", "bcd"))))
  }

  test("unigram viterbi: exact score tie breaks to parts DESC") {
    import graft.operators.Unigram
    // Dyadic counts make the tie EXACT in binary floating point:
    // T = 2+8+1+5 = 16, p(ab) = 1/16 and p(a)·p(b) = (2/16)·(8/16)
    // = 1/16 — bit-equal products, so the (score, parts DESC) argmax
    // must pick the single-piece [2] over [1,1].
    val wf = Seq(("ab", 1L)).toDF("word", "freq")
    val vocab = Seq(("a", 2L), ("b", 8L), ("ab", 1L), ("z", 5L))
      .toDF("piece", "cnt")
    val seg = Unigram.viterbiSegment(wf, vocab, 4, 12)
      .select("parts", "pieces")
      .as[(Seq[Int], Seq[String])].collect().toSeq
    assert(seg == Seq((Seq(2), Seq("ab"))))
  }

  test("unigram train: EM prunes unused pieces, keeps coverage") {
    import graft.operators.Unigram
    val wf = Seq(("aaab", 2L), ("ab", 1L)).toDF("word", "freq")
    val vocab = Unigram.train(wf, rounds = 3, minCount = 2)
      .as[(String, Long)].collect().toMap
    // unused MULTI-CHAR pieces are pruned (cnt > 0); single chars are
    // the permanent coverage floor — kept even at cnt 0
    assert(vocab.collect { case (p, c) if p.length > 1 => c }
      .forall(_ > 0))
    assert(Set("a", "b").subsetOf(vocab.keySet))
    val seg = Unigram.viterbiSegment(wf,
      vocab.toSeq.toDF("piece", "cnt"), 4, 12)
    assert(seg.count() == 2)
    // counts are consistent: piece usage re-derived from the final
    // segmentation reproduces every POSITIVE count exactly (EM's
    // fixed point); the remainder is the 0-count char floor
    val recount = seg
      .select(col("freq"), explode(col("pieces")).as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
      .as[(String, Long)].collect().toMap
    assert(recount == vocab.filter(_._2 > 0))
    assert(vocab.filter(_._2 == 0L).keySet.forall(_.length == 1))
  }

  test("unigram trainFrom(round1Recount) reproduces train exactly (the staging seam)") {
    import graft.operators.Unigram
    // The llm_unigram_train_pruned staging contract: resuming the EM
    // from a precomputed round-1 recount must be value-identical to
    // the monolithic trainer, with and without a target-size prune —
    // counts are exact integer sums, so equality is exact, not
    // approximate.
    val wf = Seq(("aaab", 2L), ("ab", 1L), ("bb", 3L), ("abab", 2L))
      .toDF("word", "freq")
    for (tv <- Seq(None, Some(2), Some(3))) {
      val mono = Unigram.train(wf, rounds = 3, minCount = 2,
        targetVocab = tv).as[(String, Long)].collect().toMap
      val r1 = Unigram.round1Recount(wf, minCount = 2)
      val split = Unigram.trainFrom(wf, r1, rounds = 3, targetVocab = tv)
        .as[(String, Long)].collect().toMap
      assert(split == mono, s"targetVocab=$tv: $split != $mono")
    }
  }

  test("unigram targetVocab prune keeps chars, bites on multi-char") {
    import graft.operators.Unigram
    val wf = Seq(("aaab", 2L), ("ab", 1L), ("bb", 3L)).toDF("word", "freq")
    val pruned = Unigram.train(wf, rounds = 3, minCount = 2,
      targetVocab = Some(2)).as[(String, Long)].collect().toMap
    // every single char survives the prune unconditionally (coverage)
    val chars = pruned.keySet.filter(_.length == 1)
    assert(chars.contains("a") && chars.contains("b"))
    // multi-char survivors are capped at the target
    assert(pruned.keySet.count(_.length > 1) <= 2)
    // coverage: all words still segment under the pruned vocab
    assert(Unigram.viterbiSegment(wf,
      pruned.toSeq.toDF("piece", "cnt"), 4, 12).count() == 3)
  }

  test("unigram tokenize: char fallback covers out-of-table words") {
    import graft.operators.Unigram
    val seg = Seq(("hello", Seq("hel", "lo"))).toDF("word", "pieces")
    val words = Seq((1L, "hello"), (1L, "xq7")).toDF("doc_id", "word")
    val out = Unigram.tokenize(words, seg, segRows = Some(1))
      .select("word", "pieces")
      .as[(String, Seq[String])].collect().toMap
    assert(out("hello") == Seq("hel", "lo"))
    assert(out("xq7") == Seq("x", "q", "7")) // SentencePiece-style fallback
  }

  test("unigram: word over maxWordLen fails loudly, never drops") {
    import graft.operators.Unigram
    val wf = Seq(("a" * 13, 1L)).toDF("word", "freq")
    val vocab = Seq(("a", 5L)).toDF("piece", "cnt")
    val e = intercept[Exception] {
      Unigram.viterbiSegment(wf, vocab, 4, 12).collect()
    }
    assert(e.getMessage != null)
  }
}
