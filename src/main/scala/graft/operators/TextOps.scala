package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-pipeline building blocks for LLM training-data curation
  * (SURVEY.md §2.11): shingling, MinHash, SimHash, language-ID
  * heuristics, quality scoring, token counting, fingerprinting.
  *
  * Everything here is a pure Column expression over built-in functions —
  * whole-stage-codegen'd, no UDFs, no driver-side state — so each op is
  * embarrassingly parallel per row and the only shuffles in the dedup
  * pipelines are the final band-bucket groupBys. That is the 100 TB
  * shape: per-row signature compute scales linearly with executors;
  * candidate generation touches only hash-equal pairs, never the n²
  * cross product.
  */
object TextOps {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct n-word shingles (n fixed at 3 — the usual near-dup
    * granularity). Empty array for texts shorter than n words. */
  def shingles3(text: Column): Column = {
    val w = tokens(text)
    when(size(w) >= 3,
      array_distinct(transform(sequence(lit(1), size(w) - 2), i =>
        concat_ws(" ",
          element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))))
      .otherwise(array().cast("array<string>"))
  }

  /** MinHash signature, md5 variant: hash family h_i(s) = md5(i || s),
    * signature element = lexicographic min per i. Slower than xxhash64
    * but reproducible in any engine with md5 — used for the DuckDB
    * oracle proof of signature correctness. */
  def minhashSigMd5(sh: Column, hashIndices: Seq[Int]): Seq[Column] =
    hashIndices.map(i =>
      array_min(transform(sh, s2 => md5(concat(lit(i.toString), lit("|"), s2))))
        .as(s"mh_$i"))

  /** Verified near-dup pairs from the md5 MinHash/LSH family — the
    * oracle-provable twin of `minhashNearDupPairs` (same banded shape,
    * reproducible hash family): 6-hash md5 signature, 3 bands × 2 rows,
    * bucket = the band's signature slice, candidates by bucket
    * equality (one hash shuffle on (band, bucket), never all-pairs),
    * exact Jaccard ≥ `threshold` verify over the distinct shingle sets
    * joined back only for candidate pairs.
    *
    * Input must carry (`doc_id`, `sh`); output is (id_a, id_b, j) with
    * id_a < id_b and j the 6-digit-rounded Jaccard.
    */
  /** (doc_id, sh, mh_0..mh_5) for non-empty shingle sets — the shared
    * md5-family signature table of the symmetric and bipartite pair
    * generators (one definition, so the band layout cannot drift
    * between the two). */
  private def sigMd5Of(docs: DataFrame): DataFrame =
    docs.filter(size(col("sh")) > 0)
      .select(Seq(col("doc_id"), col("sh")) ++
        minhashSigMd5(col("sh"), 0 until 6): _*)

  /** 3 bands × 2 signature rows → (doc_id, band, bucket). */
  private def bandsMd5Of(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
      posexplode(array(
        concat_ws("|", col("mh_0"), col("mh_1")),
        concat_ws("|", col("mh_2"), col("mh_3")),
        concat_ws("|", col("mh_4"), col("mh_5"))))
        .as(Seq("band", "bucket")))

  def minhashPairsMd5(docs: DataFrame, threshold: Double): DataFrame = {
    // The md5 family is the FIXTURE-SCALE oracle twin (every declared
    // caller bounds docs; the xxhash64 minhashNearDupPairs family is
    // the unbounded scale path), so the signature table is safely
    // checkpointable. Without it the md5 signatures are recomputed on
    // BOTH sides of the banded self-join and again for each verify
    // join — 4 evaluations of the most expensive projection in the
    // plan, fused to a 1-2 task fixture scan; the repartition spreads
    // the one remaining evaluation across cores (r11 probe: the pairs
    // stage was the whole variance band of llm_dedup_cluster_stats).
    val sig = sigMd5Of(docs.repartition(col("doc_id")))
      .localCheckpoint(true)
    val banded = bandsMd5Of(sig)
    val cand = banded.select(col("band"), col("bucket"), col("doc_id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("doc_id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val shs = sig.select(col("doc_id"), col("sh"))
    cand
      .join(shs.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shs.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("sh_a"), col("sh_b")), 6).as("j"))
      .filter(col("j") >= threshold)
  }

  /** Bipartite twin of `minhashPairsMd5` for bench×corpus shapes
    * (fuzzy decontamination): bands the two sides SEPARATELY and joins
    * bench-bands to corpus-bands on (band, bucket), so bench-side
    * pruning is structural — the banded join's left input is built
    * from the bench frame only, never carved out of a symmetric
    * self-join by optimizer pushdown (which a future Spark/AQE change
    * could fail to apply, silently regressing the workload to full
    * corpus×corpus dedup). The small bench side is broadcast at both
    * joins that touch it. Callers must pass id-disjoint frames; output
    * is (id_a ∈ bench, id_b ∈ corpus, j ≥ threshold) — exactly the
    * symmetric form's pairs restricted to bench×corpus.
    */
  def minhashPairsMd5Bipartite(bench: DataFrame, corpus: DataFrame,
      threshold: Double): DataFrame = {
    val sigB = sigMd5Of(bench); val sigC = sigMd5Of(corpus)
    val cand = broadcast(
      bandsMd5Of(sigB).select(col("band"), col("bucket"), col("doc_id").as("id_a")))
      .join(bandsMd5Of(sigC).select(col("band"), col("bucket"), col("doc_id").as("id_b")),
        Seq("band", "bucket"))
      .select("id_a", "id_b").distinct()
    cand
      .join(broadcast(
        sigB.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))), Seq("id_a"))
      .join(sigC.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("sh_a"), col("sh_b")), 6).as("j"))
      .filter(col("j") >= threshold)
  }

  /** The md5-family dedup index as PERSISTABLE artifacts: the banded
    * (doc_id, band, bucket) probe table and the (doc_id, sh) shingle
    * store the verify stage needs. What a 100 TB deployment writes
    * once per corpus snapshot so daily arrivals dedup against it
    * without re-shingling the corpus. */
  def minhashIndexMd5(corpus: DataFrame): (DataFrame, DataFrame) = {
    val sig = sigMd5Of(corpus)
    (bandsMd5Of(sig), sig.select(col("doc_id"), col("sh")))
  }

  /** Probe a LOADED index with new arrivals: arrivals are signed and
    * banded on the fly, joined to the index band table on
    * (band, bucket) — the arrival side broadcast (the daily batch is
    * the small side by construction; callers bound it) — and verified
    * by exact Jaccard against the index shingle store. Arrival ids
    * must be disjoint from index ids; output (id_a ∈ arrivals,
    * id_b ∈ index, j ≥ threshold) — exactly the symmetric family's
    * pairs restricted to arrivals×index, which is what makes the
    * persisted path oracle-provable against the from-scratch CTEs. */
  def minhashProbeIndexMd5(ixBands: DataFrame, ixShingles: DataFrame,
      arrivals: DataFrame, threshold: Double): DataFrame = {
    val sigA = sigMd5Of(arrivals)
    val cand = broadcast(bandsMd5Of(sigA)
        .select(col("band"), col("bucket"), col("doc_id").as("id_a")))
      .join(ixBands.select(col("band"), col("bucket"),
        col("doc_id").as("id_b")), Seq("band", "bucket"))
      .select("id_a", "id_b").distinct()
    cand
      .join(broadcast(
        sigA.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))),
        Seq("id_a"))
      .join(ixShingles.select(col("doc_id").as("id_b"),
        col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("sh_a"), col("sh_b")), 6).as("j"))
      .filter(col("j") >= threshold)
  }

  /** Asymmetric CONTAINMENT pairs from the same banded md5 candidate
    * generation: c(A in B) = |A∩B| / |A|. Catches the subset/quote
    * duplication Jaccard under-scores — a long doc embedding a short
    * one wholesale has low Jaccard (union is large) but containment
    * ≈ 1 on the short side, exactly the "boilerplate page wrapping a
    * copied article" shape. Output (id_a < id_b, c_ab, c_ba) keeps
    * BOTH directions so the caller decides which side is the quote.
    *
    * Honest recall caveat (documented, not hidden): candidates come
    * from Jaccard-tuned MinHash bands, so a pair with high containment
    * but tiny Jaccard (a 10-shingle doc inside a 10k-shingle doc) may
    * never share a bucket — full containment recall needs a
    * shingle-inverted-index join (llm_decontaminate's shape) instead
    * of LSH. The oracle mirrors the same banding, so what IS declared
    * is exact; the shape stays one (band,bucket) shuffle, never
    * all-pairs. */
  def containmentPairsMd5(docs: DataFrame, threshold: Double): DataFrame = {
    // Same materialization contract as minhashPairsMd5 above: md5
    // callers bound `docs`, and without the checkpoint the signature
    // projection (the plan's most expensive expression) evaluates on
    // both band sides AND both verify joins — 4 times.
    val sig = sigMd5Of(docs.repartition(col("doc_id")))
      .localCheckpoint(true)
    val banded = bandsMd5Of(sig)
    val cand = banded.select(col("band"), col("bucket"), col("doc_id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("doc_id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val shs = sig.select(col("doc_id"), col("sh"))
    cand
      .join(shs.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shs.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("sh_a"), col("sh_b")))
          .cast("double") / size(col("sh_a")), 6).as("c_ab"),
        round(size(array_intersect(col("sh_a"), col("sh_b")))
          .cast("double") / size(col("sh_b")), 6).as("c_ba"))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
  }

  /** 16-bit SimHash over whitespace tokens: bit b is the sign of
    * Σ_tokens (+1 / −1 by bit b of xxhash64(token)). */
  def simhash16(text: Column): Column = {
    val tok = tokens(text)
    (0 until 16).map { b =>
      when(
        aggregate(tok, lit(0L), (acc, t) =>
          acc + when(shiftright(xxhash64(t), b).bitwiseAND(lit(1L)) === 1L, 1L)
            .otherwise(-1L)) >= 0,
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Jaccard similarity of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  private val EnStopwords =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

  /** Fraction of tokens that are English stopwords. */
  def stopwordRatio(text: Column): Column = {
    val tok = tokens(text)
    size(filter(tok, t => t.isin(EnStopwords.map(x => x: Any): _*)))
      .cast("double") / greatest(size(tok), lit(1)).cast("double")
  }

  /** N-gram-heuristic language ID: stopword density says 'en', else
    * unknown (the fixture corpus is synthetic; real corpora would carry
    * one stopword table per language — same expression shape). */
  def langId(text: Column): Column =
    when(stopwordRatio(text) > 0.05, "en").otherwise("unk")

  /** Composite quality score in [0,1]: length saturation, stopword
    * density, lexical diversity. Deterministic, codegen'd. */
  def qualityScore(text: Column): Column = {
    val tok = tokens(text)
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val diversity = size(array_distinct(tok)).cast("double") /
      greatest(size(tok), lit(1)).cast("double")
    round(lenScore * 0.3 + stopwordRatio(text) * 0.5 + diversity * 0.2, 6)
  }

  /** Whitespace + BPE-ish regex token counts + the chars/4 estimate. */
  def tokenCounts(text: Column): Seq[Column] = Seq(
    size(tokens(text)).as("ws_tokens"),
    regexp_count(text, lit("[a-z]+|[0-9]|[^a-z0-9 ]")).as("bpe_tokens"),
    ceil(length(text).cast("double") / 4.0).cast("long").as("est_tokens"))

  /** Content fingerprint: md5 of the normalized text (lower, strip
    * non-alnum, collapse whitespace) — the exact-dedup key. The
    * normalization runs as the fused one-pass native kernel
    * (graft.plans.TextNorm — the regex chain took ~55 s of an exact
    * dedup on a 500k-doc ×100 corpus); `fingerprintRegex` keeps
    * the reference regex form for the property spec, and the DuckDB
    * oracle recomputes that regex form, pinning the two cross-engine. */
  def fingerprint(text: Column): Column =
    md5(graft.plans.TextNorm.normalizeForFingerprint(text))

  /** Reference regex form of the fingerprint normalization (what the
    * DuckDB oracle computes); kept for differential testing. */
  def fingerprintRegex(text: Column): Column =
    md5(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  // ---- pipelines -------------------------------------------------------

  /** Exact dedup: keep the lowest id per content fingerprint. One
    * shuffle on the (high-cardinality, well-distributed) hash key. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("fp").orderBy(idCol)
    df.withColumn("fp", fingerprint(col(textCol)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Corpus-wide boilerplate 3-gram top-k by document frequency —
    * hash-first two-pass: pass 1 counts df over 64-bit shingle hashes
    * (slim long-only shuffle, min(doc_id) carried as a free
    * representative); pass 2 re-shingles ONLY the representative docs
    * to recover the winning strings, so the final (df desc, sh asc)
    * top-k is exact with the tie-break on recovered strings.
    *
    * The "tiny candidate set" premise (cand ≈ k rows) fails when the
    * k-th df is heavily tied — e.g. a corpus where fewer than k
    * shingles repeat makes the threshold 1 and cand the ENTIRE df
    * table. limit(candCap+1) bounds what the eager localCheckpoint can
    * materialize, and on overflow we fall back to the exact one-pass
    * string-keyed top-k (correct at any tie structure, just a wider
    * shuffle) instead of broadcasting an unbounded frame twice. */
  def boilerplateTopK(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 20, candCap: Int = 1024): DataFrame = {
    import graft.plans.MinHashLsh
    val dfTab = docs
      .select(col(idCol).as("doc_id"),
        explode(MinHashLsh.shingleHashes(col(textCol))).as("h"))
      .groupBy("h")
      .agg(count(lit(1)).as("df"), min("doc_id").as("rep_doc"))
    val th = dfTab.select("df").orderBy(desc("df")).limit(k)
      .agg(min("df").as("th"))
    val cand = dfTab.join(broadcast(th), col("df") >= col("th"))
      .select("h", "df", "rep_doc").limit(candCap + 1).localCheckpoint()
    if (cand.count() > candCap) {
      docs
        .select(col(idCol).as("doc_id"),
          explode(shingles3(col(textCol))).as("sh"))
        .distinct()
        .groupBy("sh").agg(count(lit(1)).as("df"))
        .orderBy(desc("df"), asc("sh"))
        .limit(k)
    } else {
      val reps = cand.select(col("rep_doc").as(idCol)).distinct()
      docs
        .join(broadcast(reps), Seq(idCol))
        .select(explode(shingles3(col(textCol))).as("sh"))
        .distinct()
        .join(broadcast(cand), xxhash64(col("sh")) === col("h"))
        .select(col("sh"), col("df"))
        .orderBy(desc("df"), asc("sh"))
        .limit(k)
    }
  }

  /** MinHash/LSH near-dup candidate pairs, jaccard-verified.
    *
    * Pipeline: per-row shingle hashes + band buckets (two native
    * single-pass expressions, graft.plans.MinHashLsh — one linear scan,
    * no shuffle) → posexplode bands (×bands slim rows) → self-join on
    * (band, bucket) (shuffle on bucket hash only) → distinct candidate
    * pairs → jaccard verify ≥ threshold over hashed shingles (64-bit
    * collisions are ~2⁻⁶⁴ noise). Buckets are capped to guard against
    * degenerate skew (a boilerplate bucket collecting everything) — at
    * 100 TB a hot bucket would otherwise quadratically explode one
    * reducer.
    *
    * Nothing is persisted: every branch is one column-pruned linear
    * parquet scan + a µs/row native expression; recomputing measured
    * ~10× cheaper than writing shingle arrays into the columnar cache,
    * and leaves no lingering memory pressure. The self-join's sides are
    * identical subtrees, so ReuseExchange computes the banding shuffle
    * once.
    */
  def minhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4, threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    import graft.plans.MinHashLsh
    // Bands travel slim: only (id, band, bucket) is exploded/shuffled —
    // never the shingle arrays. Docs with <3 words have an empty bucket
    // array, so posexplode drops them with no separate filter pass.
    val bandRows = df.select(
      col(idCol).as("id"),
      posexplode(MinHashLsh.lshBuckets(
        MinHashLsh.shingleHashes(col(textCol)), numHashes, bands))
        .as(Seq("band", "bucket")))
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
    // Shingle hashes are joined back only for the (few) candidate pairs.
    val sh = df.select(col(idCol).as("id"),
      MinHashLsh.shingleHashes(col(textCol)).as("hs"))
    cand
      .join(sh.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(jaccard(col("hs_a"), col("hs_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash dedup: drop every doc that has a verified near-dup with a
    * smaller id (the canonical survivor rule). */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = {
    val losers = minhashNearDupPairs(df, idCol, textCol, threshold = threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** SimHash near-dup dedup: 64-bit fingerprint, near-dup = hamming
    * distance ≤ `maxDist`; drop every doc with a verified near-dup of
    * smaller id (same survivor rule as minhashDedup).
    *
    * Candidate generation is banded hamming neighborhood search: the
    * 64-bit fingerprint splits into `bands` equal chunks, and by
    * pigeonhole any pair within hamming distance < `bands` shares at
    * least one chunk exactly — so a self-join on (band, chunk-value)
    * yields a strict superset of all pairs within `maxDist` (requires
    * maxDist < bands). That's one shuffle on (band, bval), never
    * all-pairs; hot band-values (boilerplate clusters) are capped like
    * the MinHash buckets so one degenerate value can't quadratically
    * explode a reducer at corpus scale. Verification is a single
    * codegen'd bit_count(xor) per candidate pair. */
  def simhashDedup(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, bands: Int = 4, maxBucket: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxDist < bands,
      s"banded search needs maxDist < bands, got $maxDist >= $bands")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val withSh = df.withColumn("sh64",
      graft.plans.MinHashLsh.simhash64(col(textCol)))
    // Slim band rows: (id, sh64, band, bval) only — the fingerprint
    // rides along so verification needs no join-back.
    val bandRows = withSh.select(col(idCol).as("id"), col("sh64"),
      posexplode(array((0 until bands).map(b =>
        shiftrightunsigned(col("sh64"), b * width).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bval")))
      .withColumn("bsize", count(lit(1)).over(
        Window.partitionBy("band", "bval")))
      .filter(col("bsize") <= maxBucket)
      .drop("bsize")
    val losers = bandRows
      .select(col("band"), col("bval"), col("id").as("id_a"), col("sh64").as("sh_a"))
      .join(bandRows
        .select(col("band"), col("bval"), col("id").as("id_b"), col("sh64").as("sh_b")),
        Seq("band", "bval"))
      .filter(col("id_a") < col("id_b"))
      .filter(expr("bit_count(sh_a ^ sh_b)") <= maxDist)
      .select(col("id_b").as(idCol))
      .distinct()
    withSh.join(losers, Seq(idCol), "left_anti")
  }

  /** C4-style "line" dedup, adapted to the single-line fixture corpus:
    * consecutive non-overlapping `segWords`-word segments stand in for
    * lines, each distinct segment survives only at its globally FIRST
    * occurrence (lowest (doc_id, position)), and every document is
    * rewritten from its surviving segments (public method: C4, Raffel
    * et al. 2020, which drops any repeated three-sentence span;
    * RefinedWeb/Dolma ship the same rewrite at line granularity).
    *
    * Unlike the scoring ops (repeated_spans, boilerplate_ngrams) this
    * one REWRITES the corpus — the output carries a cleaned text
    * column, the actual artifact a curation pipeline feeds to
    * training — plus per-doc n_segs/n_kept so the retention rate is a
    * free aggregate downstream.
    *
    * Scale shape: one per-row segmentation (native transform/slice, no
    * shuffle), one groupBy on the xxhash64 segment key carrying a
    * map-side-combinable min(struct) — no window sort — one equi-join
    * back on the same slim long key, and one per-doc reassembly
    * aggregate keyed on doc_id. Linear in corpus size; segment strings
    * cross the wire only in the doc_id-keyed reassembly shuffle, which
    * is bounded by the SURVIVING corpus size. Per-segment xxhash64
    * collisions (~2⁻⁶⁴) are the documented minhash-family trade; the
    * string-keyed DuckDB oracle proves parity on the fixture.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      segWords: Int = 10): DataFrame = {
    val segs = df
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("w"))
      .select(col("doc_id"), posexplode(expr(
        s"CASE WHEN size(w) > 0 THEN transform(" +
          s"sequence(0, CAST(ceil(size(w) / ${segWords}.0) AS INT) - 1), " +
          s"i -> array_join(slice(w, i * $segWords + 1, $segWords), ' ')) " +
          "ELSE CAST(array() AS ARRAY<STRING>) END"))
        .as(Seq("seg_idx", "seg")))
      .withColumn("h", xxhash64(col("seg")))
    val first = segs.groupBy("h")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("f"))
    val kept = segs.join(first, "h")
      .where(col("doc_id") === col("f.doc_id") &&
        col("seg_idx") === col("f.seg_idx"))
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(" +
          "struct(seg_idx, seg))), x -> x.seg), ' ')").as("clean_text"))
    segs.groupBy("doc_id").agg(count(lit(1)).as("n_segs"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** BPE merge-rule training (Sennrich et al. 2016, public): k rounds of
    * "count adjacent symbol pairs weighted by word frequency, merge the
    * most frequent pair greedily left-to-right". Returns the merge table
    * (step, left_sym, right_sym, merged, cnt) — the artifact a tokenizer
    * ships.
    *
    * Distribution shape — incremental, like every serious BPE trainer:
    * the corpus is touched ONCE (the word-frequency aggregate,
    * localCheckpoint'd — at 100 TB the vocab table is MB-scale while
    * the corpus is not) and the pair-count table is built ONCE; each
    * round then (a) takes the 1-row argmax of the maintained counts
    * (never collected to the driver), (b) rewrites ONLY the words that
    * contain the merged pair (containment-guarded broadcast fold — the
    * rest of the vocab passes through untouched), and (c) updates the
    * count table by a DELTA: subtract the changed words' old pairs, add
    * their new pairs. Round cost is O(|changed words|), not O(|vocab|)
    * — on a web-scale vocab where each merge touches a shrinking slice
    * of types, rounds after the first are nearly free.
    *
    * The greedy fold: append each symbol unless the accumulator's last
    * element equals `left` and the incoming symbol equals `right` — then
    * replace the tail with the merged symbol. A merged symbol can never
    * re-trigger as `left` in the same pass (merged != left since right
    * is non-empty), which is exactly left-to-right non-overlapping BPE
    * ("aaaa" + (a,a) -> (aa)(aa), not (aa)a a).
    *
    * EAGER: the per-round driver-side top-1 collect executes the whole
    * training at DataFrame-CONSTRUCTION time — cost is paid (and
    * failures surface) when this is called, not when the returned
    * merges frame is first consumed. */
  def bpeTrainMerges(wordFreq: DataFrame, k: Int): DataFrame =
    bpeTrain(bpeBaseOf(wordFreq), k)._1

  /** Trained word→pieces segmentation table (word, freq, syms) after k
    * merge rounds — the vocab-sized artifact a tokenizer APPLIES: at
    * serve time corpus words broadcast-join against this table, so
    * tokenization never re-runs the fold per document. */
  def bpeVocabSyms(wordFreq: DataFrame, k: Int): DataFrame =
    bpeTrain(bpeBaseOf(wordFreq), k)._2

  /** `bpeVocabSyms` plus the vocab row count, read once from the
    * trainer's eager base checkpoint (a cached-block scan, not a plan
    * replay). The count is invariant under merges — rounds rewrite
    * `syms`, never add/remove words — so serve-time callers can feed
    * it straight to `joinSegmentation`'s broadcast guard instead of
    * paying a count job per invocation. */
  def bpeVocabSymsWithCount(wordFreq: DataFrame, k: Int): (DataFrame, Long) = {
    val base = bpeBaseOf(wordFreq)
    val n = base.count()
    (bpeTrain(base, k)._2, n)
  }

  /** BYTE-LEVEL base (the GPT-2-family variant): each word splits
    * into its UTF-8 BYTES, one two-hex-digit symbol per byte, so the
    * base alphabet is at most 256 and there is NO UNK by construction
    * — any string, any script, any mojibake segments. Merged symbols
    * are concatenated hex (codegen'd string ops end to end); the
    * trainer itself is byte-vs-char agnostic, so the incremental
    * delta machinery lifts unchanged. */
  private def bpeByteBaseOf(wordFreq: DataFrame): DataFrame = wordFreq
    .select(col("word"), col("freq"),
      expr("transform(sequence(1, octet_length(encode(word, 'UTF-8'))), " +
        "i -> substring(hex(encode(word, 'UTF-8')), 2*i-1, 2))").as("syms"))
    .localCheckpoint()

  /** Byte-level BPE merge training — bpeTrainMerges over the byte
    * base; identical greedy left-to-right non-overlapping semantics. */
  def bpeTrainMergesBytes(wordFreq: DataFrame, k: Int): DataFrame =
    bpeTrain(bpeByteBaseOf(wordFreq), k)._1

  /** Byte-level trained segmentation table + row count (the
    * bpeVocabSymsWithCount twin for the serve-time join). */
  def bpeVocabSymsBytesWithCount(wordFreq: DataFrame,
      k: Int): (DataFrame, Long) = {
    val base = bpeByteBaseOf(wordFreq)
    val n = base.count()
    (bpeTrain(base, k)._2, n)
  }

  /** EXACT shared-substring spans WITH LOCATION — the Lee et al.
    * suffix-array dedup capability, Spark-shaped. Emits every maximal
    * run of ≥ `minLen` tokens shared verbatim between two documents as
    * (id_a, id_b, a_start, b_start, len_tokens), token-indexed from 0.
    *
    * Anchor-chain formulation instead of a suffix array: every k-token
    * window keys a 60-bit md5-derived anchor; two docs sharing a
    * verbatim run of L ≥ k tokens share exactly L−k+1 anchors at
    * consecutive positions on one (id_a, id_b, pa−pb) DIAGONAL, so
    * maximal runs are precisely the islands of consecutive positions
    * per diagonal (gaps-and-islands: pa − row_number) with token
    * length island+k−1 — an equi-join + one window, no quadratic
    * member, and unlike a distributed suffix array every stage is a
    * plain hash shuffle on 8-byte keys.
    *
    * Anchors with document frequency outside [2, dfCap] are dropped
    * before pairing: df=1 cannot pair, and df > dfCap is boilerplate
    * (the boilerplate_ngrams family's job) whose pair volume would
    * grow as df² per anchor — the same practical cap the
    * suffix-array dedup pipelines apply to hot substrings.
    *
    * ISLAND STITCHING closes the cap's interior-anchor hole: an
    * over-cap anchor INSIDE an otherwise-rare duplicated run (a common
    * phrase inside a rare passage) used to fragment the run into two
    * shorter islands — or lose it entirely when neither fragment
    * reached minLen — leaving real duplication uncut downstream. The
    * fix is a second gaps-and-islands pass over the islands
    * themselves: two islands on one (pair, diagonal) whose anchor
    * positions are ≤ k apart have CONTIGUOUS token coverage (island
    * ending at anchor e covers tokens through e+k−1; island starting
    * at anchor s ≤ e+k covers from s), and every covered token is
    * verbatim-matched by a surviving anchor — so the merged span is
    * PROVABLY shared, no re-reading of text required. Dropped-anchor
    * gaps of ≥ k consecutive positions (a popular subrun ≥ 2k−1 tokens
    * long) are NOT stitched: their token coverage genuinely has a
    * hole the anchors cannot vouch for — that residual mode is the
    * boilerplate_ngrams family's job, as before.
    *
    * The md5 long key keeps the shuffle on longs AND gives DuckDB an
    * identical join key; hash-collision risk is the family's
    * documented 2^-60 trade. */
  def sharedSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minLen: Int = 10, dfCap: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The anchor table feeds the df-cap aggregate AND both self-join
    // sides; without a materialization boundary the tokenize +
    // per-position-md5 corpus scan plans FOUR times (the broadcast
    // df-filter subtree is not exchange-reused across the join sides).
    // One (doc_id, pos, key) row per token position is far narrower
    // than re-reading and re-hashing the text, so checkpoint it once.
    val anchors = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(w) - $k), i -> named_struct(" +
          s"'pos', i, 'key', CAST(conv(substring(md5(" +
          s"array_join(slice(w, i + 1, $k), ' ')), 1, 15), 16, 10)" +
          " AS BIGINT)))")).as("a"))
      .select(col("doc_id"), col("a.pos").as("pos"), col("a.key").as("key"))
      .localCheckpoint()
    val pairable = anchors.groupBy("key")
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2 && col("df") <= dfCap)
      .select("key")
    val pa = anchors.join(pairable, Seq("key"))
    val pairs = pa
      .select(col("key"), col("doc_id").as("id_a"), col("pos").as("pa"))
      .join(pa.select(col("key"), col("doc_id").as("id_b"),
        col("pos").as("pb")), Seq("key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("pa"), col("pb"),
        (col("pa") - col("pb")).as("diag"))
    val wnd = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    val islands = pairs
      .withColumn("grp", col("pa") - row_number().over(wnd))
      .groupBy("id_a", "id_b", "diag", "grp")
      .agg(min("pa").as("a_start"), min("pb").as("b_start"),
        max("pa").as("a_last"),
        (count(lit(1)) + lit(k - 1)).as("len_tokens"))
    // Stitch pass: islands on one diagonal are disjoint and ordered,
    // so adjacent-pair contiguity (next.a_start ≤ prev.a_last + k)
    // chains transitively; the merged token span runs from the first
    // island's a_start to the last island's end. Island count is
    // bounded by the (already df-capped) pair volume, and both window
    // expressions share one partition ordering — a single extra
    // WindowExec over the island table, not the corpus. minLen is
    // applied AFTER stitching so sub-minLen fragments can combine into
    // a reportable span.
    val wOrd = Window.partitionBy("id_a", "id_b", "diag").orderBy("a_start")
    islands
      .withColumn("new_run",
        when(col("a_start") >
          coalesce(lag("a_last", 1).over(wOrd), lit(Int.MinValue.toLong))
            + lit(k), 1L).otherwise(0L))
      .withColumn("run", sum("new_run").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("id_a", "id_b", "diag", "run")
      .agg(min("a_start").as("a_start"), min("b_start").as("b_start"),
        (max(col("a_start") + col("len_tokens")) - min("a_start"))
          .as("len_tokens"))
      .filter(col("len_tokens") >= minLen)
      .select("id_a", "id_b", "a_start", "b_start", "len_tokens")
  }

  /** Serve-time (word → pieces) lookup join against a trained
    * segmentation table. Real vocabs are MB-scale (~100k types) and the
    * broadcast map-side join is the right 100 TB shape — but the size is
    * DATA-dependent, and a degenerate corpus (the repo's own ×1000
    * adversarial fixture trains ~300M types) would OOM the driver on an
    * unconditional broadcast. Guard on the vocab row count and above
    * the threshold fall back to a shuffle-hash join — identical output,
    * one extra shuffle of the corpus side.
    *
    * Pass `vocabRows` when the caller already knows the count (the
    * trainer's word count is invariant under merges — merges rewrite
    * `syms`, never add or remove words — so `bpeVocabSymsWithCount`
    * hands it over for free); recomputing it here costs one extra
    * Spark job per invocation, which was a measured 0.4 s/query
    * regression on the bench suite (BENCH_r09 llm_bpe_apply). */
  def joinSegmentation(words: DataFrame, vocab: DataFrame,
      maxBroadcastRows: Long = 10000000L,
      vocabRows: Option[Long] = None): DataFrame =
    if (vocabRows.getOrElse(vocab.count()) <= maxBroadcastRows)
      words.join(broadcast(vocab), Seq("word"))
    else words.join(vocab.hint("SHUFFLE_HASH"), Seq("word"))

  /** (a, b, wfreq) adjacent-pair rows of a (freq, syms) frame. */
  private def bpePairs(df: DataFrame): DataFrame = {
    val nPairs = greatest(size(col("syms")) - 1, lit(0))
    df.select(col("freq"),
      explode(zip_with(
        slice(col("syms"), lit(1), nPairs),
        slice(col("syms"), lit(2), nPairs),
        (x, y) => struct(x.as("a"), y.as("b")))).as("pr"))
      .select(col("pr.a"), col("pr.b"), col("freq"))
  }

  private def bpeBaseOf(wordFreq: DataFrame): DataFrame = wordFreq
    .select(col("word"), col("freq"),
      filter(split(col("word"), ""), s => s =!= "").as("syms"))
    .localCheckpoint()

  /** Trains `k` merges on a checkpointed (word, freq, syms) base:
    * (merge steps, final segmentation table). */
  private def bpeTrain(base: DataFrame, k: Int): (DataFrame, DataFrame) = {
    // The base is checkpointed ONCE and never re-derived. The current
    // state is base ∖ rewritten-words ∪ overrides, where overrides is
    // the (tiny, checkpointed-per-round) set of words any merge has
    // touched — so every round reads the SAME flat base scan through
    // one broadcast anti-join, instead of replaying an ever-growing
    // chain of per-round containment filters (profiled at ×100/30M
    // types: the chained-filter form spent 11→143 s/round on replay;
    // this form pays one ~constant scan per round).
    val spark = base.sparkSession
    import org.apache.spark.sql.types._
    var overrides = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("word", StringType),
        StructField("freq", LongType),
        StructField("syms", ArrayType(StringType)))))
    def current: DataFrame = base
      .join(broadcast(overrides.select("word")), Seq("word"), "left_anti")
      .unionAll(overrides)
    // The maintained pair-count table: distinct (a,b) symbol pairs
    // only — tiny — from one full aggregation.
    var counts = bpePairs(base).groupBy("a", "b").agg(sum("freq").as("cnt"))
      .localCheckpoint()
    val stepRows = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var round = 1
    var dry = false
    while (round <= k && !dry) {
      // The global top merge is ONE row by construction — lift it to
      // the driver (a bounded 1-row collect, the JxJson capped-reshape
      // precedent) instead of checkpointing + broadcasting a 1-row
      // frame per round: the merge ledger then assembles as a
      // LocalRelation with zero Spark jobs. The collected pair is fed
      // back through a 1-row LocalRelation broadcast rather than plain
      // literals — deliberately, see the codegen-cache note below — so
      // the crossJoin stays; what the collect removes is the per-round
      // checkpoint + re-execution of the top-1 subtree.
      val topRows = counts
        .orderBy(desc("cnt"), asc("a"), asc("b")).limit(1).collect()
      if (topRows.isEmpty) dry = true
      else {
        val ma = topRows(0).getString(0)
        val mb = topRows(0).getString(1)
        val cnt = topRows(0).getLong(2)
        val mm = ma + mb
        // The merge pair rides a 1-row LocalRelation broadcast, NOT
        // literals: per-round literals generate fresh whole-stage code
        // every round (measured ~2 s/train of Janino time at k=6),
        // while the column-parameterized fold compiles once and hits
        // the codegen cache for every subsequent round.
        import spark.implicits._
        val topLocal = Seq((ma, mb, mm)).toDF("ma", "mb", "mm")
        val nP = greatest(size(col("syms")) - 1, lit(0))
        val hasPair = exists(
          zip_with(slice(col("syms"), lit(1), nP),
            slice(col("syms"), lit(2), nP),
            (x, y) => x === col("ma") && y === col("mb")),
          p => p)
        val fold = aggregate(col("syms"),
          array().cast("array<string>"),
          (acc, x) => when(
            size(acc) > 0 &&
              element_at(acc, -1) === col("ma") && x === col("mb"),
            concat(slice(acc, lit(1), size(acc) - 1), array(col("mm"))))
            .otherwise(concat(acc, array(x))))
        // Only the words CONTAINING (a,b) change this round; materialize
        // their before/after symbol lists once — the overrides update
        // and the count delta both read from this small frame.
        val changed = current
          .crossJoin(broadcast(topLocal))
          .filter(hasPair)
          .select(col("word"), col("freq"), col("syms").as("old_syms"),
            fold.as("syms"))
          .localCheckpoint()
        // lazy checkpoint: the (tiny) overrides table still
        // materializes once and truncates lineage, but inside its
        // first consumer's job instead of as its own eager job
        overrides = overrides
          .join(broadcast(changed.select("word")), Seq("word"), "left_anti")
          .unionAll(changed.select(col("word"), col("freq"), col("syms")))
          .localCheckpoint(false)
        // Count delta: -old pairs +new pairs of the changed words. Every
        // occurrence of (a,b) lives in a changed word by definition, so
        // its count nets to <= 0 and the filter retires it.
        val delta = bpePairs(changed.select(col("freq"),
            col("old_syms").as("syms")))
            .groupBy("a", "b").agg((-sum("freq")).as("cnt"))
          .unionAll(bpePairs(changed)
            .groupBy("a", "b").agg(sum("freq").as("cnt")))
        counts = counts.unionAll(delta)
          .groupBy("a", "b").agg(sum("cnt").as("cnt"))
          .filter(col("cnt") > 0)
          .localCheckpoint(false)
        stepRows += ((round, ma, mb, mm, cnt))
        round += 1
      }
    }
    val steps = spark.createDataFrame(stepRows.toSeq)
      .toDF("step", "left_sym", "right_sym", "merged", "cnt")
    (steps.orderBy("step"), current)
  }
}
