package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Harness, Verify}
import graft.operators.{Components, Similarity, TextOps}
import graft.sources.Catalog

/** Local 100×-scale spot-bench of the dedup/ANN family — the 100 TB
  * posture's measurable evidence (VERDICT r4 stretch item).
  *
  * Builds a scaled corpus in /tmp by replicating the sf0.1 fixtures
  * ×M (SCALE_MULT, default 100 → 500k documents / 200k embeddings):
  * each replica appends ~60 unique salted tokens to the text so
  * sibling replicas are NOT near-dups — duplicate-cluster sizes stay
  * fixture-realistic and candidate volume grows linearly with the
  * corpus instead of quadratically with replica count. Embeddings get
  * a deterministic per-replica perturbation for the same reason.
  *
  * Times the SCALE-PATH (xxhash64 / banded / bucketed) operators only:
  * exact dedup, MinHash dedup, SimHash dedup, dedup-group components,
  * SRP-LSH kNN, IVF kNN. Run:
  *   SCALE_MULT=100 sbt "runMain graft.tools.ScaleBench"
  */
object ScaleBench {

  def main(args: Array[String]): Unit = {
    val mult = sys.env.getOrElse("SCALE_MULT", "100").toInt
    val spark = Harness.session(Harness.cores)
    val base = "/root/testdata/sf0.1"
    val out = s"/tmp/graft-scale-x$mult"

    val docsPath = s"$out/documents.parquet"
    val embPath = s"$out/embeddings.parquet"
    if (!new java.io.File(docsPath).exists()) {
      // ~60 unique tokens per replica: at ~50 original words the salted
      // shingles outnumber the shared ones, so replica-vs-replica
      // jaccard < 0.5 and clusters keep their fixture shape. Replicas
      // 0 and 1 share a salt — every original doc contributes one
      // exact-duplicate pair, so the verify/survivor stages process
      // real positives (~2/mult dup rate), not just candidates.
      val saltKey = when(col("rep") < 2, lit(0)).otherwise(col("rep"))
      val salt = concat_ws(" ", transform(sequence(lit(1), lit(60)), j =>
        substring(md5(concat(col("doc_id"), lit("_"), saltKey,
          lit("_"), j)), 1, 8)))
      // Salt BEFORE re-aliasing doc_id: a later select item would
      // lateral-alias-capture the NEW doc_id (unique per replica) and
      // silently destroy the shared-salt twins.
      // Write the corpus as MANY files (round 6): the explode plan
      // collapses to one task's output, and a single ~100-250 MB file
      // reads back as 1-2 scan partitions — every pre-shuffle stage
      // fused to the scan (shingling, cosine scoring) then runs on 1-2
      // cores, which silently serialized the round-5 ×100 ANN numbers
      // (knn_ivf 382-536 s was mostly a one-core scan stage). A real
      // 100 TB corpus arrives as thousands of files; 64 mirrors that.
      Catalog.table(spark, base, "documents")
        .withColumn("rep", explode(sequence(lit(0), lit(mult - 1))))
        .withColumn("salted", concat(col("text"), lit(" "), salt))
        .select(
          (col("doc_id") * mult + col("rep")).as("doc_id"),
          col("salted").as("text"),
          col("lang"), col("source"), col("n_chars"))
        .repartition(64)
        .write.mode("overwrite").parquet(docsPath)
      Catalog.table(spark, base, "embeddings")
        .withColumn("rep", explode(sequence(lit(0), lit(mult - 1))))
        .select(
          (col("vec_id") * mult + col("rep")).as("vec_id"),
          transform(col("embedding").cast("array<double>"),
            (x, j) => x + (col("rep") * j % 97 - lit(48)) * lit(1e-3))
            .as("embedding"),
          col("label"))
        .repartition(64)
        .write.mode("overwrite").parquet(embPath)
    }
    val docs = spark.read.parquet(docsPath)
    val emb = spark.read.parquet(embPath)
    val nDocs = docs.count(); val nEmb = emb.count()
    println(s"corpus: $nDocs docs, $nEmb embeddings (x$mult)")

    // optional op-name substring filter: `runMain ... ScaleBench lsh ivf`
    val only = args.toSeq
    // two runs per op through Harness.timed; a run that throws prints
    // its message and the next op still runs
    def time(label: String)(query: => DataFrame): Unit =
      if (only.isEmpty || only.exists(label.contains))
        Harness.timed(spark, 2)(query).runs.zipWithIndex.foreach {
          case (r, i) =>
            val err = r.error.fold("")(m => ",\"error\":" + Verify.jq(m))
            println(f"""{"op":"$label","run":${i + 1},"sec":${r.seconds}%.2f$err}""")
        }

    time("exact_dedup")(TextOps.exactDedup(docs, "doc_id", "text"))
    time("minhash_dedup")(TextOps.minhashDedup(docs, "doc_id", "text"))
    time("simhash_dedup")(TextOps.simhashDedup(docs, "doc_id", "text"))
    // hash-keyed benchmark-leakage scan (same shape as llm_decontaminate:
    // first 10×mult docs are the "benchmark", broadcast as longs)
    time("decontaminate") {
      import graft.plans.MinHashLsh
      val sh = docs.select(col("doc_id"),
        explode(MinHashLsh.shingleHashes(col("text"))).as("sh"))
      val bench = sh.filter(col("doc_id") < 10L * mult).select("sh").distinct()
      sh.filter(col("doc_id") >= 10L * mult)
        .join(broadcast(bench), Seq("sh"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    }
    // bipartite MinHash-banded FUZZY decontamination (round 8): the
    // llm_decontaminate_fuzzy structure — bench and corpus banded
    // SEPARATELY, bench bands broadcast — on the xxhash64 scale kernel
    // (the md5 family is its oracle-provable twin). The claim under
    // test: bench×corpus near-dup search costs one linear corpus
    // banding pass + a broadcast-probe join, never corpus×corpus.
    time("decontaminate_fuzzy") {
      import graft.plans.MinHashLsh
      def bands(d: DataFrame): DataFrame = d.select(col("doc_id"),
        posexplode(MinHashLsh.lshBuckets(
          MinHashLsh.shingleHashes(col("text")), 16, 4))
          .as(Seq("band", "bucket")))
      val bench = docs.filter(col("doc_id") < 10L * mult)
      val corpus = docs.filter(col("doc_id") >= 10L * mult)
      val cand = broadcast(
        bands(bench).select(col("band"), col("bucket"), col("doc_id").as("id_a")))
        .join(bands(corpus)
          .select(col("band"), col("bucket"), col("doc_id").as("id_b")),
          Seq("band", "bucket"))
        .select("id_a", "id_b").distinct()
      val hsB = bench.select(col("doc_id").as("id_a"),
        MinHashLsh.shingleHashes(col("text")).as("hs_a"))
      val hsC = corpus.select(col("doc_id").as("id_b"),
        MinHashLsh.shingleHashes(col("text")).as("hs_b"))
      cand.join(broadcast(hsB), Seq("id_a")).join(hsC, Seq("id_b"))
        .select(col("id_b"),
          TextOps.jaccard(col("hs_a"), col("hs_b")).as("j"))
        .filter(col("j") >= 0.5)
        .groupBy("id_b").agg(count(lit(1)).as("n_bench"), max("j").as("max_j"))
    }
    // hash-first two-pass corpus-wide 3-gram document frequency
    // (same shape as llm_boilerplate_ngrams)
    time("boilerplate_ngrams") {
      import graft.plans.MinHashLsh
      val dfTab = docs.select(col("doc_id"),
          explode(MinHashLsh.shingleHashes(col("text"))).as("h"))
        .groupBy("h")
        .agg(count(lit(1)).as("df"), min("doc_id").as("rep_doc"))
      val th = dfTab.select("df").orderBy(desc("df")).limit(20)
        .agg(min("df").as("th"))
      // checkpoint the TINY candidate set (~20 rows), not the full df
      // table: exactly two full aggregations total, and the two
      // downstream joins read the materialized candidates for free
      val cand = dfTab.join(broadcast(th), col("df") >= col("th"))
        .select("h", "df", "rep_doc").localCheckpoint()
      val reps = cand.select(col("rep_doc").as("doc_id")).distinct()
      docs.join(broadcast(reps), Seq("doc_id"))
        .select(explode(TextOps.shingles3(col("text"))).as("sh"))
        .distinct()
        .join(broadcast(cand), xxhash64(col("sh")) === col("h"))
        .select(col("sh"), col("df"))
        .orderBy(desc("df"), asc("sh")).limit(20)
    }
    // sliding 8-word window repetition score (same shape as
    // llm_repeated_spans: per-position xxhash64 keys, two fine-key
    // aggregates + one equi-join — strictly more windows than the
    // distinct-shingle ops since every position emits)
    time("repeated_spans") {
      val w = docs
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), explode(when(size(col("w")) >= 8, expr(
          "transform(sequence(0, size(w) - 8), i -> " +
            "xxhash64(array_join(slice(w, i + 1, 8), ' ')))"))
          .otherwise(expr("CAST(array() AS ARRAY<BIGINT>)"))).as("h"))
      val dfw = w.groupBy("h").agg(count_distinct(col("doc_id")).as("ndocs"))
      w.join(dfw, "h").groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_dup"))
    }
    // C4-style segment rewrite dedup (llm_line_dedup): the REWRITE
    // twin of repeated_spans — slim long-keyed first-occurrence
    // aggregate + join, then a doc_id-keyed reassembly shuffle that
    // ships the SURVIVING segment strings (the one string shuffle in
    // the family, bounded by the deduplicated corpus size).
    time("line_dedup") {
      TextOps.lineDedup(docs, "doc_id", "text")
    }
    // Exact substring dedup with location (llm_substring_dedup): the
    // per-position anchor explode matches repeated_spans' window
    // volume; on the replica corpus the df∈[2,8] cap is load-bearing —
    // original-text 8-grams recur in all `mult` replicas (df ≈ mult,
    // dropped as boilerplate), so pairs come from the rep-0/1 shared
    // salts: each original yields one exact-dup pair whose salted run
    // the op must LOCATE. Pair volume stays ∝ originals, never mult².
    time("substring_dedup") {
      TextOps.sharedSpans(docs, "doc_id", "text",
        k = 8, minLen = 10, dfCap = 8)
    }
    // BPE merge training (llm_bpe_train): corpus touched once for the
    // word-frequency vocab (localCheckpoint'd), then 6 rounds of
    // vocab-sized pair explode + aggregate + broadcast 1-row fold. The
    // salted replicas grow the vocab ~linearly with the corpus (~60
    // unique tokens per replica), so this probes the real web-corpus
    // regime where the vocab itself is tens of millions of types —
    // the train must stay vocab-bound, never corpus-bound.
    time("bpe_train") {
      val wf = docs.select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
      TextOps.bpeTrainMerges(wf, 6)
    }
    // Horizontally sharded trainer (round-9): word-hash shards bound
    // the frequency aggregate and base checkpoint at 1/shards each —
    // the fix for the ×1000 step where the single-shard form OOM'd at
    // 48g and spilled at 80g. SPARK_GRAFT_BPE_SHARDS tunes it.
    time("bpe_train_sharded") {
      val shards = sys.env.getOrElse("SPARK_GRAFT_BPE_SHARDS", "8").toInt
      TextOps.bpeTrainMergesSharded(
        docs.select(explode(split(col("text"), " ")).as("word")), 6, shards)
    }
    // COMPOSED pipelines (r8 verdict #1): every individual stage has a
    // scale decade, but linearity does not compose automatically —
    // shuffle overlap and executor memory pressure are properties of
    // the FUSED DAG a user actually runs. Probe the exact declared
    // queries (same code path as the correctness gate: Catalog reads
    // the scaled dir), not a re-derivation that could drift.
    time("pipeline_e2e")(
      graft.SparkEntry.queries("llm_pipeline_e2e")(spark, out))
    time("pipeline_curation")(
      graft.SparkEntry.queries("llm_pipeline_curation")(spark, out))
    // JPEG decode THROUGHPUT at corpus scale (round 10): one real
    // 4:2:0 baseline JPEG per scaled doc id, decoded through the full
    // Huffman + IDCT + chroma-upsample path. The media frame is
    // localCheckpoint'd so the timed number is the DECODE pass, not
    // fixture synthesis; per-partition mapPartitions parallelism is
    // the shape a real corpus decode runs with.
    // same filter convention as time(): an arg matches when it is a
    // substring of the op label
    if (only.isEmpty || only.exists("jpeg_decode_420".contains)) {
      import graft.operators.Multimodal
      val media = Multimodal.synthJpeg420Media(
        docs.select("doc_id"), "doc_id").localCheckpoint()
      val nImgs = media.count()
      time(s"jpeg_decode_420(n=$nImgs)")(
        Multimodal.decodeJpegFeatures(media, "id"))
      media.unpersist()
    }
    // MJPEG-in-MP4 FRAME decode throughput (round 11): the composed
    // sample-walk + mdat-slice + JPEG-decode path, one 3-6 frame
    // Motion-JPEG file per scaled doc id. Frames/s = rows / sec.
    if (only.isEmpty || only.exists("mjpeg_frames".contains)) {
      import graft.operators.Multimodal
      val media = Multimodal.synthMjpegMp4Media(
        docs.select("doc_id"), "doc_id").localCheckpoint()
      val nVids = media.count()
      time(s"mjpeg_frames(n=$nVids)")(
        Multimodal.videoFrameFeatures(media, "id"))
      media.unpersist()
    }
    // H.264 metadata walks (round 12): NAL framing + Exp-Golomb SPS
    // parse over raw streams, and the stsd/avc1/avcC record walk over
    // MP4 shells — both pure map work, the filter-before-decode pass
    // at corpus scale.
    if (only.isEmpty || only.exists("avc_meta".contains)) {
      import graft.operators.Multimodal
      val media = Multimodal.synthAvcMedia(
        docs.select("doc_id"), "doc_id").localCheckpoint()
      val n = media.count()
      time(s"avc_meta(n=$n)")(
        Multimodal.avcNalFeatures(media, "id"))
      media.unpersist()
      val mp4 = Multimodal.synthAvcMp4Media(
        docs.select("doc_id"), "doc_id").localCheckpoint()
      mp4.count()
      time(s"avcc_meta(n=$n)")(
        Multimodal.avccFeatures(mp4, "id"))
      mp4.unpersist()
    }
    // Archive walks (round 12): ustar header+payload-digest walk and
    // the ZIP central-directory walk with per-member CRC/inflate
    // verification — the corpus-listing pre-pass at scale. Members/s =
    // rows / sec; media localCheckpoint'd so the timed pass is the
    // walk, not fixture synthesis.
    if (only.isEmpty || only.exists("archive_entries".contains)) {
      import graft.operators.Multimodal
      val tar = Multimodal.synthTarMedia(
        docs.select("doc_id"), "doc_id").localCheckpoint()
      val n = tar.count()
      time(s"archive_entries_tar(n=$n)")(
        Multimodal.tarEntryFeatures(tar, "id"))
      tar.unpersist()
      val z = Multimodal.synthZipMedia(
        docs.select("doc_id"), "doc_id").localCheckpoint()
      z.count()
      time(s"archive_entries_zip(n=$n)")(
        Multimodal.zipEntryFeatures(z, "id"))
      z.unpersist()
    }
    // Markdown → text extraction (round 12): the README/wiki sibling
    // of html_text — per-doc forward scan, embarrassingly parallel.
    if (only.isEmpty || only.exists("markdown_text".contains)) {
      import graft.operators.Markdown
      val md = Markdown.synthDf(
        docs.select("doc_id"), "doc_id").localCheckpoint()
      val n = md.count()
      time(s"markdown_text(n=$n)")(
        Markdown.features(md, "id", "md"))
      md.unpersist()
    }
    // PDF extraction (round 12): synthesize → full xref walk +
    // per-page inflate + Tj/TJ scan; like markdown, per-doc map work
    // with no shuffle — the scale row shows the per-core parse cost.
    if (only.isEmpty || only.exists("pdf_text".contains)) {
      import graft.operators.Pdf
      val pdf = Pdf.synthDf(
        docs.select("doc_id"), "doc_id").localCheckpoint()
      val n = pdf.count()
      time(s"pdf_meta(n=$n)")(
        Pdf.metaFeatures(pdf, "id", "pdf"))
      time(s"pdf_text(n=$n)")(
        Pdf.textFeatures(pdf, "id", "pdf"))
      pdf.unpersist()
    }
    // Code-corpus ops (round 12): comment strip is per-doc scan work
    // like markdown/pdf; license scan + FIM are pure Column exprs
    // fused into the corpus scan (whole-stage codegen — the aggregate
    // over the verdict is the only shuffle, |licenses| rows).
    if (only.isEmpty || only.exists("code_ops".contains)) {
      import graft.operators.CodeOps
      val src = CodeOps.synthDf(
        docs.select("doc_id"), "doc_id").localCheckpoint()
      val n = src.count()
      time(s"code_ops_strip(n=$n)")(
        CodeOps.stripComments(src, "id", "src"))
      src.unpersist()
      time("code_ops_license_scan")(
        docs.select(CodeOps.licenseOf(col("text")).as("license"))
          .groupBy("license").count())
      time("code_ops_fim_transform") {
        val L = length(col("text"))
        val p1 = least(L, floor(L / lit(4)).cast("int") +
          (col("doc_id") % 13).cast("int"))
        val p2 = greatest(p1, least(L,
          floor(L * lit(3) / lit(4)).cast("int") -
            (col("doc_id") % 11).cast("int")))
        docs.select(col("doc_id"),
          concat(lit("<fim_prefix>"), col("text").substr(lit(1), p1),
            lit("<fim_suffix>"), col("text").substr(p2 + 1, L - p2),
            lit("<fim_middle>"), col("text").substr(p1 + 1, p2 - p1))
            .as("fim_text"))
      }
    }
    // Cluster topics (round 12): kmeans assignment of the full
    // embedding corpus (the slim argmax aggregate — the 292s-vs-8s
    // lesson baked into kmeansAssignments) + token join + per-cluster
    // top-k. The window sees only the (cluster, word) counts.
    if (only.isEmpty || only.exists("cluster_topics".contains)) {
      import graft.operators.Similarity
      import org.apache.spark.sql.expressions.Window
      time("cluster_topics") {
        val asg = Similarity.kmeansAssignments(
          emb, "vec_id", "embedding", nlist = 64, rounds = 2)
        val words = docs.select(col("doc_id").as("id"),
          explode(split(col("text"), " ")).as("word"))
        words.join(asg, Seq("id"))
          .groupBy(col("cluster"), col("word"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("cluster")
              .orderBy(col("cnt").desc, col("word"))))
          .filter(col("rk") <= 10)
      }
    }
    // Dedup index persistence (round 12): the MinHash sibling of
    // index_persist — corpus band table + signature store written as
    // parquet ONCE, then the daily-arrival batch (10×mult docs)
    // banded on the fly and probed against the LOAD. The xxhash64
    // kernel is the scale path (the md5 family is the oracle twin in
    // llm_dedup_index_persist).
    if (only.isEmpty || only.exists("dedup_index".contains)) {
      import graft.plans.MinHashLsh
      // arrivals = re-labeled COPIES of a corpus slice (negative ids
      // keep the two sides disjoint), so every probe row has a
      // guaranteed jaccard-1.0 corpus twin and the verify stage
      // processes real positives, not just candidates.
      val arrivals = docs.filter(col("doc_id") % (50L * mult) === 0)
        .select((-col("doc_id") - 1).as("doc_id"), col("text"))
      val corpus = docs
      val ix = graft.Scratch.dir(s"dedup-index-x$mult")
      time("dedup_index_build_write") {
        val sigC = corpus.select(col("doc_id"),
          MinHashLsh.shingleHashes(col("text")).as("hs"))
        sigC.select(col("doc_id"),
            posexplode(MinHashLsh.lshBuckets(col("hs"), 16, 4))
              .as(Seq("band", "bucket")))
          .write.mode("overwrite").parquet(s"$ix/bands.parquet")
        sigC.write.mode("overwrite").parquet(s"$ix/sigs.parquet")
        spark.read.parquet(s"$ix/bands.parquet").select(count(lit(1)))
      }
      time("dedup_index_probe") {
        val ixBands = spark.read.parquet(s"$ix/bands.parquet")
        val ixSigs = spark.read.parquet(s"$ix/sigs.parquet")
        val sigA = arrivals.select(col("doc_id"),
          MinHashLsh.shingleHashes(col("text")).as("hs"))
        val cand = broadcast(sigA.select(col("doc_id").as("id_a"),
            posexplode(MinHashLsh.lshBuckets(col("hs"), 16, 4))
              .as(Seq("band", "bucket"))))
          .join(ixBands.select(col("band"), col("bucket"),
            col("doc_id").as("id_b")), Seq("band", "bucket"))
          .select("id_a", "id_b").distinct()
        cand
          .join(broadcast(sigA.select(col("doc_id").as("id_a"),
            col("hs").as("hs_a"))), Seq("id_a"))
          .join(ixSigs.select(col("doc_id").as("id_b"),
            col("hs").as("hs_b")), Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            TextOps.jaccard(col("hs_a"), col("hs_b")).as("j"))
          .filter(col("j") >= 0.5)
      }
    }
    // Caption ops (round 12): SRT parse is per-doc map work; the
    // alignment is an equi-join on doc id (co-located, AQE-friendly)
    // with the interval predicate as a post-join filter — the shape
    // that scales because no cross-doc interval product ever forms.
    if (only.isEmpty || only.exists("caption".contains)) {
      import graft.operators.Subtitles
      val ids = docs.select("doc_id")
      time("caption_srt_parse")(
        Subtitles.srtFeatures(ids, "doc_id"))
      time("caption_align") {
        val cues = Subtitles.srtCues(ids, "doc_id")
        val frames = ids.select(col("doc_id").as("fid"),
            explode(sequence(lit(0),
              (lit(7) + col("doc_id") % 9).cast("int"))).as("k"))
          .select(col("fid"), (col("k") * 1700L).as("ts"))
        cues.join(frames,
            col("fid") === col("id") && col("ts") >= col("start_ms") &&
              col("ts") < col("end_ms"), "left")
          .groupBy(col("id"), col("cue_idx"))
          .agg(count(col("ts")).as("n_frames"))
      }
    }
    // ANN index persistence (round 12): the trained IVF-PQ artifacts
    // written as parquet and SERVED FROM THE LOAD — build+write once,
    // then the serve pass alone, so the row separates index-build cost
    // from query cost the way a deployment amortizes it.
    if (only.isEmpty || only.exists("index_persist".contains)) {
      import graft.operators.Similarity
      val (cents, cb, coded) = Similarity.ivfPqBuildIndex(
        emb, "vec_id", "embedding", dim = 64, numSub = 16,
        codebookSize = 16, centroidEvery = 32, centroidCap = None)
      val ix = graft.Scratch.dir(s"ivfpq-index-x$mult")
      time("index_persist_build_write") {
        cents.write.mode("overwrite").parquet(s"$ix/centroids.parquet")
        cb.write.mode("overwrite").parquet(s"$ix/codebook.parquet")
        coded.write.mode("overwrite").parquet(s"$ix/codes.parquet")
        spark.read.parquet(s"$ix/codes.parquet").select(count(lit(1)))
      }
      time("index_persist_serve")(Similarity.ivfPqServe(
        spark.read.parquet(s"$ix/centroids.parquet"),
        spark.read.parquet(s"$ix/codebook.parquet"),
        spark.read.parquet(s"$ix/codes.parquet"),
        emb.filter(col("vec_id") < 1000), emb, "vec_id", "embedding",
        k = 3, dim = 64, numSub = 16, codebookSize = 16,
        shortlist = 20, nprobe = 4))
    }
    // Incremental ANN index update (round 13): the base index is
    // built/persisted on the %17 corpus, then the arrival slice
    // (1/17th) is encoded under the LOADED frozen artifacts and
    // written beside the lists — update cost must track |arrivals|,
    // an order of magnitude under the rebuild row above.
    if (only.isEmpty || only.exists("index_update".contains)) {
      import graft.operators.Similarity
      val corpus17 = emb.filter(col("vec_id") % 17 =!= 0)
      val arrivals = emb.filter(col("vec_id") % 17 === 0)
      val ix = graft.Scratch.dir(s"ivfpq-upd-x$mult")
      time("index_update_base_rebuild") {
        val (cents, cb, coded) = Similarity.ivfPqBuildIndex(
          corpus17, "vec_id", "embedding", dim = 64, numSub = 16,
          codebookSize = 16, centroidEvery = 32, centroidCap = None)
        cents.write.mode("overwrite").parquet(s"$ix/centroids.parquet")
        cb.write.mode("overwrite").parquet(s"$ix/codebook.parquet")
        coded.write.mode("overwrite").parquet(s"$ix/codes.parquet")
        spark.read.parquet(s"$ix/codes.parquet").select(count(lit(1)))
      }
      time("index_update_encode_append") {
        // arrivals land in their own file set (idempotent re-runs);
        // the count forces the unioned lists a serve would scan
        Similarity.ivfPqEncodeWith(
          spark.read.parquet(s"$ix/centroids.parquet"),
          spark.read.parquet(s"$ix/codebook.parquet"),
          arrivals, "vec_id", "embedding", dim = 64, numSub = 16)
          .write.mode("overwrite").parquet(s"$ix/codes-arrivals.parquet")
        spark.read.parquet(s"$ix/codes.parquet")
          .union(spark.read.parquet(s"$ix/codes-arrivals.parquet"))
          .select(count(lit(1)))
      }
    }
    // FLAC frame decode (round 13): Rice residuals + fixed predictors
    // + both CRCs verified per frame — per-doc map work like the
    // image-codec rows.
    if (only.isEmpty || only.exists("flac_decode".contains)) {
      time("flac_decode")(
        graft.operators.Flac.audioFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    // HEVC NAL/SPS metadata walk (round 15) — per-doc map work like
    // the AVC meta row.
    if (only.isEmpty || only.exists("hevc_meta".contains)) {
      time("hevc_meta")(
        graft.operators.Hevc.metaFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    // sfnt/TrueType walk with full checksum verification (round 15).
    if (only.isEmpty || only.exists("sfnt_meta".contains)) {
      time("sfnt_meta")(
        graft.operators.Sfnt.metaFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    // Round-15 small-asset walks: favicon (full PNG decode per entry)
    // and SVG structure — per-doc map work.
    if (only.isEmpty || only.exists("ico_walk".contains)) {
      time("ico_walk")(
        graft.operators.Ico.features(docs.select("doc_id"), "doc_id"))
    }
    if (only.isEmpty || only.exists("svg_meta".contains)) {
      time("svg_meta")(
        graft.operators.Svg.features(docs.select("doc_id"), "doc_id"))
    }
    // Round-15 lake/audio batch: zstd frames, gzip members, the
    // audio-curation pipeline — map work (+1 rollup for the pipeline).
    if (only.isEmpty || only.exists("zstd_frames".contains)) {
      time("zstd_frames")(
        graft.operators.Zstd.features(docs.select("doc_id"), "doc_id"))
    }
    // zstd compressed-block decode (round 16): full FSE/Huffman block
    // layer per doc — the decompress-at-scan shape of a lake read.
    if (only.isEmpty || only.exists("zstd_decode".contains)) {
      time("zstd_decode")(
        graft.operators.Zstd.decodeFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    // zstd dictionary-fed decode (round 17): dictionary parse + all
    // three inheritance channels per doc — the small-document lake's
    // trained-dictionary scan.
    if (only.isEmpty || only.exists("zstd_dict".contains)) {
      time("zstd_dict")(
        graft.operators.Zstd.dictFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    // zstd SHARED-dictionary decode (round 18): one dictionary per
    // 4096-doc shard, parsed once per (partition, shard) — the
    // realistic table-level-dictionary shape; contrast with
    // zstd_dict's per-doc-dictionary worst case.
    if (only.isEmpty || only.exists("zstd_dict_shared".contains)) {
      time("zstd_dict_shared")(
        graft.operators.Zstd.sharedDictFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    if (only.isEmpty || only.exists("gzip_members".contains)) {
      time("gzip_members")(
        graft.operators.Gzip.memberFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    if (only.isEmpty || only.exists("audio_pipeline".contains)) {
      time("audio_pipeline")(
        graft.operators.Multimodal.audioPipelineFeatures(
          docs.select("doc_id"), "doc_id")
          .groupBy("kind")
          .agg(count(lit(1)).as("n_in"), sum("kept").as("n_kept")))
    }
    // Round-15 walk batch: MP3 side info, ADTS, ICC, EXIF-in-WebP,
    // the image-curation pipeline — all per-doc map work (the
    // pipeline adds one 3-group rollup).
    if (only.isEmpty || only.exists("mp3_side".contains)) {
      time("mp3_side")(
        graft.operators.Mp3Side.features(docs.select("doc_id"), "doc_id"))
    }
    if (only.isEmpty || only.exists("adts_meta".contains)) {
      time("adts_meta")(
        graft.operators.Adts.metaFeatures(docs.select("doc_id"), "doc_id"))
    }
    if (only.isEmpty || only.exists("icc_meta".contains)) {
      time("icc_meta")(
        graft.operators.Icc.metaFeatures(docs.select("doc_id"), "doc_id"))
    }
    if (only.isEmpty || only.exists("webp_exif".contains)) {
      time("webp_exif")(
        graft.operators.Webp.exifFeatures(docs.select("doc_id"), "doc_id"))
    }
    if (only.isEmpty || only.exists("image_pipeline".contains)) {
      time("image_pipeline")(
        graft.operators.Webp.pipelineFeatures(docs.select("doc_id"),
          "doc_id")
          .groupBy("kind")
          .agg(count(lit(1)).as("n_in"), sum("kept").as("n_kept")))
    }
    // hvcC-in-MP4 record walk + SPS cross-check (round 15).
    if (only.isEmpty || only.exists("hvcc_meta".contains)) {
      time("hvcc_meta")(
        graft.operators.Hevc.hvccFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    // Animated WebP: per-frame placement walk + full VP8L decode of
    // every frame (round 15) — the gifFrameFeatures twin.
    if (only.isEmpty || only.exists("webp_anim".contains)) {
      time("webp_anim")(
        graft.operators.Webp.animFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    // VP8 key-frame header via the RFC 6386 bool coder (round 15).
    if (only.isEmpty || only.exists("vp8_header".contains)) {
      time("vp8_header")(
        graft.operators.Webp.vp8HeaderFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    // Fragmented-MP4 rows (round 15): the moof/traf/trun walk over
    // the closed-form byte fixture, and the composed AVCC keyframe
    // decode over the fragmented layout — per-doc map work.
    if (only.isEmpty || only.exists("fmp4_samples".contains)) {
      time("fmp4_samples")(
        graft.operators.Fmp4.dataSampleFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    if (only.isEmpty || only.exists("fmp4_keyframes".contains)) {
      time("fmp4_keyframes")(
        graft.operators.Fmp4.keyframeFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    // WebP rows (round 15): container walk (RIFF/VP8X/lossy-header)
    // and the real VP8L decode (encode layout rotating per doc) —
    // per-doc map work like the other image-codec rows.
    if (only.isEmpty || only.exists("webp_meta".contains)) {
      time("webp_meta")(
        graft.operators.Webp.metaFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    if (only.isEmpty || only.exists("webp_decode".contains)) {
      time("webp_decode")(
        graft.operators.Webp.decodeFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    // Arrow IPC footer+message walk (round 16): flatbuffers footer,
    // per-block RecordBatch headers — metadata only, per-file map work.
    if (only.isEmpty || only.exists("arrow_meta".contains)) {
      time("arrow_meta")(
        graft.operators.ArrowIpc.metaFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    // TIFF multi-page walk (round 16): IFD chain + strip decode
    // (uncompressed + PackBits) — per-doc map work.
    if (only.isEmpty || only.exists("tiff_pages".contains)) {
      time("tiff_pages")(
        graft.operators.Tiff.pageFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    // WebM/EBML walk (round 16): element vints + per-block VP8
    // key-frame bool decode + Opus TOC — per-doc map work.
    if (only.isEmpty || only.exists("webm_meta".contains)) {
      time("webm_meta")(
        graft.operators.Webm.webmFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    // Ogg/Opus container walk (round 14): page CRCs + lacing packet
    // assembly + OpusHead — per-doc map work like the codec rows.
    if (only.isEmpty || only.exists("ogg_meta".contains)) {
      time("ogg_meta")(
        graft.operators.Ogg.oggFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    // RSS/Atom feed walk (round 14): dialect dispatch + date
    // validation per entry — per-doc map work like the codec rows.
    if (only.isEmpty || only.exists("feed_parse".contains)) {
      time("feed_parse")(
        graft.operators.Feed.feedFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    // EPUB walk (round 14): CRC-checked ZIP extraction + OPF spine +
    // per-chapter Html extraction — per-doc map work.
    if (only.isEmpty || only.exists("epub_walk".contains)) {
      time("epub_walk")(
        graft.operators.Epub.epubFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    // BOM-dispatch charset decode (round 14): strict UTF-8/UTF-16
    // validation per doc — per-doc map work.
    if (only.isEmpty || only.exists("charset_bom".contains)) {
      time("charset_bom")(
        graft.operators.Multimodal.bomDecodeFeatures(
          docs.select("doc_id"), "doc_id"))
    }
    // Avro container + protobuf wire walks (round 14): per-doc map
    // work like the other container rows.
    if (only.isEmpty || only.exists("avro_records".contains)) {
      time("avro_records")(
        graft.operators.AvroWalk.avroFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    if (only.isEmpty || only.exists("proto_records".contains)) {
      time("proto_records")(
        graft.operators.Proto.protoFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    // Two-level sitemap walk (round 14).
    if (only.isEmpty || only.exists("sitemap_index".contains)) {
      time("sitemap_index")(
        graft.operators.Multimodal.sitemapIndexFeatures(
          docs.select("doc_id"), "doc_id"))
    }
    // URL canonicalization dedup (round 14): scan-stage normalization
    // + ONE groupBy on the canonical string — the only shuffle. Same
    // decoration classes as the declared query, over the scaled docs.
    if (only.isEmpty || only.exists("url_dedup".contains)) {
      time("url_dedup") {
        docs.selectExpr("doc_id",
            """concat('https://',
               CASE WHEN floor(doc_id/100) % 5 = 3
                 THEN concat('SITE', doc_id % 100000, '.EXAMPLE')
                 ELSE concat('site', doc_id % 100000, '.example') END,
               CASE WHEN doc_id % 100000 % 7 = 3 THEN ':8443'
                 WHEN floor(doc_id/100) % 5 = 3 THEN ':443'
                 ELSE '' END,
               '/p/', doc_id % 100000,
               '?',
               CASE WHEN floor(doc_id/100) % 5 = 1
                 THEN concat('a=', doc_id % 9, '&utm_source=x', doc_id,
                   '&b=', doc_id % 4)
                 WHEN floor(doc_id/100) % 5 = 2
                 THEN concat('b=', doc_id % 4, '&a=', doc_id % 9)
                 ELSE concat('a=', doc_id % 9, '&b=', doc_id % 4) END,
               CASE WHEN floor(doc_id/100) % 5 = 4
                 THEN concat('#frag', doc_id) ELSE '' END) AS url""")
          .selectExpr("doc_id",
            "lower(parse_url(url, 'HOST')) AS host",
            """regexp_extract(parse_url(url, 'AUTHORITY'),
               ':(\\d+)$', 1) AS port""",
            "parse_url(url, 'PATH') AS path",
            "coalesce(parse_url(url, 'QUERY'), '') AS query")
          .selectExpr("doc_id",
            """concat('https://', host,
               CASE WHEN port != '' AND port != '443'
                 THEN concat(':', port) ELSE '' END, path,
               concat('?', array_join(array_sort(
                 filter(split(query, '&'), p -> p != '' AND
                   NOT (p RLIKE '^(utm_[^=]*|fbclid|gclid)='))), '&')))
               AS canon_url""")
          .groupBy("canon_url")
          .agg(count(lit(1)).as("n_urls"), min("doc_id").as("survivor"))
      }
    }
    // H.264 I-frame decode (round 14): full CAVLC + intra-DC + dequant
    // + inverse-transform pixel reconstruction — per-doc map work like
    // flac_decode; frames/s = rows / sec.
    if (only.isEmpty || only.exists("iframe_decode".contains)) {
      time("iframe_decode")(
        graft.operators.Avc.iframeFeatures(docs.select("doc_id"),
          "doc_id"))
    }
    // AVC-in-MP4 keyframe extraction (round 14): avcC read + sample
    // walk + mdat slice + AVCC→Annex-B reframe + I-frame decode — the
    // composed thumbnail pass; keyframes/s = rows / sec.
    if (only.isEmpty || only.exists("keyframes".contains)) {
      import graft.operators.Multimodal
      val media = Multimodal.synthIdrMp4Media(
        docs.select("doc_id"), "doc_id").localCheckpoint()
      val n = media.count()
      time(s"keyframes(n=$n)")(
        graft.operators.Avc.keyframeFeatures(media, "id"))
      media.unpersist()
    }
    // Small-file compaction (round 13): a 256-writer × |langs|
    // fragmented layout staged once, then the one-shuffle size-salted
    // rewrite — the lake-hygiene op at corpus scale.
    if (only.isEmpty || only.exists("compact_files".contains)) {
      val frag = s"$out/frag-docs.parquet"
      if (!new java.io.File(s"$frag/_SUCCESS").exists())
        docs.repartition(256)
          .write.mode("overwrite").partitionBy("lang").parquet(frag)
      time("compact_files") {
        val cdir = graft.Scratch.dir(s"compact-x$mult")
        graft.queries.Sources.compactFiles(spark, frag, cdir,
          "lang", "doc_id", targetBytes = 128L * 1024 * 1024)
        spark.read.parquet(cdir).select(count(lit(1)))
      }
    }
    // Temperature-mix APPLY (round 14): two map-side-combinable
    // per-source aggregates + a broadcast rate table + a scan-stage
    // hash-cut keep test — the whole corpus is touched once, nothing
    // else scales with it. (stream_audio_ingest's per-row decode cost
    // is the flac_decode row; the stateless-Append machinery is the
    // StreamScaleProbe evidence.)
    if (only.isEmpty || only.exists("mix_temperature".contains)) {
      time("mix_temperature_apply") {
        val d = docs.select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
        val perSrc = d.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"))
        val mx = perSrc
          .agg(max(sqrt(col("tokens").cast("double"))).as("mx"))
        val rates = perSrc.crossJoin(broadcast(mx))
          .select(col("source"), col("n_docs"), col("tokens"),
            (sqrt(col("tokens").cast("double")) / col("mx")).as("rate"))
        val cut = lower(lpad(hex(
          least(floor(col("rate") * 65536), lit(65535L))), 4, "0"))
        d.join(broadcast(rates), "source")
          .withColumn("kept",
            (substring(md5(col("doc_id").cast("string")), 1, 4) < cut)
              .cast("int"))
          .groupBy("source")
          .agg(max("tokens").as("tokens"), sum("kept").as("n_kept"))
      }
    }
    // Heaps-law vocabulary-growth curve (round 12): two fine-key
    // aggregates + a buckets-sized running sum — corpus touched once.
    time("vocab_growth") {
      val tok = docs.select((col("doc_id") / (50L * mult)).cast("int")
          .as("bucket"),
        explode(graft.operators.TextOps.tokens(col("text"))).as("word"))
      val toks = tok.groupBy("bucket").agg(count(lit(1)).as("n_tok"))
      val firsts = tok.groupBy("word").agg(min("bucket").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_new"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      toks.join(firsts, Seq("bucket"), "left").limit(200)
        .select(col("bucket"), sum("n_tok").over(w).as("cum_tokens"),
          sum(coalesce(col("n_new"), lit(0L))).over(w).as("cum_types"))
    }
    // WARC ingest throughput (round 11): per-record-gzipped archives
    // inflated + record-walked per partition — the Common Crawl
    // first-pass at corpus scale, records/s = rows / sec.
    if (only.isEmpty || only.exists("warc_ingest".contains)) {
      import graft.operators.Multimodal
      val media = Multimodal.synthWarcGzMedia(
        docs.select("doc_id"), "doc_id").localCheckpoint()
      val nArch = media.count()
      time(s"warc_ingest(n=$nArch)")(
        Multimodal.warcRecordFeatures(media, "id", gz = true))
      media.unpersist()
    }
    // Full web-ingest chain (round 11): gunzip → WARC walk → HTTP
    // frame (Content-Length + chunked) → HTML visible-text extract,
    // one partition-local pass; pages/s = rows / sec.
    if (only.isEmpty || only.exists("web_ingest".contains)) {
      import graft.operators.Multimodal
      val media = Multimodal.synthWarcWebGzMedia(
        docs.select("doc_id"), "doc_id").localCheckpoint()
      val nArch = media.count()
      time(s"web_ingest(n=$nArch)")(
        Multimodal.webTextFeatures(media, "id", gz = true))
      media.unpersist()
    }
    // Boilerplate removal (round 11): block segmentation + link-density
    // classification over closed-form pages, pure map work.
    if (only.isEmpty || only.exists("main_content".contains)) {
      import graft.operators.Multimodal
      time(s"main_content")(
        Multimodal.mainContentFeatures(docs.select("doc_id"), "doc_id"))
    }
    // Outlink domain graph (round 11): full extraction chain + quality
    // gate + link explode + domain rollup — the one web-family member
    // with a real shuffle (the exploded link table).
    if (only.isEmpty || only.exists("outlink".contains)) {
      import graft.operators.Multimodal
      val media = Multimodal.synthWarcWebGzMedia(
        docs.select("doc_id"), "doc_id").localCheckpoint()
      time(s"outlink_graph")(
        Multimodal.webTextFeatures(media, "id", gz = true)
          .filter(col("status") === 200 && col("n_words") >= 18)
          .select(col("id"), explode(col("links")).as("link"))
          .withColumn("domain", expr("parse_url(link, 'HOST')"))
          .groupBy("domain")
          .agg(count(lit(1)).as("n_refs"),
            countDistinct(col("id")).as("n_sites")))
      media.unpersist()
    }
    // GIF decode throughput (round 11): LZW + palette + interlace,
    // per-partition batch decode like the JPEG rows.
    if (only.isEmpty || only.exists("gif_decode".contains)) {
      import graft.operators.Multimodal
      val media = Multimodal.synthGifMedia(
        docs.select("doc_id"), "doc_id").localCheckpoint()
      time(s"gif_decode")(Multimodal.decodeGifFeatures(media, "id"))
      media.unpersist()
    }
    // WordPiece tokenize (round 11): the aggregate-HOF greedy walk,
    // one codegen'd projection over the corpus — pieces/s = rows/sec.
    if (only.isEmpty || only.exists("wordpiece".contains)) {
      time(s"wordpiece")(
        graft.operators.WordPiece.tokenize(docs, "doc_id", "text"))
    }
    // Trained quality classifier (round 11): 4 full-batch perceptron
    // rounds, each one slim aggregate over the checkpointed 4-long
    // projection; model state crossing the driver = 4 doubles/round.
    if (only.isEmpty || only.exists("quality_classifier".contains)) {
      time(s"quality_classifier")(
        graft.operators.Classifier.perceptronQuality(
          docs, "doc_id", "text"))
    }
    // Charset-dispatch decode + strict UTF-8 validation (round 11).
    if (only.isEmpty || only.exists("charset_decode".contains)) {
      import graft.operators.Multimodal
      time(s"charset_decode")(
        Multimodal.charsetDecodeFeatures(
          docs.select("doc_id"), "doc_id"))
    }
    // CCNet tercile bucketing via the bucketed two-phase global rank
    // (round 10): the corpus-wide rank that used to funnel every scored
    // doc through ONE window task now runs partitioned by score-
    // histogram bucket. The probe drives the exact declared query on
    // the scaled corpus — token explode + LM join + per-bucket rank.
    time("perplexity_filter")(
      graft.SparkEntry.queries("llm_perplexity_filter")(spark, out))
    // Vocabulary coverage at a REAL budget (round 10): the declared
    // query's 16-word budget exercises the plumbing; this probes the
    // curve where it matters — top-1k candidate vocab over the scaled
    // corpus (~30M types at x100), TakeOrdered top-k, windows over the
    // bounded k-row table only.
    time("vocab_coverage_1k")(
      graft.queries.Llm.vocabCoverage(
        spark.read.parquet(docsPath), "text", 1000))
    // BM25 retrieval at corpus scale (round 11): 1000 five-token
    // queries against the full scaled corpus through the
    // inverted-index join — the lexical-retrieval half of
    // hard-negative mining / retrieval-based dedup. Cost = the
    // postings build (two fine-key aggregates over the token explode)
    // + the term-keyed probe, query×corpus never materializes.
    // UNPRUNED at 100 queries: on this corpus every token is
    // stopword-grade (tiny shared vocabulary → df ≈ 0.75N for every
    // term), so a df cap is all-or-nothing — capped runs return 0
    // rows and measure nothing. The honest scale number is the
    // unpruned probe, which on all-common-term queries degenerates to
    // ~query×corpus scoring BY THE COST MODEL (Σ df per query): 1000
    // queries measured 367 s (BASELINE r11); 100 queries keep the
    // regression row inside the family sweep budget. Real corpora
    // have Zipfian vocabularies where the maxDf dial prunes partially
    // (the fixture-scale llm_bm25_topk_pruned oracle-pins that).
    time("bm25_topk_100")(
      graft.queries.Llm.bm25TopK(docs, nQueries = 100L, k = 10))
    // The RARE-TERM end of the cost model: queries built from the
    // replica-salt tail tokens (df ≈ dozens, not 0.75N), with the
    // maxDf dial active — candidates collapse to Σ df ≈ thousands and
    // the probe is postings-build-bound. Together with the
    // common-term row above this brackets BM25's Σ-df cost model from
    // both ends on the same corpus.
    // The MAXSCORE answer to the common-term row above: SAME 1000
    // common-term queries, EXACT results (no maxDf), but the probe
    // touches only |q|·prefixR prefix postings per query plus the
    // candidate rescore — the r11 verdict's ≤60 s target (from 367 s).
    // prefixR must clear the replica multiplication (each base impact
    // appears ~mult times), so scale it with mult.
    time("bm25_maxscore_1k")(
      graft.queries.Llm.bm25TopKMaxScore(docs, nQueries = 10L * mult,
        k = 10, prefixR = sys.env.getOrElse("BM25_R", s"${50 * mult}").toInt))
    // UNIGRAM-LM at corpus scale (round 12). The synthetic replica
    // corpus is the WORST case for a unigram trainer: ~30M distinct
    // salt types (random 8-char hex, count 1-2) vs a real corpus's
    // Zipfian head. The honest scale shape is SentencePiece's own:
    // TRAIN on the frequency head (top-50k types — EM counts from
    // singleton types are noise; seed pruning is standard), SERVE the
    // full corpus through the broadcast segmentation table with
    // char-level fallback for the tail (Unigram.tokenize), so apply
    // covers all 55M word occurrences without enumerating
    // compositions for 30M rare types.
    time("unigram_train") {
      val wf = docs
        .select(explode(TextOps.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), asc("word")).limit(50000)
      graft.operators.Unigram.train(wf, rounds = 3)
    }
    time("unigram_apply") {
      val wf = docs
        .select(explode(TextOps.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), asc("word")).limit(50000)
      val seg = graft.operators.Unigram.trainSegmentation(wf, rounds = 3)
        .localCheckpoint()
      graft.operators.Unigram.tokenize(
        docs.select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("word")),
        seg, segRows = Some(50000))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(size(col("pieces"))).as("n_pieces"))
    }
    time("bm25_rare_1k")(
      graft.queries.Llm.bm25TopKQueries(docs,
        docs.filter(col("doc_id") < 1000)
          .select(col("doc_id").as("qid"),
            explode(expr("slice(split(text, ' '), -5, 5)")).as("qw"))
          .distinct(),
        k = 10, maxDf = Some(nDocs / 10)))
    // PageRank at ×mult the sf0.1 customer–supplier graph: `mult`
    // id-offset DISJOINT copies of the bipartite projection, so node
    // and edge counts scale exactly ×mult while per-copy structure
    // (degrees, rank distribution) is invariant — any super-linear
    // growth is the engine's fault, not the graph's. 3 iterations,
    // each one |E|-linear equi-join + one aggregate on long keys.
    time("pagerank") {
      val li = Catalog.table(spark, base, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val ord = Catalog.table(spark, base, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val cs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
        .distinct()
        .withColumn("rep", explode(sequence(lit(0), lit(mult - 1))))
        .select((col("c") + col("rep") * 10000000L).as("c"),
          (col("s") + col("rep") * 10000000L).as("s"))
      val edges = cs.select(col("c").as("src"), col("s").as("dst"))
        .union(cs.select(col("s").as("src"), col("c").as("dst")))
      graft.queries.Graph.pagerank(edges, 3, symmetric = true)
    }
    time("dedup_groups") {
      val pairs = TextOps.minhashNearDupPairs(docs, "doc_id", "text")
        .select("id_a", "id_b")
      Components.connectedComponents(
        pairs, "id_a", "id_b", docs.select("doc_id"), "doc_id")
    }
    // SemDedup at corpus scale: centroids ≈ √N (step = N/√N) keeps
    // clusters ~√N so the within-cluster pair stage stays Σ O(|c|²)
    time("semdedup") {
      val step = math.max(2,
        (nEmb / math.sqrt(nEmb.toDouble)).round.toInt)
      Similarity.semdedup(emb, "vec_id", "embedding",
        threshold = 0.2, centroidStep = step)
    }
    val queries = emb.filter(col("vec_id") < 100 * mult.toLong)
    // Hold the knobs to the documented sizing rules as the corpus
    // grows: bits ≈ log2(N/256-row buckets); nlist ≈ √N at 1/16 probe.
    val bits = math.max(8, (math.log(nEmb / 256.0) / math.log(2)).round.toInt)
    val nlist = math.max(16, math.sqrt(nEmb.toDouble).round.toInt)
    time(s"knn_lsh(bits=$bits)")(
      Similarity.lshTopK(emb, queries, "vec_id", "embedding", 10, bits))
    time(s"knn_ivf(nlist=$nlist)")(
      Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 10,
        nlist = nlist, nprobe = math.max(1, nlist / 16)))
    // kmeans-TRAINED IVF (round 11): the 3-round Lloyd build + the
    // same probe/re-rank. Training cost = rounds × (one broadcast
    // assignment pass + one slim per-dimension mean aggregate) over
    // the corpus — the build-time step a real index amortizes across
    // query batches; search cost matches knn_ivf.
    time(s"knn_ivf_kmeans(nlist=$nlist)")(
      Similarity.ivfTopKTrained(emb, queries, "vec_id", "embedding", 10,
        nlist = nlist, nprobe = math.max(1, nlist / 16), rounds = 3))
    // PQ-ADC compressed scan: N×|Q| row-local lookup sums behind a
    // broadcast of the query tables, WindowGroupLimit pruning the
    // shortlist map-side, exact re-rank on |Q|×50 rows only. ADC is
    // O(N) PER QUERY by design (a compressed linear scan — IVF is the
    // row-pruning composition partner), so the probe holds the query
    // batch FIXED at 200 to isolate N-linearity; scaling queries with
    // the corpus (as the bucketed LSH/IVF probes do) would measure
    // N×mult² and the map-side shortlist sort would dominate.
    time("knn_pq(numSub=16)")(
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 200),
        "vec_id", "embedding", k = 10))
    // IVF-PQ composed serving shape: rows pruned by nprobe/nlist, bytes
    // by PQ codes. Queries scale with the corpus here (unlike the plain
    // PQ probe) because the per-query cost is N×nprobe/nlist, not N.
    val ivfpqEvery = math.max(32, (nEmb / nlist).toInt)
    time(s"knn_ivfpq(every=$ivfpqEvery)")(
      Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", k = 10,
        shortlist = 50, centroidEvery = ivfpqEvery,
        nprobe = math.max(1, nlist / 16)))
    spark.stop()
  }
}
