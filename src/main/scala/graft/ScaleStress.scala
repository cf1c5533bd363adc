package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 10× scale-stress harness for the training-data operators: replicates
  * the sf tables in memory with shifted keys (the same protocol as the
  * PERFORMANCE.md stress table) and times each operator warm, so the
  * scaling exponent — not the constant — is what the numbers show.
  * Usage: `runMain graft.ScaleStress [sfDir] [reps]`.
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 10
    val spark = GraftSession.build()
    import graft.operators._

    def replicate(df: DataFrame, idCol: String, r: Int): DataFrame =
      (0 until r).map { i =>
        df.withColumn(idCol, col(idCol) + lit(i.toLong * 100000000L))
      }.reduce(_ unionAll _)

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "source").persist()
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").persist()
    docs.count(); embs.count()
    val docsN = replicate(docs, "doc_id", reps).persist()
    val embsN = replicate(embs, "vec_id", reps).persist()
    println(s"[stress] docs x$reps = ${docsN.count()}, embs x$reps = ${embsN.count()}")

    def time(name: String)(f: => Long): Unit = {
      f // warm pass: plans compile, JIT warms
      // drain BETWEEN passes: operators with internal persists
      // (containment's shingle relation, SemDeDup's assignment) must pay
      // their full cost in the timed pass like everyone else — otherwise
      // the timed pass reuses the warm pass's caches and measures only
      // the join/agg tail
      CacheRegistry.drain()
      val t0 = System.nanoTime()
      val rows = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[stress] $name%-22s $sec%7.2f sec  ($rows rows)")
      CacheRegistry.drain()
    }

    def bloom(d: DataFrame): Long = {
      val corpus = d.filter(col("doc_id") % 3 === 0)
      val batch = d.filter(col("doc_id") % 3 =!= 0)
      Dedup.bloomIncrementalDedup(batch, corpus, "doc_id", "text", 0.05).count()
    }
    def quota(d: DataFrame): Long =
      Sampling.groupQuota(d, "doc_id", "source", 10).count()
    def lm(d: DataFrame): Long =
      TextAnalysis.bigramLogProb(d, "doc_id", "text").count()
    def containment(d: DataFrame): Long =
      Dedup.containmentPairs(d, "doc_id", "text", 3, 0.8).count()
    def kmeansFast(e: DataFrame): Long =
      KMeans.fitAssign(e, "vec_id", "embedding", 8, 1, exact = false).count()
    def semdedupFast(e: DataFrame): Long =
      KMeans.semanticDedup(e, "vec_id", "embedding", 8, 1, 0.99,
        exact = false).count()
    // round-7 tiers: the codegen'd EXACT assignment (GridArgmin per-row
    // path — the interesting scaling axis after the 18x rewrite), the
    // AVI demux+decode pipeline, and the repeated-span cut
    def kmeansExact(e: DataFrame): Long =
      KMeans.fitAssign(e, "vec_id", "embedding", 8, 1, exact = true).count()
    def aviFrames(d: DataFrame): Long = {
      import spark.implicits._
      val assets = d.select(col("doc_id")).as[Long].mapPartitions(_.map { id =>
        val avi = Multimodal.syntheticAvi(id)
        Multimodal.Asset(id, avi, "video/x-msvideo", avi.length.toLong)
      })
      Multimodal.decodeVideoFrames(
        Multimodal.sampleAviFrames(assets, everyNth = 2)).count()
    }
    def spans(d: DataFrame): Long =
      Dedup.cutRepeatedSpans(d, "doc_id", "text", 8).count()
    // round-7 additions: BPE (corpus pass scales with input; the 12
    // merge iterations run on the near-constant distinct-word table) and
    // fixed-point PageRank (5 iterations of join+agg over a synthetic
    // 3-out-regular graph whose node set scales with the corpus)
    def bpe(d: DataFrame): Long = {
      val model = Bpe.learnMerges(d, "text", numMerges = 12)
      Bpe.encodeCounts(d, "doc_id", "text", model).count()
    }
    def pagerank(d: DataFrame): Long = {
      val nodes = d.select(col("doc_id").as("node"))
      val edges = Seq(31L, 53L, 71L).map { m =>
        // dst stays inside the same 97-block, so most edges land on
        // real nodes after replication's +i·10⁸ id shifts
        d.select(col("doc_id").as("src"),
          (col("doc_id") - pmod(col("doc_id"), lit(97L)) +
            pmod(col("doc_id") * m, lit(97L))).as("dst"))
      }.reduce(_ unionAll _)
      PageRank.run(edges, nodes, iters = 5).count()
    }

    // round-11 tiers: the hardened edit-distance join (replication
    // makes every title a 10-member identical clique — the degenerate
    // class the collapse handles; output grows quadratically per
    // clique BY CONTRACT, candidate work stays collapse-bounded), the
    // weighted sampler (constant output, scan-bound cost), the two new
    // border-anchored perceptual tiers, and the IVFADC read path
    // (routing + residual encode + per-cell decimal ADC; codebooks and
    // coarse centroids trained ONCE on the base corpus outside the
    // timed pass — the serve-time shape).
    def editDist(d: DataFrame): Long =
      Dedup.editDistancePairs(
        d.select(col("doc_id"), substring(col("text"), 1, 40).as("title")),
        "doc_id", "title", maxEdits = 3).count()
    def weighted(d: DataFrame): Long =
      Sampling.weightedSample(
        d.select(col("doc_id"), (col("doc_id") % 7 + 1).as("wt")),
        "doc_id", "wt", k = 1000, seed = 11L).count()
    def spanAssets(d: DataFrame) = {
      import spark.implicits._
      d.select(col("doc_id")).as[Long].mapPartitions(_.map { id =>
        val wav = Multimodal.syntheticSpanWav(id,
          silenceBands = (id % 4).toInt)
        Multimodal.Asset(id, wav, "audio/wav", wav.length.toLong)
      })
    }
    // generation-only control: the WAV synthesis (AudioSystem.write —
    // a synchronized provider lookup per call) is fixture cost, not
    // operator cost; this row isolates it so audio_span_hash's delta
    // over it is the hash's own scaling
    def audioGen(d: DataFrame): Long =
      spanAssets(d).rdd.map(_.payload.length.toLong).reduce(_ + _)
    def audioSpan(d: DataFrame): Long =
      Multimodal.ahashAudioSpan(spanAssets(d)).count()
    def contentBox(d: DataFrame): Long = {
      import spark.implicits._
      val assets = d.select(col("doc_id")).as[Long].mapPartitions(_.map { id =>
        val png = Multimodal.padImage(
          Multimodal.syntheticBandPng(id), border = 4, gray = 10)
        Multimodal.Asset(id, png, "image/png", png.length.toLong)
      })
      Multimodal.contentBoxDhashImages(assets).count()
    }
    val ivfCents = Ann.sampleCentroids(embs, "vec_id", "embedding", 16)
    val ivfModel = Pq.fitResiduals(
      Ann.assignCells(embs, "embedding", ivfCents), "vec_id", "embedding",
      "cell", ivfCents, dim = 64, m = 4, k = 8, iters = 1)
    val ivfQuery = embs.orderBy("vec_id").limit(1)
      .select(col("embedding").cast("array<double>")).collect()(0)
      .getSeq[Double](0).toArray
    def ivfAdc(e: DataFrame): Long =
      Pq.ivfAdcTopK(Ann.assignCells(e, "embedding", ivfCents), "vec_id",
        "embedding", "cell", ivfCents, ivfModel, ivfQuery,
        topK = 10, nprobe = 4).count()

    // round-16 tiers: CDC chunking (one doc-keyed window pass over the
    // token long-form — the linear axis), the collapse-first membership
    // closure (replication makes every doc a `reps`-member exact clique,
    // so the quadratic pair stage sees only 1× representatives — the
    // whole point of exact-collapse-first, here measured), first-fit
    // packing (per-shard mapPartitions state machine over byte lengths),
    // and the temperature sweep (one bounded histogram + ladder joins).
    def cdc(d: DataFrame): Long =
      Dedup.cdcChunks(d, "doc_id", "text", divisor = 8).count()
    def members(d: DataFrame): Long =
      Dedup.nearDupMembers(d, "doc_id", "text", 3, 0.7).count()
    def firstfit(d: DataFrame): Long =
      Packing.firstFitBlocks(
        d.select(col("doc_id"), length(col("text")).as("len")),
        "doc_id", "len", blockSize = 4096L).count()
    def firstfitFfd(d: DataFrame): Long =
      Packing.firstFitBlocks(
        d.select(col("doc_id"), length(col("text")).as("len")),
        "doc_id", "len", blockSize = 4096L,
        lengthDescending = true).count()
    def tempSweep(d: DataFrame): Long =
      Sampling.temperatureSweep(d, "doc_id", "source",
        Seq(0.0, 0.25, 0.5, 0.75, 1.0)).count()

    // round-17 tiers: KEYED first-fit (explicit per-source packing
    // domains — one shuffle on the key, then parallel sequential
    // folds; replication keeps |sources| constant, so this measures
    // the mega-key shape honestly: per-key cost must grow linearly)
    // and the plan→realize chain (bounded-ladder plan + broadcast
    // realize + per-row explode — the corpus-side cost is the explode,
    // linear in realized instances).
    def firstfitKeyed(d: DataFrame): Long =
      Packing.firstFitBlocksKeyed(
        d.select(col("doc_id"), length(col("text")).as("len"),
          col("source")),
        "doc_id", "len", "source", blockSize = 4096L).count()
    def planRealize(d: DataFrame): Long = {
      val base = d.select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("n_tokens"))
      val per = base.groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("unique_tokens"),
          expr("(1000000 * sum(CASE WHEN n_tokens >= 20 THEN 1 ELSE 0 " +
            "END)) DIV count(*)").as("weight_ppm"))
        .filter(col("unique_tokens") > 0)
      val tot = per.agg(sum(col("unique_tokens"))).collect()(0).getLong(0)
      val plan = Sampling.epochPlan(per, 47L * tot / 20L, maxEpochs = 4)
      Sampling.epochRealize(base, "doc_id", "source", plan)
        .filter(col("repeats") > 0)
        .withColumn("pass", explode(sequence(lit(1L), col("repeats"))))
        .count()
    }

    // round-18 tier: the array-typed signature aggregator (the
    // task-binary lever replaced k codegen min-columns with ONE
    // ObjectHashAggregate fold) — this row evidences the fold's scale
    // shape: per-row cost is a k-step primitive loop, per-group state
    // is k longs, partial buffers merge elementwise at the exchange,
    // and replication multiplies groups (docs), not group width.
    // shingleSets emits full-range xxhash64 values; the aggregator
    // masks them to its 32-bit domain inside reduce (r18 ADVICE), so
    // this row computes real signatures, not just a timing shape.
    def sigAgg(d: DataFrame): Long =
      Dedup.shingleSets(d, "doc_id", "text", 3)
        .select(col("doc_id"), explode(col("shset")).as("h"))
        .groupBy("doc_id")
        .agg(Dedup.minhashSigAgg(col("h"), 32).as("sig"))
        .count()

    println(s"[stress] --- base (1x, $sfDir) ---")
    time("bloom_dedup")(bloom(docs))
    time("group_quota")(quota(docs))
    time("bigram_lm")(lm(docs))
    time("containment")(containment(docs))
    time("kmeans_fast")(kmeansFast(embs))
    time("kmeans_exact")(kmeansExact(embs))
    time("semdedup_fast")(semdedupFast(embs))
    time("avi_frames")(aviFrames(docs))
    time("repeated_spans")(spans(docs))
    time("bpe_learn_encode")(bpe(docs))
    time("pagerank")(pagerank(docs))
    time("edit_distance")(editDist(docs))
    time("weighted_sample")(weighted(docs))
    time("audio_wav_gen")(audioGen(docs))
    time("audio_span_hash")(audioSpan(docs))
    time("content_box_hash")(contentBox(docs))
    time("ivfadc_topk")(ivfAdc(embs))
    time("cdc_chunks")(cdc(docs))
    time("neardup_members")(members(docs))
    time("firstfit_blocks")(firstfit(docs))
    time("firstfit_ffd")(firstfitFfd(docs))
    time("temperature_sweep")(tempSweep(docs))
    time("firstfit_keyed")(firstfitKeyed(docs))
    time("plan_realize")(planRealize(docs))
    time("minhash_sig_agg")(sigAgg(docs))
    println(s"[stress] --- ${reps}x replicated ---")
    time("bloom_dedup")(bloom(docsN))
    time("group_quota")(quota(docsN))
    time("bigram_lm")(lm(docsN))
    time("containment")(containment(docsN))
    time("kmeans_fast")(kmeansFast(embsN))
    time("kmeans_exact")(kmeansExact(embsN))
    time("semdedup_fast")(semdedupFast(embsN))
    time("avi_frames")(aviFrames(docsN))
    time("repeated_spans")(spans(docsN))
    time("bpe_learn_encode")(bpe(docsN))
    time("pagerank")(pagerank(docsN))
    time("edit_distance")(editDist(docsN))
    time("weighted_sample")(weighted(docsN))
    time("audio_wav_gen")(audioGen(docsN))
    time("audio_span_hash")(audioSpan(docsN))
    time("content_box_hash")(contentBox(docsN))
    time("ivfadc_topk")(ivfAdc(embsN))
    time("cdc_chunks")(cdc(docsN))
    time("neardup_members")(members(docsN))
    time("firstfit_blocks")(firstfit(docsN))
    time("firstfit_ffd")(firstfitFfd(docsN))
    time("temperature_sweep")(tempSweep(docsN))
    time("firstfit_keyed")(firstfitKeyed(docsN))
    time("plan_realize")(planRealize(docsN))
    time("minhash_sig_agg")(sigAgg(docsN))
    spark.stop()
  }
}
