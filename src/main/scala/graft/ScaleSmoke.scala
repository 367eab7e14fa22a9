package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, KMeansIvf, ProductQuantizer, Similarity, TextAnalysis, Upsert}

/** Scale smoke harness: the correctness suite runs at sf0.01–0.1 (5 k
  * documents); this main runs the same operators over a MILLIONS-of-rows
  * synthetic corpus generated distributively (spark.range + hash-derived
  * columns — no driver-side data, no files) to demonstrate the plans'
  * scale behavior directly: every op must finish without driver collects
  * of data, without single-partition funnels, and in time roughly linear
  * in the input.
  *
  * {{{ sbt "runMain graft.ScaleSmoke 2000000 [opFilter] [passes]" }}}
  *
  * Results from this harness are recorded in SCALE.md. This is the
  * 40–400× companion to Bench: Bench measures the per-query floor at
  * oracle scale; this measures the slope. Each selected op first runs
  * once over a 100×-smaller corpus, untimed (r9 methodology — Bench's
  * warmup discipline): a fresh JVM's first heavy query otherwise pays
  * minutes of C2 compilation that says nothing about the op's scaling.
  */
object ScaleSmoke {

  /** Deterministic corpus: ~5% exact duplicates (seed collapse), 20
    * sources, 40–80 words per doc over a 20 000-word zipf-ish vocabulary
    * (squaring a uniform hash fraction skews low ids common, high ids
    * rare — so n-grams overlap realistically: common stopword-like heads,
    * a long rare tail). All columns derive from the row id via xxhash64 —
    * generation is embarrassingly parallel and reproducible. */
  def corpus(spark: SparkSession, n: Long): DataFrame =
    corpusWithSeed(spark, n,
      when(pmod(col("doc_id"), lit(20)) === 0, pmod(col("doc_id"), lit(4096)))
        .otherwise(col("doc_id")))

  /** Shared text/source generation over an injected duplicate-seed
    * expression: the two corpora MUST differ only in which docs share a
    * seed, or the fixdup-vs-text cross-section comparisons in SCALE.md
    * stop measuring what they claim to. */
  private def corpusWithSeed(spark: SparkSession, n: Long,
      seed: org.apache.spark.sql.Column): DataFrame = {
    val V = 20000
    spark.range(n).toDF("doc_id")
      .withColumn("__seed", seed)
      .withColumn("text", concat_ws(" ",
        transform(
          sequence(lit(0), (pmod(xxhash64(col("__seed")), lit(41)) + lit(40)).cast("int")),
          i => {
            val u = pmod(xxhash64(col("__seed") * lit(1000003L) + i), lit(1000000L))
              .cast("double") / lit(1000000.0)
            concat(lit("w"), floor(u * u * V).cast("long"))
          })))
      .withColumn("source",
        concat(lit("src"), pmod(xxhash64(col("doc_id") + lit(7)), lit(20))))
      .select("doc_id", "source", "text")
  }

  /** [[corpus]] with the duplicate clusters capped at a CONSTANT 20 docs
    * (the 5% dup docs collapse onto their 400-id window base instead of a
    * fixed 4096-seed pool), so true dup pairs grow LINEARLY with n
    * (~0.475·n) rather than quadratically. The pair-emitting families
    * (ns03 LSH, ns53 banded simhash) stop at 2 M over [[corpus]] because
    * their OUTPUT explodes there; this variant holds output proportional
    * to input, which isolates the PLAN's slope — the thing the 100 TB
    * claim actually rests on — and lets those families run at 20 M. */
  def corpusFixedDup(spark: SparkSession, n: Long): DataFrame =
    corpusWithSeed(spark, n,
      when(pmod(col("doc_id"), lit(20)) === 0,
        col("doc_id") - pmod(col("doc_id"), lit(400)))
        .otherwise(col("doc_id")))

  /** [[corpusFixedDup]]'s structural opposite: CLIQUE-HEAVY duplication.
    * Every 4th doc collapses onto its 1000-id window base, so 25% of the
    * corpus sits in constant ~250-doc duplicate clusters (vs fixdup's
    * 20). True dup PAIRS still grow linearly in n, but each cluster pays
    * |cluster|²/2 ≈ 31 k of them — the regime the band-star contraction
    * exists for: star edges stay membership-bounded (~bands per member,
    * ~1 k per cluster) while the clique pair multiset is 30× that. The
    * small-cluster corpora cannot separate the two routes outside ambient
    * noise (r14: 334 vs 452 s straddle at 20 M); this one is built to. */
  def corpusCliqueDup(spark: SparkSession, n: Long): DataFrame =
    corpusWithSeed(spark, n,
      when(pmod(col("doc_id"), lit(4)) === 0,
        col("doc_id") - pmod(col("doc_id"), lit(1000)))
        .otherwise(col("doc_id")))

  /** Deterministic embedding corpus for the ANN families: dim-wide
    * uniform [-1, 1) float vectors plus a 64-way label (the coarse
    * blocking column ns09 uses). Uniform — not clustered — on purpose:
    * the smoke measures plan feasibility and slope, and uniform vectors
    * are the worst case for bucketing ops (no lucky small cells); recall
    * quality is ns44's job at oracle scale. */
  def vectors(spark: SparkSession, n: Long, dim: Int = 64): DataFrame =
    spark.range(n).toDF("vec_id")
      .withColumn("embedding", transform(sequence(lit(0), lit(dim - 1)),
        i => (pmod(xxhash64(col("vec_id") * lit(1000003L) + i), lit(2000000L))
          .cast("double") / lit(1000000.0) - lit(1.0)).cast("float")))
      .withColumn("label", pmod(xxhash64(col("vec_id") + lit(13)), lit(64)).cast("int"))
      .select("vec_id", "label", "embedding")

  /** Clustered variant for the kNN-graph control: members sit in tight
    * 40-vector clusters (cluster base ± 0.002 jitter per component), the
    * shape real embedding corpora have and the one the uniform corpus
    * deliberately lacks. The kNN-graph OUTPUT is then linear in n (every
    * node finds ~k in-cluster neighbors), so the measured slope is the
    * PLAN's, not candidate-volume growth — the fixdup-corpus move
    * ([[corpusFixedDup]]) applied to vectors. */
  def vectorsClustered(spark: SparkSession, n: Long, dim: Int = 64): DataFrame = {
    val center = col("vec_id") - pmod(col("vec_id"), lit(40))
    spark.range(n).toDF("vec_id")
      .withColumn("embedding", transform(sequence(lit(0), lit(dim - 1)),
        i => ((pmod(xxhash64(center * lit(1000003L) + i), lit(2000000L))
          .cast("double") / lit(1000000.0) - lit(1.0)) +
          pmod(xxhash64(col("vec_id") * lit(31L) + i), lit(2000L))
            .cast("double") / lit(1000000.0)).cast("float")))
      .withColumn("label", pmod(xxhash64(center + lit(13)), lit(64)).cast("int"))
      .select("vec_id", "label", "embedding")
  }

  /** The knn_graph smoke body (shared by the uniform and clustered
    * corpora): SQ8-code k-means cells ∧ 20-plane hyperplane bucket as the
    * block, then [[graft.operators.Similarity.knnGraph]]. */
  private def knnGraphBlocked(v: DataFrame, dim: Int): Long = {
    val codes = Similarity.sq8PackedCodes(v, "vec_id", "embedding")
    val (assign, _) = KMeansIvf.fitCodes(codes, "vec_id", "__q", k = 64, iters = 2)
    val w = Similarity.hyperplaneWeights(20, dim)
    val blocked = v.join(assign, "vec_id")
      .select(col("vec_id"), col("embedding"), col("cluster"),
        Similarity.hyperplaneBucket(
          Similarity.fixedPoint(col("embedding")), w).as("bkt"))
    Similarity.knnGraph(blocked, "vec_id", "embedding",
      Seq("cluster", "bkt"), k = 5, dim = Some(dim)).count()
  }

  /** Fresh SharedCache key per dsir_weights invocation — see that op. */
  private val dsirSmokeRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Synthetic PostView wire rows for the standing-query fan-out width
    * race (SURVEY §7.4#6): one `topic<k>` token per post (k uniform over
    * 1 200 — at width 1 000 each condition matches ~1/1200 of the
    * stream), ~8 zipf-ish filler words, 10% replies, 20% non-en langs, 5%
    * an image with ALT. Typed map: the generator is harness-only;
    * production rows arrive decoded from the wire. */
  def postViews(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).map { id =>
      def h(salt: Long): Long = {
        val x = id * 6364136223846793005L + salt * 1442695040888963407L
        ((x ^ (x >>> 32)) & Long.MaxValue)
      }
      val words = (0 until 8).map(j => s"w${(h(j) % 20000)}").mkString(" ")
      graft.model.PostView(
        uri = s"at://did:plc:u${h(1) % 100000}/app.bsky.feed.post/$id",
        cid = s"c$id",
        author = graft.model.Author(s"did:plc:u${h(1) % 100000}",
          Some(s"User${h(2) % 1000}"), Some("synthetic profile")),
        record = graft.model.PostRecord(
          text = Some(s"$words topic${h(3) % 1200} $words"),
          createdAt = "2026-01-01T00:00:00.000Z",
          langs = Some(Seq(if (h(4) % 5 == 0) "es" else "en")),
          reply = if (h(5) % 10 == 0)
            Some(graft.model.Reply(graft.model.StrongRef("at://r/root", "cr"),
              graft.model.StrongRef("at://r/parent", "cp")))
          else None,
          embed = if (h(6) % 20 == 0)
            Some(graft.model.Embed(Some(Seq(graft.model.Image(
              Some(s"alt topic${h(7) % 1200}"), None, None, None)))))
          else None),
        labels = None)
    }.toDF()
  }

  /** `width` synthetic standing conditions: every condition an include
    * regex over its own topic token; every 10th also excludes a word,
    * every 7th is language-scoped — enough branch diversity to keep the
    * cascade's short-circuits honest without burying the hot path.
    * `topicBase` shifts the topic ids: a base past [[postViews]]'s 1 200
    * topics makes every condition a MISS (the sparse standing-query
    * regime the include prefilter exists for). */
  def standingConditions(width: Int, topicBase: Int = 0): Seq[graft.model.Condition] =
    (0 until width).map { j =>
      val i = topicBase + j
      graft.model.Condition(
        key = s"feed$i", recordName = s"feed$i", query = s"topic$i",
        inputRegex = s"topic$i\\b",
        invertRegex = if (i % 10 == 0) s"w${i % 20000}\\b" else "",
        refresh = 0,
        lang = if (i % 7 == 0) Some("en") else None,
        labelDisable = i % 5 == 0, replyDisable = i % 3 == 0,
        imageOnly = "all", includeAltText = i % 4 == 0,
        initPost = 0, limitCount = 100000,
        pinnedPost = Nil, privateFeed = Nil, profileMatch = None)
    }

  /** `width` REALISTIC standing conditions — the regex shapes public feed
    * configs actually use (optional plurals, grouped suffix alternations,
    * hashtags, anchors, digit classes, non-ASCII branches, quoted exact
    * phrases), cycled over 13 template families and tied to
    * [[postViews]]'s topic tokens so match selectivity stays realistic.
    * ALL 13 families are screenable by the r18 extractor (the emoji
    * branch contributes its own caseless-safe needle; the `\Q…\E` family
    * resolves to its raw phrase); the r16 extractor accepted only
    * families 0/3/8/10 (plain literal runs, \b splits, leading flags,
    * whole-pattern groups) — RealisticCorpusSpec pins the per-family
    * counts on this corpus. (History on the pre-r18 12-family corpus:
    * 334 → 917 by the r17 grammar widening, → 1000 by caseless
    * needles; the 13th family was added with `\Q…\E` mining in r18.) */
  def realisticConditions(width: Int): Seq[graft.model.Condition] =
    (0 until width).map { j =>
      val t = s"topic${j % 1200}"
      val pat = (j % 13) match {
        case 0 => s"$t\\b" // plain keyword + boundary
        case 1 => s"${t}s?\\b" // optional plural
        case 2 => s"($t|topic${(j + 1) % 1200})s?" // grouped alternation + tail
        case 3 => s"#$t\\b" // hashtag
        case 4 => s"$t \\d{4}" // keyword + year class
        case 5 => s"^$t" // anchored
        case 6 => s"colou?red $t" // optional-letter spelling variant
        case 7 => s"$t(ly|ness)" // grouped suffix alternation
        case 8 => s"\\b$t\\b" // boundaries both sides
        case 9 => s"$t|🧶" // emoji branch: extracts a caseless-safe needle
        case 10 => s"(?i)${t.toUpperCase(java.util.Locale.ROOT)}\\b" // inline flag
        case 11 => s"w\\d+ $t" // leading token class
        case _ => s"\\Q$t (c++)\\E" // quoted exact phrase (the CRUD paste path)
      }
      graft.model.Condition(
        key = s"rfeed$j", recordName = s"rfeed$j", query = t,
        inputRegex = pat,
        invertRegex = if (j % 10 == 0) "spamword\\b" else "",
        refresh = 0,
        lang = if (j % 7 == 0) Some("en") else None,
        labelDisable = j % 5 == 0, replyDisable = j % 3 == 0,
        imageOnly = "all", includeAltText = j % 4 == 0,
        initPost = 0, limitCount = 100000,
        pinnedPost = Nil, privateFeed = Nil, profileMatch = None)
    }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    // optional second arg: substring filter over op labels (focused A/B runs)
    val only = args.lift(1)
    // optional third arg: timed passes per op (default 2, best recorded —
    // Bench's best-pass discipline; pass 1 for giant single-pass runs)
    val passes = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    // "_ab" entries are plan-race arms (same contract as their production
    // op, deliberately worse-or-contender plans) — they run only when the
    // filter names them, never in a default full sweep
    def selected(label: String): Boolean =
      only match {
        case None => !label.endsWith("_ab")
        // a token ending in '$' matches EXACTLY — "feed_fanout_w1000"
        // as a substring also selects the *_worstcase_ab arms, which at
        // 20 M is a deliberate 20-billion-pair ledger, not a smoke
        case Some(f) => f.split(',').filter(_.nonEmpty).exists(tok =>
          if (tok.endsWith("$")) label == tok.dropRight(1)
          else label.contains(tok))
      }

    /** Run a section: JIT-warm every selected op at n/100, then time at n.
      * The corpus is generated + checkpointed OUTSIDE the timings; between
      * ops every OTHER persistent RDD (the ops' internal localCheckpoint
      * scratch) is released so one op's materializations don't GC-pressure
      * the next. No op here uses a SharedCache key, so the corpus ids are
      * the only blocks worth keeping. */
    def runSection(name: String, mkCorpus: Long => DataFrame,
        ops: Seq[(String, DataFrame => Long)]): Unit = {
      val sel = ops.filter(o => selected(o._1))
      if (sel.isEmpty) return
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val warm = mkCorpus(math.max(n / 100, 10000L)).localCheckpoint()
      val full = mkCorpus(n).localCheckpoint()
      val corpusIds = sc.getPersistentRDDs.keySet -- before
      def sweepScratch(): Unit = sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!corpusIds.contains(id)) rdd.unpersist(blocking = false)
      }
      sel.foreach { o => o._2(warm); sweepScratch() }
      println(s"[scale] $name corpus: $n rows, ${full.rdd.getNumPartitions} partitions")
      sel.foreach { case (label, body) =>
        // best-of-N: the n/100 warmup JIT-compiles the plan's own codegen,
        // but the SHARED shuffle/spill/sort machinery only gets hot under
        // real volume — a single pass was measured up to 4× slower than
        // the same plan re-run in the same JVM (ns51: 316.9 s one-shot vs
        // 71.4 s warm, same idle machine)
        var best = Double.MaxValue
        var rows = 0L
        for (_ <- 1 to passes) {
          val t0 = System.nanoTime()
          rows = body(full)
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
          sweepScratch()
        }
        println(f"[scale] $label%-28s $best%8.1f s  ($rows rows)")
      }
      // Dataset.unpersist only clears CacheManager entries; localCheckpoint
      // blocks live in sc.persistentRdds and must be released through the
      // tracked RDD handles, or each section's corpora (GBs at large n)
      // would survive into the next section's generation window
      corpusIds.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    }

    val textOps: Seq[(String, DataFrame => Long)] = Seq(
      "exact_dedup" -> (d =>
        Dedup.exact(d, "doc_id", "text").filter(col("n") > 1).count()),
      "minhash_lsh_pairs" -> (d =>
        Dedup.minhashLshPairs(d, "doc_id", "text", numHashes = 16, bands = 4).count()),
      "simhash_pairs_banded48" -> (d =>
        Dedup.simhashPairsBanded(d, "doc_id", "text", bucket = Nil, maxDist = 3).count()),
      "batch_ids_distributed_rank" -> (d =>
        Upsert.batchIds(d, "doc_id", 25).groupBy(col("batch_id")).count().count()),
      "source_mix_sample" -> (d =>
        TextAnalysis.sampleToMix(d, "source", "doc_id",
          Seq("src0" -> 0.3, "src1" -> 0.2, "src2" -> 0.2, "src3" -> 0.3)).count()),
      "bm25_rank" -> (d =>
        TextAnalysis.bm25Rank(d, "doc_id", "text",
          Seq("w17", "w230", "w1200", "w4200", "w9000", "w15000"), 1.2, 0.75, 20).count()),
      "tfidf_topterms" -> (d =>
        // ns27's full dataflow: in-row tf (TermCounts — no (doc, term)
        // exchange), docfreq count window on term, TopKPerKey per-doc
        // top-5; output is 5 rows/doc, so count() drains ~n·5 rows
        TextAnalysis.tfidfTopTerms(d, "doc_id", "text", 5).count()),
      "dsir_weights" -> { d =>
        // ns71 end-to-end INCLUDING the stats pass each timed pass (a
        // fresh SharedCache key per invocation — the cache would
        // otherwise let pass 2 measure only the scan-only scoring), with
        // ~1/5 of the sources as the target. Drain via a sum aggregate:
        // the weights are one scan, so a count() would let Spark skip
        // the scoring projection entirely.
        val k = s"dsir-smoke-${dsirSmokeRuns.incrementAndGet()}"
        val w = TextAnalysis.dsirWeights(d, "doc_id", "text",
          pmod(xxhash64(col("source")), lit(5)) === 0, 256, k)
        w.agg(sum(col("num")), sum(col("den")), count(lit(1))).head().getLong(2)
      },
      "dsir_weights_literal_ab" -> { d =>
        // A/B arm: the stats+score two-scan form (dsirScore — the shape
        // the STREAM screen runs). History: the ORIGINAL HOF-literal
        // dsirScore lost this race 49.0 s to the join form's 13.9 s at
        // 2 M (transform/aggregate lambdas were CodegenFallback — the
        // per-term md5 interpreted, twice); the r13 BucketCounts/DotLongs
        // rewrite made both arms the same codegen'd in-row scoring plane,
        // so today this arm measures two-scan (no checkpoint) vs
        // dsir_weights' featurize-once checkpoint. Runs only when the
        // filter names it. (The dead join form also carried a trap worth
        // remembering: computing the stats IN-PLAN and joining unhinted,
        // the planner's explode-blind estimate broadcast the 120 M-row tf
        // side and died at 2 M with "Cannot broadcast the table that is
        // larger than 8.0 GiB" — a stats side must always be a
        // driver-built local relation or a literal, which nothing can
        // mis-size.)
        val isT = pmod(xxhash64(col("source")), lit(5)) === 0
        val (raw, tgt) = operators.TextAnalysis.dsirStats(d, "text", isT, 256)
        val w = operators.TextAnalysis.dsirScore(d, "doc_id", "text", raw, tgt)
        w.agg(sum(col("num")), sum(col("den")), count(lit(1))).head().getLong(2)
      },
      "repetition_metrics" -> { d =>
        // ns28's r15 scan-only form (in-row TermCounts, zero corpus-keyed
        // exchanges); drain every signal through one aggregate — a bare
        // count() would let column pruning skip the whole projection
        val m = TextAnalysis.repetitionMetrics(d, "doc_id", "text")
        m.agg(sum(col("dup_word_ratio")), sum(col("top_word_frac")),
          sum(col("dup_bigram_ratio")), count(lit(1))).head().getLong(3)
      },
      "repetition_explode_ab" -> { d =>
        // A/B arm: the superseded pre-r15 explode + two-aggregation form —
        // a distinct-(doc, term) stream through two corpus-sized exchanges
        // plus a join, re-co-locating rows that never left their row.
        // Measured losses (same-session, best-of-2): 27.8 vs 4.7 s at 2 M
        // (5.9×), 493.6 vs 45.9 s at 20 M (10.8× — the gap WIDENS with
        // scale; the deleted exchange is corpus-sized). Kept as the
        // before/after ledger for the in-row rewrite.
        val tf = d.select(col("doc_id"),
            explode(TextAnalysis.words(col("text"))).as("t"))
          .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
        val wordStats = tf.groupBy(col("doc_id")).agg(
          sum(col("c")).as("n_words"),
          count(lit(1)).as("n_distinct_words"),
          max(col("c")).as("__top"))
        val bigramStats = d
          .select(col("doc_id"), TextAnalysis.words(col("text")).as("__ws"))
          .select(col("doc_id"),
            explode(TextAnalysis.ngramsOf(col("__ws"), 2)).as("g"))
          .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id")).agg(
            sum(col("c")).as("__nb"), count(lit(1)).as("__ndb"))
        val m = wordStats.join(bigramStats, "doc_id").select(col("doc_id"),
          ((col("n_words") - col("n_distinct_words")).cast("double") /
            col("n_words").cast("double")).as("dup_word_ratio"),
          (col("__top").cast("double") /
            col("n_words").cast("double")).as("top_word_frac"),
          ((col("__nb") - col("__ndb")).cast("double") /
            col("__nb").cast("double")).as("dup_bigram_ratio"))
        m.agg(sum(col("dup_word_ratio")), sum(col("top_word_frac")),
          sum(col("dup_bigram_ratio")), count(lit(1))).head().getLong(3)
      },
      "source_overlap_trigrams" -> (d =>
        TextAnalysis.sourceOverlap(d, "source", "text", n = 3).count()),
      "dup_span_stats" -> (d =>
        TextAnalysis.duplicateSpanStats(d, "doc_id", "text", n = 3)
          .filter(col("dup_frac") > 0.5).count()),
      // A/B arms for the ns48 plan race (SCALE.md): same contract as the
      // production window plan, hash-based contenders (solo-count agg /
      // groupBy+shuffle-hash-join re-read). Excluded from default runs by
      // the opFilter (select "dup_span" to race all three). The join arm
      // is EXPECTED to die at 20 M — ShuffledHashJoin cannot spill its
      // scales-with-corpus build side; that crash is the recorded result.
      "dup_span_solo_ab" -> (d =>
        TextAnalysis.duplicateSpanStatsSolo(d, "doc_id", "text", n = 3)
          .filter(col("dup_frac") > 0.5).count()),
      "dup_span_join_ab" -> (d =>
        TextAnalysis.duplicateSpanStatsJoin(d, "doc_id", "text", n = 3)
          .filter(col("dup_frac") > 0.5).count()),
      "containment_score" -> { d =>
        // ns47/ns29 shape: probe set = every 100 000th document (200
        // probes at 20 M — the config-sized benchmark side the operators
        // assume), scored against the whole corpus
        val probes = d.filter(pmod(col("doc_id"), lit(100000)) === 0)
          .select(col("text").as("ptext"))
        TextAnalysis.containmentScore(d, "doc_id", "text", probes, "ptext", n = 3)
          .filter(col("containment") > 0.5).count()
      },
      "dedup_components" -> (d =>
        // ns26's distributed min-label fixpoint (the corpus is far above
        // spark.graft.components.localThreshold, so this measures the
        // bipartite loop itself); output is one label per doc — linear —
        // so unlike the pair emitters this family CAN run on the
        // growing-cluster corpus at 20 M
        Dedup.minhashLshComponents(d, "doc_id", "text", numHashes = 16, bands = 4)
          .filter(col("component") =!= col("doc_id")).count()),
      "norm_dedup" -> (d =>
        Dedup.normalizedExact(d, "doc_id", "text").filter(col("n") > 1).count()),
      "token_budget" -> (d =>
        // budget sized so the filter bites: ~60 words/doc × n/20 docs per
        // source → keep roughly the best third of each source
        TextAnalysis.tokenBudgetSelect(d, "source", "doc_id", "text", n).count()),
      "chunk_overlap" -> (d =>
        TextAnalysis.chunkOverlap(d, "doc_id", "text", size = 32, stride = 24).count()),
      "chunk_pack" -> { d =>
        // the ns58 COMPOSED curation tail at corpus scale: chunk → corpus-
        // wide first-occurrence chunk dedup (per-hash window) → source
        // join → per-source running-sum packing. The heaviest composed
        // pipeline in the catalog; measures that the pieces' shuffles
        // (chunk_h, doc_id, source) compose without a new bottleneck.
        import org.apache.spark.sql.expressions.Window
        val chunks = TextAnalysis.chunkOverlap(d, "doc_id", "text",
          size = 32, stride = 24)
        val firstSeen = chunks.withColumn("__rn", row_number().over(
            Window.partitionBy(col("chunk_h"))
              .orderBy(col("doc_id"), col("chunk_id"))))
          .filter(col("__rn") === 1)
        val keyed = firstSeen.join(d.select(col("doc_id"), col("source")), "doc_id")
        TextAnalysis.packSequences(keyed, "source", Seq("doc_id", "chunk_id"),
          col("n_toks"), budget = 256).count()
      },
      "url_domains" -> { d =>
        val withUrls = d.select(col("doc_id"), concat(col("text"),
          lit(" https://m"), pmod(col("doc_id"), lit(37)).cast("string"),
          lit(".example.com/d")).as("text"))
        TextAnalysis.urlDomains(withUrls, "doc_id", "text").count()
      },
    )

    // ANN/embedding families (ns07/08/09/20/30/36/37/42 shapes). Queries
    // are 5 corpus vectors, like the catalog entries; k-means/PQ training
    // runs the DISTRIBUTED Lloyd path (the corpus is far above
    // spark.graft.kmeans.localThreshold), so these measure the
    // centroids-only-driver-state claim directly.
    val dim = 64
    val vecOps: Seq[(String, DataFrame => Long)] = Seq(
      "ann_brute_top10" -> (v =>
        Similarity.bruteForceTopK(v.filter(col("vec_id") < 5), v,
          "vec_id", "embedding", k = 10, dim = Some(dim)).count()),
      "ann_ivf_label" -> (v =>
        Similarity.ivfTopK(v.filter(col("vec_id") < 5), v,
          "vec_id", "embedding", "label", k = 5, dim = Some(dim)).count()),
      "ann_kmeans_ivf" -> (v =>
        KMeansIvf.search(v.filter(col("vec_id") < 5), v,
          "vec_id", "embedding", k = 5, nCells = 16, iters = 2).count()),
      "ann_ivf_multiprobe" -> (v =>
        KMeansIvf.searchMultiProbe(v.filter(col("vec_id") < 5), v,
          "vec_id", "embedding", k = 5, nCells = 16, nProbe = 2, iters = 2).count()),
      "ann_kmeans_ivf_sq8" -> (v =>
        // the ns61 scale path: train AND probe over packed 64-byte codes —
        // the Lloyd working set is ~6-8× smaller than ann_kmeans_ivf's
        // array<long> checkpoint, which is what keeps the 20 M-vector fit
        // memory-resident instead of storage-bound
        KMeansIvf.searchSq8(v.filter(col("vec_id") < 5), v,
          "vec_id", "embedding", k = 5, nCells = 16, iters = 2).count()),
      "ann_ivf_sq8_multiprobe" -> (v =>
        KMeansIvf.searchSq8MultiProbe(v.filter(col("vec_id") < 5), v,
          "vec_id", "embedding", k = 5, nCells = 16, nProbe = 2, iters = 2).count()),
      "ann_sq8" -> (v =>
        Similarity.sq8TopK(v.filter(col("vec_id") < 5), v,
          "vec_id", "embedding", k = 10, dim = dim).count()),
      "ann_lsh_bucket" -> (v =>
        Similarity.lshBucketTopK(v.filter(col("vec_id") < 5), v,
          "vec_id", "embedding", k = 10, planes = 16, dim = dim).count()),
      "ann_pq_adc" -> (v =>
        ProductQuantizer.pqTopK(v.filter(col("vec_id") < 5), v,
          "vec_id", "embedding", k = 10, dim = dim).count()),
      "ann_ivf_pq" -> (v =>
        // the composed index (ns66): same ADC math as ann_pq_adc but each
        // query scores only its own coarse cell — the |corpus|/nCells
        // candidate cut is the claim to verify at 20 M. Cells train on
        // packed SQ8 codes (cellsOnCodes — the ns61 representation): with
        // the exact cell fit the composition LOSES to flat ADC (10.0 s vs
        // 7.6 s at 2 M, and the exact fit is storage-bound at 20 M), i.e.
        // the index only pays when the cell training rides the at-rest
        // codes
        ProductQuantizer.ivfPqTopK(v.filter(col("vec_id") < 5), v,
          "vec_id", "embedding", k = 10, dim = dim, nCells = 16,
          iters = 2, cellIters = 2, cellsOnCodes = true).count()),
      "ivf_store_cycle" -> { v =>
        // the durable streaming-ANN lifecycle (IvfLifecycleSpec's loop) at
        // corpus scale: publish quantizes + code-trains + writes the
        // versioned index, ingest appends a 1%-sized "micro-batch" under
        // the live model, refit retrains cells over batch+streamed codes
        // and pointer-flips, search probes the result — measuring that the
        // file-backed store (not just the in-memory plans) holds its slope
        val spark = v.sparkSession
        val dir = java.nio.file.Files.createTempDirectory("ivf_smoke").toString
        try {
          val m = graft.streaming.IvfStore.publish(
            spark, dir, v, "vec_id", "embedding", nCells = 16, iters = 2)
          val nV = v.count()
          val batch = vectors(spark, math.max(nV / 100, 1000L))
            .withColumn("vec_id", col("vec_id") + lit(nV))
          graft.streaming.IvfStore.ingest(dir,
            graft.streaming.AnnIngest.assignCells(
              batch, "embedding", m.mn, m.mx, m.centroids),
            "vec_id", batchId = 0L)
          graft.streaming.IvfStore.refit(spark, dir, nCells = 16, iters = 2)
          graft.streaming.IvfStore.search(spark, dir,
            v.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10).count()
        } finally
          graft.streaming.VersionedStore.deleteRecursively(dir)
      },
      "embed_neardup_lsh" -> { v =>
        // ns07's pair emitter with LSH blocking instead of the oracle's
        // coarse label: 20 planes ≈ 1 M buckets, so within-bucket pair
        // fan-out stays bounded at millions of rows — the scale path for
        // embedding near-dup
        val w = Similarity.hyperplaneWeights(20, dim)
        val withBkt = v.select(col("vec_id"), col("embedding"),
          Similarity.hyperplaneBucket(
            Similarity.fixedPoint(col("embedding")), w).as("bkt"))
        Similarity.cosineNearDupPairs(withBkt, "vec_id", "embedding",
          bucket = Seq("bkt"), threshold = 0.2, dim = Some(dim)).count()
      },
      "semantic_dedup" -> { v =>
        // ns65's SemDeDup composition at corpus scale: coarse k-means
        // cells, then near-dup pairs, then component verdicts. The one
        // term that does NOT survive 1000× naively is the in-cell
        // all-pairs (Σ|cell|² explodes as cells hit millions of members),
        // so the scale path refines the blocking INSIDE each cell with
        // the same 20-plane hyperplane bucket the embed-neardup op uses —
        // pair candidates stay bounded per (cell, bucket) block while
        // the cell still scopes the semantic neighborhood (a coarser
        // bucket-only blocking merges across cells; cell ∧ bucket is
        // strictly finer, which only drops candidates SemDeDup's own
        // cell blocking would also drop at higher k). Components run
        // through the Kiveris contraction (the adversarial-graph-safe
        // loop), and the count is the dropped-duplicate verdict rows.
        // The cell fit runs on PACKED SQ8 codes (fitCodes) — the at-rest
        // representation the ns61 scale path established; the near-dup
        // PAIR predicate stays exact on the raw vectors. Measured at
        // 20 M: 445.2 s code fit vs 431.2 s exact fit end-to-end — the
        // fit is NOT the dominant term in this composition (the
        // embedding-wide assignment join + blocked pair self-join + the
        // 7.4 M-pair contraction are), so the code fit is kept for its
        // at-rest consistency, not a measured win here.
        val codes = Similarity.sq8PackedCodes(v, "vec_id", "embedding")
        val (assign, _) = KMeansIvf.fitCodes(codes, "vec_id", "__q", k = 64, iters = 2)
        val w = Similarity.hyperplaneWeights(20, dim)
        val cells = v.join(assign, "vec_id")
          .select(col("vec_id"), col("embedding"), col("cluster"),
            Similarity.hyperplaneBucket(
              Similarity.fixedPoint(col("embedding")), w).as("bkt"))
        val pairs = Similarity.cosineNearDupPairs(cells, "vec_id", "embedding",
          bucket = Seq("cluster", "bkt"), threshold = 0.2, dim = Some(dim))
        Dedup.twoPhaseComponents(v.select("vec_id"), "vec_id", pairs)
          .filter(col("component") =!= col("vec_id")).count()
      },
      // ns69 at corpus scale: top-5 neighbors for EVERY vector. The
      // catalog blocks on the 10-value oracle label; here the block is
      // the production cell ∧ hyperplane-bucket composite (ns65's
      // blocking) — the label-style coarse cell alone puts n/64 members
      // in each block and the within-block pair term is quadratic, so
      // the bucket refinement is what keeps candidates per node bounded
      // as n grows. One equi-join shuffle on the block key, then
      // TopKPerKey's map-side heaps cut to ≤5 rows per node before the
      // per-node exchange.
      "knn_graph" -> (v => knnGraphBlocked(v, dim)),
    )

    // The kNN graph again over the CLUSTERED corpus (output linear in n —
    // the slope control; see vectorsClustered's doc).
    val vecClustOps: Seq[(String, DataFrame => Long)] = Seq(
      "knn_graph_clustered" -> (v => knnGraphBlocked(v, dim)),
    )

    // Pair families over the FIXED-cluster corpus (constant 20-doc dup
    // clusters → output grows linearly with n): the growing-cluster corpus
    // above makes their output quadratic, which measures the materialized
    // pair volume, not the plan. Same op configs as the text section.
    val fixDupOps: Seq[(String, DataFrame => Long)] = Seq(
      "lsh_pairs_fixdup" -> (d =>
        Dedup.minhashLshPairs(d, "doc_id", "text", numHashes = 16, bands = 4).count()),
      "simhash_banded_fixdup" -> (d =>
        Dedup.simhashPairsBanded(d, "doc_id", "text", bucket = Nil, maxDist = 3).count()),
      // the PAIR-INPUT component loops (the alternative clustering APIs to
      // ns26's bucket-bipartite fixpoint) over the linear pair stream:
      // hash-to-min propagation and the Kiveris two-phase contraction —
      // both localCheckpoint their edge set, so the pair stream is
      // materialized once and each loop is measured on its own work
      "pair_components_hashmin" -> { d =>
        val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", numHashes = 16, bands = 4)
        Dedup.connectedComponents(d.select("doc_id"), "doc_id", pairs)
          .filter(col("component") =!= col("doc_id")).count()
      },
      "pair_components_twophase" -> { d =>
        val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", numHashes = 16, bands = 4)
        Dedup.twoPhaseComponents(d.select("doc_id"), "doc_id", pairs)
          .filter(col("component") =!= col("doc_id")).count()
      },
      // the r14 ns64 shape: the same contraction loop fed the per-bucket
      // STAR set instead of the clique pair stream — edge feed bounded by
      // membership rows, so round 0 chews |docs|×bands rows no matter how
      // duplicate-heavy the corpus (above the driver gates this runs the
      // full distributed loop, the 100 TB path)
      "pair_components_stars" -> { d =>
        val stars = Dedup.minhashLshBandStars(d, "doc_id", "text", numHashes = 16, bands = 4)
        Dedup.twoPhaseComponents(d.select("doc_id"), "doc_id", stars,
            contractedPairs = true)
          .filter(col("component") =!= col("doc_id")).count()
      },
    )

    // The star-vs-clique race where the membership bound actually bites:
    // ~250-doc duplicate cliques ([[corpusCliqueDup]]). Feed sizes are
    // recorded alongside the component walls — the structural claim IS
    // the feed-row ratio (stars ~|members|×bands, cliques ~|members|²/2
    // per cluster), and the walls should separate outside ambient noise
    // here, unlike the small-cluster corpora (r14 straddle).
    val cliqueOps: Seq[(String, DataFrame => Long)] = Seq(
      "clique_feed_pairs" -> (d =>
        Dedup.minhashLshPairs(d, "doc_id", "text", numHashes = 16, bands = 4).count()),
      "clique_feed_stars" -> (d =>
        Dedup.minhashLshBandStars(d, "doc_id", "text", numHashes = 16, bands = 4).count()),
      // the contender arm (the production route on this corpus is the star
      // feed — ns64's shape): runs only when the filter names it, so a
      // default full sweep never pays the clique wall. Measured losses to
      // the star route (same-session, output-identical): 34.0 vs 25.4 s
      // at 2 M quiet-box, 707.4 vs 325.7 s at 20 M (2.17×) — feed volume
      // 62.3 M pairs vs 2.0 M stars at 2 M (the 31× membership bound).
      "clique_components_pairs_ab" -> { d =>
        val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", numHashes = 16, bands = 4)
        Dedup.twoPhaseComponents(d.select("doc_id"), "doc_id", pairs)
          .filter(col("component") =!= col("doc_id")).count()
      },
      "clique_components_stars" -> { d =>
        val stars = Dedup.minhashLshBandStars(d, "doc_id", "text", numHashes = 16, bands = 4)
        Dedup.twoPhaseComponents(d.select("doc_id"), "doc_id", stars,
            contractedPairs = true)
          .filter(col("component") =!= col("doc_id")).count()
      },
    )

    // The per-feed fan-out at width (SURVEY §7.4#6): N standing queries
    // over one post stream as ONE keyed job — posts × broadcast
    // conditions. The width sweep (w10/w100/w1000 at fixed n) reads the
    // per-condition marginal cost directly; the _ab arm is the pre-cache
    // body (stock column-typed regexp — per-row Pattern.compile) and the
    // pipeline arm is Ingest.processBatch end-to-end (cascade + anti-join
    // dedup against an empty store), the LivePipeline drain's keyed job.
    val fanoutOps: Seq[(String, DataFrame => Long)] = {
      def fanned(p: DataFrame, width: Int): Long =
        // the PRODUCTION form (Ingest.processBatch): fanOutScreened — the
        // inverted-index candidate join; in this dense corpus ~82% of
        // posts match SOME feed, but each matches only ~1, so the
        // candidate pairs are |posts|, not |posts|·width
        graft.operators.FilterCascade.fanOutScreened(spark, p,
          standingConditions(width), None).count()
      def fannedSparse(p: DataFrame, screened: Boolean): Long = {
        // the no-match regime: 1 000 standing feeds, none matching the
        // current stream (topicBase past the corpus's 1 200 topics); the
        // screened form pays one automaton scan per post, zero pairs
        val cs = standingConditions(1000, topicBase = 10000)
        if (screened)
          graft.operators.FilterCascade.fanOutScreened(spark, p, cs, None).count()
        else
          graft.operators.FilterCascade.fanOut(p,
            graft.operators.FilterCascade.conditionsDf(spark, cs), None).count()
      }
      Seq(
        "feed_fanout_w10" -> (p => fanned(p, 10)),
        "feed_fanout_w100" -> (p => fanned(p, 100)),
        "feed_fanout_w1000" -> (p => fanned(p, 1000)),
        "feed_fanout_sparse_w1000" -> (p => fannedSparse(p, screened = true)),
        "feed_fanout_sparse_nopre_ab" -> (p => fannedSparse(p, screened = false)),
        "feed_fanout_w1000_worstcase_ab" -> { p =>
          // adversarial shape for the INDEXED form: every condition
          // carries a second branch whose required literal is the
          // substring 'topic' — present in EVERY post — so without the
          // density gate every post is a candidate for ALL 1 000 feeds
          // and the candidate-pair volume collapses back to
          // |posts|·width (the \b keeps the REGEX branch itself mostly
          // non-matching: the screen is what goes all-pass). r16
          // measured that raw ceiling at ~2.3× the crossJoin arm
          // (26.2 vs ~11.5 s at 200 k × 1000). r17: the DENSITY GATE
          // demotes every such condition to the crossJoin branch from a
          // one-time bounded sample probe — this arm now measures the
          // gate landing the worst case back at crossJoin cost (the
          // nogate arm below preserves the raw-ceiling measurement).
          val cs = standingConditions(1000).map(c =>
            c.copy(inputRegex = s"${c.inputRegex}|topic\\b"))
          graft.operators.FilterCascade.fanOutScreened(spark, p, cs, None).count()
        },
        "feed_fanout_w1000_worstcase_nogate_ab" -> { p =>
          // the raw adversarial ceiling with the gate disabled — the
          // indexed form at all-pairs candidate volume
          val cs = standingConditions(1000).map(c =>
            c.copy(inputRegex = s"${c.inputRegex}|topic\\b",
              key = s"${c.key}ng", recordName = s"${c.recordName}ng"))
          spark.conf.set("spark.graft.fanout.densityGateSample", "0")
          try graft.operators.FilterCascade.fanOutScreened(spark, p, cs, None).count()
          finally spark.conf.unset("spark.graft.fanout.densityGateSample")
        },
        "feed_fanout_w1000_worstcase_xjoin_ab" -> { p =>
          // the SAME-SET crossJoin ledger the gate lands on: the honest
          // denominator for the adversarial ratio (r16 quoted 2.3× against
          // the PLAIN-condition crossjoin arm — a different, cheaper
          // condition set whose 1-branch regexes fail fast per pair)
          val cs = standingConditions(1000).map(c =>
            c.copy(inputRegex = s"${c.inputRegex}|topic\\b"))
          graft.operators.FilterCascade.fanOut(p,
            graft.operators.FilterCascade.conditionsDf(spark, cs), None).count()
        },
        "feed_fanout_mixed_w1000" -> { p =>
          // a MIXED set, both kinds of every-post condition next to the
          // screened ones: every 100th feed's include is unscreenable
          // (a \p class stands the extractor down), and one extra feed's
          // needle is in every post, so the density gate demotes it.
          // Both ride the indexed pass as every-post ordinals; the posts
          // are scanned once
          val cs = standingConditions(1000).map(c =>
            if (c.key.stripPrefix("feed").toInt % 100 == 0)
              c.copy(inputRegex = s"\\p{L}${c.inputRegex.drop(1)}")
            else c) :+ standingConditions(1).head.copy(key = "feedall",
              recordName = "feedall", inputRegex = "topic")
          graft.operators.FilterCascade.fanOutScreened(spark, p, cs, None).count()
        },
        "feed_fanout_realistic_w1000" -> { p =>
          // the coverage question: REAL-WORLD regex shapes (optional
          // plurals, grouped tails, classes, anchors, emoji branches,
          // quoted phrases) riding the indexed screen — ALL 13 template
          // families extract (emoji via caseless-safe needles, \Q…\E via
          // quote resolution), so no condition takes the every-post path
          graft.operators.FilterCascade.fanOutScreened(spark, p,
            realisticConditions(1000), None).count()
        },
        "feed_fanout_realistic_crossjoin_ab" -> { p =>
          // the same realistic corpus through the prefiltered crossJoin —
          // the ledger the widened extraction is measured against
          val cs = realisticConditions(1000)
          graft.operators.FilterCascade.fanOut(p,
            graft.operators.FilterCascade.conditionsDf(spark, cs), None,
            prefilter = graft.operators.FilterCascade.includePrefilter(cs)).count()
        },
        "feed_fanout_w1000_crossjoin_ab" -> { p =>
          // the r16-intermediate form: existence prefilter + crossJoin —
          // still |surviving posts|·width predicate evals; the ledger the
          // indexed candidate join is measured against
          val cs = standingConditions(1000)
          graft.operators.FilterCascade.fanOut(p,
            graft.operators.FilterCascade.conditionsDf(spark, cs), None,
            prefilter = graft.operators.FilterCascade.includePrefilter(cs)).count()
        },
        "feed_pipeline_w1000" -> (p =>
          graft.streaming.Ingest.processBatch(spark,
            graft.streaming.Ingest.emptyStore(spark), p,
            standingConditions(1000), None).count()),
        "feed_fanout_w1000_stock_ab" -> { p =>
          // the pre-r16 fanOut body: stock regexp over column-typed
          // patterns — RLike compiles per ROW, RegExpCount's single-entry
          // lastRegex thrashes under the crossJoin's condition sweep.
          // Measured losses at 200 k × 1000 (same-session, r16): include
          // term alone 12.7 vs 9.6 s cached; full cascade 13.6 vs 10.9 s
          // best-of-4, with a 43.1 s GC-bound outlier in one session —
          // per-pair compile churns ~1 KB × 200 M allocations, so the
          // stock form's tail depends on collector luck where the cached
          // form allocates nothing per pair. (A second r16 trap found
          // here lives in the production body: m1's pattern was
          // coalesce(pterm, ''), so no-profileMatch pairs count-walked
          // every text with the bare zero-width '(?iu)' — 28.7 → 10.3 s
          // by letting a null pattern null-propagate instead.)
          val conditions = graft.operators.FilterCascade.conditionsDf(
            spark, standingConditions(1000))
          val withProfile = p.withColumn("__profile_text", lit(null).cast("string"))
          val joined = withProfile.crossJoin(broadcast(conditions.select(
            col("key").as("__ckey"), col("inputRegex").as("__in"),
            col("invertRegex").as("__out"), col("lang").as("__lang"),
            col("labelDisable").as("__nolabel"), col("replyDisable").as("__noreply"),
            col("imageOnly").as("__img"), col("includeAltText").as("__alt"),
            col("profileTerm").as("__pterm"), col("profileRegex").as("__pre"))))
          val stBase = coalesce(col("record.text"), lit(""))
          val stAlt = concat_ws("\n", stBase,
            array_join(filter(transform(coalesce(col("record.embed.images"), array()),
              i => i("alt")), a => a.isNotNull), "\n"))
          val st = when(col("__alt"), stAlt).otherwise(stBase)
          val ciCol = (q: org.apache.spark.sql.Column) => concat(lit("(?iu)"), q)
          val m0 = regexp_count(st, ciCol(col("__in")))
          val m1 = regexp_count(st, ciCol(coalesce(col("__pterm"), lit(""))))
          val imageCount = size(coalesce(col("record.embed.images"), array()))
          val pred =
            (m0 > 0) &&
              (col("__out") === "" || !regexp_like(st, ciCol(col("__out")))) &&
              (when(col("__img") === "imageOnly", imageCount > 0)
                .when(col("__img") === "textOnly", imageCount === 0)
                .otherwise(lit(true))) &&
              (!col("__nolabel") || size(coalesce(col("labels"), array())) === 0) &&
              (!col("__noreply") || col("record.reply").isNull) &&
              (col("__lang").isNull ||
                array_contains(coalesce(col("record.langs"), array()), col("__lang"))) &&
              (col("__pterm").isNull ||
                !(m1 > 0 && (m0 - m1) === 0) ||
                regexp_like(coalesce(col("__profile_text"), lit("")), ciCol(col("__pre"))))
          joined.filter(pred).select(col("uri"), col("__ckey").as("key")).count()
        },
      )
    }

    runSection("fanout", postViews(spark, _), fanoutOps)
    runSection("text", corpus(spark, _), textOps)
    runSection("fixdup", corpusFixedDup(spark, _), fixDupOps)
    runSection("cliquedup", corpusCliqueDup(spark, _), cliqueOps)
    runSection("vector", vectors(spark, _), vecOps)
    runSection("vecclust", vectorsClustered(spark, _), vecClustOps)
    spark.stop()
  }
}
