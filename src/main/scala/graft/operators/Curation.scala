package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.InternalCaches.{TrackedPersist, pinSpread}

/** Training-corpus assembly operators: packing documents into
  * fixed-length context windows and re-balancing the language/source
  * mixture — the steps between a curated document set and actual
  * training batches. Everything is md5-deterministic so the DuckDB
  * oracle hash-matches (no rand(), no partition-order dependence).
  */
object Curation {

  /** Overlapping token-window chunking (RAG indexing / long-doc
    * context prep): fixed `chunkLen`-token windows advancing by
    * `stride` tokens (stride < chunkLen ⇒ overlap); the final window
    * simply runs short rather than dropping tail tokens. Entirely
    * per-row — tokenize once, explode the chunk-start sequence, slice
    * — so the plan has NO shuffle at all: chunking 100 TB is a single
    * map stage whose parallelism is the scan's. Chunk count per doc is
    * computed with non-negative integer arithmetic only (identical
    * truncation semantics in Spark and DuckDB).
    * Returns (doc_id, chunk_idx, n_tokens, chunk_fp). */
  def chunkDocuments(docs: DataFrame, idCol: Column, textCol: Column,
      chunkLen: Int, stride: Int): DataFrame = {
    require(chunkLen > 0 && stride > 0 && stride <= chunkLen,
      s"need 0 < stride=$stride <= chunkLen=$chunkLen")
    docs.select(idCol.as("doc_id"),
        TextAnalysis.tokens(textCol).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") > 0)
      .withColumn("nchunks", lit(1L) + floor(
        greatest(lit(0L), col("n") - chunkLen + (stride - 1)) / stride)
        .cast("long"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), col("nchunks") - 1)).as("chunk_idx"))
      .withColumn("chunk",
        slice(col("toks"), (col("chunk_idx") * stride + 1).cast("int"),
          lit(chunkLen)))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("chunk")).cast("binary")).as("chunk_fp"))
  }

  /** Concat-and-chunk sequence packing: documents are laid out
    * back-to-back in a deterministic pseudo-shuffled order within each
    * `group` (a source shard), then cut into `ctxLen`-token training
    * sequences. Emits, per document, its token offset in the group's
    * stream and the first/last sequence ids it lands in (GPT-style
    * packing lets a document span a boundary).
    *
    * Scale shape — a distributed prefix sum, no global window:
    *   1. each doc gets a salt bucket (md5-derived, `buckets`-way) and a
    *      pseudo-shuffle order key; the running token total is a window
    *      partitioned by (group, bucket) — `buckets`× parallelism per
    *      group;
    *   2. per-(group, bucket) totals (a tiny groupBy — groups×buckets
    *      rows) get their exclusive prefix via a window over the ≤
    *      `buckets` rows of each group — bounded input, safe;
    *   3. broadcast-join the prefixes back: offset = bucket prefix +
    *      local running total − own length.
    * The layout order is (bucket, shuffle-key, id) — a seeded shuffle,
    * which is what a real packer wants anyway (mix sources, avoid
    * curriculum artifacts from ingest order).
    */
  def packSequences(df: DataFrame, idCol: Column, groupCol: Column,
      nToksCol: Column, ctxLen: Int, seed: Int,
      buckets: Int = 32): DataFrame = {
    require(ctxLen > 0 && buckets > 0,
      s"ctxLen=$ctxLen buckets=$buckets must be positive")
    val base = df.select(idCol.as("doc_id"), groupCol.as("grp"),
        nToksCol.cast("long").as("n_toks"))
      .withColumn("__h", Tables.shuffleKey(col("doc_id"), seed))
      .withColumn("__bk",
        pmod(Tables.hashU32(col("doc_id"), seed + 1), lit(buckets.toLong)))
      // read by the local-cumsum side AND the totals side: materialize
      // the (possibly expensive) token-count projection once
      .persistTracked()
    val wLocal = Window.partitionBy(col("grp"), col("__bk"))
      .orderBy(col("__h"), col("doc_id"))
    val local = base.withColumn("__le", sum(col("n_toks")).over(wLocal))
    val totals = base.groupBy(col("grp"), col("__bk"))
      .agg(sum(col("n_toks")).as("__tot"))
    val wPrefix = Window.partitionBy(col("grp")).orderBy(col("__bk"))
    val prefixes = totals
      .withColumn("__prefix", sum(col("__tot")).over(wPrefix) - col("__tot"))
      .select(col("grp"), col("__bk"), col("__prefix"))
    local.join(broadcast(prefixes), Seq("grp", "__bk"))
      .withColumn("start_off", col("__prefix") + col("__le") - col("n_toks"))
      .withColumn("first_seq", floor(col("start_off") / ctxLen))
      .withColumn("last_seq",
        floor((col("start_off") + col("n_toks") - 1) / ctxLen))
      .select(col("doc_id"), col("grp"), col("n_toks"),
        col("start_off"), col("first_seq"), col("last_seq"))
  }

  /** Per-WINDOW manifest of a [[packSequences]] layout — the inverse
    * view: for every ctxLen training window, which document slices
    * occupy it. Emits (grp, seq_id, n_docs, n_resets, filled, seg_fp):
    * docs overlapping the window, position-id RESETS (doc starts
    * strictly inside — exactly the offsets where a packed-attention
    * trainer restarts position ids and masks cross-doc attention),
    * tokens filled, and an md5 fingerprint of the ascending relative
    * slice-start offsets (the mask plan itself, hash-checkable).
    *
    * Scale shape: explode of ≤ (n_toks/ctxLen + 1) windows per doc,
    * then one (grp, seq_id)-keyed aggregate; the collect_list is
    * bounded by docs-per-window ≤ ctxLen. */
  def packedWindowManifest(packed: DataFrame, ctxLen: Int): DataFrame = {
    // zero-token docs have last_seq < first_seq; Spark's sequence()
    // would WALK BACKWARDS (step -1) and fabricate phantom windows —
    // they occupy no window, drop them before the explode
    val w = packed.filter(col("n_toks") > 0)
      .select(col("doc_id"), col("grp"), col("n_toks"),
        col("start_off"),
        explode(sequence(col("first_seq"), col("last_seq"))).as("seq_id"))
      .withColumn("ws", col("seq_id") * ctxLen)
      .withColumn("s", greatest(col("start_off"), col("ws")))
      .withColumn("e",
        least(col("start_off") + col("n_toks"), col("ws") + ctxLen))
    w.groupBy(col("grp"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("start_off") > col("ws"), 1L).otherwise(0L))
          .as("n_resets"),
        sum(col("e") - col("s")).as("filled"),
        md5(concat_ws(",",
          sort_array(collect_list(col("s") - col("ws")))
            .cast("array<string>")).cast("binary")).as("seg_fp"))
  }

  /** Length-bucketed batch assembly — the padding-waste minimizer of
    * a training data loader: documents batched with SIMILAR-length
    * neighbors pad to a near batch max, where arrival-order batching
    * pads everything to whatever outlier landed in the batch.
    *
    * Buckets are `length(bin(n_toks + 1))` — the integer bit-length,
    * i.e. power-of-two length classes — chosen over quantile ntile
    * because it needs NO global pass (a corpus-wide ntile is a
    * single-partition sort at 100 TB) and both engines compute it
    * exactly (no transcendental parity risk). Within a bucket, docs
    * are md5-ordered and cut into `batchSize` batches per
    * (bucket, shard): the shard key bounds every window partition to
    * ~n/(buckets·shards) rows, the packSequences trick — batches
    * never cross shards, so assembly is embarrassingly parallel and
    * deterministic at any partitioning.
    *
    * Returns the doc-level assignment (doc_id, n_toks, bucket, shard,
    * batch_id); padding stats are one groupBy away (p5).
    * `byLength = false` gives the naive arrival-order baseline (one
    * bucket) for the comparison receipt. */
  def lengthBucketedBatches(df: DataFrame, idCol: Column,
      nToksCol: Column, batchSize: Int, shards: Int, seed: Int,
      byLength: Boolean): DataFrame = {
    require(batchSize > 0 && shards > 0,
      s"batchSize=$batchSize shards=$shards must be positive")
    val base = df.select(idCol.as("doc_id"),
        nToksCol.cast("long").as("n_toks"))
      .withColumn("bucket",
        if (byLength) length(bin(col("n_toks") + 1)).cast("long")
        else lit(0L))
      .withColumn("shard",
        pmod(Tables.hashU32(col("doc_id"), seed), lit(shards.toLong)))
      .withColumn("__h", Tables.shuffleKey(col("doc_id"), seed + 1))
    val w = Window.partitionBy(col("bucket"), col("shard"))
      .orderBy(col("__h"), col("doc_id"))
    base.withColumn("batch_id",
        floor((row_number().over(w) - 1) / batchSize).cast("long"))
      .select(col("doc_id"), col("n_toks"), col("bucket"), col("shard"),
        col("batch_id"))
  }

  /** Weighted sampling without replacement, Efraimidis–Spirakis style:
    * each row draws an md5-uniform u and scores key = u^(1/w); the k
    * largest keys ARE a weighted sample without replacement (heavier
    * rows surface more often, every row remains possible). The key is
    * QUANTIZED to integer micro-units before ranking — pow() is the
    * only transcendental, and both engines gate on the same integer
    * (the t9/t12 micro-quantization discipline) with the id as tie
    * break. The rank filter compiles to WindowGroupLimit: per-partition
    * top-k then a k·partitions-bounded final pass — no full-relation
    * single-partition sort at any scale.
    * Returns (doc_id, weight, key6, rank), rank 1..k. */
  def weightedTopK(df: DataFrame, idCol: Column, weightCol: Column,
      k: Int, seed: Int): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    // Efraimidis-Spirakis is defined for w > 0 only: w = 0 would put
    // 1/w at infinity (and can never be sampled anyway) and w < 0
    // would make u^(1/w) exceed 1, outranking every valid row — both
    // are excluded rather than silently mis-ranked (the DuckDB twin
    // carries the same predicate).
    val keyed = df.select(idCol.as("doc_id"),
        weightCol.cast("long").as("weight"))
      .filter(col("weight") > 0)
      .withColumn("key6",
        round(pow(Tables.hashRand(col("doc_id"), seed),
          lit(1.0) / col("weight")) * 1e6).cast("long"))
    PipelineOps.rankedTopK(keyed,
      Seq(col("key6").desc, col("doc_id").asc), k)
  }

  /** Temperature-based mixture resampling: class `l` with count c_l is
    * kept at rate min(1, T·w_l/c_l) where w_l = c_l^α / Σ c^α — the
    * standard α-temperature flattening (α=1 keeps the natural mixture,
    * α→0 equalizes classes). The keep decision per row is an
    * md5-uniform draw against the class rate, so the sampled set is
    * deterministic and engine-independent.
    *
    * Scale shape: class stats are one groupBy (map-side combined); the
    * Σ c^α denominator is a LEFT FOLD over the class list sorted by
    * class name — float addition order is pinned, so the oracle
    * reproduces it bit-for-bit (classes are few; the fold is a scalar).
    * Rates broadcast back to the corpus — one scan, no window.
    *
    * Returns kept rows: (doc_id, class, rate6) where rate6 =
    * round(rate·1e6) — the rate as exact integer micro-units. */
  def temperatureResample(df: DataFrame, idCol: Column, classCol: Column,
      alpha: Double, targetCount: Long, seed: Int): DataFrame = {
    val counts = df.groupBy(classCol.as("cls"))
      .agg(count(lit(1)).as("c"))
    // Σ c^α with a pinned fold order (sorted by class) — scalar result
    val denom = counts
      .agg(array_sort(collect_list(struct(col("cls"), col("c")))).as("a"))
      .select(aggregate(col("a"), lit(0.0d),
        (acc, x) => acc + pow(x("c").cast("double"), lit(alpha)))
        .as("denom"))
    // The keep decision gates on the QUANTIZED rate (integer micro-
    // units), not the raw pow() result: Java Math.pow and DuckDB's libm
    // pow are not guaranteed bit-identical, so a draw within an ulp of
    // an unquantized rate could flip between engines. Quantized, both
    // engines compare the draw against the same integer (a pow
    // divergence would have to move the rate across a 1e-6 boundary to
    // matter — transcendental agreement at that granularity is the same
    // assumption the tf-idf / unigram-LM oracles already rely on).
    val rates = counts.crossJoin(broadcast(denom))
      .withColumn("rate",
        least(lit(1.0d), lit(targetCount.toDouble) *
          pow(col("c").cast("double"), lit(alpha)) / col("denom")
          / col("c").cast("double")))
      .select(col("cls"), round(col("rate") * 1e6).cast("long").as("rate6"))
    df.select(idCol.as("doc_id"), classCol.as("cls"))
      .join(broadcast(rates), Seq("cls"))
      .filter(Tables.hashRand(col("doc_id"), seed) * 1e6 < col("rate6"))
      .select(col("doc_id"), col("cls"), col("rate6"))
  }

  /** UniMax-style mixture planning (Chung et al. 2023): allocate a
    * total training budget across languages proportionally to
    * temperature-scaled size weights w_l = √n_l (τ = 2), but cap any
    * language at `capMilliEpochs` passes over its own data — the
    * published fix for temperature sampling epoching tiny languages
    * hundreds of times. The capped allocation is the water-filling
    * solution: languages sorted by cap threshold n_l/w_l; some prefix
    * is capped and the residual budget distributes over the suffix by
    * weight. Instead of iterating (cap → redistribute → recheck), the
    * valid prefix length K is found in closed form: ONE window pass
    * computes prefix sums, and each boundary k is checked by two
    * integer cross-multiplications (row k still wants the cap under
    * the residual rate; row k+1 does not). Everything after the √
    * quantization (IEEE-exact in both engines) is BIGINT arithmetic —
    * budgets in milli-chars — so the oracle hash-matches bit-exactly.
    *
    * The per-language relation is bounded by the language count (the
    * window and the valid-K pick run on ≤ |langs| rows — the
    * documented bounded-register class); the corpus-scale work is the
    * one groupBy sum. Budget = total corpus size (1 pass-equivalent).
    *
    * Returns (lang, n, w, capped, alloc3, ep3): allocation and
    * resulting epochs in milli-units. */
  def uniMaxMixture(docs: DataFrame, classCol: Column, sizeCol: Column,
      capMilliEpochs: Long): DataFrame = {
    require(capMilliEpochs > 0, s"capMilliEpochs=$capMilliEpochs")
    val e3 = lit(capMilliEpochs)
    val counts = docs.groupBy(classCol.as("lang"))
      .agg(sum(sizeCol).as("n"))
      .withColumn("w", round(sqrt(col("n").cast("double"))).cast("long"))
      // cap threshold n/w (float division is IEEE-exact and identical
      // cross-engine; ties broken by lang)
      .withColumn("thr", col("n").cast("double") / col("w").cast("double"))
    // rank + prefix sums over the ≤|langs| relation via a bounded
    // θ-self-join (|langs|² tiny tuples) instead of empty-partition
    // windows: rk = |{rows ≤ me in (thr, lang) order}|, cum sums
    // likewise — same values as row_number/sum-over-window, but no
    // WindowExec WARN burying real log signals
    val tot = counts.agg(sum(col("n")).as("totN"),
      sum(col("w")).as("totW"), count(lit(1)).as("nLangs"))
    val pre = counts.as("c1")
      .join(broadcast(counts.as("c2")),
        col("c2.thr") < col("c1.thr") ||
          (col("c2.thr") === col("c1.thr") &&
            col("c2.lang") <= col("c1.lang")))
      .groupBy(col("c1.lang").as("lang"), col("c1.n").as("n"),
        col("c1.w").as("w"))
      .agg(count(lit(1)).cast("int").as("rk"),
        sum(col("c2.n")).as("cumN"), sum(col("c2.w")).as("cumW"))
    // lead(n/w, 1) = the columns of the row ranked one later
    val nxt = pre.select((col("rk") - 1).as("rk"),
      col("n").as("nextN"), col("w").as("nextW"))
    val ranked = pre.join(nxt, Seq("rk"), "left")
      .crossJoin(broadcast(tot))
    // candidate boundaries k = 0..L: "rows 1..k capped"; k=0 is a
    // synthetic row with empty prefix
    val k0 = ranked.filter(col("rk") === 1)
      .select(lit(0).as("rk"), lit(0L).as("cumN"), lit(0L).as("cumW"),
        col("n").as("nextN"), col("w").as("nextW"),
        lit(null).cast("long").as("n"), lit(null).cast("long").as("w"),
        col("totN"), col("totW"), col("nLangs"))
    val cands = ranked.select(col("rk"), col("cumN"), col("cumW"),
        col("nextN"), col("nextW"), col("n"), col("w"),
        col("totN"), col("totW"), col("nLangs"))
      .unionByName(k0)
      // budget A = totN milli-epoch-chars · 1000 (one full corpus pass).
      // All boundary products below run in decimal(38,0), not BIGINT:
      // bigR ~ totN·1000 times w ~ √n reaches ~1e24 at the 100 TB
      // design point, far past Long.MaxValue (9.2e18) — a Long product
      // would wrap silently in Spark while DuckDB errors, so the
      // "BIGINT-exact" cross-engine claim would break exactly at scale.
      // decimal(38,0) holds 1e38, exact; the oracle mirrors with
      // HUGEINT (int128). Outputs still fit BIGINT (alloc3 ≤ e3·n).
      .withColumn("bigR", col("totN").cast("decimal(38,0)") * 1000L -
        e3 * col("cumN").cast("decimal(38,0)"))
      .withColumn("suffW",
        (col("totW") - col("cumW")).cast("decimal(38,0)"))
      .filter(col("bigR") >= 0 &&
        // row k itself must still hit the cap under the residual rate
        (col("rk") === 0 ||
          col("bigR") * col("w") >=
            e3 * col("n").cast("decimal(38,0)") * col("suffW")) &&
        // row k+1 must not
        (col("rk") === col("nLangs") ||
          col("bigR") * col("nextW") <
            e3 * col("nextN").cast("decimal(38,0)") * col("suffW")))
      .select(col("rk").as("kValid"), col("bigR"), col("suffW"))
    ranked.crossJoin(broadcast(cands))
      .withColumn("capped",
        when(col("rk") <= col("kValid"), 1L).otherwise(0L))
      .withColumn("alloc3", when(col("capped") === 1L, e3 * col("n"))
        .otherwise(expr("cast((bigR * w) div suffW as long)")))
      .withColumn("ep3", expr("alloc3 div n"))
      .select(col("lang"), col("n"), col("w"), col("capped"),
        col("alloc3"), col("ep3"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359): per-language, documents are ranked by LM
    * score and split into head / middle / tail TERCILES — the
    * pretraining-corpus triage every CommonCrawl pipeline ships
    * (head = cleanest third, tail = candidate discard). The LM is
    * the in-engine t13 bigram model (its per-doc mean log-prob is
    * already oracle-exact); ranks come from a LANG-PARTITIONED
    * window (a real keyed shuffle-sort — the same cost CCNet's
    * per-shard sort pays), bucket = (3·(rk−1)) div n so the split is
    * pure integer arithmetic on the rank, no float boundary ties.
    * Docs with < 2 tokens have no bigram score and are excluded
    * (CCNet drops them pre-LM too). Census: (lang, bucket) →
    * count + micro-nat score sum/min/max. */
  def perplexityBuckets(docs: DataFrame, idCol: Column,
      textCol: Column, classCol: Column): DataFrame = {
    val scores = TextAnalysis.bigramLogProb(docs, idCol, textCol)
      .withColumn("lp6",
        round(col("mean_logprob") * 1e6).cast("long"))
      .select(col("doc_id"), col("lp6"))
    val keyed = docs.select(idCol.as("doc_id"), classCol.as("lang"))
      .join(scores, "doc_id")
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("lp6").desc, col("doc_id").asc)
    keyed
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
      .withColumn("bucket", expr("(3 * (rk - 1)) div n"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("cnt"), sum(col("lp6")).as("lp6_sum"),
        min(col("lp6")).as("lp6_min"), max(col("lp6")).as("lp6_max"))
  }

  /** Curriculum-learning schedule (Bengio et al. 2009): rank the
    * corpus by a difficulty measure, cut it into `nStages` contiguous
    * easy→hard stages, and give every row a deterministic position
    * within its stage (an md5 pseudo-shuffle — stages present examples
    * in random order, the STAGES are what's ordered). Emits
    * (stage, pos, doc_id, difficulty): the training loader reads
    * stage 0 in pos order, then stage 1, …
    *
    * Scale shape: both ranks ride the scalable range-rank
    * ([[PipelineOps.withGlobalSortRankAndCount]] — range partition +
    * per-partition offsets, no single-partition window), and the
    * within-stage position comes from the SECOND global rank minus the
    * stage's closed-form start offset ceil(s·N/nStages) — a
    * per-stage window would put each stage on one reducer, which at
    * nStages ≈ 4 is a four-partition plan no matter the cluster. */
  def curriculumOrder(docs: DataFrame, idCol: Column, difficulty: Column,
      nStages: Int, seed: Int): DataFrame = {
    require(nStages >= 1, s"nStages must be >= 1, got $nStages")
    // the range-rank helper traverses its sorted input twice
    // (partition-count collect + ranked rows) — pin the difficulty
    // relation so the full-corpus difficulty pass runs once
    val base = docs.select(idCol.as("doc_id"),
      difficulty.cast("long").as("difficulty"))
      .persistTracked()
    val (ranked, total) = PipelineOps.withGlobalSortRankAndCount(
      base, Seq(col("difficulty").asc, col("doc_id").asc), "drank")
    require(total > 0, "curriculumOrder needs a non-empty corpus")
    val staged = ranked
      .withColumn("stage",
        expr(s"((drank - 1) * $nStages) div ${total}L"))
      .withColumn("h", Tables.hashU32(col("doc_id"), seed))
      // the second range-rank re-traverses its input twice (partition
      // counts + the ranked rows) — pin the first global sort so the
      // difficulty pass runs once
      .persistTracked()
    val (pos, _) = PipelineOps.withGlobalSortRankAndCount(
      staged, Seq(col("stage").asc, col("h").asc, col("doc_id").asc),
      "grank")
    pos
      .withColumn("pos",
        col("grank") - expr(s"(stage * ${total}L + ${nStages - 1}) " +
          s"div $nStages"))
      .select(col("stage"), col("pos"), col("doc_id"), col("difficulty"))
  }

  /** CORPUS-BUILD CAPSTONE (p9) — the end-to-end pipeline a
    * pretraining-data team actually ships, composed from the
    * engine's own tiers with a per-stage census as the receipt:
    *
    *   1. GATE      — Gopher composite quality (t19) AND char-entropy
    *                  band-pass (t29); benchmark docs
    *                  (doc_id % benchMod = 0) are the EVAL set and
    *                  never enter the corpus.
    *   2. EXACT     — content-fingerprint dedup (d1): the lowest
    *                  doc_id of each exact-duplicate group survives.
    *   3. NEARDUP   — canonical near-dup collapse (p6 shape): simhash
    *                  band candidates → connected components → the
    *                  best t3-quality member per component survives.
    *   4. DECONTAM  — benchmark n-gram overlap (t7/t10): docs whose
    *                  shingle contamination reaches `contamTau` drop.
    *   5. PACK      — BPE token counts (t17, merges trained ONCE on
    *                  the raw corpus) → fixed-length context packing
    *                  (p2/p4); the census fingerprints the packed
    *                  layout itself.
    *
    * Returns one row per stage: (stage, stage_name, docs_in,
    * docs_out, kept_fp) where kept_fp sums the md5-u32 of surviving
    * doc_ids (stage 5: of the packed (doc, offset) layout) — any
    * divergence anywhere in the five-tier composition flips a
    * fingerprint.
    *
    * Scale shape: each stage is the REGISTERED operator's own plan
    * (per-row gates, fp-keyed groupBy, banded candidates — never
    * all-pairs, broadcast benchmark probe, distributed prefix-sum
    * pack); survivors persist once per stage boundary and the census
    * rows are five metadata-sized aggregates. */
  def corpusBuildCensus(docs: DataFrame, idCol: Column, textCol: Column,
      groupCol: Column, merges: Seq[Bpe.Merge], benchMod: Int = 97,
      minWords: Int = 20,
      stops: Seq[String] = Seq("the", "a", "data", "table", "value",
        "query"),
      contamTau: Double = 0.5, ctxLen: Int = 128, packSeed: Int = 17,
      packBuckets: Int = 8, fpSeed: Int = 29): DataFrame = {
    // respread before persisting: the corpus file's scan splits (9 at
    // sf0.1 under the open-cost floor) become the cached partitioning,
    // and stage 1's per-row gates — the tokenizing Gopher checks plus
    // the O(len·|alphabet|) entropy fold — are the census's single
    // most CPU-dense pass (profiled 12.2 s wall / 14.5 s CPU on 9 of
    // 32 tasks). One narrow round-robin of (id, text, grp) un-starves
    // every downstream scan of the cached base (guide §2.5)
    val base = docs.select(idCol.as("doc_id"), textCol.as("text"),
        groupCol.as("grp"))
      .repartition(
        docs.sparkSession.sessionState.conf.numShufflePartitions)
      .persistTracked()
    val corpus0 = base.filter(pmod(col("doc_id"), lit(benchMod)) =!= 0)
    val bench = base.filter(pmod(col("doc_id"), lit(benchMod)) === 0)
    // stage 1: per-row quality gates — ONE fused codegen'd filter
    // over one pass of the cached base (t19.keep ∧ t29.pass_gate as a
    // row-local predicate). Until round 14 the two gates were derived
    // as separate doc_id relations and joined back on — two extra
    // cache passes plus two joins for a decision each row can make
    // about itself (round-13 verdict item 9)
    // stage boundaries PIN (localCheckpoint), not persist: each stage
    // references the previous 2-3x, so plain persist grows the logical
    // plan multiplicatively (measured 25k scan nodes / 134k formatted
    // lines at stage 5) and Catalyst+AQE replanning of that tree
    // dominated p9's wall — guide §3.3's materialize-to-truncate.
    // Every pin respreads first (see InternalCaches.pinSpread)
    val s1 = pinSpread(corpus0.filter(
      TextAnalysis.qualityGatePass(col("text"), minWords, stops)))
    // stage 2: exact dedup — lowest doc_id per content fingerprint
    val keep2 = Dedup.exact(s1, col("doc_id"), col("text"))
      .select(col("keep_id").as("doc_id"))
    val s2 = pinSpread(s1.join(keep2, Seq("doc_id")))
    // stage 3: canonical near-dup collapse (the p6 shape over s2)
    val pairs = Dedup.simhashPairs(
        Dedup.simhash(s2, col("doc_id"), col("text")), 3)
      .select(col("doc_a"), col("doc_b"))
    val comp = Dedup.dedupComponents(pairs)
      .select(col("doc_id"), col("component"))
    val keep3 = s2.select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")) * 1e6)
          .cast("long").as("q6"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("component",
        coalesce(col("component"), col("doc_id")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("component"))
          .orderBy(col("q6").desc, col("doc_id").asc)))
      .filter(col("rk") === 1).select(col("doc_id"))
    val s3 = pinSpread(s2.join(keep3, Seq("doc_id")))
    // stage 4: drop docs whose benchmark-shingle overlap reaches tau
    val dirty = TextAnalysis.contamination(s3, bench, col("doc_id"),
        col("text"), n = 3)
      .filter(col("contamination") >= contamTau).select(col("doc_id"))
    val s4 = pinSpread(s3.join(dirty, Seq("doc_id"), "left_anti"))
    // stage 5: BPE token counts + context packing over the survivors.
    // The per-word BPE merge chain is CPU-heavy — it inherits s4's
    // pinned 32-way spread (pinSpread above; before round 13's
    // respread this stage ran as ONE 12.5 s task on a 32-core host)
    val counts = s4.select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(col("word") =!= "")
      .withColumn("tc", Bpe.tokenCount(Bpe.applyMerges(col("word"),
        merges)))
      .groupBy(col("doc_id"))
      .agg(sum(col("tc")).cast("long").as("bpe_toks"))
    val packIn = s4.select(col("doc_id"), col("grp"))
      .join(counts, Seq("doc_id"), "left_outer")
      .na.fill(0L, Seq("bpe_toks"))
    val packed = packSequences(packIn, col("doc_id"), col("grp"),
      col("bpe_toks"), ctxLen, packSeed, packBuckets)
    def row(stage: Long, name: String, din: DataFrame,
        dout: DataFrame): DataFrame =
      censusRow(stage, name, din, dout, fpSeed)
    val packRow = s4.agg(count(lit(1)).as("docs_in")).crossJoin(
        packed.agg(count(lit(1)).as("docs_out"),
          coalesce(sum(Tables.hashU32(concat_ws("|", col("doc_id"),
            col("grp"), col("n_toks"), col("start_off")), fpSeed)),
            lit(0L)).as("kept_fp")))
      .select(lit(5L).as("stage"), lit("pack").as("stage_name"),
        col("docs_in"), col("docs_out"), col("kept_fp"))
    row(1L, "gate", corpus0, s1)
      .unionByName(row(2L, "exact", s1, s2))
      .unionByName(row(3L, "neardup", s2, s3))
      .unionByName(row(4L, "decontam", s3, s4))
      .unionByName(packRow)
  }

  /** Optional attribution report for p9's DECONTAM tier: for every
    * doc the tier drops (contamination ≥ tau), WHICH benchmark doc
    * it overlaps most (t41's argmax, ties to the lowest bench id)
    * and the overlap fraction — the "which eval set" evidence a
    * release review wants next to the census counts. Report-only:
    * the census itself is unchanged; the inputs are the tier's own
    * relations, so the report adds one per-doc window over the
    * already-bounded shared-shingle pair relation. */
  def decontamAttributionReport(tierDocs: DataFrame, bench: DataFrame,
      idCol: Column, textCol: Column, n: Int = 3,
      contamTau: Double = 0.5): DataFrame = {
    val dirty = TextAnalysis.contamination(tierDocs, bench, idCol,
        textCol, n)
      .filter(col("contamination") >= contamTau).select(col("doc_id"))
    TextAnalysis.contaminationAttribution(tierDocs, bench, idCol,
        textCol, n)
      .join(dirty, Seq("doc_id"))
  }

  /** [[decontamAttributionReport]]'s span-level companion (t45 into
    * the p9 report): for every doc the decontam tier drops, the
    * maximal overlap spans against EVERY benchmark doc it shares
    * shingles with — token bounds, char offsets into the canonical
    * stream, and the quotable excerpt a release review pastes next
    * to the census counts. Report-only, census unchanged; cost is
    * the t45 machinery restricted by one join to the dropped set. */
  def decontamSpanReport(tierDocs: DataFrame, bench: DataFrame,
      idCol: Column, textCol: Column, n: Int = 3,
      contamTau: Double = 0.5): DataFrame = {
    val dirty = TextAnalysis.contamination(tierDocs, bench, idCol,
        textCol, n)
      .filter(col("contamination") >= contamTau).select(col("doc_id"))
    TextAnalysis.contaminationSpans(tierDocs, bench, idCol,
        textCol, n)
      .join(dirty, Seq("doc_id"))
  }

  /** One census row: (stage, stage_name, docs_in, docs_out, kept_fp)
    * with kept_fp the md5-u32 sum of surviving doc_ids — shared by
    * the corpus-build (p9) and corpus-refresh (p10) capstones. */
  private def censusRow(stage: Long, name: String, din: DataFrame,
      dout: DataFrame, fpSeed: Int): DataFrame =
    din.agg(count(lit(1)).as("docs_in")).crossJoin(
        dout.agg(count(lit(1)).as("docs_out"),
          coalesce(sum(Tables.hashU32(col("doc_id"), fpSeed)), lit(0L))
            .as("kept_fp")))
      .select(lit(stage).as("stage"), lit(name).as("stage_name"),
        col("docs_in"), col("docs_out"), col("kept_fp"))

  /** CORPUS REFRESH (p10) — the INCREMENTAL counterpart of the p9
    * build: a new batch arrives against an already-curated corpus
    * STATE, and admission runs against the state, not just within the
    * batch — the shape every recurring crawl/refresh pipeline has:
    *
    *   1. GATE           — the per-row quality gates (t19+t29) on the
    *                       batch alone.
    *   2. EXACT-vs-STATE — batch docs whose content fingerprint
    *                       already exists in the state drop (a
    *                       re-submission); within-batch exact dups
    *                       collapse to the lowest doc_id.
    *   3. NEARDUP-vs-STATE — the d11 incremental tier: batch minhash
    *                       bands probe the stored band index (state ∪
    *                       earlier batch docs), candidates verify by
    *                       signature agreement, flagged docs drop.
    *
    * Returns the same census shape as [[corpusBuildCensus]] — one row
    * per stage, survivor fingerprints hash-checking the whole
    * admission decision. Scale shape: the state is the 100 TB side
    * and is never shuffled corpus-wide (the batch-bounded candidate
    * set broadcasts AGAINST it — [[Dedup.incrementalNearDup]]'s
    * contract); everything else is batch-sized. */
  def corpusRefreshCensus(existing: DataFrame, incoming: DataFrame,
      idCol: Column, textCol: Column, minWords: Int = 20,
      stops: Seq[String] = Seq("the", "a", "data", "table", "value",
        "query"),
      numHashes: Int = 8, rowsPerBand: Int = 2,
      minJaccard: Double = 0.5, fpSeed: Int = 29): DataFrame = {
    // respread both persisted bases (the p9 rationale, guide §2.5):
    // the gates on the batch and the state-side fingerprint/minhash
    // passes are CPU-dense per byte, and the raw file's scan splits
    // would otherwise become the cached partitioning
    val nPart =
      existing.sparkSession.sessionState.conf.numShufflePartitions
    val state = existing.select(idCol.as("doc_id"), textCol.as("text"))
      .repartition(nPart)
      .persistTracked()
    val b0 = incoming.select(idCol.as("doc_id"), textCol.as("text"))
      .repartition(nPart)
      .persistTracked()
    // stage pins (localCheckpoint), not persists — the p9 rationale:
    // b1/b2 are each referenced by the next tier AND the census rows,
    // so persist alone lets the plan tree re-embed every upstream tier
    // (see InternalCaches.pinSpread for why each pin respreads)
    // the p9 fused-gate form: one codegen'd filter, no gate joins
    val b1 = pinSpread(b0.filter(
      TextAnalysis.qualityGatePass(col("text"), minWords, stops)))
    val stateFps = state
      .select(TextAnalysis.contentFingerprint(col("text")).as("fp"))
      .distinct()
    val keep2 = b1
      .withColumn("fp", TextAnalysis.contentFingerprint(col("text")))
      .join(stateFps, Seq("fp"), "left_anti")
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val b2 = pinSpread(b1.join(keep2, Seq("doc_id")))
    val nd = Dedup.incrementalNearDup(state, b2, col("doc_id"),
      col("text"), numHashes, rowsPerBand, minJaccard)
    val b3 = b2.join(nd.filter(col("is_dup") === 0)
      .select(col("doc_id")), Seq("doc_id"))
    censusRow(1L, "gate", b0, b1, fpSeed)
      .unionByName(censusRow(2L, "exact_vs_state", b1, b2, fpSeed))
      .unionByName(censusRow(3L, "neardup_vs_state", b2, b3, fpSeed))
  }

  // ——— t37: cross-source boilerplate removal ————————————————————————
  // The C4/RefinedWeb template rule: a LINE whose exact text appears
  // in more than `frac` of a SOURCE's documents is boilerplate
  // (navigation bars, cookie banners, copyright footers — the
  // per-site template d9's corpus-wide duplicate-segment rule cannot
  // see, because a template is frequent only WITHIN its site). Strip
  // every occurrence and reassemble each document from its surviving
  // lines in order.

  /** The per-source template-line relation: (source, line) for lines
    * in > frac of the source's docs. Line frequency is a
    * (source, line)-keyed distinct-doc count — map-side combinable,
    * partitions bounded by a single source's repetition of one line;
    * per-source doc totals are a broadcast-sized relation. */
  def boilerplateLines(docs: DataFrame, idCol: Column, textCol: Column,
      sourceCol: Column, frac: Double): DataFrame =
    mineTemplates(splitLines(docs, idCol, textCol, sourceCol), docs,
      idCol, sourceCol, frac)

  /** The single template-mining implementation, shared by
    * [[boilerplateLines]], [[boilerplateStrip]], and
    * [[boilerplateCensus]] so the rule cannot drift between the
    * public entry points (and so callers that already hold the split
    * lines relation never re-split the corpus). */
  private def mineTemplates(lines: DataFrame, docs: DataFrame,
      idCol: Column, sourceCol: Column, frac: Double): DataFrame = {
    require(frac > 0 && frac < 1, s"frac=$frac")
    val nDocs = docs.groupBy(sourceCol.as("source"))
      .agg(countDistinct(idCol).as("n_docs"))
    lines.groupBy(col("source"), col("line"))
      .agg(countDistinct(col("doc_id")).as("cnt"))
      .join(broadcast(nDocs), Seq("source"))
      .filter(col("cnt") > col("n_docs") * lit(frac))
      .select(col("source"), col("line"))
  }

  private def splitLines(docs: DataFrame, idCol: Column,
      textCol: Column, sourceCol: Column): DataFrame =
    docs.select(idCol.as("doc_id"), sourceCol.as("source"),
        posexplode(split(textCol, "\n")).as(Seq("li", "line")))
      .filter(col("line") =!= "")

  /** Strip template lines and reassemble: (doc_id, source, n_lines,
    * n_kept, text2) — text2 is the document rebuilt from surviving
    * lines in original order (d9's reassembly discipline: array_sort
    * on (position, line) structs so the collect is order-
    * independent). The anti-join keys on (source, line) — the
    * template relation is per-source-bounded and broadcastable. */
  def boilerplateStrip(docs: DataFrame, idCol: Column, textCol: Column,
      sourceCol: Column, frac: Double): DataFrame = {
    val lines = splitLines(docs, idCol, textCol, sourceCol)
      .persistTracked() // template mining + the anti-join + totals
    stripWith(lines, mineTemplates(lines, docs, idCol, sourceCol, frac))
  }

  /** Strip + reassemble from an already-split (and persisted) lines
    * relation and a mined templates relation. */
  private def stripWith(lines: DataFrame, templates: DataFrame)
      : DataFrame = {
    val totals = lines.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_lines"))
    val kept = lines
      .join(broadcast(templates), Seq("source", "line"), "left_anti")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_kept"),
        array_sort(collect_list(struct(col("li"), col("line"))))
          .as("ks"))
      .select(col("doc_id"), col("source"), col("n_kept"),
        array_join(transform(col("ks"), x => x("line")), "\n")
          .as("text2"))
    totals.join(kept, Seq("doc_id", "source"), "left")
      .na.fill(0L, Seq("n_kept"))
      .withColumn("text2", coalesce(col("text2"), lit("")))
      .select(col("doc_id"), col("source"), col("n_lines"),
        col("n_kept"), col("text2"))
  }

  /** Per-source census receipt for [[boilerplateStrip]]: doc count,
    * distinct template lines, stripped line instances, documents
    * changed, and the summed fingerprint of every reassembled text —
    * hash-proving each document's post-strip content. */
  def boilerplateCensus(docs: DataFrame, idCol: Column,
      textCol: Column, sourceCol: Column, frac: Double,
      fpSeed: Int = 37): DataFrame = {
    // split ONCE, mine ONCE: the same lines relation feeds template
    // mining, the strip anti-join, and the census's template count —
    // the corpus is never re-split or re-aggregated for the receipt
    val lines = splitLines(docs, idCol, textCol, sourceCol)
      .persistTracked() // mining + anti-join + totals
    val templates = mineTemplates(lines, docs, idCol, sourceCol, frac)
      .persistTracked() // the strip anti-join + the census count
    val stripped = stripWith(lines, templates)
    val nTemplates = templates
      .groupBy(col("source")).agg(count(lit(1)).as("n_templates"))
    stripped.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_lines") - col("n_kept")).as("inst_dropped"),
        sum(when(col("n_kept") < col("n_lines"), 1L).otherwise(0L))
          .as("docs_changed"),
        sum(Tables.hashU32(col("text2"), fpSeed)).as("kept_fp_sum"))
      .join(nTemplates, Seq("source"), "left")
      .na.fill(0L, Seq("n_templates"))
      .select(col("source"), col("n_docs"), col("n_templates"),
        col("inst_dropped"), col("docs_changed"), col("kept_fp_sum"))
  }

  /** p11: CORPUS DATASHEET — the per-source summary a "datasheets
    * for datasets" (Gebru et al. 2021) release ships, composed from
    * the registered gates in one pass: volume (docs, tokens, char
    * stats), language mix (count + deterministic mode), exact-dup
    * rate (the t4 content fingerprint), and the Gopher gate's keep
    * count (t19's exact rule set, shared twin CTEs). Every stat is a
    * per-source keyed aggregate — the corpus is scanned a fixed
    * number of times and nothing corpus-global is materialized, so
    * the pass is embarrassingly source-parallel at any scale. */
  def corpusDatasheet(docs: DataFrame, idCol: Column, textCol: Column,
      sourceCol: Column, langCol: Column, nCharsCol: Column,
      quality: Option[DataFrame] = None): DataFrame = {
    val base = docs.select(idCol.as("doc_id"), sourceCol.as("source"),
        langCol.as("lang"), nCharsCol.as("n_chars"),
        textCol.as("text"))
      .persistTracked() // token counts + gopher + fingerprints + mix
    val ntok = base.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("ntok"))
    val keep = TextAnalysis.gopherQuality(base, col("doc_id"),
        col("text"), minWords = 20,
        stops = Seq("the", "a", "data", "table", "value", "query"))
      .select(col("doc_id"), col("keep"))
    val perDoc = base.select(col("doc_id"), col("source"),
        col("n_chars"))
      .join(ntok, "doc_id").join(keep, "doc_id")
    val vol = perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("n_tokens"),
        min(col("n_chars")).as("chars_min"),
        max(col("n_chars")).as("chars_max"),
        round(sum(col("n_chars")) * lit(1.0) / count(lit(1)))
          .cast("long").as("chars_avg"),
        sum(col("keep")).as("gopher_keep"))
    val mix = base.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("cl"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_langs"),
        min(struct((-col("cl")).as("nc"), col("lang"))).as("m"))
      .select(col("source"), col("n_langs"),
        col("m.lang").as("top_lang"))
    val dups = base.select(col("source"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ")
          .cast("binary")).as("fp"))
      .groupBy(col("source"))
      .agg((count(lit(1)) - countDistinct(col("fp")))
        .as("n_exact_dups"))
    val core = vol.join(mix, "source").join(dups, "source")
    // optional t38 quality distribution (verdict-requested datasheet
    // column family): per-source kept count at the 0.5 threshold plus
    // exact rank-based quartiles of the micro-unit scores — type-1
    // quantiles (value at rank ceil(p·n), ordered by (quality6,
    // doc_id)) so the integer arithmetic is engine-exact; one more
    // per-source keyed aggregate, no new scan shape
    quality.fold(core) { q =>
      val ranked = base.select(col("doc_id"), col("source"))
        .join(q.select(col("doc_id"), col("quality6")), "doc_id")
        .withColumn("rk", row_number().over(Window
          .partitionBy(col("source"))
          .orderBy(col("quality6"), col("doc_id"))))
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy(col("source"))))
      val quant = ranked.groupBy(col("source")).agg(
        sum(when(col("quality6") >= 500000L, 1L).otherwise(0L))
          .as("quality_kept"),
        max(when(col("rk") === expr("(n + 3) div 4"), col("quality6")))
          .as("quality_p25"),
        max(when(col("rk") === expr("(n + 1) div 2"), col("quality6")))
          .as("quality_p50"),
        max(when(col("rk") === expr("(3 * n + 3) div 4"),
          col("quality6"))).as("quality_p75"))
      // LEFT join: a source whose docs all lack quality scores
      // (qualityScores drops zero-token docs) must keep its
      // volume/mix/dup row with null quality fields, not vanish
      // from the datasheet entirely
      core.join(quant, Seq("source"), "left_outer")
    }
  }


  /** p12: LEAKAGE-FREE train/val split — group-aware splitting by
    * near-dup component (the public eval-hygiene rule: if two docs
    * are near-duplicates, they must land in the SAME split, or the
    * val set silently leaks into train). Groups are d8's simhash-band
    * connected components; docs outside any component are their own
    * group. The split is a deterministic hash of the GROUP canonical
    * (md5-rand, the q04 discipline), so membership is reproducible
    * and no component can straddle splits BY CONSTRUCTION — the
    * split function never sees the doc, only its group. Scale shape:
    * the pair/closure machinery is d8's (banded, pointer-jumped);
    * the split itself is one broadcast-sized join + a per-row hash. */
  def leakageFreeSplit(docs: DataFrame, idCol: Column, textCol: Column,
      trainPct: Int = 80, seed: Int = 53): DataFrame = {
    require(trainPct > 0 && trainPct < 100, s"trainPct=$trainPct")
    val pairs = Dedup.simhashPairs(
      Dedup.simhash(docs, idCol, textCol), 3)
      .select(col("doc_a"), col("doc_b"))
    val comp = Dedup.dedupComponents(pairs)
      .select(col("doc_id"), col("component"))
    docs.select(idCol.as("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("component"), col("doc_id")))
      .withColumn("split",
        when(Tables.hashRand(col("grp"), seed) <
          lit(trainPct / 100.0), lit("train")).otherwise(lit("val")))
      .select(col("doc_id"), col("grp"), col("split"))
  }

  /** Registrable domain of a URL (naive eTLD: the last two host
    * labels after [[Dedup.canonicalizeUrl]]-style host extraction) —
    * the grouping key crawl pipelines balance on. A real public-
    * suffix list is a lookup table swap; the plan shape is identical. */
  def urlDomain(url: Column): Column = {
    val host = regexp_extract(lower(trim(url)),
      "^[a-z][a-z0-9+.\\-]*://(?:www\\.)?([^/:?#]+)", 1)
    regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
  }

  /** Per-domain document caps — the C4/Dolma-style domain-balancing
    * gate: no registrable domain may contribute more than
    * `maxPerDomain` documents, the survivors being the domain's
    * highest-quality ones ((quality desc, doc_id) rank ≤ cap). One
    * codegen'd map (domain extraction) + one domain-keyed window —
    * state per reducer is O(domain's docs), and the heavy domains this
    * op exists to tame are exactly the ones worth a salted two-phase
    * top-k at 100 TB (take per-partition top-cap first; the window
    * then sees ≤ cap·partitions rows per domain).
    *
    * Returns the per-domain census: docs seen, docs kept, kept id sum
    * (the oracle-checkable survivor fingerprint). */
  def domainCaps(docs: DataFrame, idCol: Column, urlCol: Column,
      qualityCol: Column, maxPerDomain: Int): DataFrame = {
    val ranked = docs.select(idCol.as("doc_id"),
        urlDomain(urlCol).as("domain"), qualityCol.as("quality"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("domain"))
          .orderBy(col("quality").desc, col("doc_id").asc)))
    ranked.groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rk") <= maxPerDomain, 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col("rk") <= maxPerDomain, col("doc_id")))
          .as("kept_id_sum"))
  }

  /** Per-CLUSTER document caps — [[domainCaps]]' census generalized to
    * any grouping key: no cluster may keep more than `maxPer` members,
    * survivors being the cluster's top-ranked by (quality desc, id).
    * With k-means cell assignments as the key and assignment cosine as
    * the quality this is the cluster-balancing step of
    * embedding-space curation (the D4 recipe — Tirumala et al. 2023,
    * arXiv:2308.12284 — prunes over-dense semantic clusters the way
    * d23 prunes over-crawled domains): a 100 TB web crawl is
    * cluster-skewed exactly like it is domain-skewed, and the cap is
    * one key-partitioned window either way (salt-then-cap for the
    * mega-cluster, same as the domain note).
    *
    * Returns the per-cluster census (cluster, n_docs, n_kept,
    * kept_id_sum). */
  def capByKey(df: DataFrame, idCol: Column, keyCol: Column,
      qualityCol: Column, maxPer: Int): DataFrame = {
    val ranked = df.select(idCol.as("doc_id"), keyCol.as("cluster"),
        qualityCol.as("quality"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cluster"))
          .orderBy(col("quality").desc, col("doc_id").asc)))
    ranked.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rk") <= maxPer, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rk") <= maxPer, col("doc_id"))).as("kept_id_sum"))
  }

  /** Domain-mixture reweighting by multiplicative weights — the
    * DoReMi update shape (Xie et al. 2023, arXiv:2305.10429: Group
    * DRO re-weights domains by exponentiated-gradient ascent on
    * per-domain excess loss; here the update is the linear
    * multiplicative-weights form w ← w·(1 + η·excess), the standard
    * MW approximation of exp(η·excess)) run for `rounds` synchronous
    * rounds ENTIRELY in integer micro-units: weights, losses, and the
    * learning rate are all ×10⁶ longs, every division a floor — so
    * the trajectory is bit-identical in any engine and the final
    * mixture is oracle-checkable, unlike float-exp whose ULP order
    * differs across libm builds.
    *
    * `domains` must be (domain STRING, excess_micro LONG in [0, 1e6])
    * — one row per domain, metadata-sized (a mixture has tens of
    * domains, never more; the 100 TB work is computing the per-domain
    * losses upstream, which is one aggregate). Each round multiplies
    * then renormalizes to Σw = 1e6 by floor division; the lost
    * remainder (< n_domains µ) stays unassigned rather than being
    * redistributed — deterministic and honest about quantization.
    *
    * Returns (domain, excess_micro, weight_micro) after `rounds`. */
  def mixtureWeights(domains: DataFrame, etaMicro: Long,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 16,
      s"rounds must be in [1,16], got $rounds")
    val M = 1000000L
    // every division below is an explicit floor: Spark's `/` on longs
    // returns DOUBLE and DuckDB's CAST(double AS BIGINT) ROUNDS, so
    // the only cross-engine-safe integer division is floor() here and
    // `//` there (all operands positive, products < 2^53 — exact in
    // the double intermediate)
    val n = domains.select(count(lit(1)).as("__n"))
    var w = domains.crossJoin(broadcast(n))
      .select(col("domain"), col("excess_micro"),
        floor(lit(M) / col("__n")).as("w"))
    for (_ <- 1 to rounds) {
      val boost = lit(M) + floor(lit(etaMicro) * col("excess_micro") / M)
      val up = w.withColumn("w", floor(col("w") * boost / M))
      val tot = up.select(sum(col("w")).as("__tot"))
      // pinStage per MW round: w is referenced twice per round (the
      // boost pass and the normalizer's sum), so the lazy plan doubles
      // each round and re-embeds the corpus-scale domain fixture 2^r
      // times; the checkpoint is one metadata-sized relation per round
      w = graft.InternalCaches.pinStage(
        up.crossJoin(broadcast(tot))
          .select(col("domain"), col("excess_micro"),
            floor(col("w") * M / col("__tot")).as("w")))
    }
    w.select(col("domain"), col("excess_micro"),
      col("w").as("weight_micro"))
  }

  /** Token-BUDGET sampling — how a mixture is actually consumed: a
    * training run specifies domains in TOKENS (the t52 weights × one
    * total budget), not document counts, so the sampler must fill
    * each domain's token budget from a deterministic document order.
    * Each domain's docs are laid out in md5-pseudo-shuffled order
    * (shuffle-key, id) and taken while the running token total BEFORE
    * the doc is under the domain's budget — the boundary-crossing doc
    * is kept (GPT-style fill-then-cut; the packer downstream trims),
    * so every non-empty budget draws at least one document.
    *
    * `weights` must be (domain, weight_micro) — [[mixtureWeights]]'
    * output; budget_toks = floor(weight_micro · totalBudget / 1e6).
    *
    * Scale shape: one domain-keyed ordered window (the running token
    * sum) over the docs — the d23 note applies verbatim: a mega-domain
    * is a salted two-phase prefix-sum (p2's layout machinery) when one
    * reducer per domain stops being acceptable; everything else is a
    * broadcast of the metadata-sized weights relation.
    *
    * Returns the per-domain census (domain, budget_toks, n_docs,
    * n_kept, kept_toks, kept_id_sum). */
  def tokenBudgetSample(docs: DataFrame, idCol: Column,
      domainCol: Column, nToksCol: Column, weights: DataFrame,
      totalBudget: Long, seed: Int): DataFrame = {
    require(totalBudget > 0, s"totalBudget must be > 0: $totalBudget")
    val budgets = weights.select(col("domain"),
      floor(col("weight_micro") * totalBudget / 1000000L)
        .as("budget_toks"))
    val ordered = docs.select(idCol.as("doc_id"),
        domainCol.as("domain"), nToksCol.cast("long").as("n_toks"))
      .withColumn("__h", Tables.hashU32(col("doc_id"), seed))
      .withColumn("__cum", sum(col("n_toks")).over(
        Window.partitionBy(col("domain"))
          .orderBy(col("__h"), col("doc_id"))))
      .join(broadcast(budgets), Seq("domain"))
      .withColumn("keep",
        col("__cum") - col("n_toks") < col("budget_toks"))
    ordered.groupBy(col("domain"))
      .agg(min(col("budget_toks")).as("budget_toks"),
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_toks")).otherwise(0L))
          .as("kept_toks"),
        sum(when(col("keep"), col("doc_id"))).as("kept_id_sum"))
  }

  /** Fill-in-the-middle transformation (Bavarian et al. 2022,
    * "Efficient Training of Language Models to Fill in the Middle",
    * arXiv:2207.14255): with probability `ratePct`/100 a document is
    * split at two uniform character cuts into (prefix, middle,
    * suffix) and re-serialized in PSM order —
    * `<PRE>prefix<SUF>suffix<MID>middle` — so an autoregressive
    * trainer learns infilling from plain left-to-right loss; the
    * remaining documents pass through untouched (the paper's joint
    * FIM+AR recipe).
    *
    * Determinism doctrine: the apply coin AND both cut points are
    * md5-derived integers (`hashU32 % m`) — no floats anywhere — so
    * the DuckDB oracle reproduces the exact transformed text.
    * Cut points are uniform over 0..n inclusive (empty prefix /
    * middle / suffix are all legal, per the paper's character-level
    * splitting).
    *
    * Scale shape: a pure per-row map — no shuffle, no state; FIM over
    * 100 TB is a single map stage whose parallelism is the scan's.
    *
    * Returns (doc_id, fim_applied, cut_lo, cut_hi, out_len, out_fp)
    * where out_fp fingerprints the exact output byte stream. */
  def fimTransform(docs: DataFrame, idCol: Column, textCol: Column,
      ratePct: Int, seed: Int): DataFrame = {
    require(ratePct >= 0 && ratePct <= 100,
      s"ratePct must be in [0,100], got $ratePct")
    val n = length(textCol).cast("long")
    val applied = pmod(Tables.hashU32(idCol, seed), lit(100L)) < ratePct
    val c1 = pmod(Tables.hashU32(idCol, seed + 1), n + 1)
    val c2 = pmod(Tables.hashU32(idCol, seed + 2), n + 1)
    val lo = least(c1, c2)
    val hi = greatest(c1, c2)
    val prefix = textCol.substr(lit(1L), lo)
    val middle = textCol.substr(lo + 1, hi - lo)
    val suffix = textCol.substr(hi + 1, n - hi)
    val out = when(applied,
      concat(lit("<PRE>"), prefix, lit("<SUF>"), suffix,
        lit("<MID>"), middle)).otherwise(textCol)
    docs.select(idCol.as("doc_id"),
      applied.cast("int").as("fim_applied"),
      when(applied, lo).otherwise(lit(null)).as("cut_lo"),
      when(applied, hi).otherwise(lit(null)).as("cut_hi"),
      length(out).cast("long").as("out_len"),
      Tables.hashU32(out, seed + 3).as("out_fp"))
  }

  /** Per-window LOSS-MASK manifest for supervised fine-tuning packing:
    * the [[packSequences]] layout where each document is a
    * (prompt, response) pair and only response tokens carry loss
    * (the standard SFT masking — prompt tokens are context, their
    * loss is zeroed). For every ctxLen training window this emits the
    * mask a packed-SFT trainer consumes: how many of the window's
    * tokens are loss-bearing, and a fingerprint of the exact
    * (relative-start, relative-loss-start) run structure.
    *
    * `packed` must carry packSequences' columns plus `prompt_toks`
    * (loss-free leading tokens per doc, 0 ≤ prompt_toks ≤ n_toks).
    * A document's loss span is [start_off + prompt_toks,
    * start_off + n_toks); each window intersects that span
    * independently, so a response crossing a window boundary keeps
    * loss on both sides (GPT-style packing never pads).
    *
    * Scale shape: identical to [[packedWindowManifest]] — explode of
    * ≤ (n_toks/ctxLen + 1) windows per doc, one (grp, seq_id)
    * aggregate, collect_list bounded by docs-per-window ≤ ctxLen.
    *
    * Returns (grp, seq_id, n_docs, filled, loss_tokens, mask_fp). */
  def sftMaskManifest(packed: DataFrame, ctxLen: Int): DataFrame = {
    // zero-token docs occupy no window (sequence() would walk
    // BACKWARDS from first_seq to a smaller last_seq — same guard as
    // packedWindowManifest)
    val w = packed.filter(col("n_toks") > 0)
      .select(col("doc_id"), col("grp"), col("n_toks"),
        col("start_off"), col("prompt_toks"),
        explode(sequence(col("first_seq"), col("last_seq"))).as("seq_id"))
      .withColumn("ws", col("seq_id") * ctxLen)
      .withColumn("s", greatest(col("start_off"), col("ws")))
      .withColumn("e",
        least(col("start_off") + col("n_toks"), col("ws") + ctxLen))
      // loss span ∩ window: response starts prompt_toks into the doc
      .withColumn("ls",
        greatest(col("start_off") + col("prompt_toks"), col("ws")))
      .withColumn("le", col("e"))
      .withColumn("loss", greatest(col("le") - col("ls"), lit(0L)))
    // fingerprint entries sort NUMERICALLY by (relative start,
    // relative loss start) — struct sort, never string sort, so the
    // DuckDB `ORDER BY rs, rl` twin matches ("5:…" vs "12:…" would
    // invert lexicographically)
    w.groupBy(col("grp"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("e") - col("s")).as("filled"),
        sum(col("loss")).as("loss_tokens"),
        md5(concat_ws(",", transform(
          sort_array(collect_list(struct(
            (col("s") - col("ws")).as("rs"),
            when(col("loss") > 0, col("ls") - col("ws"))
              .otherwise(lit(-1L)).as("rl")))),
          x => concat_ws(":", x.getField("rs"), x.getField("rl"))))
          .cast("binary")).as("mask_fp"))
  }

  /** k-anonymity release gate with a generalization ladder (Sweeney
    * 2002) — the privacy discipline a training-data release runs over
    * quasi-identifier metadata: a record may only ship at the finest
    * generalization tier whose quasi-identifier group still has ≥ k
    * members.
    *
    * Tiers here: 0 = (qi1, qi2, qi3), 1 = (qi1, qi2, *),
    * 2 = (qi1, *, *), 3 = fully suppressed. Each record gets the
    * FINEST tier that clears k; the released quasi-identifier is
    * rendered with '*' at the generalized positions so the output is
    * itself the k-anonymous view. Note the standard subtlety: tier
    * counts are raw group sizes per level (the generalized group at
    * tier 1 contains every tier-0 member of its parent), which is the
    * classic full-domain generalization count.
    *
    * Scale shape: three aggregations on progressively coarser keys
    * (each one shuffle of group-cardinality output) broadcast back
    * against the corpus — no windows over corpus-sized partitions, no
    * per-record state. Returns (id, tier, qi_released, group_n) with
    * group_n = the size of the group the record released under (k-1
    * max for suppressed records' diagnostic). */
  def kAnonymize(records: DataFrame, idCol: Column, qi1: Column,
      qi2: Column, qi3: Column, k: Long): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    val base = records.select(idCol.as("id"),
      qi1.cast("string").as("q1"), qi2.cast("string").as("q2"),
      qi3.cast("string").as("q3"))
    val g0 = base.groupBy(col("q1"), col("q2"), col("q3"))
      .agg(count(lit(1)).as("n0"))
    val g1 = base.groupBy(col("q1"), col("q2"))
      .agg(count(lit(1)).as("n1"))
    val g2 = base.groupBy(col("q1")).agg(count(lit(1)).as("n2"))
    base
      .join(g0, Seq("q1", "q2", "q3"))
      .join(broadcast(g1), Seq("q1", "q2"))
      .join(broadcast(g2), Seq("q1"))
      .select(col("id"),
        when(col("n0") >= k, lit(0L))
          .when(col("n1") >= k, lit(1L))
          .when(col("n2") >= k, lit(2L))
          .otherwise(lit(3L)).as("tier"),
        when(col("n0") >= k,
            concat_ws("|", col("q1"), col("q2"), col("q3")))
          .when(col("n1") >= k, concat_ws("|", col("q1"), col("q2"),
            lit("*")))
          .when(col("n2") >= k, concat_ws("|", col("q1"), lit("*"),
            lit("*")))
          .otherwise(lit("*|*|*")).as("qi_released"),
        when(col("n0") >= k, col("n0"))
          .when(col("n1") >= k, col("n1"))
          .when(col("n2") >= k, col("n2"))
          .otherwise(lit(0L)).as("group_n"))
  }

  /** l-diversity release gate (Machanavajjhala et al. 2007,
    * "l-Diversity: Privacy Beyond k-Anonymity") layered on the
    * [[kAnonymize]] generalization ladder: a k-anonymous equivalence
    * class still leaks its sensitive attribute when every member
    * shares one value, so each doc ships at the finest tier whose
    * class has BOTH ≥ k members AND ≥ l distinct sensitive values
    * (distinct-l-diversity). Same ladder, one extra count(DISTINCT)
    * per tier aggregate; the sensitive column is any label the
    * release treats as private — swap in whatever the deployment
    * protects (the [[Preference.reward]] doctrine).
    *
    * Scale shape: three shrinking aggregations (finest is bounded by
    * the corpus, coarser tiers by the QI domain), the two coarse
    * tiers broadcast back — identical to the k-anonymity plan.
    * Output: (id, tier, qi_released, group_n, group_l). */
  def lDiversityRelease(records: DataFrame, idCol: Column,
      qi1: Column, qi2: Column, qi3: Column, sens: Column,
      k: Long, l: Long): DataFrame = {
    require(k >= 2 && l >= 2, s"need k,l >= 2: k=$k l=$l")
    val base = records.select(idCol.as("id"),
      qi1.cast("string").as("q1"), qi2.cast("string").as("q2"),
      qi3.cast("string").as("q3"), sens.cast("string").as("sv"))
    val g0 = base.groupBy(col("q1"), col("q2"), col("q3"))
      .agg(count(lit(1)).as("n0"), countDistinct(col("sv")).as("l0"))
    val g1 = base.groupBy(col("q1"), col("q2"))
      .agg(count(lit(1)).as("n1"), countDistinct(col("sv")).as("l1"))
    val g2 = base.groupBy(col("q1"))
      .agg(count(lit(1)).as("n2"), countDistinct(col("sv")).as("l2"))
    val ok0 = col("n0") >= k && col("l0") >= l
    val ok1 = col("n1") >= k && col("l1") >= l
    val ok2 = col("n2") >= k && col("l2") >= l
    base
      .join(g0, Seq("q1", "q2", "q3"))
      .join(broadcast(g1), Seq("q1", "q2"))
      .join(broadcast(g2), Seq("q1"))
      .select(col("id"),
        when(ok0, lit(0L)).when(ok1, lit(1L)).when(ok2, lit(2L))
          .otherwise(lit(3L)).as("tier"),
        when(ok0, concat_ws("|", col("q1"), col("q2"), col("q3")))
          .when(ok1, concat_ws("|", col("q1"), col("q2"), lit("*")))
          .when(ok2, concat_ws("|", col("q1"), lit("*"), lit("*")))
          .otherwise(lit("*|*|*")).as("qi_released"),
        when(ok0, col("n0")).when(ok1, col("n1")).when(ok2, col("n2"))
          .otherwise(lit(0L)).as("group_n"),
        when(ok0, col("l0")).when(ok1, col("l1")).when(ok2, col("l2"))
          .otherwise(lit(0L)).as("group_l"))
  }

  /** Noise table for [[dpRelease]]: a two-sided geometric ("discrete
    * Laplace", Ghosh–Roughgarden–Sundararajan 2012) with ratio 1/2
    * (ε = ln 2 per unit sensitivity), truncated at ±8. Probabilities
    * are exact dyadic rationals — weight(k) = 2^(8−|k|) over total
    * 766 — and the inverse CDF is pre-quantized onto the u32 grid as
    * floor(cum·2³²/766) computed here in BigInt: both engines receive
    * the identical 17 integer literals (the s49 pre-quantized-constant
    * discipline), so noise draws replay bit-for-bit from the md5-u32
    * stream. Returns (noise value, EXCLUSIVE u32 upper bound)
    * ascending. */
  def dpNoiseThresholds: Seq[(Int, Long)] = {
    val weights = (-8 to 8).map(kk => kk -> (1L << (8 - math.abs(kk))))
    val total = weights.map(_._2).sum // 766
    var cum = 0L
    weights.map { case (kk, w) =>
      cum += w
      kk -> (BigInt(cum) * BigInt(4294967296L) / BigInt(total)).toLong
    }
  }

  /** Inverse-CDF lookup of [[dpNoiseThresholds]] over a u32 draw —
    * a 17-arm first-match CASE, identical semantics in both engines. */
  def dpNoise(u: Column): Column = {
    val cases = dpNoiseThresholds
    cases.init.foldLeft(Option.empty[Column]) {
      case (acc, (kk, t)) =>
        val c = acc.fold(when(u < t, lit(kk.toLong)))(
          _.when(u < t, lit(kk.toLong)))
        Some(c)
    }.get.otherwise(lit(cases.last._1.toLong))
  }

  /** Differentially-private count release over a two-column grouping:
    * true per-group counts plus a seeded discrete-Laplace draw keyed
    * by the group labels (deterministic: the release is reproducible
    * and oracle-checkable, exactly how DP releases are audited — the
    * noise stream is a PRF of the group key, per Mironov's practical
    * DP implementations). Negative noised counts clamp to 0.
    *
    * Scale shape: one aggregation to group cardinality, then per-row
    * noise arithmetic on the (tiny) release relation — the noise adds
    * ZERO distributed cost at any corpus size. Output: (g1, g2,
    * n_true, noise, released_n); a real release drops n_true — it
    * rides along here as the audit column the gate hashes. */
  def dpRelease(records: DataFrame, g1: Column, g2: Column,
      seed: Int): DataFrame =
    records
      .groupBy(g1.cast("string").as("g1"), g2.cast("string").as("g2"))
      .agg(count(lit(1)).as("n_true"))
      .withColumn("noise", dpNoise(Tables.hashU32(
        concat_ws("|", col("g1"), col("g2")), seed)))
      .withColumn("released_n",
        greatest(col("n_true") + col("noise"), lit(0L)))

}
