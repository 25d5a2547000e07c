package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query
import graft.ann.Knn
import graft.dedup.Dedup
import graft.functions.ExactMath
import graft.kg.Corpus
import graft.multimodal.BinaryOps
import graft.text.TextStats
import graft.core.Graft

/** Driver-checkable training-data-pipeline queries: dedup, text
  * analysis, similarity search, multimodal plumbing.
  */
object DataOps {

  // ---- dedup --------------------------------------------------------------

  def qdd1ExactDedup(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.exactDupGroups(Dedup.corpusWithCopies(spark, sfDir))

  def qdd2NearDupAllPairs(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.allPairsJaccard(spark, Dedup.corpusWithCopies(spark, sfDir))

  /** Benchmark decontamination over a PLANTED leak: every 13th document
    * donates words 11..60 as an "eval benchmark" item, so each eval doc
    * must collide with (at least) its source document on 13-grams. The
    * oracle rebuilds the same eval set and recomputes the shared-n-gram
    * counts relationally — ground truth, not Spark parity.
    */
  def qdc1Contamination(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = TextStats.docs(spark, sfDir).select(col("doc_id"), col("text"))
    val evalDocs = docs.filter(col("doc_id") % 13 === 0)
      .select(col("doc_id").as("eval_id"),
        array_join(slice(split(col("text"), " "), 11, 50), " ").as("text"))
    Dedup.contamination(docs, evalDocs, n = 13, minShared = 1L)
      .orderBy("train_id", "eval_id")
  }

  /** Decontamination decision table over the qdc1 leak plant: every
    * training doc with its eval-hit counts and the contaminated flag
    * (docs ≥ 13 shared 13-grams with a planted eval excerpt); clean
    * docs report zeros; see [[Dedup.decontaminate]].
    */
  def qdc2Decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = TextStats.docs(spark, sfDir).select(col("doc_id"), col("text"))
    val evalDocs = docs.filter(col("doc_id") % 13 === 0)
      .select(col("doc_id").as("eval_id"),
        array_join(slice(split(col("text"), " "), 11, 50), " ").as("text"))
    Dedup.decontaminate(docs, evalDocs, n = 13, minShared = 13L)
      .orderBy("doc_id")
  }

  def qdd3DedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = Dedup.corpusWithCopies(spark, sfDir)
    val pairs = Dedup.allPairsJaccard(spark, corpus)
    Dedup.clusters(spark, corpus, pairs)
  }

  /** MinHash-LSH near-dup detection (probabilistic candidates + exact
    * Jaccard verify). Oracle-backed: with 32×2 banding, candidate recall
    * on the fixture corpus is 1, so the verified output equals the exact
    * all-pairs baseline and DuckDB can recompute it relationally.
    * ScalaTest separately asserts recall ≥ 0.9 as the probabilistic
    * contract.
    */
  def qdd4MinhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.minhashLshPairs(spark, Dedup.corpusWithCopies(spark, sfDir))

  /** SimHash near-dup detection: banded Hamming buckets as the candidate
    * generator + exact Jaccard verify — oracle-backed the same way as
    * qdd4. The raw Hamming-threshold variant (simhashPairs) remains
    * spec-pinned.
    */
  def qdd5Simhash(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.simhashVerifiedPairs(spark, Dedup.corpusWithCopies(spark, sfDir))

  /** Content-defined chunking dedup: CDC chunks ([[graft.dedup.Dedup
    * .cdcChunks]], boundary-word rule replayed exactly by the oracle)
    * → inverted-index join on chunk hashes → doc pairs sharing ≥ 2
    * distinct chunks. The perturbed near-copies (every 17th word
    * replaced) still share every untouched chunk; the df-cap drop of
    * boilerplate chunks is part of the proven semantics.
    */
  def qdd6CdcPairs(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.cdcSharedPairs(spark, Dedup.corpusWithCopies(spark, sfDir))

  /** Near-dup removal with representative selection: per cluster keep
    * the most-token member (tie → smallest doc_id); see
    * [[graft.dedup.Dedup.keepBest]]. On the planted corpus every near/
    * exact copy ties its original on token count, so the tie-break is
    * load-bearing and the oracle proves it.
    */
  def qdd7KeepBest(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = Dedup.corpusWithCopies(spark, sfDir)
    Dedup.keepBest(corpus, Dedup.clusters(spark, corpus,
      Dedup.allPairsJaccard(spark, corpus), sorted = false))
  }

  // ---- events --------------------------------------------------------------

  /** Clickstream sessionization over the events table: 8-hour
    * inactivity timeout, per-session integer aggregates (epoch-micro
    * bounds, event counts) — see [[graft.events.Sessionize.sessions]].
    */
  def qev1Sessionize(spark: SparkSession, sfDir: String): DataFrame =
    graft.events.Sessionize.sessions(
      graft.events.Sessionize.events(spark, sfDir), gapSec = 28800L)

  /** Cohort retention over the events table — (first-active-day cohort,
    * day offset) active-user counts; see
    * [[graft.events.EventAnalytics.retention]].
    */
  def qev2Retention(spark: SparkSession, sfDir: String): DataFrame =
    graft.events.EventAnalytics.retention(
      graft.events.Sessionize.events(spark, sfDir))

  /** Ordered funnel view → click → purchase with first-touch anchors;
    * see [[graft.events.EventAnalytics.funnel]].
    */
  def qev3Funnel(spark: SparkSession, sfDir: String): DataFrame =
    graft.events.EventAnalytics.funnel(
      graft.events.Sessionize.events(spark, sfDir),
      Seq("view", "click", "purchase"))

  /** Exact p25/p50/p75 of event values per type by rank selection
    * (values are INPUT doubles, never interpolations); see
    * [[graft.events.EventAnalytics.quantiles]].
    */
  def qev4Quantiles(spark: SparkSession, sfDir: String): DataFrame =
    graft.events.EventAnalytics.quantiles(
      graft.events.Sessionize.events(spark, sfDir),
      group = "event_type", value = "value", tiebreak = "event_id",
      pcts = Seq(25, 50, 75))

  /** Last-touch attribution: each purchase joined as-of to the latest
    * view by the same user at-or-before it (union + carry-forward, not
    * a range join); see [[graft.events.EventAnalytics.asofJoin]].
    */
  def qev5Asof(spark: SparkSession, sfDir: String): DataFrame = {
    val typed = graft.events.Sessionize.events(spark, sfDir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"))
    val purchases = typed.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("us").as("purchase_us"),
        col("user_id"))
    val views = typed.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("us").as("view_us"),
        col("user_id"))
    graft.events.EventAnalytics.asofJoin(purchases, views, key = "user_id",
        leftTime = "purchase_us", rightTime = "view_us",
        leftTie = "purchase_id", rightTie = "view_id",
        rightPayload = Seq("view_id", "view_us"))
      .select(col("purchase_id"), col("user_id"), col("purchase_us"),
        col("asof_view_id").as("view_id"), col("asof_view_us").as("view_us"))
      .orderBy("purchase_id")
  }

  /** Trailing 7-day rolling distinct active users per day via the
    * interval-disjointness explode (map-side-combinable exact distinct);
    * see [[graft.events.EventAnalytics.rollingActiveUsers]].
    */
  def qev6RollingActive(spark: SparkSession, sfDir: String): DataFrame =
    graft.events.EventAnalytics.rollingActiveUsers(
      graft.events.Sessionize.events(spark, sfDir), windowDays = 7)

  /** Daily LOCF gap fill: each user's per-day last value carried
    * forward across inactive days; see
    * [[graft.events.EventAnalytics.dailyLocf]].
    */
  def qev7Locf(spark: SparkSession, sfDir: String): DataFrame =
    graft.events.EventAnalytics.dailyLocf(
      graft.events.Sessionize.events(spark, sfDir))

  /** HyperLogLog register table over doc_id — exact integer sketch
    * state, engine-reproducible; see
    * [[graft.sketch.Sketches.hllRegisters]].
    */
  def qsk1HllRegisters(spark: SparkSession, sfDir: String): DataFrame =
    graft.sketch.Sketches.hllRegisters(
      TextStats.docs(spark, sfDir).select(col("doc_id")), key = "doc_id")

  /** Distributed CMS point estimates for the 20 most frequent tokens
    * (count desc, term tiebreak) joined with their true counts — the
    * estimate ≥ truth upper-bound contract as data; see
    * [[graft.sketch.Sketches.cmsPointEstimates]].
    */
  def qsk3CmsEstimates(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = TextStats.docs(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("term"))
    val probes = toks.groupBy("term").agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("term")).limit(20)
    val counters = graft.sketch.Sketches.cmsCounters(toks, key = "term")
    graft.sketch.Sketches.cmsPointEstimates(counters, probes.select("term"),
        key = "term")
      .join(probes, "term")
      .select(col("term"), col("true_cnt"), col("cms_est"))
      .orderBy("term")
  }

  /** Weighted sample of 50 orders by total price (A-Res priorities,
    * bit-identical doubles); see
    * [[graft.sample.Sampling.weightedSample]].
    */
  def qsp6WeightedSample(spark: SparkSession, sfDir: String): DataFrame =
    graft.sample.Sampling.weightedSample(
      Graft.table(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_totalprice")),
      col("o_orderkey"), col("o_totalprice"), k = 50)
      .orderBy(col("sample_priority").desc, col("o_orderkey"))

  /** Per-event-type HLL user sketches — approximate distinct users per
    * dimension value as engine-exact register state; see
    * [[graft.sketch.Sketches.hllRegistersBy]].
    */
  def qsk8HllByType(spark: SparkSession, sfDir: String): DataFrame =
    graft.sketch.Sketches.hllRegistersBy(
      Graft.table(spark, sfDir, "events")
        .select(col("event_type"), col("user_id")),
      group = "event_type", key = "user_id")

  /** HLL audience overlap by inclusion–exclusion: distinct viewers,
    * distinct purchasers, their union sketch (register MAX), and
    * overlap = a + b − union — the cross-segment audience arithmetic
    * HLL supports WITHOUT storing pairs (intersections aren't
    * mergeable; inclusion–exclusion over union sketches is the standard
    * workaround). Raw estimator → every double engine-reproducible; see
    * [[graft.sketch.Sketches.rawEstimateCol]].
    */
  def qsk9HllOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sketch.Sketches
    val ev = Graft.table(spark, sfDir, "events")
      .select(col("event_type"), col("user_id"))
    def regs(t: String) = Sketches.hllRegisters(
      ev.filter(col("event_type") === t).select(col("user_id")), "user_id")
    def est(df: DataFrame, name: String) =
      df.agg(Sketches.rawEstimateCol(col("bucket"), col("max_rank"))
        .as(name))
    // eager checkpoint: each sketch is ≤ 256 rows but its LINEAGE ends
    // in a full events scan — est() and the merge would otherwise
    // re-execute it (4 scans per query)
    val a = regs("view").localCheckpoint(true)
    val b = regs("purchase").localCheckpoint(true)
    val u = Sketches.hllMerge(Seq(a, b))
    est(a, "est_view").crossJoin(est(b, "est_purchase"))
      .crossJoin(est(u, "est_union"))
      .withColumn("est_overlap",
        col("est_view") + col("est_purchase") - col("est_union"))
  }

  /** HLL mergeability as data: two half-corpus register tables (even /
    * odd doc_ids) merged by elementwise MAX must equal the whole-corpus
    * sketch — the distributed-combine property; see
    * [[graft.sketch.Sketches.hllMerge]]. The oracle is qsk1's
    * whole-corpus register SQL, so the merge path is proven equivalent,
    * not replayed.
    */
  def qsk6HllMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val ids = TextStats.docs(spark, sfDir).select(col("doc_id"))
    val halves = Seq(0, 1).map(r =>
      graft.sketch.Sketches.hllRegisters(
        ids.filter(col("doc_id") % 2 === r), key = "doc_id"))
    graft.sketch.Sketches.hllMerge(halves)
  }

  /** Histogram sketch (64 bins on [0, 20)) over event values — integer
    * bin counts, mergeable by sum; see
    * [[graft.sketch.Sketches.histogram]].
    */
  def qsk7Histogram(spark: SparkSession, sfDir: String): DataFrame =
    graft.sketch.Sketches.histogram(
      Graft.table(spark, sfDir, "events"),
      col("value"), lo = 0.0, hi = 20.0, bins = 64)

  /** Bloom-filter 1-bit positions for the urgent-order key set — the
    * sketch state as data, integer-exact like the HLL/CMS queries; see
    * [[graft.sketch.Sketches.bloomBits]].
    */
  def qsk4BloomBits(spark: SparkSession, sfDir: String): DataFrame =
    graft.sketch.Sketches.bloomBits(
      Graft.table(spark, sfDir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey")),
      key = "o_orderkey", numBits = 1 << 16, numHashes = 3)

  /** Bloom-pre-filtered exact semi-join: lineitem rows of urgent orders,
    * aggregated per returnflag — the output is the exact semi-join (the
    * bloom layer only prunes the shuffle input); see
    * [[graft.sketch.Sketches.bloomSemiJoin]].
    */
  def qsk5BloomSemijoin(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Graft.table(spark, sfDir, "lineitem")
    val urgent = Graft.table(spark, sfDir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    graft.sketch.Sketches
      .bloomSemiJoin(li, "l_orderkey", urgent, "o_orderkey",
        numBits = 1 << 16, numHashes = 3)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Funnel latency: per converting user, the gap between their first
    * view and first at-or-after purchase; see
    * [[graft.events.EventAnalytics.timeToConvert]].
    */
  def qev11TimeToConvert(spark: SparkSession, sfDir: String): DataFrame =
    graft.events.EventAnalytics.timeToConvert(
      graft.events.Sessionize.events(spark, sfDir), "view", "purchase")

  /** Token-budget mixture sample: en capped at 40k tokens, de at 15k,
    * es uncapped (budget above its total — keep-all edge), fr/zh absent
    * from the recipe (dropped); see
    * [[graft.sample.Sampling.tokenBudgetSample]].
    */
  def qsp8TokenBudget(spark: SparkSession, sfDir: String): DataFrame =
    graft.sample.Sampling.tokenBudgetSample(
        TextStats.docs(spark, sfDir)
          .select(col("doc_id"), col("lang"),
            TextStats.nTokensCol(col("text")).as("n_tok")),
        stratum = "lang", key = col("doc_id"), tokens = col("n_tok"),
        budgets = Map("en" -> 40000L, "de" -> 15000L, "es" -> 100000000L))
      .select(col("lang"), col("k").as("doc_id"), col("n_tokens"),
        col("cum_before"))
      .orderBy("lang", "doc_id")

  /** Deterministic per-epoch shuffled ordering (2 epochs, 256 shards):
    * the reproducible training-batch order; see
    * [[graft.sample.Sampling.epochOrder]].
    */
  def qsp7EpochOrder(spark: SparkSession, sfDir: String): DataFrame =
    graft.sample.Sampling.epochOrder(
        Graft.table(spark, sfDir, "documents")
          .select(col("doc_id").cast("long").as("doc_id")),
        col("doc_id"), epochs = 2)
      .select(col("epoch").cast("bigint").as("epoch"), col("shard"),
        col("k").as("doc_id"), col("ord").cast("bigint").as("ord"))
      .orderBy("epoch", "shard", "ord")

  /** RFM user segmentation over the events table — recency/frequency/
    * monetary with NTILE(5) quintile scores, deterministic tie-breaks;
    * see [[graft.events.EventAnalytics.rfm]].
    */
  def qev10Rfm(spark: SparkSession, sfDir: String): DataFrame =
    graft.events.EventAnalytics.rfm(
      graft.events.Sessionize.events(spark, sfDir))

  /** SCD Type-2 validity intervals from the event change log: each
    * event's value is valid until the user's next event, the last one
    * open-ended and flagged current; see
    * [[graft.events.EventAnalytics.scd2]].
    */
  def qev9Scd2(spark: SparkSession, sfDir: String): DataFrame =
    graft.events.EventAnalytics.scd2(
      graft.events.Sessionize.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("event_id"), col("value")),
      key = "user_id", tsCol = "ts", tiebreak = "event_id")
      .select(col("user_id"), col("event_id"), col("value"),
        col("valid_from_us"), col("valid_to_us"), col("is_current"))
      .orderBy("user_id", "valid_from_us", "event_id")

  /** Event-type transition counts with exact-integer-ratio
    * probabilities; see [[graft.events.EventAnalytics.transitions]].
    */
  def qev8Transitions(spark: SparkSession, sfDir: String): DataFrame =
    graft.events.EventAnalytics.transitions(
      graft.events.Sessionize.events(spark, sfDir))

  /** Deterministic 80/10/10 train/val/test assignment over doc_id;
    * see [[graft.sample.Sampling.assignSplits]].
    */
  def qsp4Splits(spark: SparkSession, sfDir: String): DataFrame =
    graft.sample.Sampling.assignSplits(
      TextStats.docs(spark, sfDir).select(col("doc_id")), key = "doc_id",
      fractions = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .orderBy("doc_id")

  /** Deterministic negative sampling over the closed-form mention pairs
    * (doc → doc_id%1000 and (7·doc_id+3)%1000): 4 hash draws per
    * positive from the 1000-entity space, accidental positives
    * anti-joined away; see [[graft.sample.Sampling.hashNegatives]].
    */
  def qsp5Negatives(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Graft.table(spark, sfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"))
    val pos = docs.select(col("doc_id"), (col("doc_id") % 1000).as("entity"))
      .unionByName(docs.select(col("doc_id"),
        ((col("doc_id") * 7 + 3) % 1000).as("entity")))
    graft.sample.Sampling.hashNegatives(pos, "doc_id", "entity", 1000L, 4)
      .orderBy("doc_id", "entity", "draw")
  }

  /** Count-Min Sketch counters (4×1024) over whitespace tokens — exact
    * integer sketch state; see [[graft.sketch.Sketches.cmsCounters]].
    */
  def qsk2CmsCounters(spark: SparkSession, sfDir: String): DataFrame =
    graft.sketch.Sketches.cmsCounters(
      TextStats.docs(spark, sfDir)
        .select(explode(split(col("text"), " ")).as("term")),
      key = "term")

  // ---- text analysis ------------------------------------------------------

  def qtx1Tokens(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.tokenCounts(TextStats.docs(spark, sfDir))

  def qtx2Quality(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.quality(TextStats.docs(spark, sfDir))

  def qtx3LangId(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.langId(TextStats.docs(spark, sfDir))

  def qtx4Fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.fingerprintMd5(TextStats.docs(spark, sfDir))

  /** Rabin rolling polynomial fingerprints — oracle-backed: the hash is
    * (h·257 + c) mod 2⁶¹−1 over UTF-16 code units, which DuckDB
    * recomputes exactly with a HUGEINT list_reduce (the corpus is BMP
    * text, where code units and codepoints coincide).
    */
  def qtx5Rabin(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.rabinFingerprints(spark, TextStats.docs(spark, sfDir))

  /** Token-window chunking (size 32, stride 24 → 8-token overlap); chunk
    * content is value-pinned via md5 so the oracle checks the exact
    * chunk text without shipping it.
    */
  def qtx6Chunks(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.chunkTokens(TextStats.docs(spark, sfDir))

  /** PII redaction over documents with deterministically planted
    * email/IP/phone strings (doc_id arithmetic, so the oracle replants
    * them exactly); counts computed pre-mask, redacted text value-pinned
    * via md5.
    */
  def qtx7Redact(spark: SparkSession, sfDir: String): DataFrame = {
    val planted = TextStats.docs(spark, sfDir).select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@mail"), col("doc_id") % 7,
        lit(".example or 10."), col("doc_id") % 256, lit(".0."),
        col("doc_id") % 100, lit(" ext 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
    TextStats.redactPii(planted)
  }

  /** Corpus-level bigram-support quality score (two-pass corpus
    * statistic: bigram document frequencies joined back per document).
    */
  def qtx8BigramSupport(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.bigramSupport(TextStats.docs(spark, sfDir))

  /** Top-3 distinctive terms per document by the integer-exact
    * tf·(10⁶ div df) score — log-free TF-IDF ranking, value-checkable.
    */
  def qtx9DistinctiveTerms(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.distinctiveTerms(TextStats.docs(spark, sfDir))

  /** Per-document repetition/boilerplate signals (top-token frequency,
    * duplicated-3-gram occupancy) — the Gopher-style spam heuristics;
    * see [[TextStats.repetitionSignals]].
    */
  def qtx11Repetition(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.repetitionSignals(TextStats.docs(spark, sfDir))

  /** Inverted-index build stats per term (posting count, document
    * frequency, order-free posting fingerprint); see
    * [[TextStats.invertedIndex]].
    */
  def qtx12Postings(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.invertedIndex(TextStats.docs(spark, sfDir))

  /** Skip-gram (window 2) positive-PMI co-occurrence pairs — the
    * word2vec training-pair matrix, engine-portable log on integer
    * products; see [[TextStats.skipgramPpmi]].
    */
  def qtx16SkipgramPpmi(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.skipgramPpmi(TextStats.docs(spark, sfDir), window = 2)

  /** Self-trained bigram-LM quality score per document (add-one
    * smoothing, engine-portable polynomial log, sorted positional
    * fold); see [[TextStats.lmScore]].
    */
  def qtx15LmScore(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.lmScore(TextStats.docs(spark, sfDir))

  /** BM25 top-20 for the fixed query {dup, spark, join} — 'dup' is the
    * discriminative term (df ≈ 5% at every scale, so its idf is positive
    * and dominates; the common terms exercise BM25's negative-idf
    * saturation regime) — bit-identical
    * doubles like qkg10 (exact-integer inputs, correctly-rounded ln,
    * sorted per-doc term fold); see [[TextStats.bm25]].
    */
  def qtx14Bm25(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.bm25(TextStats.docs(spark, sfDir),
      Seq("dup", "spark", "join"))

  /** Cross-document segment dedup (C4-style repeated-span removal) over
    * the planted-copy corpus: every segment text is kept only at its
    * first (doc_id, seg_idx) occurrence — exact copies lose every
    * segment, near copies every segment without a perturbed word; see
    * [[TextStats.segmentDedup]].
    */
  def qtx17SegmentDedup(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.segmentDedup(Dedup.corpusWithCopies(spark, sfDir))

  /** Corpus novelty over the planted-copy corpus: originals introduce
    * their grams; exact copies score 0, near copies are novel only at
    * their perturbed positions; see [[TextStats.noveltyScore]].
    */
  def qtx21Novelty(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.noveltyScore(Dedup.corpusWithCopies(spark, sfDir))

  /** Per-source corpus profile over the documents table's `source`
    * dimension; see [[TextStats.sourceProfile]].
    */
  def qtx20SourceProfile(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.sourceProfile(
      Graft.table(spark, sfDir, "documents")
        .select(col("doc_id"), col("source"), col("lang"), col("text")))

  /** Vocabulary growth curve at fixed token checkpoints under the
    * canonical (doc_id, position) global order — the Heaps'-law
    * profile; see [[TextStats.vocabGrowth]].
    */
  def qtx19VocabGrowth(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.vocabGrowth(TextStats.docs(spark, sfDir))

  /** First 3 BPE merges over the corpus vocabulary (tokenizer
    * training): most-frequent adjacent symbol pair per round
    * (lexicographic ties), greedy leftmost merge, vocabulary-size
    * trajectory; see [[TextStats.bpeMerges]].
    */
  def qtx18BpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.bpeMerges(TextStats.docs(spark, sfDir), iterations = 3)

  /** Corpus-df-driven token pruning: per-document class-wise counts
    * (keep / stop ≥ 30% df / rare df < 2) plus an md5 pin of the kept
    * text; see [[TextStats.dfPrune]].
    */
  def qtx13DfPrune(spark: SparkSession, sfDir: String): DataFrame =
    TextStats.dfPrune(TextStats.docs(spark, sfDir))

  /** URL canonicalization over planted messy URLs (case/port/utm/
    * fragment/root-slash variants by doc_id arithmetic); the oracle
    * recomputes the EXPECTED canonical form from the same arithmetic —
    * it never re-implements the normalizer, so the value check proves
    * [[TextStats.canonicalizeUrl]]'s rules, not SQL parity.
    */
  def qtx10UrlCanon(spark: SparkSession, sfDir: String): DataFrame = {
    val d = col("doc_id")
    val ds = d.cast("string")
    val scheme = when(d % 2 === 0, "HTTP").otherwise("https")
    // userinfo is case-SENSITIVE (RFC 3986 §6.2.2.1 lowers only scheme +
    // host) — planted mixed-case so the oracle proves it survives intact
    val userinfo = when(d % 11 === 0, "UsEr@").otherwise("")
    val host = concat(lit("ExAmple"), (d % 100).cast("string"), lit(".CoM"))
    val port = when(d % 3 === 0, when(d % 2 === 0, ":80").otherwise(":443"))
      .when(d % 3 === 1, ":8080").otherwise("")
    val path = when(d % 7 === 0, "").when(d % 7 === 1, "/")
      .otherwise(concat(lit("/P"), ds))
    val query = when(d % 4 === 0, concat(lit("?utm_source=x&id="), ds))
      .when(d % 4 === 1, "?utm_a=1&utm_b=2")
      .when(d % 4 === 2, concat(lit("?id="), ds))
      .otherwise("")
    val frag = when(d % 5 === 0, "#Frag").otherwise("")
    val raw = concat(scheme, lit("://"), userinfo, host, port, path, query,
      frag)
    TextStats.docs(spark, sfDir)
      .select(col("doc_id"), raw.as("raw_url"),
        TextStats.canonicalizeUrl(raw).as("url"))
      .orderBy("doc_id")
  }

  /** Deterministic Bernoulli sample (rate 0.25) by content hash — the
    * reproducible training-data subsampling primitive.
    */
  def qsp1HashSample(spark: SparkSession, sfDir: String): DataFrame =
    graft.sample.Sampling.hashSample(
      TextStats.docs(spark, sfDir).select(col("doc_id"), col("lang")),
      col("doc_id"), 0.25).orderBy("doc_id")

  /** Stratified fixed quota (20 docs per language) in content-hash order
    * — the dataset-mixing primitive (fixed per-source quotas).
    */
  def qsp2Stratified(spark: SparkSession, sfDir: String): DataFrame =
    graft.sample.Sampling.stratifiedQuota(
      TextStats.docs(spark, sfDir).select(col("doc_id"), col("lang")),
      col("lang"), col("doc_id"), 20)
      .select(col("lang"), col("doc_id"), col("sample_rank"))
      .orderBy("lang", "sample_rank")

  /** Per-stratum rate sampling (temperature mixing): en kept at 0.5,
    * de at 0.25, es at 1.0; strata not named in the mix spec (fr, und)
    * are DROPPED — allowlist semantics; see
    * [[graft.events.EventAnalytics.mixByRates]].
    */
  def qsp3MixRates(spark: SparkSession, sfDir: String): DataFrame =
    graft.sample.Sampling.mixByRates(
      TextStats.docs(spark, sfDir).select(col("doc_id"), col("lang")),
      stratum = "lang", key = "doc_id",
      rates = Map("en" -> 0.5, "de" -> 0.25, "es" -> 1.0))
      .orderBy("doc_id")

  // ---- similarity search --------------------------------------------------

  val annQueryIds: Seq[Long] = (0L until 20L)
  val annK = 5

  def qann1TopK(spark: SparkSession, sfDir: String): DataFrame =
    Knn.bruteForceTopK(spark, Knn.embeddings(spark, sfDir), annQueryIds, annK)
      .select(col("query_id"), col("rank").cast("bigint").as("rank"),
        col("neighbor_id"))

  /** Filtered vector search — top-5 restricted to the query's own
    * label (k matching neighbors, never k-then-filter); see
    * [[Knn.filteredTopK]].
    */
  def qann9FilteredTopK(spark: SparkSession, sfDir: String): DataFrame =
    Knn.filteredTopK(spark, Knn.embeddings(spark, sfDir), annQueryIds, annK)
      .select(col("query_id"), col("rank").cast("bigint").as("rank"),
        col("neighbor_id"), col("label"))

  def qann2PairsAbove(spark: SparkSession, sfDir: String): DataFrame =
    Knn.pairsAbove(spark, Knn.embeddings(spark, sfDir), 0.42)

  /** LSH-bucketed ANN — fully oracle-backed since the hyperplanes moved
    * to an integer-LCG construction expressible in ANSI SQL
    * ([[graft.ann.Knn.planeComp]]): DuckDB recomputes the planes, sign
    * sketches, bucket joins and final cosine ranking value-for-value.
    * The probabilistic recall contract vs brute force stays asserted in
    * ScalaTest.
    */
  def qann3LshTopK(spark: SparkSession, sfDir: String): DataFrame =
    Knn.lshTopK(spark, Knn.embeddings(spark, sfDir), annQueryIds, annK)
      .select(col("query_id"), col("rank").cast("bigint").as("rank"),
        col("neighbor_id"))

  /** IVF-Flat ANN with sampled centroids — fully oracle-backed: the
    * centroid sample, cell assignment, probe set, and final ranking are
    * all deterministic and recomputed value-for-value by the DuckDB
    * oracle.
    */
  def qann4IvfTopK(spark: SparkSession, sfDir: String): DataFrame =
    Knn.ivfTopK(spark, Knn.embeddings(spark, sfDir), annQueryIds, annK)
      .select(col("query_id"), col("rank").cast("bigint").as("rank"),
        col("neighbor_id"))

  /** Product-quantization codes per (vector, subspace) — deterministic
    * sampled codebooks, double-exact squared-L2 assignment; fully
    * oracle-backed like qann4; see [[Knn.pqCodes]].
    */
  def qann6PqCodes(spark: SparkSession, sfDir: String): DataFrame =
    Knn.pqCodes(spark, Knn.embeddings(spark, sfDir))
      .select(col("vec_id"), col("sub"), col("code"))
      .orderBy("vec_id", "sub")

  /** Asymmetric-distance top-k over the PQ codes — the compressed-domain
    * search pass (query uncompressed, corpus read as codes only); fully
    * oracle-backed: distance tables, code lookups and the subspace-
    * ordered fold are all replayed by the SQL; see [[Knn.adcTopK]].
    */
  def qann7AdcTopK(spark: SparkSession, sfDir: String): DataFrame =
    Knn.adcTopK(spark, Knn.embeddings(spark, sfDir), annQueryIds, annK)

  /** IVF-PQ search — cell pruning + compressed-domain ADC ranking, the
    * full production index shape; fully oracle-backed; see
    * [[Knn.ivfPqTopK]].
    */
  def qann8IvfPq(spark: SparkSession, sfDir: String): DataFrame =
    Knn.ivfPqTopK(spark, Knn.embeddings(spark, sfDir), annQueryIds, annK)

  /** Embedding-space near-dup CLUSTERS: cosine-threshold pairs (qann2's
    * exact baseline) closed into connected components — the embedding
    * analog of qdd3's shingle-based dedup clusters, giving the dedup
    * suite the same pair→cluster symmetry in both text and vector space.
    * At 100 TB the pair generator swaps to the LSH/IVF candidate paths;
    * the CC loop is the same large-star/small-star iteration either way.
    * Fully oracle-backed (pairs via list_cosine_similarity + recursive-
    * CTE min-label propagation in DuckDB).
    */
  def qann5EmbedClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Knn.embeddings(spark, sfDir)
    // unsorted intermediates: the only sort this query needs is the final
    // presentation orderBy — pair and cluster sorts would be shuffled away
    val pairs = Knn.pairsAbove(spark, emb, 0.42, sorted = false)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    Dedup.clusters(spark, emb.select(col("vec_id").as("doc_id")), pairs,
        sorted = false)
      .select(col("doc_id").as("vec_id"), col("canonical"))
      .orderBy("vec_id")
  }

  // ---- multimodal ---------------------------------------------------------

  /** Binary media metadata over opaque payload columns (stubbed decode,
    * real plumbing). The stand-in payloads are the documents table's
    * UTF-8 bytes — exactly as opaque to the decoder as image bytes, and
    * (unlike the rendered-HTML variant this replaces) byte-reproducible
    * in SQL, so the ENTIRE metadata row — length, MD5 content hash and
    * the stub's derived width/height/frames — is value-checked by a
    * DuckDB oracle. The html-payload path stays exercised in
    * DataOpsSpec's frame-sampling test.
    */
  def qmm1MediaMeta(spark: SparkSession, sfDir: String): DataFrame = {
    val media = Graft.table(spark, sfDir, "documents")
      .select(concat(lit("doc://"), col("doc_id").cast("string")).as("url"),
        encode(col("text"), "UTF-8").as("payload"))
    BinaryOps.extractMeta(spark, media).toDF()
      .orderBy("url")
  }

  /** qmm2: REAL image-header parsing — plant deterministic PNG/GIF/BMP/
    * JPEG headers (format cycles by doc_id, dims are doc_id arithmetic)
    * and recover format+dimensions through [[BinaryOps.imageDims]]'
    * byte-level parsers. Builder and parser share no code: the oracle
    * recomputes the expected dims from doc_id, so a parser that misreads
    * endianness, offsets or marker structure hash-mismatches.
    */
  def qmm2ImageDims(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ids = Graft.table(spark, sfDir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
    val media = ids.map(id => ("img://" + id, imageBytes(id)))
      .toDF("url", "payload")
    BinaryOps.imageMeta(spark, media).toDF().orderBy("url")
  }

  /** qmm3: REAL RIFF/WAV header parsing — plant deterministic WAV
    * headers (channels/rate/bits/sample-count all doc_id arithmetic;
    * every 4th doc carries an odd-sized LIST chunk before fmt to
    * exercise RIFF even-padding) and recover the audio metadata through
    * [[BinaryOps.wavMeta]]'s chunk scan. Builder and parser share no
    * code: the oracle recomputes expected fields from doc_id, so a
    * parser that misreads chunk offsets, endianness or the padding rule
    * hash-mismatches.
    */
  def qmm3WavMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ids = Graft.table(spark, sfDir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
    val media = ids.map(id => ("wav://" + id, wavBytes(id)))
      .toDF("url", "payload")
    BinaryOps.audioMeta(spark, media).toDF().orderBy("url")
  }

  /** qmm4: magic-byte dispatch over a MIXED media column — payload kind
    * cycles image/WAV/raw-text by doc_id, and [[BinaryOps.sniffMeta]]
    * must route each to the right parser; the oracle recomputes the
    * unified metadata from doc_id arithmetic per branch.
    */
  def qmm4MediaDispatch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rows = Graft.table(spark, sfDir, "documents")
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
    val media = rows.map { case (id, text) =>
      val payload = (id % 3) match {
        case 0 => imageBytes(id)
        case 1 => wavBytes(id)
        case _ => text.getBytes("UTF-8")
      }
      ("mixed://" + id, payload)
    }.toDF("url", "payload")
    BinaryOps.sniffMeta(spark, media).toDF().orderBy("url")
  }

  /** qmm5: perceptual image near-dup over REAL PNG pixel decode — the
    * image analog of SimHash dedup, completing the multimodal story
    * past header parsing: plant arithmetically generated full PNGs
    * (real zlib streams, real CRCs, all five scanline filters cycled
    * per row; ids ≡ 1 (mod 4) are near-copies of id−1 with a sparse
    * +1-gray perturbation), decode through
    * [[BinaryOps.pngPixels]] (Inflater + defilter), dHash, and find
    * pairs within hamming ≤ 6 via the banded 4×16 join. The oracle
    * recomputes every dHash from the pixel FORMULA (never the PNG
    * bytes), so a decoder that misreads any filter, the zlib framing,
    * or the luma/downsample arithmetic hash-mismatches. Output also
    * carries each side's dhash so the pair evidence is auditable.
    */
  def qmm5ImageNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ids = Graft.table(spark, sfDir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
    val media = ids.map(id => ("png://" + id, pngBytes(id)))
      .toDF("url", "payload")
    val hashes = BinaryOps.imageHashes(spark, media).toDF()
    // pair order inside imageNearDupPairs is LEXICAL on urls; re-normalize
    // numerically so ("png://10","png://9") lands as (9, 10)
    BinaryOps.imageNearDupPairs(hashes, maxHamming = 6)
      .select(
        regexp_replace(col("a_url"), "png://", "").cast("bigint").as("ai"),
        regexp_replace(col("b_url"), "png://", "").cast("bigint").as("bi"),
        col("hamming"))
      .select(least(col("ai"), col("bi")).as("a_id"),
        greatest(col("ai"), col("bi")).as("b_id"), col("hamming"))
      .orderBy("a_id", "b_id")
  }

  /** qmm6: image dedup CLUSTERS with representative selection — the
    * removal decision on top of qmm5's pair evidence, completing the
    * image-dedup story the way qdd3/qdd7 complete the text one:
    * connected components over the near-dup pair graph
    * ([[graft.dedup.Dedup.clusters]] — driver union-find under the
    * bound, iterative star contraction above it), singleton images
    * mapping to themselves, min-id representative. One row per image:
    * (doc_id, canonical, n_imgs, is_rep).
    */
  def qmm6ImageClusters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ids = Graft.table(spark, sfDir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
    val media = ids.map(id => ("png://" + id, pngBytes(id)))
      .toDF("url", "payload")
    val hashes = graft.multimodal.BinaryOps.imageHashes(spark, media).toDF()
    val pairs = graft.multimodal.BinaryOps.imageNearDupPairs(hashes, 6)
      .select(
        regexp_replace(col("a_url"), "png://", "").cast("bigint").as("ai"),
        regexp_replace(col("b_url"), "png://", "").cast("bigint").as("bi"))
      .select(least(col("ai"), col("bi")).as("doc_a"),
        greatest(col("ai"), col("bi")).as("doc_b"))
    val cl = graft.dedup.Dedup.clusters(spark, ids.toDF("doc_id"), pairs,
      sorted = false)
    val sizes = cl.groupBy("canonical").agg(count(lit(1)).as("n_imgs"))
    cl.join(sizes, "canonical")
      .select(col("doc_id"), col("canonical"), col("n_imgs"),
        when(col("doc_id") === col("canonical"), 1L).otherwise(0L)
          .as("is_rep"))
      .orderBy("doc_id")
  }

  /** Test-scaffolding full-PNG builder (the corpus side of qmm5) — the
    * engine-side decode never sees this code; the oracle recomputes
    * pixels from the same id-arithmetic independently. Gray value at
    * (x, y) is `(x·7 + y·13 + x·y·((cid%13)+1) + cid·31 + (cid/256)·7
    * (+1 on the sparse (x+y)%7==0 lattice for near-copies)) mod 256` —
    * the x·y cross term and the /256 carry decorrelate hashes across
    * cids (a purely linear formula makes distinct images differ by a
    * constant gray offset, which lands unrelated pairs at small hamming
    * distances and cycles with period 8,960 — at a 50k-image soak that
    * quadratic near-collision mass cost 7 minutes; with the cross term
    * the pair set is the planted copies plus a thin chance tail). Even
    * cids encode as color type 0 (gray), odd as type 2 (RGB with
    * R=G=B, so integer luma is the identity); scanline filter cycles
    * `y mod 5` to exercise every defilter branch.
    */
  private[graft] def pngBytes(id: Long): Array[Byte] = {
    val cid = if (id % 4 == 1) id - 1 else id
    val pert = id % 4 == 1
    val w = (24 + (cid % 5) * 3).toInt
    val h = (16 + (cid % 7) * 2).toInt
    val colorType = if (cid % 2 == 0) 0 else 2
    val bpp = if (colorType == 0) 1 else 3
    def gray(x: Int, y: Int): Int =
      (((x * 7 + y * 13 + x * y * ((cid % 13) + 1) + cid * 31 +
        (cid / 256) * 7) % 256 +
        (if (pert && (x + y) % 7 == 0) 1 else 0)) % 256).toInt
    val stride = w * bpp
    val pix = new Array[Byte](h * stride)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until bpp)
      pix(y * stride + x * bpp + c) = gray(x, y).toByte
    // forward-filter each scanline (filter = y % 5) over ORIGINAL bytes
    val raw = new Array[Byte](h * (1 + stride))
    for (y <- 0 until h) {
      val ft = y % 5
      raw(y * (1 + stride)) = ft.toByte
      for (x <- 0 until stride) {
        val cur = pix(y * stride + x) & 0xff
        val a = if (x >= bpp) pix(y * stride + x - bpp) & 0xff else 0
        val up = if (y > 0) pix((y - 1) * stride + x) & 0xff else 0
        val c = if (x >= bpp && y > 0) pix((y - 1) * stride + x - bpp) & 0xff
          else 0
        val paeth = {
          val p = a + up - c
          val pa = math.abs(p - a); val pb = math.abs(p - up)
          val pc = math.abs(p - c)
          if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
        }
        val f = ft match {
          case 0 => cur
          case 1 => cur - a
          case 2 => cur - up
          case 3 => cur - (a + up) / 2
          case 4 => cur - paeth
        }
        raw(y * (1 + stride) + 1 + x) = (f & 0xff).toByte
      }
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!defl.finished()) zbuf.write(tmp, 0, defl.deflate(tmp))
    defl.end()
    def be32(v: Int) = Array[Byte]((v >>> 24).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      val t = typ.getBytes("US-ASCII")
      crc.update(t); crc.update(data)
      be32(data.length) ++ t ++ data ++ be32(crc.getValue.toInt)
    }
    val ihdr = be32(w) ++ be32(h) ++
      Array[Byte](8, colorType.toByte, 0, 0, 0)
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", zbuf.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** Test-scaffolding WAV builder (the corpus side of qmm3) — the
    * engine-side parse never sees this code. Sample payload bytes are
    * omitted (the data chunk declares its size; header sniffing never
    * reads samples).
    */
  private[graft] def wavBytes(id: Long): Array[Byte] = {
    val ch = (1 + id % 2).toInt
    val rate = (8000 * (1 + id % 5)).toInt
    val bits = (8 * (1 + id % 3)).toInt
    val n = (100 + id % 900).toInt
    val align = ch * bits / 8
    val byteRate = rate * align
    val dataSize = n * align
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >>> 24) & 0xff).toByte)
    // odd-sized junk chunk (5 bytes + 1 pad) — the parser must hop the pad
    val junk = if (id % 4 == 0)
      "LIST".getBytes("US-ASCII") ++ le32(5) ++ Array[Byte](1, 2, 3, 4, 5, 0)
    else Array.emptyByteArray
    val fmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++
      le16(ch) ++ le32(rate) ++ le32(byteRate) ++ le16(align) ++ le16(bits)
    val dataHdr = "data".getBytes("US-ASCII") ++ le32(dataSize)
    val riffSize = 4 + junk.length + fmt.length + dataHdr.length + dataSize
    "RIFF".getBytes("US-ASCII") ++ le32(riffSize) ++
      "WAVE".getBytes("US-ASCII") ++ junk ++ fmt ++ dataHdr
  }

  /** Test-scaffolding image builder (the corpus side of qmm2) — the
    * engine-side parse never sees this code. BMP ids ≡ 2 (mod 8) store a
    * NEGATIVE height (top-down row order) which the parser must abs.
    */
  private[graft] def imageBytes(id: Long): Array[Byte] = {
    val w = (100 + id % 900).toInt
    val h = (50 + id % 500).toInt
    def be16(v: Int) = Array[Byte](((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be32(v: Int) = Array[Byte]((v >>> 24).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >>> 24) & 0xff).toByte)
    (id % 4) match {
      case 0 => // PNG: signature + IHDR(w BE32, h BE32) + fake CRC
        Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
          be32(13) ++ "IHDR".getBytes("US-ASCII") ++ be32(w) ++ be32(h) ++
          Array[Byte](8, 2, 0, 0, 0) ++ be32(0)
      case 1 => // GIF89a logical screen descriptor (LE16)
        "GIF89a".getBytes("US-ASCII") ++ le16(w) ++ le16(h) ++
          Array[Byte](0, 0, 0)
      case 2 => // BMP with BITMAPINFOHEADER (int32 LE dims)
        val storedH = if (id % 8 == 2) -h else h
        "BM".getBytes("US-ASCII") ++ le32(58) ++ le32(0) ++ le32(54) ++
          le32(40) ++ le32(w) ++ le32(storedH) ++ le16(1) ++ le16(24) ++ le32(0)
      case _ => // JPEG: SOI + APP0(JFIF) + SOF0(h BE16, w BE16) + EOI
        Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte) ++
          be16(16) ++ "JFIF".getBytes("US-ASCII") ++
          Array[Byte](0, 1, 1, 0) ++ be16(1) ++ be16(1) ++ Array[Byte](0, 0) ++
          Array[Byte](0xff.toByte, 0xc0.toByte) ++ be16(17) ++ Array[Byte](8) ++
          be16(h) ++ be16(w) ++
          Array[Byte](3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1) ++
          Array[Byte](0xff.toByte, 0xd9.toByte)
    }
  }

  /** The training-data pipeline queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    // Dedup oracles rebuild the copy corpus and recompute pair ground
    // truth relationally (integer Jaccard threshold — no floating point).
    // qdc1: decontamination ground truth — rebuild the planted eval set
    // (words 11..60 of every 13th doc) and recompute shared-13-gram
    // counts relationally; both engines shingle distinct per doc, so the
    // join-row count IS the distinct shared-n-gram count
    Query("qdc1_contamination", qdc1Contamination,
      """WITH tw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |ev AS (SELECT doc_id AS eval_id, ws[11:60] AS ws FROM tw
        |       WHERE doc_id % 13 = 0),
        |tsh AS (SELECT DISTINCT doc_id,
        |    array_to_string(ws[r.i+1:r.i+13], ' ') AS g
        |  FROM tw JOIN range(0, 100000) r(i) ON r.i <= len(ws) - 13),
        |esh AS (SELECT DISTINCT eval_id,
        |    array_to_string(ws[r.i+1:r.i+13], ' ') AS g
        |  FROM ev JOIN range(0, 100000) r(i) ON r.i <= len(ws) - 13)
        |SELECT t.doc_id AS train_id, e.eval_id, COUNT(*) AS shared_ngrams
        |FROM tsh t JOIN esh e ON e.g = t.g
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // qdc2: the decontamination DECISION table — qdc1's collision
    // machinery at minShared=13, aggregated per train doc, left-joined
    // so clean docs report zeros
    Query("qdc2_decontaminate", qdc2Decontaminate,
      """WITH tw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |ev AS (SELECT doc_id AS eval_id, ws[11:60] AS ws FROM tw
        |       WHERE doc_id % 13 = 0),
        |tsh AS (SELECT DISTINCT doc_id,
        |    array_to_string(ws[r.i+1:r.i+13], ' ') AS g
        |  FROM tw JOIN range(0, 100000) r(i) ON r.i <= len(ws) - 13),
        |esh AS (SELECT DISTINCT eval_id,
        |    array_to_string(ws[r.i+1:r.i+13], ' ') AS g
        |  FROM ev JOIN range(0, 100000) r(i) ON r.i <= len(ws) - 13),
        |pr AS (SELECT t.doc_id, e.eval_id, COUNT(*) AS n
        |       FROM tsh t JOIN esh e ON e.g = t.g
        |       GROUP BY 1, 2 HAVING COUNT(*) >= 13),
        |h AS (SELECT doc_id, COUNT(DISTINCT eval_id) AS n_eval_hits,
        |        MAX(n) AS max_shared
        |      FROM pr GROUP BY 1)
        |SELECT d.doc_id, h.doc_id IS NOT NULL AS contaminated,
        |  CAST(COALESCE(h.n_eval_hits, 0) AS BIGINT) AS n_eval_hits,
        |  CAST(COALESCE(h.max_shared, 0) AS BIGINT) AS max_shared
        |FROM documents d LEFT JOIN h USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    Query("qdd1_exact_dedup", qdd1ExactDedup,
      s"""$dedupCorpusCte
         |SELECT md5(text) AS text_hash, COUNT(*) AS n_docs,
         | MIN(doc_id) AS canonical
         |FROM corpus GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY text_hash""".stripMargin),
    Query("qdd2_neardup_allpairs", qdd2NearDupAllPairs,
      s"""$dedupCorpusCte, $dedupPairsCte
         |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin),
    Query("qdd3_dedup_clusters", qdd3DedupClusters,
      s"""$dedupCorpusCte, $dedupPairsCte,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |lbl(n, l) AS (
         |  SELECT doc_id, doc_id FROM corpus
         |  UNION
         |  SELECT e.v, lbl.l FROM lbl JOIN edges e ON e.u = lbl.n)
         |SELECT n AS doc_id, MIN(l) AS canonical FROM lbl
         |GROUP BY n ORDER BY doc_id""".stripMargin),
    // qdd7: per-cluster representative — most tokens, tie -> min doc_id
    Query("qdd7_keep_best", qdd7KeepBest,
      s"""$dedupCorpusCte, $dedupPairsCte,
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |lbl(n, l) AS (
         |  SELECT doc_id, doc_id FROM corpus
         |  UNION
         |  SELECT e.v, lbl.l FROM lbl JOIN edges e ON e.u = lbl.n),
         |cl AS (SELECT n AS doc_id, MIN(l) AS canonical FROM lbl GROUP BY n),
         |tk AS (SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |       FROM corpus),
         |best AS (
         |  SELECT cl.canonical, cl.doc_id AS kept_doc, tk.n_tokens AS kept_tokens,
         |   ROW_NUMBER() OVER (PARTITION BY cl.canonical
         |     ORDER BY tk.n_tokens DESC, cl.doc_id) AS rn,
         |   COUNT(*) OVER (PARTITION BY cl.canonical) AS n_docs
         |  FROM cl JOIN tk ON tk.doc_id = cl.doc_id)
         |SELECT canonical, kept_doc, kept_tokens, n_docs FROM best
         |WHERE rn = 1 ORDER BY canonical""".stripMargin),
    // qsp5: hash negatives replayed with the same md5 draw arithmetic,
    // accidental positives excluded exactly
    Query("qsp5_negatives", qsp5Negatives,
      """WITH d AS (SELECT doc_id FROM documents),
        |pos AS (SELECT doc_id, doc_id % 1000 AS entity FROM d
        |        UNION ALL
        |        SELECT doc_id, (doc_id * 7 + 3) % 1000 FROM d),
        |j AS (SELECT unnest(generate_series(0, 3)) AS draw),
        |draws AS (
        | SELECT doc_id, entity, CAST(draw AS BIGINT) AS draw,
        |  CAST(concat('0x', substring(md5(concat(CAST(draw AS VARCHAR), ':',
        |    CAST(doc_id AS VARCHAR), ':', CAST(entity AS VARCHAR))),
        |    1, 8)) AS BIGINT) % 1000 AS negative
        | FROM pos CROSS JOIN j)
        |SELECT doc_id, entity, draw, negative FROM draws dr
        |WHERE NOT EXISTS (SELECT 1 FROM pos p
        |                  WHERE p.doc_id = dr.doc_id AND p.entity = dr.negative)
        |ORDER BY doc_id, entity, draw""".stripMargin),
    Query("qdd4_minhash_lsh", qdd4MinhashLsh,
      s"""$dedupCorpusCte, $dedupPairsCte
         |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin),
    Query("qdd5_simhash", qdd5Simhash,
      s"""$dedupCorpusCte, $dedupPairsCte
         |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin),
    // qdd6: CDC chunk dedup — the oracle rebuilds the copy corpus,
    // replays the boundary-word rule (fold (h*31+c) % 1000003 over the
    // word's code units, boundary when h % 8 = 0), re-chunks via a
    // prefix-sum window, and recomputes the df-capped shared-chunk pairs
    Query("qdd6_cdc_pairs", qdd6CdcPairs,
      s"""$dedupCorpusCte,
         |w AS (SELECT doc_id, r.i AS pos, ws[r.i + 1] AS w
         |      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus) c
         |      JOIN range(0, 100000) r(i) ON r.i < len(ws)),
         |h AS (SELECT doc_id, pos, w,
         |        list_reduce(list_prepend(CAST(0 AS BIGINT),
         |          list_transform(string_split(w, ''),
         |            ch -> CAST(unicode(ch) AS BIGINT))),
         |          (hh, c2) -> (hh * 31 + c2) % 1000003) AS hw
         |      FROM w),
         |ci AS (SELECT doc_id, pos, w,
         |        COALESCE(SUM(CASE WHEN hw % 8 = 0 THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY doc_id ORDER BY pos
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |          0) AS chunk_idx
         |       FROM h),
         |ch AS (SELECT DISTINCT doc_id,
         |        md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_hash
         |       FROM ci GROUP BY doc_id, chunk_idx),
         |df_ AS (SELECT chunk_hash, COUNT(*) AS df FROM ch GROUP BY 1),
         |kept AS (SELECT ch.doc_id, ch.chunk_hash FROM ch
         |         JOIN df_ USING (chunk_hash) WHERE df <= 64)
         |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |  COUNT(*) AS shared_chunks
         |FROM kept a JOIN kept b2
         |  ON a.chunk_hash = b2.chunk_hash AND a.doc_id < b2.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY doc_a, doc_b""".stripMargin),
    // qev1: sessionization — 8 h inactivity timeout, per-user (ts,
    // event_id) order, all epoch-microsecond integers
    Query("qev1_sessionize", qev1Sessionize,
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT user_id, us, event_id,
        |  CASE WHEN lag(us) OVER w IS NULL
        |         OR us - lag(us) OVER w > 28800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT user_id, us,
        |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    - 1 AS session_idx
        |  FROM g)
        |SELECT user_id, session_idx, COUNT(*) AS n_events,
        | MIN(us) AS start_us, MAX(us) AS end_us
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin),
    // qev2: cohort retention — integer day arithmetic (epoch_us div
    // one day), distinct activity, per-user min cohort
    Query("qev2_retention", qev2Retention,
      """WITH a AS (SELECT DISTINCT user_id,
        |  CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM a GROUP BY 1)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        | COUNT(DISTINCT a.user_id) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin),
    // qev3: ordered funnel with first-touch anchors — each step's
    // anchor is the min event time STRICTLY after the previous anchor
    Query("qev3_funnel", qev3Funnel,
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (SELECT user_id, MIN(us) AS a1 FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(us) AS a2 FROM e
        |       JOIN s1 ON s1.user_id = e.user_id AND e.us > s1.a1
        |       WHERE event_type = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(us) AS a3 FROM e
        |       JOIN s2 ON s2.user_id = e.user_id AND e.us > s2.a2
        |       WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT * FROM (
        | SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
        |  (SELECT COUNT(*) FROM s1) AS n_users
        | UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
        | UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)) t
        |ORDER BY step""".stripMargin),
    // qev4: exact rank-selected quantiles — target rank by integer ceil
    // division, values are INPUT doubles so they compare bit-for-bit
    Query("qev4_quantiles", qev4Quantiles,
      """WITH r AS (SELECT event_type, value, ROW_NUMBER() OVER (
        |    PARTITION BY event_type ORDER BY value, event_id) AS rn
        |  FROM events),
        |c AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
        |w AS (SELECT event_type, n,
        |   unnest([CAST(25 AS BIGINT), CAST(50 AS BIGINT),
        |           CAST(75 AS BIGINT)]) AS pct FROM c),
        |t AS (SELECT event_type, pct, (pct * n + 99) // 100 AS target_rn FROM w)
        |SELECT t.event_type, t.pct, r.value
        |FROM t JOIN r ON r.event_type = t.event_type AND r.rn = t.target_rn
        |ORDER BY t.event_type, t.pct""".stripMargin),
    // qev5: as-of join (last-touch attribution) — latest view ≤ each
    // purchase; the oracle states the tiebreak (max view_id at equal
    // times) the engine's union+carry-forward resolves to
    Query("qev5_asof", qev5Asof,
      """WITH e AS (SELECT event_id, epoch_us(ts) AS us, user_id, event_type
        |           FROM events),
        |p AS (SELECT event_id AS purchase_id, us AS purchase_us, user_id
        |      FROM e WHERE event_type = 'purchase')
        |SELECT purchase_id, user_id, purchase_us, view_id, view_us FROM (
        | SELECT p.purchase_id, p.user_id, p.purchase_us,
        |  v.event_id AS view_id, v.us AS view_us,
        |  ROW_NUMBER() OVER (PARTITION BY p.purchase_id
        |   ORDER BY v.us DESC, v.event_id DESC) AS rn
        | FROM p JOIN e v ON v.user_id = p.user_id
        |  AND v.event_type = 'view' AND v.us <= p.purchase_us) t
        |WHERE rn = 1 ORDER BY purchase_id""".stripMargin),
    // qev6: trailing 7-day rolling distinct active users — the oracle
    // states it the declarative way (day × activity range join +
    // COUNT DISTINCT); the engine's disjoint-interval explode must
    // agree exactly
    Query("qev6_rolling_active", qev6RollingActive,
      """WITH a AS (SELECT DISTINCT user_id,
        |  CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
        |d AS (SELECT unnest(generate_series((SELECT MIN(day) FROM a),
        |  (SELECT MAX(day) FROM a) + 6)) AS day)
        |SELECT d.day, COUNT(DISTINCT a.user_id) AS n_users
        |FROM d JOIN a ON a.day BETWEEN d.day - 6 AND d.day
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // qev7: daily LOCF gap fill — the oracle states it declaratively:
    // per-(user,day) last value by (us, event_id) rank, a generated
    // per-user day grid, and LAST_VALUE IGNORE NULLS — the engine's
    // argmax-struct + disjoint-interval explode must agree row-for-row
    Query("qev7_locf", qev7Locf,
      """WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |  CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
        |d AS (SELECT user_id, day, value FROM (
        |  SELECT user_id, day, value, ROW_NUMBER() OVER (
        |    PARTITION BY user_id, day ORDER BY us DESC, event_id DESC) AS rn
        |  FROM e) t WHERE rn = 1),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS day
        |  FROM (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi
        |        FROM d GROUP BY 1) s)
        |SELECT g.user_id, g.day,
        | LAST_VALUE(d.value IGNORE NULLS) OVER (
        |  PARTITION BY g.user_id ORDER BY g.day) AS value
        |FROM grid g LEFT JOIN d ON d.user_id = g.user_id AND d.day = g.day
        |ORDER BY 1, 2""".stripMargin),
    // qev8: consecutive-event transition counts per user (time order,
    // event_id tiebreak); prob is one double division of exact integers
    // qev11: time-to-convert — two conditional MINs per user, integer gap
    Query("qev11_time_to_convert", qev11TimeToConvert,
      """SELECT user_id, first_from_us, first_to_us,
        | first_to_us - first_from_us AS ttc_us
        |FROM (SELECT user_id,
        |       MIN(CASE WHEN event_type = 'view'
        |           THEN epoch_us(ts) END) AS first_from_us,
        |       MIN(CASE WHEN event_type = 'purchase'
        |           THEN epoch_us(ts) END) AS first_to_us
        |      FROM events GROUP BY 1) t
        |WHERE first_from_us IS NOT NULL AND first_to_us >= first_from_us
        |ORDER BY user_id""".stripMargin),
    // qsp8: token-budget mixture — the two-level prefix sum equals a
    // naive per-stratum running total under the (shard, h, key) order,
    // which is what the oracle states; boundary doc included
    Query("qsp8_token_budget", qsp8TokenBudget,
      """WITH d AS (SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |    md5(lang || ':' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |b(lang, budget) AS (VALUES ('en', 40000), ('de', 15000),
        |                           ('es', 100000000)),
        |s AS (SELECT d.*, b.budget,
        |    CAST(concat('0x', substring(h, 1, 2)) AS BIGINT) AS shard
        |  FROM d JOIN b USING (lang)),
        |c AS (SELECT *, CAST(COALESCE(SUM(n) OVER (PARTITION BY lang
        |    ORDER BY shard, h, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) AS BIGINT) AS cum_before FROM s)
        |SELECT lang, doc_id, n AS n_tokens, cum_before
        |FROM c WHERE cum_before < budget
        |ORDER BY lang, doc_id""".stripMargin),
    // qsp7: per-epoch shuffled order — shard = first md5 byte, rank
    // within (epoch, shard) by (hash, key)
    Query("qsp7_epoch_order", qsp7EpochOrder,
      """WITH e AS (SELECT CAST(ep.epoch AS BIGINT) AS epoch, d.doc_id,
        |    md5(CAST(ep.epoch AS VARCHAR) || ':'
        |      || CAST(d.doc_id AS VARCHAR)) AS h
        |  FROM documents d CROSS JOIN
        |   (SELECT unnest(generate_series(0, 1)) AS epoch) ep),
        |s AS (SELECT epoch, doc_id, h,
        |    CAST(concat('0x', substring(h, 1, 2)) AS BIGINT) AS shard
        |  FROM e)
        |SELECT epoch, shard, doc_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard
        |    ORDER BY h, doc_id) AS BIGINT) AS ord
        |FROM s ORDER BY epoch, shard, ord""".stripMargin),
    // qev10: RFM quintiles — decimal-exact monetary, integer recency,
    // NTILE(5) with user_id tie-breaks (the SQL-standard split both
    // engines implement)
    Query("qev10_rfm", qev10Rfm,
      """WITH mx AS (SELECT MAX(epoch_us(ts)) AS m FROM events),
        |u AS (SELECT user_id,
        |        CAST((mx.m - MAX(epoch_us(ts))) // 86400000000 AS BIGINT)
        |          AS recency_days,
        |        COUNT(*) AS frequency,
        |        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS monetary
        |      FROM events, mx GROUP BY user_id, mx.m)
        |SELECT user_id, recency_days, frequency, monetary,
        | CAST(NTILE(5) OVER (ORDER BY recency_days, user_id) AS BIGINT)
        |   AS r_score,
        | CAST(NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS BIGINT)
        |   AS f_score,
        | CAST(NTILE(5) OVER (ORDER BY monetary DESC, user_id) AS BIGINT)
        |   AS m_score
        |FROM u ORDER BY user_id""".stripMargin),
    // qsk9: HLL audience overlap — per-segment registers, union by MAX,
    // raw estimates (bucket-ordered folds), inclusion–exclusion
    Query("qsk9_hll_overlap", qsk9HllOverlap,
      """WITH vp AS (SELECT event_type AS tag,
        |        md5(CAST(user_id AS VARCHAR)) AS h
        |      FROM events WHERE event_type IN ('view', 'purchase')),
        |p AS (SELECT tag,
        |       CAST(concat('0x', substring(h, 1, 2)) AS BIGINT) AS bucket,
        |       ltrim(substring(h, 3, 15), '0') AS t FROM vp),
        |rk AS (SELECT tag, bucket,
        |        MAX(CAST(60 - length(t) * 4 +
        |         CASE substring(t, 1, 1)
        |          WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
        |          WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
        |          WHEN '7' THEN 1 ELSE 0 END + 1 AS BIGINT)) AS r
        |       FROM p GROUP BY 1, 2),
        |un AS (SELECT 'union' AS tag, bucket, MAX(r) AS r FROM rk
        |       GROUP BY bucket),
        |allr AS (SELECT * FROM rk UNION ALL SELECT * FROM un),
        |est AS (SELECT tag,
        |        (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
        |           + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)))
        |         * CAST(65536.0 AS DOUBLE)
        |         / ((CAST(256.0 AS DOUBLE) - CAST(COUNT(*) AS DOUBLE))
        |            + list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |                list_transform(list_sort(list({'b': bucket, 'r': r})),
        |                  x -> power(CAST(2.0 AS DOUBLE),
        |                    -CAST(x.r AS DOUBLE)))),
        |                (a, b) -> a + b)) AS est
        |        FROM allr GROUP BY tag),
        |sel AS (SELECT
        |    MAX(CASE WHEN tag = 'view' THEN est END) AS est_view,
        |    MAX(CASE WHEN tag = 'purchase' THEN est END) AS est_purchase,
        |    MAX(CASE WHEN tag = 'union' THEN est END) AS est_union
        |  FROM est)
        |SELECT est_view, est_purchase, est_union,
        | est_view + est_purchase - est_union AS est_overlap
        |FROM sel""".stripMargin),
    // qsk8: per-group HLL registers — qsk1's arithmetic with the
    // event_type dimension prefixed
    Query("qsk8_hll_by_type", qsk8HllByType,
      """WITH p AS (SELECT event_type,
        |  CAST(concat('0x', substring(h, 1, 2)) AS BIGINT) AS bucket,
        |  ltrim(substring(h, 3, 15), '0') AS t
        | FROM (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h
        |       FROM events) q)
        |SELECT event_type, bucket,
        | MAX(CAST(60 - length(t) * 4 +
        |  CASE substring(t, 1, 1)
        |   WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
        |   WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
        |   WHEN '7' THEN 1 ELSE 0 END + 1 AS BIGINT)) AS max_rank,
        | COUNT(*) AS n_keys
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // qev9: SCD-2 validity intervals — LEAD over (us, event_id); value
    // doubles pass through unchanged so they bit-match
    Query("qev9_scd2", qev9Scd2,
      """SELECT user_id, event_id, value, valid_from_us,
        | valid_to_us, valid_to_us IS NULL AS is_current
        |FROM (
        | SELECT user_id, event_id, value, epoch_us(ts) AS valid_from_us,
        |  LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS valid_to_us
        | FROM events) t
        |ORDER BY user_id, valid_from_us, event_id""".stripMargin),
    Query("qev8_transitions", qev8Transitions,
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
        |           FROM events),
        |p AS (SELECT event_type AS from_type, LEAD(event_type) OVER (
        |        PARTITION BY user_id ORDER BY us, event_id) AS to_type FROM e),
        |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM p
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS from_total
        |      FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n, t.from_total,
        | CAST(c.n AS DOUBLE) / CAST(t.from_total AS DOUBLE) AS prob
        |FROM c JOIN t USING (from_type) ORDER BY 1, 2""".stripMargin),
    // qsp4: cumulative md5 thresholds — floor-rounded 0.8/0.9 of 2^32
    // as hex (cccccccd / e6666666); the last split is the unconditional
    // remainder so every key is assigned
    Query("qsp4_splits", qsp4Splits,
      """SELECT doc_id,
        | CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccd'
        |       THEN 'train'
        |      WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
        |       THEN 'val'
        |      ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),
    // qsk2: Count-Min counters — 4 rows x 1024 columns, counter =
    // md5('r:term') first 32 bits mod width; zero counters not emitted
    Query("qsk2_cms_counters", qsk2CmsCounters,
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |x AS (SELECT r.r, CAST(concat('0x', substring(md5(concat(
        |        CAST(r.r AS VARCHAR), ':', term)), 1, 8)) AS BIGINT) % 1024 AS c
        |      FROM tok CROSS JOIN
        |       (SELECT unnest(generate_series(0, 3)) AS r) r)
        |SELECT r, c, COUNT(*) AS cnt FROM x GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),
    // qsp6: A-Res priorities replayed with the ENGINE-PORTABLE
    // polynomial ln (ExactMath — libm ln differs across engines in the
    // last bit); ln u = lnOfInt(h+1) − 32·ln2, staged CTE intermediates
    Query("qsp6_weighted_sample", qsp6WeightedSample,
      s"""WITH h AS (SELECT o_orderkey, o_totalprice,
         |  CAST(concat('0x', substring(md5(CAST(o_orderkey AS VARCHAR)),
         |    1, 8)) AS BIGINT) + 1 AS n
         | FROM orders WHERE o_totalprice > CAST(0.0 AS DOUBLE)),
         |b AS (SELECT *, ${ExactMath.blSql("n")} AS bl FROM h),
         |c AS (SELECT *, ${ExactMath.mSql("n", "bl")} AS mm FROM b),
         |d AS (SELECT *, ${ExactMath.zSql("mm")} AS z FROM c),
         |e AS (SELECT *, z * z AS z2 FROM d),
         |f AS (SELECT *, ${ExactMath.lnFromPartsSql()} AS lnn FROM e)
         |SELECT o_orderkey, o_totalprice,
         | (lnn - CAST(32.0 AS DOUBLE) * CAST(${ExactMath.Ln2} AS DOUBLE))
         |   / o_totalprice AS sample_priority
         |FROM f ORDER BY sample_priority DESC, o_orderkey LIMIT 50""".stripMargin),
    // qsk7: histogram bins replayed — same float association, edge
    // clamping included
    Query("qsk7_histogram", qsk7Histogram,
      """SELECT GREATEST(0, LEAST(63,
        |  CAST(floor((value - CAST(0.0 AS DOUBLE))
        |    / (CAST(20.0 AS DOUBLE) - CAST(0.0 AS DOUBLE)) * 64) AS BIGINT)))
        |  AS bin, COUNT(*) AS cnt
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // qsk6: merged half-sketches must equal the whole-corpus registers
    // (same SQL as qsk1 — equivalence proven, not replayed)
    Query("qsk6_hll_merge", qsk6HllMerge,
      """WITH p AS (SELECT
        |  CAST(concat('0x', substring(h, 1, 2)) AS BIGINT) AS bucket,
        |  ltrim(substring(h, 3, 15), '0') AS t
        | FROM (SELECT md5(CAST(doc_id AS VARCHAR)) AS h FROM documents) q)
        |SELECT bucket,
        | MAX(CAST(60 - length(t) * 4 +
        |  CASE substring(t, 1, 1)
        |   WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
        |   WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
        |   WHEN '7' THEN 1 ELSE 0 END + 1 AS BIGINT)) AS max_rank,
        | COUNT(*) AS n_keys
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),
    // qsk4: bloom 1-bits replayed with the same md5 position hash
    Query("qsk4_bloom_bits", qsk4BloomBits,
      """WITH k AS (SELECT o_orderkey FROM orders
        |           WHERE o_orderpriority = '1-URGENT'),
        |x AS (SELECT CAST(concat('0x', substring(md5(concat(
        |        CAST(j.j AS VARCHAR), ':', CAST(o_orderkey AS VARCHAR))),
        |        1, 8)) AS BIGINT) % 65536 AS pos
        |      FROM k CROSS JOIN
        |       (SELECT unnest(generate_series(0, 2)) AS j) j)
        |SELECT DISTINCT pos FROM x ORDER BY pos""".stripMargin),
    // qsk5: the bloom layer is transparent — the oracle is the plain
    // exact semi-join aggregate
    Query("qsk5_bloom_semijoin", qsk5BloomSemijoin,
      """SELECT l_returnflag, COUNT(*) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // qsk3: CMS point estimates for the top-20 tokens — probe cells via
    // the same md5 hash as the counter build, MIN over depth, join truth
    Query("qsk3_cms_estimates", qsk3CmsEstimates,
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |truth AS (SELECT term, COUNT(*) AS true_cnt FROM tok GROUP BY 1),
        |probes AS (SELECT term, true_cnt FROM truth
        |           ORDER BY true_cnt DESC, term LIMIT 20),
        |rr AS (SELECT unnest(generate_series(0, 3)) AS r),
        |x AS (SELECT rr.r, CAST(concat('0x', substring(md5(concat(
        |        CAST(rr.r AS VARCHAR), ':', term)), 1, 8)) AS BIGINT) % 1024 AS c
        |      FROM tok CROSS JOIN rr),
        |counters AS (SELECT r, c, COUNT(*) AS cnt FROM x GROUP BY 1, 2),
        |pc AS (SELECT p.term, p.true_cnt, rr.r,
        |        CAST(concat('0x', substring(md5(concat(
        |          CAST(rr.r AS VARCHAR), ':', p.term)), 1, 8)) AS BIGINT) % 1024 AS c
        |       FROM probes p CROSS JOIN rr)
        |SELECT pc.term, pc.true_cnt,
        |  MIN(COALESCE(ct.cnt, CAST(0 AS BIGINT))) AS cms_est
        |FROM pc LEFT JOIN counters ct USING (r, c)
        |GROUP BY 1, 2 ORDER BY term""".stripMargin),
    Query("qtx1_tokens", qtx1Tokens,
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("qtx2_quality", qtx2Quality,
      """SELECT doc_id,
        | CAST(len(list_filter(string_split(text, ' '),
        |   w -> w IN ('the','a','an','and','of','to','in'))) AS BIGINT) AS n_stopwords,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(len(list_filter(string_split(text, ' '),
        |   w -> w IN ('the','a','an','and','of','to','in'))) AS DOUBLE)
        |   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
        | CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_token_len
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("qtx3_langid", qtx3LangId,
      """WITH s AS (
        | SELECT doc_id, lang,
        |  CAST((length(' '||text||' ') - length(replace(' '||text||' ',' the ','')))/5
        |   + (length(' '||text||' ') - length(replace(' '||text||' ',' and ','')))/5
        |   + (length(' '||text||' ') - length(replace(' '||text||' ',' of ','')))/4 AS BIGINT) AS s_en,
        |  CAST((length(' '||text||' ') - length(replace(' '||text||' ',' der ','')))/5
        |   + (length(' '||text||' ') - length(replace(' '||text||' ',' und ','')))/5
        |   + (length(' '||text||' ') - length(replace(' '||text||' ',' das ','')))/5 AS BIGINT) AS s_de,
        |  CAST((length(' '||text||' ') - length(replace(' '||text||' ',' el ','')))/4
        |   + (length(' '||text||' ') - length(replace(' '||text||' ',' los ','')))/5
        |   + (length(' '||text||' ') - length(replace(' '||text||' ',' una ','')))/5 AS BIGINT) AS s_es,
        |  CAST((length(' '||text||' ') - length(replace(' '||text||' ',' le ','')))/4
        |   + (length(' '||text||' ') - length(replace(' '||text||' ',' les ','')))/5
        |   + (length(' '||text||' ') - length(replace(' '||text||' ',' une ','')))/5 AS BIGINT) AS s_fr
        | FROM documents)
        |SELECT doc_id, lang,
        | CASE WHEN GREATEST(s_en,s_de,s_es,s_fr) = 0 THEN 'und'
        |      WHEN s_en = GREATEST(s_en,s_de,s_es,s_fr) THEN 'en'
        |      WHEN s_de = GREATEST(s_en,s_de,s_es,s_fr) THEN 'de'
        |      WHEN s_es = GREATEST(s_en,s_de,s_es,s_fr) THEN 'es'
        |      ELSE 'fr' END AS pred_lang,
        | s_en
        |FROM s ORDER BY doc_id""".stripMargin),
    Query("qtx4_fingerprint", qtx4Fingerprint,
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("qtx5_rabin", qtx5Rabin,
      """SELECT doc_id, CAST(list_reduce(
        |  list_prepend(CAST(0 AS HUGEINT),
        |    list_transform(string_split(text, ''), c -> CAST(unicode(c) AS HUGEINT))),
        |  (h, c) -> (h * 257 + c) % 2305843009213693951
        |) AS BIGINT) AS rabin_fp
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("qtx6_chunks", qtx6Chunks,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |s AS (SELECT doc_id, ws, len(ws) AS n FROM t),
        |c AS (SELECT doc_id, r.i AS st, n, ws FROM s
        |      JOIN range(0, 100000) r(i) ON r.i < n AND r.i % 24 = 0)
        |SELECT doc_id, CAST(st // 24 AS BIGINT) AS chunk_idx,
        | CAST(LEAST(32, n - st) AS BIGINT) AS n_chunk_tokens,
        | md5(array_to_string(list_slice(ws, st + 1, st + 32), ' ')) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),
    // qtx7: DuckDB regexp_replace needs the 'g' flag (Spark replaces all
    // matches by default); patterns are ASCII-only so Java regex ≡ RE2.
    Query("qtx7_redact", qtx7Redact,
      """WITH p AS (
        | SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail'
        |   || CAST(doc_id % 7 AS VARCHAR) || '.example or 10.'
        |   || CAST(doc_id % 256 AS VARCHAR) || '.0.'
        |   || CAST(doc_id % 100 AS VARCHAR) || ' ext 555-'
        |   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        | CAST(len(regexp_extract_all(t, '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
        | md5(regexp_replace(regexp_replace(regexp_replace(t,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |   '\b\d{3}-\d{4}\b', '<PHONE>', 'g')) AS redacted_hash
        |FROM p ORDER BY doc_id""".stripMargin),
    Query("qtx8_bigram_support", qtx8BigramSupport,
      """WITH b AS (
        | SELECT doc_id,
        |  ws[r.i + 1] || ' ' || ws[r.i + 2] AS bigram
        | FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t
        | JOIN range(0, 100000) r(i) ON r.i <= len(ws) - 2
        | WHERE len(ws) >= 2),
        |df_ AS (SELECT bigram, COUNT(DISTINCT doc_id) AS bigram_df
        |        FROM b GROUP BY bigram)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        | CAST(SUM(CASE WHEN bigram_df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_supported,
        | CAST(SUM(CASE WHEN bigram_df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / CAST(COUNT(*) AS DOUBLE) AS support_ratio
        |FROM b JOIN df_ USING (bigram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // qtx9: top-3 distinctive terms per doc by the INTEGER-EXACT score
    // tf * 10^6 // df (integral division — the log-free tf·idf ranking);
    // ties break by term, so the top-3 set is engine-independent
    Query("qtx9_distinctive_terms", qtx9DistinctiveTerms,
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |t AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |      WHERE length(term) > 0 GROUP BY 1, 2),
        |d AS (SELECT term, COUNT(*) AS df FROM t GROUP BY 1),
        |s AS (SELECT t.doc_id, t.term, t.tf, d.df,
        |        t.tf * CAST(1000000 AS BIGINT) // d.df AS score
        |      FROM t JOIN d USING (term)),
        |r AS (SELECT *, ROW_NUMBER() OVER (
        |        PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM s)
        |SELECT doc_id, term, tf, df, score FROM r WHERE rn <= 3
        |ORDER BY doc_id, term""".stripMargin),
    // qtx17: cross-document segment dedup — 15-token non-overlapping
    // segments over the planted-copy corpus, keep-first by the composite
    // occurrence key doc_id·10⁶ + seg_idx; kept text pinned by ordered
    // md5 (empty → md5(''))
    Query("qtx17_segment_dedup", qtx17SegmentDedup,
      s"""$dedupCorpusCte,
         |t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
         |segs AS (SELECT doc_id, CAST(r.i // 15 AS BIGINT) AS seg_idx,
         |    array_to_string(list_slice(ws, r.i + 1, r.i + 15), ' ') AS seg
         |  FROM t JOIN range(0, 100000) r(i)
         |    ON r.i < len(ws) AND r.i % 15 = 0),
         |o AS (SELECT doc_id, seg_idx, seg, md5(seg) AS sh,
         |    doc_id * 1000000 + seg_idx AS occ FROM segs),
         |f AS (SELECT sh, MIN(occ) AS keep_occ FROM o GROUP BY 1)
         |SELECT doc_id, COUNT(*) AS n_segments,
         |  COUNT(CASE WHEN occ = keep_occ THEN 1 END) AS n_kept,
         |  md5(COALESCE(string_agg(CASE WHEN occ = keep_occ THEN seg END,
         |    ' ' ORDER BY seg_idx), '')) AS kept_md5,
         |  COUNT(*) - COUNT(CASE WHEN occ = keep_occ THEN 1 END) AS n_dropped
         |FROM o JOIN f USING (sh)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // qtx18: 3 unrolled BPE merge iterations (see bpeOracle)
    Query("qtx18_bpe_merges", qtx18BpeMerges,
      bpeOracle(3)),
    // qtx21: novelty — per-gram first occurrence on the composite
    // doc_id·10⁶+pos, fraction of occurrences introduced by this doc
    Query("qtx21_novelty", qtx21Novelty,
      s"""$dedupCorpusCte,
         |t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
         |g AS (SELECT doc_id, r.i AS p,
         |    array_to_string(ws[r.i+1:r.i+3], ' ') AS gram
         |  FROM t JOIN range(0, 100000) r(i) ON r.i <= len(ws) - 3
         |  WHERE len(ws) >= 3),
         |o AS (SELECT doc_id, gram, doc_id * 1000000 + p AS occ FROM g),
         |f AS (SELECT gram, MIN(occ) AS first_occ FROM o GROUP BY 1)
         |SELECT doc_id, COUNT(*) AS n_grams,
         |  COUNT(CASE WHEN first_occ // 1000000 = doc_id THEN 1 END)
         |    AS n_novel,
         |  CAST(COUNT(CASE WHEN first_occ // 1000000 = doc_id THEN 1 END)
         |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty
         |FROM o JOIN f USING (gram)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // qtx20: per-source profile — counts + dominant-language argmax
    Query("qtx20_source_profile", qtx20SourceProfile,
      """WITH p AS (SELECT source, COUNT(*) AS n_docs,
        |       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |       COUNT(DISTINCT lang) AS n_langs
        |      FROM documents GROUP BY 1),
        |lc AS (SELECT source, lang, COUNT(*) AS c FROM documents
        |       GROUP BY 1, 2),
        |t AS (SELECT source, lang AS top_lang, c AS top_lang_docs,
        |       ROW_NUMBER() OVER (PARTITION BY source
        |         ORDER BY c DESC, lang) AS rn FROM lc)
        |SELECT p.source, n_docs, n_tokens, n_langs, top_lang, top_lang_docs
        |FROM p JOIN t ON t.source = p.source AND t.rn = 1
        |ORDER BY p.source""".stripMargin),
    // qtx19: Heaps vocabulary growth — global token order via doc-table
    // cumulative offsets, per-term MIN first position, checkpoint counts
    Query("qtx19_vocab_growth", qtx19VocabGrowth,
      """WITH dl AS (SELECT doc_id,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |      FROM documents),
        |o AS (SELECT doc_id,
        |       COALESCE(SUM(n) OVER (ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         CAST(0 AS BIGINT)) AS off
        |      FROM dl),
        |tk AS (SELECT t.doc_id, r.i AS p, t.ws[r.i + 1] AS term
        |       FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |             FROM documents) t
        |       JOIN range(0, 100000) r(i) ON r.i < len(t.ws)
        |       WHERE length(t.ws[r.i + 1]) > 0),
        |f AS (SELECT term, MIN(o.off + tk.p + 1) AS first_pos
        |      FROM tk JOIN o USING (doc_id) GROUP BY term),
        |cp(n_tokens) AS (VALUES (CAST(1000 AS BIGINT)), (2000), (5000),
        |                        (10000), (20000), (50000))
        |SELECT n_tokens,
        |  (SELECT COUNT(*) FROM f WHERE first_pos <= cp.n_tokens) AS vocab
        |FROM cp ORDER BY n_tokens""".stripMargin),
    // qtx13: df-driven token pruning — integer df thresholds (stop ≥ 30%
    // of docs, rare < 2), kept text pinned by md5 in original token order
    Query("qtx13_df_prune", qtx13DfPrune,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |toks AS (SELECT doc_id, r.i + 1 AS pos, ws[r.i + 1] AS term
        |         FROM t JOIN range(0, 100000) r(i) ON r.i < len(ws)
        |         WHERE length(ws[r.i + 1]) > 0),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT COUNT(*) AS n FROM documents),
        |cls AS (SELECT term,
        |          CASE WHEN df * 100 >= 30 * (SELECT n FROM nd) THEN 'stop'
        |               WHEN df < 2 THEN 'rare' ELSE 'keep' END AS cls
        |        FROM dfq),
        |j AS (SELECT toks.doc_id, toks.pos, toks.term, cls.cls
        |      FROM toks JOIN cls USING (term))
        |SELECT doc_id,
        |  COUNT(*) AS n_tokens,
        |  COUNT(*) FILTER (WHERE cls = 'keep') AS n_kept,
        |  COUNT(*) FILTER (WHERE cls = 'stop') AS n_stop,
        |  COUNT(*) FILTER (WHERE cls = 'rare') AS n_rare,
        |  md5(COALESCE(string_agg(term, ' ' ORDER BY pos)
        |        FILTER (WHERE cls = 'keep'), '')) AS kept_md5
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // qtx14: BM25 replayed — every input integer-exact, idf via the
    // ENGINE-PORTABLE polynomial ln (ExactMath; libm ln is not
    // bit-portable) as ln(2(N−df)+1) − ln(2df+1), per-doc term sum
    // folded in sorted term order (the qkg10 discipline)
    Query("qtx14_bm25", qtx14Bm25,
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |             FROM documents),
         |dl AS (SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
         |       FROM documents),
         |c AS (SELECT COUNT(*) AS n, SUM(dl) AS sdl FROM dl),
         |ft AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
         |       WHERE term IN ('dup', 'spark', 'join') GROUP BY 1, 2),
         |dfs AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok
         |        WHERE term IN ('dup', 'spark', 'join') GROUP BY 1),
         |g AS (SELECT term, df,
         |        2 * ((SELECT n FROM c) - df) + 1 AS na,
         |        2 * df + 1 AS nb FROM dfs),
         |ga AS (SELECT *, ${ExactMath.blSql("na")} AS bla,
         |         ${ExactMath.blSql("nb")} AS blb FROM g),
         |gm AS (SELECT *, ${ExactMath.mSql("na", "bla")} AS ma,
         |         ${ExactMath.mSql("nb", "blb")} AS mb FROM ga),
         |gz AS (SELECT *, ${ExactMath.zSql("ma")} AS za,
         |         ${ExactMath.zSql("mb")} AS zb FROM gm),
         |g2 AS (SELECT *, za * za AS za2, zb * zb AS zb2 FROM gz),
         |gl AS (SELECT term, df,
         |        ${ExactMath.lnFromPartsSql("bla", "za", "za2")}
         |        - ${ExactMath.lnFromPartsSql("blb", "zb", "zb2")} AS idf
         |       FROM g2),
         |part AS (
         | SELECT ft.doc_id, ft.term,
         |  gl.idf
         |   * (tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
         |   / (tf + CAST(1.2 AS DOUBLE) * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
         |        + CAST(0.75 AS DOUBLE) * dl.dl
         |          / (CAST(c.sdl AS DOUBLE) / CAST(c.n AS DOUBLE)))) AS part
         | FROM ft JOIN gl USING (term) JOIN dl ON dl.doc_id = ft.doc_id
         | CROSS JOIN c),
        |sc AS (SELECT doc_id,
        |         list_reduce(list_transform(list_sort(
        |           list({'t': term, 'c': part})), x -> x.c),
        |           (a, b) -> a + b) AS score
        |       FROM part GROUP BY 1)
        |SELECT doc_id, score FROM sc
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
    // qtx15: bigram-LM score replayed — integer counts + V, the
    // ExactMath polynomial ln on numerator/denominator separately,
    // position-ordered fold, one division
    Query("qtx15_lm_score", qtx15LmScore,
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |pr AS (SELECT doc_id, CAST(r.i AS BIGINT) AS pos,
         |         ws[r.i + 1] AS w1, ws[r.i + 2] AS w2
         |       FROM t JOIN range(0, 100000) r(i) ON r.i <= len(ws) - 2
         |       WHERE len(ws) >= 2),
         |tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |c1 AS (SELECT w AS w1, COUNT(*) AS c1 FROM tok GROUP BY 1),
         |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM pr GROUP BY 1, 2),
         |vv AS (SELECT COUNT(DISTINCT w) AS v FROM tok),
         |j AS (SELECT pr.doc_id, pr.pos, c2.c2 + 1 AS na,
         |        c1.c1 + (SELECT v FROM vv) AS nb
         |      FROM pr JOIN c2 USING (w1, w2) JOIN c1 USING (w1)),
         |ja AS (SELECT *, ${ExactMath.blSql("na")} AS bla,
         |         ${ExactMath.blSql("nb")} AS blb FROM j),
         |jm AS (SELECT *, ${ExactMath.mSql("na", "bla")} AS ma,
         |         ${ExactMath.mSql("nb", "blb")} AS mb FROM ja),
         |jz AS (SELECT *, ${ExactMath.zSql("ma")} AS za,
         |         ${ExactMath.zSql("mb")} AS zb FROM jm),
         |j2 AS (SELECT *, za * za AS za2, zb * zb AS zb2 FROM jz),
         |jl AS (SELECT doc_id, pos,
         |        ${ExactMath.lnFromPartsSql("bla", "za", "za2")}
         |        - ${ExactMath.lnFromPartsSql("blb", "zb", "zb2")} AS logp
         |       FROM j2),
         |s AS (SELECT doc_id, COUNT(*) AS n_pairs,
         |        list_reduce(list_transform(list_sort(
         |          list({'p': pos, 'c': logp})), x -> x.c),
         |          (a, b) -> a + b) AS sm
         |      FROM jl GROUP BY 1)
         |SELECT doc_id, n_pairs, sm / n_pairs AS lm_score FROM s
         |ORDER BY doc_id""".stripMargin),
    // qtx16: skip-gram PPMI replayed — exact-position pair join,
    // integer count products through the ExactMath polynomial ln
    Query("qtx16_skipgram_ppmi", qtx16SkipgramPpmi,
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |pr AS (SELECT doc_id, CAST(r.i AS BIGINT) AS p, ws[r.i + 1] AS w
         |       FROM t JOIN range(0, 100000) r(i) ON r.i < len(ws)),
         |pairs AS (SELECT a.w AS center, b.w AS context
         |          FROM pr a JOIN pr b ON a.doc_id = b.doc_id
         |           AND b.p BETWEEN a.p - 2 AND a.p + 2 AND b.p <> a.p),
         |pc AS (SELECT center, context, COUNT(*) AS n_pair FROM pairs
         |       GROUP BY 1, 2),
         |tt AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS t FROM pc),
         |cc AS (SELECT center, CAST(SUM(n_pair) AS BIGINT) AS c_center
         |       FROM pc GROUP BY 1),
         |cx AS (SELECT context, CAST(SUM(n_pair) AS BIGINT) AS c_context
         |       FROM pc GROUP BY 1),
         |j AS (SELECT pc.center, pc.context, pc.n_pair,
         |        pc.n_pair * (SELECT t FROM tt) AS na,
         |        c_center * c_context AS nb
         |      FROM pc JOIN cc USING (center) JOIN cx USING (context)),
         |ja AS (SELECT *, ${ExactMath.blSql("na")} AS bla,
         |         ${ExactMath.blSql("nb")} AS blb FROM j),
         |jm AS (SELECT *, ${ExactMath.mSql("na", "bla")} AS ma,
         |         ${ExactMath.mSql("nb", "blb")} AS mb FROM ja),
         |jz AS (SELECT *, ${ExactMath.zSql("ma")} AS za,
         |         ${ExactMath.zSql("mb")} AS zb FROM jm),
         |j2 AS (SELECT *, za * za AS za2, zb * zb AS zb2 FROM jz),
         |jl AS (SELECT center, context, n_pair,
         |        ${ExactMath.lnFromPartsSql("bla", "za", "za2")}
         |        - ${ExactMath.lnFromPartsSql("blb", "zb", "zb2")} AS ppmi
         |       FROM j2)
         |SELECT center, context, n_pair, ppmi FROM jl
         |WHERE ppmi > CAST(0.0 AS DOUBLE) ORDER BY center, context""".stripMargin),
    // qtx11: repetition signals — integer token/3-gram counts plus one
    // double division each; docs under 3 tokens get dup_ratio 0.0
    Query("qtx11_repetition", qtx11Repetition,
      """WITH toks AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |top AS (SELECT doc_id, MAX(tf) AS top_tf,
        |         CAST(SUM(tf) AS BIGINT) AS n_tokens FROM tf GROUP BY 1),
        |g AS (SELECT doc_id, array_to_string(ws[r.i + 1:r.i + 3], ' ') AS gram
        |      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t
        |      JOIN range(0, 100000) r(i) ON r.i <= len(ws) - 3
        |      WHERE len(ws) >= 3),
        |gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
        |       CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup_grams
        |      FROM gc GROUP BY 1)
        |SELECT t.doc_id, t.n_tokens, t.top_tf,
        | CAST(t.top_tf AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) AS top_ratio,
        | COALESCE(d.n_grams, 0) AS n_grams,
        | COALESCE(d.n_dup_grams, 0) AS n_dup_grams,
        | CASE WHEN COALESCE(d.n_grams, 0) > 0
        |      THEN CAST(d.n_dup_grams AS DOUBLE) / CAST(d.n_grams AS DOUBLE)
        |      ELSE CAST(0 AS DOUBLE) END AS dup_ratio
        |FROM top t LEFT JOIN d USING (doc_id) ORDER BY doc_id""".stripMargin),
    // qtx12: inverted-index stats — positions are 1-based whitespace
    // ordinals (generate_subscripts zips with unnest); the posting
    // fingerprint is an ORDER-FREE sum of 32-bit md5 prefixes mod 2^62,
    // so both engines aggregate it without canonicalizing any list
    Query("qtx12_postings", qtx12Postings,
      """WITH tok AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |  generate_subscripts(string_split(text, ' '), 1) AS pos
        | FROM documents)
        |SELECT term, COUNT(*) AS n_postings,
        | COUNT(DISTINCT doc_id) AS df,
        | CAST(SUM(CAST(concat('0x', substring(md5(concat(
        |   CAST(doc_id AS VARCHAR), ':', CAST(pos AS VARCHAR))), 1, 8))
        |   AS BIGINT)) % 4611686018427387904 AS BIGINT) AS postings_fp
        |FROM tok GROUP BY term ORDER BY term""".stripMargin),
    // qsk1: HLL registers — bucket = first md5 byte, rank = 1 + leading
    // zero bits of the next 60 bits, all via integer/string arithmetic
    // (zero-hex-digit count * 4 + a first-digit CASE); sketch STATE is
    // exact even though the estimate it feeds is approximate
    Query("qsk1_hll_registers", qsk1HllRegisters,
      """WITH p AS (SELECT
        |  CAST(concat('0x', substring(h, 1, 2)) AS BIGINT) AS bucket,
        |  ltrim(substring(h, 3, 15), '0') AS t
        | FROM (SELECT md5(CAST(doc_id AS VARCHAR)) AS h FROM documents) q)
        |SELECT bucket,
        | MAX(CAST(60 - length(t) * 4 +
        |  CASE substring(t, 1, 1)
        |   WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
        |   WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
        |   WHEN '7' THEN 1 ELSE 0 END + 1 AS BIGINT)) AS max_rank,
        | COUNT(*) AS n_keys
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),
    // qtx10: the oracle recomputes both the planted messy URL and the
    // EXPECTED canonical form from doc_id arithmetic — the normalizer's
    // rules (fragment/case/port/utm/root-slash) are proved, not mirrored
    Query("qtx10_url_canon", qtx10UrlCanon,
      """WITH d0 AS (SELECT CAST(doc_id AS BIGINT) AS d FROM documents),
        |m AS (SELECT d,
        |  CASE WHEN d % 2 = 0 THEN 'HTTP' ELSE 'https' END AS scheme_m,
        |  CASE WHEN d % 11 = 0 THEN 'UsEr@' ELSE '' END AS ui_m,
        |  'ExAmple' || CAST(d % 100 AS VARCHAR) || '.CoM' AS host_m,
        |  CASE WHEN d % 3 = 0 THEN (CASE WHEN d % 2 = 0 THEN ':80' ELSE ':443' END)
        |       WHEN d % 3 = 1 THEN ':8080' ELSE '' END AS port_m,
        |  CASE WHEN d % 7 = 0 THEN '' WHEN d % 7 = 1 THEN '/'
        |       ELSE '/P' || CAST(d AS VARCHAR) END AS path_m,
        |  CASE WHEN d % 4 = 0 THEN '?utm_source=x&id=' || CAST(d AS VARCHAR)
        |       WHEN d % 4 = 1 THEN '?utm_a=1&utm_b=2'
        |       WHEN d % 4 = 2 THEN '?id=' || CAST(d AS VARCHAR) ELSE '' END AS query_m,
        |  CASE WHEN d % 5 = 0 THEN '#Frag' ELSE '' END AS frag_m
        | FROM d0)
        |SELECT d AS doc_id,
        |  scheme_m || '://' || ui_m || host_m || port_m || path_m || query_m || frag_m AS raw_url,
        |  lower(scheme_m) || '://' || ui_m || 'example' || CAST(d % 100 AS VARCHAR) || '.com'
        |    || (CASE WHEN d % 3 = 1 THEN ':8080' ELSE '' END)
        |    || (CASE WHEN d % 7 IN (0, 1) THEN '' ELSE '/P' || CAST(d AS VARCHAR) END)
        |    || (CASE WHEN d % 4 IN (0, 2) THEN '?id=' || CAST(d AS VARCHAR) ELSE '' END)
        |  AS url
        |FROM m ORDER BY doc_id""".stripMargin),
    // 0x40000000 / 2^32 = 0.25: lexicographic hex compare, engine-portable
    Query("qsp1_hash_sample", qsp1HashSample,
      """SELECT doc_id, lang FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
        |ORDER BY doc_id""".stripMargin),
    Query("qsp2_stratified", qsp2Stratified,
      """SELECT lang, doc_id, sample_rank FROM (
        | SELECT lang, doc_id,
        |  ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)) AS sample_rank
        | FROM documents) t
        |WHERE sample_rank <= 20 ORDER BY lang, sample_rank""".stripMargin),
    // qsp3: per-stratum rate sampling — per-lang md5 thresholds
    // (floor(rate·2³²) as 8 hex digits; rate 1.0 keeps everything);
    // langs outside the mix spec are dropped (allowlist semantics)
    Query("qsp3_mix_rates", qsp3MixRates,
      """SELECT doc_id, lang FROM documents
        |WHERE (lang = 'en' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000')
        |   OR (lang = 'de' AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000')
        |   OR lang = 'es'
        |ORDER BY doc_id""".stripMargin),
    Query("qann1_topk", qann1TopK,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        list_cosine_similarity(q.v, c.v) AS cos
        |      FROM e q JOIN e c ON c.vec_id <> q.vec_id WHERE q.vec_id < 20),
        |r AS (SELECT query_id, neighbor_id,
        |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, neighbor_id FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),
    // qann9: filtered search — the label predicate joins BEFORE ranking
    Query("qann9_filtered_topk", qann9FilteredTopK,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        |           FROM embeddings),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        c.label, list_cosine_similarity(q.v, c.v) AS cos
        |      FROM e q JOIN e c
        |        ON c.vec_id <> q.vec_id AND c.label = q.label
        |      WHERE q.vec_id < 20),
        |r AS (SELECT query_id, neighbor_id, label,
        |        ROW_NUMBER() OVER (PARTITION BY query_id
        |          ORDER BY cos DESC, neighbor_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, neighbor_id, label FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),
    Query("qann2_pairs_above", qann2PairsAbove,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.42
        |ORDER BY vec_a, vec_b""".stripMargin),
    // The LSH structure is integer-LCG-derived (Knn.planeComp), so DuckDB
    // rebuilds planes, sign sketches and buckets exactly; dot products and
    // cosines accumulate left-to-right in double in both engines
    // (list_dot_product / list_cosine_similarity ≡ fvec_dot — verified
    // empirically, 2000 trials bit-identical).
    Query("qann3_lsh_topk", qann3LshTopK,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |            len(embedding) AS d FROM embeddings),
        |pl AS (
        |  SELECT t, p,
        |    list_transform(range(0, (SELECT MAX(d) FROM e)),
        |      i -> CAST((((t*1000003 + p*10007 + i*101 + 12345) * 48271 % 2147483647)
        |                 * 48271 % 2147483647) AS DOUBLE)
        |           / 2147483647.0 * 2.0 - 1.0) AS plane
        |  FROM range(0, 16) tt(t) CROSS JOIN range(0, 4) pp(p)),
        |b AS (
        |  SELECT e.vec_id, pl.t,
        |    SUM(CASE WHEN list_dot_product(e.v, pl.plane) >= 0
        |             THEN 1 << p ELSE 0 END) AS bucket
        |  FROM e CROSS JOIN pl GROUP BY 1, 2),
        |q AS (SELECT vec_id AS query_id, t, bucket FROM b WHERE vec_id < 20),
        |cand AS (
        |  SELECT DISTINCT q.query_id, b.vec_id FROM b JOIN q USING (t, bucket)
        |  WHERE b.vec_id <> q.query_id),
        |r AS (
        |  SELECT cand.query_id, cand.vec_id AS neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY cand.query_id
        |      ORDER BY list_cosine_similarity(qe.v, ne.v) DESC, cand.vec_id) AS rank
        |  FROM cand JOIN e qe ON qe.vec_id = cand.query_id
        |            JOIN e ne ON ne.vec_id = cand.vec_id)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    Query("qann4_ivf_topk", qann4IvfTopK,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 20 = 0),
        |ranked AS (
        |  SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(c.cv, e.v) DESC, c.cid) AS rn
        |  FROM e CROSS JOIN cent c),
        |asgn AS (SELECT vec_id, cid FROM ranked WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, cid FROM ranked
        |           WHERE vec_id < 20 AND rn <= 6),
        |cand AS (
        |  SELECT p.query_id, a.vec_id FROM probes p JOIN asgn a USING (cid)
        |  WHERE a.vec_id <> p.query_id),
        |r AS (
        |  SELECT cand.query_id, cand.vec_id AS neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY cand.query_id
        |      ORDER BY list_cosine_similarity(q.v, n.v) DESC, cand.vec_id) AS rank
        |  FROM cand JOIN e q ON q.vec_id = cand.query_id
        |            JOIN e n ON n.vec_id = cand.vec_id)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // qann6: PQ codes — sampled sub-codebooks, squared-L2 in double with
    // ascending-index accumulation on both engines, ties to smallest code
    Query("qann6_pq_codes", qann6PqCodes,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cb AS (SELECT vec_id AS code, v AS cv FROM e WHERE vec_id % 25 = 0),
        |sp AS (SELECT i AS sub FROM range(0, 4) t(i)),
        |d AS (
        |  SELECT e.vec_id, sp.sub, cb.code,
        |    list_reduce(list_transform(range(1, 17),
        |      i -> (e.v[sp.sub * 16 + i] - cb.cv[sp.sub * 16 + i])
        |         * (e.v[sp.sub * 16 + i] - cb.cv[sp.sub * 16 + i])),
        |      (a, b) -> a + b) AS dist
        |  FROM e CROSS JOIN sp CROSS JOIN cb),
        |r AS (SELECT vec_id, sub, code, ROW_NUMBER() OVER (
        |        PARTITION BY vec_id, sub ORDER BY dist ASC, code) AS rn FROM d)
        |SELECT vec_id, CAST(sub AS BIGINT) AS sub, code FROM r WHERE rn = 1
        |ORDER BY vec_id, sub""".stripMargin),
    // qann7: ADC top-k — the qann6 code/distance CTEs reused; candidate
    // distance = subspace-ordered fold of the m table lookups
    Query("qann7_adc_topk", qann7AdcTopK,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cb AS (SELECT vec_id AS code, v AS cv FROM e WHERE vec_id % 25 = 0),
        |sp AS (SELECT i AS sub FROM range(0, 4) t(i)),
        |d AS (
        |  SELECT e.vec_id, sp.sub, cb.code,
        |    list_reduce(list_transform(range(1, 17),
        |      i -> (e.v[sp.sub * 16 + i] - cb.cv[sp.sub * 16 + i])
        |         * (e.v[sp.sub * 16 + i] - cb.cv[sp.sub * 16 + i])),
        |      (a, b) -> a + b) AS dist
        |  FROM e CROSS JOIN sp CROSS JOIN cb),
        |codes AS (SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id, sub ORDER BY dist ASC, code) AS rn FROM d) z
        |  WHERE rn = 1),
        |qd AS (SELECT vec_id AS query_id, sub, code, dist FROM d
        |       WHERE vec_id < 20),
        |parts AS (SELECT qd.query_id, c.vec_id, c.sub, qd.dist AS pd
        |          FROM codes c JOIN qd ON qd.sub = c.sub AND qd.code = c.code
        |          WHERE c.vec_id <> qd.query_id),
        |adc AS (SELECT query_id, vec_id,
        |         list_reduce(list_transform(list_sort(list({'s': sub, 'c': pd})),
        |           x -> x.c), (a, b) -> a + b) AS adc
        |        FROM parts GROUP BY 1, 2),
        |r AS (SELECT query_id, vec_id AS neighbor_id,
        |       ROW_NUMBER() OVER (PARTITION BY query_id
        |         ORDER BY adc ASC, vec_id) AS rank FROM adc)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // qann8: IVF-PQ — qann4's cell/probe CTEs feeding qann7's ADC CTEs
    Query("qann8_ivfpq", qann8IvfPq,
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 20 = 0),
        |ranked AS (
        |  SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(c.cv, e.v) DESC, c.cid) AS rn
        |  FROM e CROSS JOIN cent c),
        |asgn AS (SELECT vec_id, cid FROM ranked WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, cid FROM ranked
        |           WHERE vec_id < 20 AND rn <= 6),
        |cand AS (
        |  SELECT p.query_id, a.vec_id FROM probes p JOIN asgn a USING (cid)
        |  WHERE a.vec_id <> p.query_id),
        |cb AS (SELECT vec_id AS code, v AS cv FROM e WHERE vec_id % 25 = 0),
        |sp AS (SELECT i AS sub FROM range(0, 4) t(i)),
        |d AS (
        |  SELECT e.vec_id, sp.sub, cb.code,
        |    list_reduce(list_transform(range(1, 17),
        |      i -> (e.v[sp.sub * 16 + i] - cb.cv[sp.sub * 16 + i])
        |         * (e.v[sp.sub * 16 + i] - cb.cv[sp.sub * 16 + i])),
        |      (a, b) -> a + b) AS dist
        |  FROM e CROSS JOIN sp CROSS JOIN cb),
        |codes AS (SELECT vec_id, sub, code FROM (
        |    SELECT vec_id, sub, code, ROW_NUMBER() OVER (
        |      PARTITION BY vec_id, sub ORDER BY dist ASC, code) AS rn FROM d) z
        |  WHERE rn = 1),
        |qd AS (SELECT vec_id AS query_id, sub, code, dist FROM d
        |       WHERE vec_id < 20),
        |parts AS (SELECT cand.query_id, cand.vec_id, c.sub, qd.dist AS pd
        |          FROM cand JOIN codes c ON c.vec_id = cand.vec_id
        |          JOIN qd ON qd.query_id = cand.query_id
        |           AND qd.sub = c.sub AND qd.code = c.code),
        |adc AS (SELECT query_id, vec_id,
        |         list_reduce(list_transform(list_sort(list({'s': sub, 'c': pd})),
        |           x -> x.c), (a, b) -> a + b) AS adc
        |        FROM parts GROUP BY 1, 2),
        |r AS (SELECT query_id, vec_id AS neighbor_id,
        |       ROW_NUMBER() OVER (PARTITION BY query_id
        |         ORDER BY adc ASC, vec_id) AS rank FROM adc)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    Query("qann5_embed_clusters", qann5EmbedClusters,
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pairs AS (SELECT a.vec_id AS pa, b.vec_id AS pb
        |          FROM e a JOIN e b ON a.vec_id < b.vec_id
        |          WHERE list_cosine_similarity(a.v, b.v) >= 0.42),
        |edges AS (SELECT pa AS u, pb AS w FROM pairs
        |          UNION SELECT pb, pa FROM pairs),
        |lbl(n, l) AS (
        |  SELECT vec_id, vec_id FROM e
        |  UNION
        |  SELECT eg.w, lbl.l FROM lbl JOIN edges eg ON eg.u = lbl.n)
        |SELECT n AS vec_id, MIN(l) AS canonical FROM lbl
        |GROUP BY n ORDER BY vec_id""".stripMargin),
    // multimodal stub decode: payload = the document's UTF-8 bytes, so
    // every derived metadata value (length, md5, fake dims) is exact SQL
    Query("qmm1_media_meta", qmm1MediaMeta,
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | md5(text) AS content_hash,
        | CAST(160 + octet_length(encode(text)) % 480 AS INT) AS fake_width,
        | CAST(90 + (octet_length(encode(text)) // 7) % 270 AS INT) AS fake_height,
        | CAST(1 + octet_length(encode(text)) % 24 AS INT) AS fake_frames
        |FROM documents ORDER BY url""".stripMargin),
    // qmm5: perceptual image near-dup — every dHash recomputed from the
    // pixel FORMULA (9×8 nearest-neighbor grid, adjacent-sample
    // comparisons, bit 63 via the signed min-long addend), banded 4×16
    // self-join, hamming via bit_count(xor). The Spark side decodes
    // real PNG bytes; any defilter/zlib/luma drift mismatches here.
    Query("qmm5_image_neardup", qmm5ImageNearDup,
      s"""$imgPairsCte
        |SELECT a_id, b_id, CAST(bit_count(xor(ah, bh)) AS BIGINT) AS hamming
        |FROM pairs WHERE bit_count(xor(ah, bh)) <= 6
        |ORDER BY a_id, b_id""".stripMargin),
    // qmm6: image dedup clusters — connected components over the qmm5
    // pair graph (recursive min-label closure, the qdd3 pattern),
    // singletons mapping to themselves, min-id representative
    Query("qmm6_image_clusters", qmm6ImageClusters,
      s"""${imgPairsCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
        |npairs AS (SELECT a_id AS doc_a, b_id AS doc_b FROM pairs
        |           WHERE bit_count(xor(ah, bh)) <= 6),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM npairs
        |          UNION SELECT doc_b, doc_a FROM npairs),
        |lbl(n, l) AS (
        |  SELECT id, id FROM ids
        |  UNION
        |  SELECT e.v, lbl.l FROM lbl JOIN edges e ON e.u = lbl.n),
        |cl AS (SELECT n AS doc_id, MIN(l) AS canonical FROM lbl GROUP BY n),
        |sz AS (SELECT canonical, COUNT(*) AS n_imgs FROM cl
        |       GROUP BY canonical)
        |SELECT cl.doc_id, cl.canonical, CAST(sz.n_imgs AS BIGINT) AS n_imgs,
        |  CAST(CASE WHEN cl.doc_id = cl.canonical THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_rep
        |FROM cl JOIN sz USING (canonical) ORDER BY doc_id""".stripMargin),
    // qmm4: the sniffing dispatcher — expected kind/format/meta per
    // doc_id%3 branch, recomputed arithmetically (image dims, wav
    // rate/duration, raw byte length)
    Query("qmm4_media_dispatch", qmm4MediaDispatch,
      """SELECT 'mixed://' || CAST(doc_id AS VARCHAR) AS url,
        | CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'unknown' END AS kind,
        | CASE doc_id % 3
        |  WHEN 0 THEN (CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
        |               WHEN 2 THEN 'bmp' ELSE 'jpeg' END)
        |  WHEN 1 THEN 'wav' ELSE 'unknown' END AS format,
        | CAST(CASE doc_id % 3
        |  WHEN 0 THEN 100 + doc_id % 900
        |  WHEN 1 THEN 8000 * (1 + doc_id % 5)
        |  ELSE octet_length(encode(text)) END AS BIGINT) AS meta_a,
        | CAST(CASE doc_id % 3
        |  WHEN 0 THEN 50 + doc_id % 500
        |  WHEN 1 THEN ((100 + doc_id % 900) * ((1 + doc_id % 2) * (1 + doc_id % 3))
        |    * CAST(1000000 AS BIGINT))
        |    // (8000 * (1 + doc_id % 5) * ((1 + doc_id % 2) * (1 + doc_id % 3)))
        |  ELSE 0 END AS BIGINT) AS meta_b
        |FROM documents ORDER BY url""".stripMargin),
    // qmm3: the Spark side PARSES real RIFF/WAV chunk headers; the
    // oracle recomputes every planted field from doc_id arithmetic
    // (duration = dataBytes·10⁶ div byteRate — the align factor cancels
    // exactly, so the spelled-out division equals n_samples·10⁶ div rate)
    Query("qmm3_wav_meta", qmm3WavMeta,
      """SELECT 'wav://' || CAST(doc_id AS VARCHAR) AS url, 'wav' AS format,
        | CAST(1 + doc_id % 2 AS INT) AS channels,
        | CAST(8000 * (1 + doc_id % 5) AS INT) AS sample_rate,
        | CAST(8 * (1 + doc_id % 3) AS INT) AS bits_per_sample,
        | CAST(100 + doc_id % 900 AS BIGINT) AS n_samples,
        | CAST(((100 + doc_id % 900) * ((1 + doc_id % 2) * (1 + doc_id % 3))
        |   * CAST(1000000 AS BIGINT))
        |   // (8000 * (1 + doc_id % 5) * ((1 + doc_id % 2) * (1 + doc_id % 3)))
        |   AS BIGINT) AS duration_us
        |FROM documents ORDER BY url""".stripMargin),
    // qmm2: the Spark side PARSES real PNG/GIF/BMP/JPEG header bytes; the
    // oracle recomputes the planted dimensions from doc_id arithmetic.
    Query("qmm2_image_dims", qmm2ImageDims,
      """SELECT 'img://' || CAST(doc_id AS VARCHAR) AS url,
        | CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
        |      WHEN 2 THEN 'bmp' ELSE 'jpeg' END AS format,
        | CAST(100 + doc_id % 900 AS INT) AS width,
        | CAST(50 + doc_id % 500 AS INT) AS height
        |FROM documents ORDER BY url""".stripMargin),
  )

  /** qtx18 oracle: 3 unrolled BPE iterations. Each round recounts
    * adjacent symbol pairs (overlap-counting, frequency-weighted) over
    * the word-type table, selects the (count desc, pair asc) winner,
    * and replays the greedy leftmost merge via a list_reduce whose
    * string state is "result|pending" — the same (result, pending)
    * automaton as the Spark aggregate HOF, so runs of equal symbols
    * merge at identical offsets.
    */
  private def bpeOracle(iters: Int): String = {
    def fold(t: String) =
      s"""list_reduce(list_prepend('|', syms), (acc, s) -> CASE
         |   WHEN split_part(acc, '|', 2) = $t.a AND s = $t.b
         |     THEN split_part(acc, '|', 1) || ' ' || $t.a || $t.b || '|'
         |   WHEN split_part(acc, '|', 2) = ''
         |     THEN split_part(acc, '|', 1) || '|' || s
         |   ELSE split_part(acc, '|', 1) || ' ' ||
         |     split_part(acc, '|', 2) || '|' || s END)""".stripMargin
    def finalized(t: String) =
      s"""string_split(ltrim(split_part(${fold(t)}, '|', 1) ||
         |  CASE WHEN split_part(${fold(t)}, '|', 2) = '' THEN ''
         |       ELSE ' ' || split_part(${fold(t)}, '|', 2) END, ' '), ' ')""".stripMargin
    val sb = new StringBuilder(
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word
        |            FROM documents),
        |w0 AS (SELECT word, COUNT(*) AS freq, string_split(word, '') AS syms
        |       FROM tok WHERE length(word) > 0 GROUP BY word)""".stripMargin)
    for (k <- 1 to iters) {
      sb ++= s""",
        |p$k AS (SELECT syms[r.i+1] AS a, syms[r.i+2] AS b,
        |         CAST(SUM(freq) AS BIGINT) AS n
        |        FROM w${k - 1} JOIN range(0, 100000) r(i)
        |          ON r.i < len(syms) - 1
        |        GROUP BY 1, 2),
        |t$k AS (SELECT a, b, n FROM p$k ORDER BY n DESC, a, b LIMIT 1),
        |w$k AS (SELECT word, freq, ${finalized(s"t$k")} AS syms
        |        FROM w${k - 1} CROSS JOIN t$k),
        |v$k AS (SELECT COUNT(DISTINCT s) AS vocab
        |        FROM (SELECT unnest(syms) AS s FROM w$k))""".stripMargin
    }
    sb ++= (1 to iters).map(k =>
      s"""
         |SELECT CAST($k AS BIGINT) AS rank, t$k.a AS sym_a, t$k.b AS sym_b,
         | t$k.n AS n_pairs, v$k.vocab AS vocab_after FROM t$k, v$k"""
        .stripMargin).mkString("", "\nUNION ALL", "\nORDER BY rank")
    sb.toString
  }

  /** Shared oracle CTE: rebuild the dedup test corpus (originals +
    * perturbed copies + exact copies) in SQL.
    */
  private def dedupCorpusCte: String =
    """WITH RECURSIVE corpus AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT d.doc_id + 100000,
      |   string_agg(CASE WHEN r.i % 17 = 0
      |     THEN 'zz' || CAST(d.doc_id + 100000 AS VARCHAR)
      |     ELSE d.ws[r.i + 1] END, ' ' ORDER BY r.i)
      | FROM (SELECT doc_id, string_split(text, ' ') AS ws
      |       FROM documents WHERE doc_id % 5 = 0) d
      | JOIN range(0, 100000) r(i) ON r.i < len(d.ws)
      | GROUP BY d.doc_id
      | UNION ALL
      | SELECT doc_id + 200000, text FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  /** Shared oracle CTE (qmm5/qmm6): every planted image's dHash
    * recomputed from the generative pixel formula — never the PNG
    * bytes — through the 9×8 nearest-neighbor grid, adjacent-sample
    * comparison bits (bit 63 via the signed min-long addend, since
    * 1<<63 overflows BIGINT), and the banded 4×16 candidate self-join.
    * Ends in `pairs(a_id, b_id, ah, bh)`; `ids(id)` stays visible for
    * the cluster closure.
    */
  private def imgPairsCte: String =
    """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
      |img AS (SELECT id,
      |    CASE WHEN id % 4 = 1 THEN id - 1 ELSE id END AS cid,
      |    (id % 4 = 1) AS pert FROM ids),
      |dims AS (SELECT id, cid, pert,
      |    CAST(24 + (cid % 5) * 3 AS BIGINT) AS w,
      |    CAST(16 + (cid % 7) * 2 AS BIGINT) AS h FROM img),
      |samp AS (
      |  SELECT t.id, t.y, t.x,
      |    (t.px * 7 + t.py * 13 + t.px * t.py * ((t.cid % 13) + 1)
      |     + t.cid * 31 + (t.cid // 256) * 7
      |     + CASE WHEN t.pert AND (t.px + t.py) % 7 = 0 THEN 1 ELSE 0 END)
      |    % 256 AS g
      |  FROM (SELECT d.id, d.cid, d.pert, gy.y, gx.x,
      |               (gx.x * d.w) // 9 AS px, (gy.y * d.h) // 8 AS py
      |        FROM dims d, range(0, 8) gy(y), range(0, 9) gx(x)) t),
      |bits AS (
      |  SELECT a.id, a.y * 8 + a.x AS idx,
      |         CASE WHEN b.g < a.g THEN 1 ELSE 0 END AS bit
      |  FROM samp a JOIN samp b ON a.id = b.id AND a.y = b.y
      |                         AND b.x = a.x + 1
      |  WHERE a.x < 8),
      |hashes AS (
      |  SELECT id, CAST(SUM(CASE WHEN bit = 1 THEN
      |      CASE WHEN idx = 63 THEN -9223372036854775808
      |           ELSE (CAST(1 AS BIGINT) << CAST(idx AS INTEGER)) END
      |    ELSE 0 END) AS BIGINT) AS dhash
      |  FROM bits GROUP BY id),
      |bands AS (SELECT id, dhash, r.b AS band,
      |    (dhash >> CAST(16 * r.b AS INTEGER)) & 65535 AS bv
      |  FROM hashes, range(0, 4) r(b)),
      |pairs AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id,
      |    a.dhash AS ah, b.dhash AS bh
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bv = b.bv AND a.id < b.id)""".stripMargin

  /** Shared oracle CTE: exact all-pairs Jaccard ≥ 1/2 over `corpus` via
    * inverted-index self-join with integer threshold arithmetic.
    */
  private def dedupPairsCte: String =
    """sh AS (
      | SELECT DISTINCT doc_id, c.ws[r.i+1] || ' ' || c.ws[r.i+2] || ' ' || c.ws[r.i+3] AS shingle
      | FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus) c
      | JOIN range(0, 100000) r(i) ON r.i <= len(c.ws) - 3),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      |inter AS (
      | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n
      | FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      | GROUP BY 1, 2),
      |pairs AS (
      | SELECT doc_a, doc_b FROM inter
      | JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
      | WHERE 3 * n >= sa.sz + sb.sz)""".stripMargin
}
