package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3
import graft.link.ConnectedComponents
import graft.core.Graft

/** Document deduplication operators for the training-data pipeline:
  * exact (hash groupBy), exact all-pairs n-gram Jaccard (inverted-index
  * similarity join), MinHash-LSH (probabilistic scale path), SimHash,
  * and near-dup clustering (connected components over the pair graph).
  *
  * Scale design: the all-pairs join is the classic inverted-index
  * similarity self-join — explode shingles, self-join on shingle,
  * count shared shingles per pair, threshold on INTEGER arithmetic
  * (3·|A∩B| ≥ |A|+|B| ⟺ Jaccard ≥ 0.5) so results are exactly
  * reproducible by any engine. At 100 TB the candidate step adds prefix
  * filtering / df-capped postings (drop ubiquitous shingles with a
  * bounded-similarity proof) and MinHash-LSH replaces the full join;
  * both are implemented below as the same pipeline with different
  * candidate generators.
  */
object Dedup {

  /** Test corpus: original documents ∪ perturbed near-copies (doc_id%5==0,
    * every 17th word replaced, id+100000) ∪ exact copies (doc_id%7==0,
    * id+200000). All deterministic so an oracle can rebuild it in SQL.
    */
  def corpusWithCopies(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Graft.table(spark, sfDir, "documents")
      .select(col("doc_id").cast("long"), col("text"))
    // two selects, not one: in a single select the token's col("doc_id")
    // would resolve LATERALLY against the `.as("doc_id")` alias beside it
    // (Spark lateral column aliasing) and silently double-add the offset
    val near = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      // replace every 17th word (positions 0,17,34,… 0-based) with a
      // doc-specific token "zz<new doc_id>"
      .select(col("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          (w, i) => when(i % 17 === 0,
            concat(lit("zz"), col("doc_id").cast("string")))
            .otherwise(w))).as("text"))
    val exact = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
    docs.unionByName(near).unionByName(exact)
  }

  /** Exact dedup: md5 groupBy, groups with 2+ members. */
  def exactDupGroups(corpus: DataFrame): DataFrame =
    corpus.groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical"))
      .filter(col("n_docs") > 1)
      .orderBy(col("text_hash"))

  /** Distinct (doc_id, shingle) rows — word n-grams. */
  def shingleRows(corpus: DataFrame, n: Int = 3): DataFrame = {
    val words = split(col("text"), " ")
    corpus.select(col("doc_id"),
      explode(transform(sequence(lit(0), greatest(size(words) - lit(n), lit(0))),
        i => concat_ws(" ", slice(words, i + 1, lit(n))))).as("shingle"))
      .filter(size(split(col("shingle"), " ")) === n)
      .distinct()
  }

  /** Decontamination REMOVAL decision per training document — the pass
    * that consumes [[contamination]]'s collisions: every train doc with
    * its distinct-eval-hit count, worst shared-n-gram count, and the
    * contaminated flag (≥ 1 eval doc sharing ≥ `minShared` n-grams).
    * Clean docs report zeros — the full-corpus decision table, not just
    * the hits, so the kept set is `!contaminated` by construction.
    *
    * Scale shape: [[contamination]]'s broadcast-eval map-side join, one
    * train_id-keyed aggregate (map-side combinable), one left join back
    * to the corpus ids (hits side is contaminated-docs-sized — tiny).
    */
  def decontaminate(train: DataFrame, evalDocs: DataFrame, n: Int = 13,
                    minShared: Long = 1L): DataFrame = {
    val hits = contamination(train, evalDocs, n, minShared)
      .groupBy(col("train_id").as("doc_id"))
      .agg(countDistinct(col("eval_id")).as("n_eval_hits"),
        max(col("shared_ngrams")).as("max_shared"))
    train.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_eval_hits").isNotNull.as("contaminated"),
        coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"),
        coalesce(col("max_shared"), lit(0L)).as("max_shared"))
  }

  /** Benchmark decontamination: (train doc, eval doc) pairs sharing at
    * least `minShared` DISTINCT word n-grams, with the shared count —
    * the train-data hygiene pass that catches evaluation text leaking
    * into a pre-training corpus (13-gram collision is the standard
    * published criterion; both sides shingle through [[shingleRows]], so
    * the n-gram definition is shared with the dedup family).
    *
    * `train` needs (doc_id, text); `evalDocs` needs (eval_id, text).
    * Scale shape: the eval side is a benchmark (thousands of docs), the
    * train side is the corpus — eval shingles are broadcast by default
    * so the corpus-sized side never shuffles (a narrow map-side hash
    * join per train partition); pass `broadcastEval = false` to
    * shuffle-join on the n-gram when the eval side is itself
    * corpus-sized. Counting joined rows IS counting distinct shared
    * n-grams because [[shingleRows]] emits distinct (doc, shingle) rows.
    */
  def contamination(train: DataFrame, evalDocs: DataFrame, n: Int = 13,
                    minShared: Long = 1L,
                    broadcastEval: Boolean = true): DataFrame = {
    val t = shingleRows(train.select(col("doc_id"), col("text")), n)
      .select(col("doc_id").as("train_id"), col("shingle"))
    val e0 = shingleRows(
        evalDocs.select(col("eval_id").as("doc_id"), col("text")), n)
      .select(col("doc_id").as("eval_id"), col("shingle"))
    val e = if (broadcastEval) broadcast(e0) else e0
    t.join(e, Seq("shingle"))
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
  }

  /** Exact all-pairs Jaccard ≥ 1/2 via inverted-index self-join; integer
    * threshold arithmetic, no floating point.
    *
    * `maxDf` caps the inverted index: a shingle appearing in more than
    * maxDf documents is dropped from the postings BEFORE the self-join —
    * without the cap one ubiquitous shingle contributes O(df²) candidate
    * rows and explodes the join at scale. The drop is LOGGED, never
    * silent. Recall contract: sizes stay exact and intersection counts
    * only shrink, so no false positives — but a borderline pair that
    * needs a hot shingle's contribution to cross the threshold IS
    * missed, not just pairs overlapping exclusively in hot shingles.
    * The oracle corpora stay far under the default cap, so engine and
    * DuckDB agree wherever the driver checks values.
    */
  def allPairsJaccard(spark: SparkSession, corpus: DataFrame,
                      maxDf: Int = 1000): DataFrame = {
    val sh0 = shingleRows(corpus).cache()
    val sizes = sh0.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val hot = sh0.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("shingle")).cache()
    val nHot = hot.count()
    if (nHot > 0)
      System.err.println(
        s"[dedup] df-cap: dropped $nHot shingles with df > $maxDf from the " +
          "inverted index (pairs overlapping only in those are not emitted)")
    val sh = if (nHot == 0) sh0
             else sh0.join(broadcast(hot), Seq("shingle"), "left_anti")
    val a = sh.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingle"))
    val inter = a.join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
      .filter(lit(3) * col("inter") >= col("sz_a") + col("sz_b"))
      .select(col("doc_a"), col("doc_b"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Band-bucket size cap for the LSH candidate self-joins — the same
    * lesson [[graft.link.Blocking.MaxBucket]] encodes for entity
    * blocking, applied to the document side: a bucket with more members
    * than this emits sort-adjacent CHAIN pairs (O(m)) instead of all
    * pairs (O(m²)). At 100 TB a mass-duplicated boilerplate page (10⁶
    * copies sharing every band) would otherwise put O(10¹²) candidate
    * rows on a single band key. Chaining keeps every bucket member
    * CONNECTED in the *candidate* graph; near-dup clusters ([[clusters]]
    * via CC transitivity) are preserved exactly when the chain-adjacent
    * pairs survive exact-Jaccard verification. In a mixed oversized
    * bucket (two interleaved dup-groups colliding on one band) a chain
    * link can be a false-positive pair that verification removes, so
    * recall inside oversized buckets is probabilistic — in practice the
    * OTHER bands' buckets recover such pairs (each true pair gets b
    * independent chances), which is the standard banded-LSH recall
    * argument, not a worst-case guarantee. The fixture corpora
    * stay far under the cap, so the qdd4/qdd5 driver oracles (which
    * assert equality with the exact all-pairs baseline) are unaffected.
    */
  val MaxBandBucket = 1000

  /** Self-join `df` on `keys` emitting ordered member pairs with the
    * [[MaxBandBucket]] chain cap. `payload` columns ride along as
    * `<p>_a`/`<p>_b` (first payload column must be the numeric doc id —
    * it defines both the pair order and the chain sort). Oversized
    * buckets sort by id and pair each member with its predecessor:
    * linear in bucket size, keeps the bucket one connected component.
    */
  private def cappedBucketPairs(df0: DataFrame, keys: Seq[String],
                                payload: Seq[String]): DataFrame = {
    // The input (typically the banded minhash/simhash flatMap — the
    // dominant dedup cost) feeds three branches below; localCheckpoint
    // (lazy) evaluates it once per action and cuts lineage. Unlike
    // persist(), the blocks are NOT pinned by the CacheManager — the
    // ContextCleaner frees them when the plan is garbage-collected, so
    // repeated invocations (bench loops) cannot leak session-lifetime
    // cache entries. Trade-off: the blocks are unreplicated, so an
    // executor loss fails (and retries) the job instead of recomputing
    // the branch — acceptable for a candidate-generation pass.
    val df = df0.localCheckpoint(eager = false)
    val idA = s"${payload.head}_a"
    val idB = s"${payload.head}_b"
    // ONLY the oversized-key set is materialized (checkpointed once —
    // it gates two branches): band keys are near-distinct, so the r3
    // shape's semi-join against the small-bucket key set shuffled a key
    // table the size of the input. The anti-join against the (usually
    // empty) oversized set is equivalent — and its one count() job makes
    // the routing explicit: zero oversized keys skips both the anti-join
    // and the whole chain branch; a small set broadcasts (map-side
    // anti/semi); a LARGE set (mass-duplication regime: one oversized
    // key per ~MaxBandBucket input rows, potentially millions) falls
    // back to shuffle joins — a forced broadcast there would OOM the
    // driver at exactly the scale the cap exists for.
    val bigKeys = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))
      .filter(col("_n") > MaxBandBucket).select(keys.map(col): _*)
      .localCheckpoint(eager = false)
    val nBig = bigKeys.count()
    val hint = if (nBig <= BroadcastKeyLimit) broadcast(bigKeys) else bigKeys
    val small = if (nBig == 0L) df else df.join(hint, keys, "left_anti")
    val l = small.select(keys.map(col) ++ payload.map(p => col(p).as(s"${p}_a")): _*)
    val r = small.select(keys.map(col) ++ payload.map(p => col(p).as(s"${p}_b")): _*)
    val smallPairs = l.join(r, keys)
      .filter(col(idA) < col(idB))
      .select(payload.flatMap(p => Seq(col(s"${p}_a"), col(s"${p}_b"))): _*)
    if (nBig == 0L) return smallPairs
    // oversized buckets: predecessor pairs along the id sort order — the
    // ascending sort makes prev < current, so ordering is preserved
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(payload.head))
    val chained = payload.foldLeft(
        df.join(hint, keys, "left_semi")) {
        (acc, p) => acc.withColumn(s"_prev_$p", lag(col(p), 1).over(w))
      }
      .filter(col(s"_prev_${payload.head}").isNotNull)
    val chainPairs = chained.select(payload.flatMap(p =>
      Seq(col(s"_prev_$p").as(s"${p}_a"), col(p).as(s"${p}_b"))): _*)
    smallPairs.unionByName(chainPairs)
  }

  /** Above this many oversized-bucket keys the anti/semi joins in
    * [[cappedBucketPairs]] stop broadcasting and shuffle instead — a
    * forced broadcast of a mass-duplication corpus's key set (one key
    * per ~[[MaxBandBucket]] input rows) would OOM the driver.
    */
  private val BroadcastKeyLimit = 1000000L

  private val NumHashes = 64
  // 32 bands of r=2 rows: candidate probability at the Jaccard-0.5
  // decision threshold is 1-(1-0.5^2)^32 ≈ 0.9999 (vs ≈0.96 for 16×4),
  // so LSH-verified output matches the exact all-pairs baseline on the
  // fixture corpora and the driver oracle can assert equality. More
  // bands = more candidates; exact verification keeps precision at 1.0.
  private val Bands = 32

  /** MinHash signature of a shingle set. */
  def minhashSig(shingles: Iterable[String]): Array[Int] = {
    val sig = Array.fill(NumHashes)(Int.MaxValue)
    shingles.foreach { s =>
      var j = 0
      while (j < NumHashes) {
        val h = MurmurHash3.stringHash(s, 0x3c6ef372 + j * 0x9e3779b9)
        if (h < sig(j)) sig(j) = h
        j += 1
      }
    }
    sig
  }

  /** Each document's shingle set, one row (doc_id, shingles) per
    * document: the one grouping of [[shingleRows]] that both the LSH
    * signatures and [[verifyPairs]] read. The set feeds the signature
    * pass and both sides of verification, so a lazy, non-pinning
    * checkpoint evaluates it once per action (see [[cappedBucketPairs]]
    * for why localCheckpoint and not persist).
    */
  private def shingleSets(corpus: DataFrame): DataFrame =
    shingleRows(corpus).groupBy(col("doc_id"))
      .agg(collect_list(col("shingle")).as("shingles"))
      .localCheckpoint(eager = false)

  /** MinHash-LSH near-dup pairs: banded signatures -> bucket join ->
    * exact-Jaccard verification (integer arithmetic). Probabilistic
    * recall, precision 1.0 — the 100 TB candidate generator.
    */
  def minhashLshPairs(spark: SparkSession, corpus: DataFrame): DataFrame = {
    import spark.implicits._
    val sets = shingleSets(corpus)
    val r = NumHashes / Bands
    val banded = sets.as[(Long, Seq[String])].flatMap { case (id, shingles) =>
      val sig = minhashSig(shingles)
      (0 until Bands).map { bIdx =>
        val bandHash = MurmurHash3.arrayHash(
          sig.slice(bIdx * r, (bIdx + 1) * r), 0x85ebca6b)
        (id, bIdx, bandHash)
      }
    }.toDF("doc_id", "band", "bh")
    val cand = cappedBucketPairs(banded, Seq("band", "bh"), Seq("doc_id"))
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"))
      .distinct()
    verifyPairs(cand, sets)
  }

  /** Exact-Jaccard verification of candidate pairs (doc_a, doc_b)
    * against the documents' shingle sets (doc_id, shingles): each pair
    * joins both sets and keeps 3·|A∩B| ≥ |A|+|B|, with |A∩B| =
    * `size(array_intersect(A, B))`. That is exact because
    * [[shingleRows]] emits distinct (doc, shingle) rows, so each set has
    * no repeats. Output sorted by (doc_a, doc_b).
    *
    * Scale: each candidate pair carries both sets through the two
    * joins, so the bytes shuffled are those of the exploded form — one
    * (pair, shingle) row per shingle of each side — but in one row per
    * pair, with no shingle-level self-join, no count per pair and no
    * separate size aggregate.
    */
  def verifyPairs(cand: DataFrame, sets: DataFrame): DataFrame = {
    val a = sets.select(col("doc_id").as("doc_a"), col("shingles").as("sa"))
    val b = sets.select(col("doc_id").as("doc_b"), col("shingles").as("sb"))
    cand.join(a, "doc_a").join(b, "doc_b")
      .filter(lit(3) * size(array_intersect(col("sa"), col("sb"))) >=
        size(col("sa")) + size(col("sb")))
      .select(col("doc_a"), col("doc_b"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 64-bit SimHash over word 3-gram shingles. */
  def simhash64(shingles: Iterable[String]): Long = {
    val acc = new Array[Int](64)
    shingles.foreach { s =>
      val h1 = MurmurHash3.stringHash(s, 0x27d4eb2f)
      val h2 = MurmurHash3.stringHash(s, 0x165667b1)
      val h = (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) acc(bit) += 1 else acc(bit) -= 1
        bit += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (acc(bit) > 0) out |= (1L << bit); bit += 1 }
    out
  }

  /** SimHash near-dup pairs: band the 64-bit hash into 16×4-bit keys,
    * bucket-join, verify true Hamming distance ≤ maxHamming.
    *
    * Banding calibration (measured on the synthetic corpus): perturbed
    * near-copies land at Hamming 5–22, so the default threshold is 24;
    * 16 bands of 4 bits give ≥98% probability of a clean band at d=24
    * (vs ~25% for 8×8). Narrow bands mean bigger buckets — the standard
    * recall/candidate-volume tradeoff, tunable per corpus.
    */
  def simhashPairs(spark: SparkSession, corpus: DataFrame,
                   maxHamming: Int = 24): DataFrame =
    simhashCandidates(spark, shingleSets(corpus), maxHamming)
      .orderBy("doc_a", "doc_b")

  /** SimHash candidates + exact-Jaccard verification: the same verified
    * near-dup contract as the MinHash path, with SimHash as the cheaper
    * candidate generator (one 64-bit signature per doc instead of 64
    * minima). Oracle-checkable because verification reduces the output
    * to the exact all-pairs baseline whenever candidate recall is 1.
    */
  def simhashVerifiedPairs(spark: SparkSession, corpus: DataFrame,
                           maxHamming: Int = 24): DataFrame = {
    val sets = shingleSets(corpus)
    verifyPairs(simhashCandidates(spark, sets, maxHamming), sets)
  }

  private def simhashCandidates(spark: SparkSession, sets: DataFrame,
                                maxHamming: Int): DataFrame = {
    import spark.implicits._
    val sigs = sets.as[(Long, Seq[String])]
      .map { case (id, shingles) => (id, simhash64(shingles)) }
      .toDF("doc_id", "sim")
    val banded = sigs.select(col("doc_id"), col("sim"),
      explode(array((0 until 16).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sim"), b * 4).bitwiseAND(lit(0xfL)).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("sim"), col("bk.band"), col("bk.key"))
    // the Hamming gate applies to chain pairs too — a chain pair that
    // fails it is simply not a candidate (recall is probabilistic here;
    // the verified path re-checks everything against exact Jaccard)
    cappedBucketPairs(banded, Seq("band", "key"), Seq("doc_id", "sim"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .filter(bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= maxHamming)
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"))
      .distinct()
  }

  /** Portable per-word hash driving content-defined chunk boundaries:
    * fold (h·31 + codeUnit) mod 1000003 over the word's UTF-16 code
    * units. Intermediate values stay below 31·10⁶ + 2¹⁶, so the same
    * arithmetic is exact in any engine's 64-bit integers (the DuckDB
    * oracle replays it with list_reduce) — unlike MurmurHash, whose
    * finalizer no SQL engine reproduces.
    */
  def wordHash(w: String): Long = {
    var h = 0L
    var i = 0
    while (i < w.length) { h = (h * 31L + w.charAt(i).toLong) % 1000003L; i += 1 }
    h
  }

  /** Boundary divisor for [[cdcChunks]]: a word CLOSES a chunk when its
    * [[wordHash]] ≡ 0 (mod this), giving ~`CdcDivisor`-token average
    * chunks. Content-defined, so an insertion resynchronizes at the
    * next boundary word instead of shifting every later chunk (the
    * fixed-stride failure mode of [[graft.text.TextStats.chunkTokens]]).
    */
  val CdcDivisor = 8

  /** Content-defined chunking (word-level CDC, the FastCDC/LBFS idea on
    * token streams): split each document into variable-size chunks at
    * content-determined boundary words, one row per chunk with the md5
    * of its space-joined text. Every token lands in exactly ONE chunk
    * (chunks partition the token stream; the final chunk may end
    * without a boundary).
    *
    * Scale shape: a narrow per-document typed map (no shuffle, no
    * window) — chunking is embarrassingly parallel, like
    * [[graft.text.TextStats.rabinFingerprints]]. Per-row work and state
    * are linear in the document's length.
    */
  def cdcChunks(spark: SparkSession, corpus: DataFrame): DataFrame = {
    import spark.implicits._
    corpus.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val ws = text.split(" ", -1)
        val md = java.security.MessageDigest.getInstance("MD5")
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
        val buf = new StringBuilder
        var nTok = 0L
        var chunkIdx = 0L
        def emit(): Unit = {
          val hex = md.digest(buf.toString.getBytes("UTF-8"))
            .map(b => f"$b%02x").mkString
          out += ((id, chunkIdx, nTok, hex))
          md.reset(); buf.clear(); nTok = 0L; chunkIdx += 1L
        }
        var i = 0
        while (i < ws.length) {
          if (nTok > 0L) buf.append(' ')
          buf.append(ws(i))
          nTok += 1L
          if (wordHash(ws(i)) % CdcDivisor == 0L) emit()
          i += 1
        }
        if (nTok > 0L) emit()
        out
      }
      .toDF("doc_id", "chunk_idx", "n_chunk_tokens", "chunk_hash")
  }

  /** Chunk-level near-dup pairs over [[cdcChunks]] output: unordered
    * document pairs sharing at least `minShared` DISTINCT chunk hashes,
    * with the shared count — the dedup signal that survives local edits
    * (a perturbed copy still shares every chunk the edits don't touch,
    * where a whole-document hash shares nothing).
    *
    * `maxDf` caps the inverted index exactly as in [[allPairsJaccard]]:
    * a chunk appearing in more than maxDf documents (short boilerplate
    * chunks — the "the" chunk) is dropped from the postings BEFORE the
    * self-join, loudly. The drop is part of the declared semantics and
    * the oracle applies the same cap; `minShared` ≥ 2 additionally
    * suppresses single-chunk coincidences.
    */
  def cdcSharedPairs(spark: SparkSession, corpus: DataFrame,
                     minShared: Long = 2L, maxDf: Int = 64): DataFrame = {
    val ch = cdcChunks(spark, corpus)
      .select(col("doc_id"), col("chunk_hash")).distinct()
      .localCheckpoint(eager = false)
    val hot = ch.groupBy(col("chunk_hash")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("chunk_hash"))
      .localCheckpoint(eager = false)
    val nHot = hot.count()
    if (nHot > 0)
      System.err.println(
        s"[dedup] cdc df-cap: dropped $nHot chunk hashes with df > $maxDf " +
          "from the inverted index (pairs sharing only those are not emitted)")
    val kept = if (nHot == 0) ch
               else ch.join(broadcast(hot), Seq("chunk_hash"), "left_anti")
    kept.select(col("doc_id").as("doc_a"), col("chunk_hash"))
      .join(kept.select(col("doc_id").as("doc_b"), col("chunk_hash")),
        Seq("chunk_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_chunks"))
      .filter(col("shared_chunks") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  /** Near-dup clusters: connected components over the verified pair
    * graph; canonical doc = min doc_id in cluster. `sorted=false` skips
    * the presentation sort for callers that feed the result onward (a
    * terminal orderBy is a full shuffle-sort with no semantic effect).
    */
  def clusters(spark: SparkSession, corpus: DataFrame, pairs: DataFrame,
               sorted: Boolean = true): DataFrame = {
    val edges = pairs.select(col("doc_a").cast("string").as("u"),
      col("doc_b").cast("string").as("v"))
    // zero-pad for lexicographic = numeric ordering; width 20 covers any
    // non-negative Long (lpad TRUNCATES over-width input — a narrower pad
    // would silently merge ids that share a prefix)
    val pad = (c: org.apache.spark.sql.Column) => lpad(c, 20, "0")
    val allNodes = corpus.select(pad(col("doc_id").cast("string")).as("id"))
    val cc = ConnectedComponents.run(spark,
      edges.select(pad(col("u")).as("u"), pad(col("v")).as("v")), allNodes)
    val out = cc.select(col("id").cast("long").as("doc_id"),
      col("canonical_id").cast("long").as("canonical"))
    if (sorted) out.orderBy("doc_id") else out
  }

  /** Near-dup REMOVAL policy: pick ONE representative per [[clusters]]
    * cluster — the member with the most whitespace tokens (the
    * keep-the-most-complete-version heuristic), ties broken by smallest
    * doc_id. One row per cluster: (canonical, kept_doc, kept_tokens,
    * n_docs); every other member is the removal set.
    *
    * Selection is groupBy + max(struct(n_tokens, -doc_id)) — an argmax
    * that partially aggregates map-side, so a pathological million-doc
    * boilerplate cluster contributes one row per map partition to the
    * shuffle, where a row_number window would sort the whole cluster on
    * one reducer. At corpus scale feed `clusters` from the LSH pair
    * generator ([[minhashLshPairs]]); the exactness-baseline pairs are
    * for oracle-checked test scale.
    */
  def keepBest(corpus: DataFrame, clusters: DataFrame): DataFrame = {
    val toks = corpus.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    clusters.join(toks, "doc_id")
      .groupBy(col("canonical"))
      .agg(max(struct(col("n_tokens"), (-col("doc_id")).as("neg_id")))
        .as("best"), count(lit(1)).as("n_docs"))
      .select(col("canonical"), (-col("best.neg_id")).as("kept_doc"),
        col("best.n_tokens").as("kept_tokens"), col("n_docs"))
      .orderBy("canonical")
  }
}
