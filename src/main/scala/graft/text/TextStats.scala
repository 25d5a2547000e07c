package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Graft

/** Text-analysis operators for the training-data pipeline: token
  * counting, quality scoring, language identification, and document
  * fingerprinting. All column-expression based (whole-stage codegen; no
  * UDFs) except the Rabin rolling hash, which is a typed map.
  */
object TextStats {

  def docs(spark: SparkSession, sfDir: String): DataFrame =
    Graft.table(spark, sfDir, "documents")
      .select(col("doc_id").cast("long"), col("text"), col("lang"))

  /** THE whitespace-token-count column — the single tokenization proxy
    * shared by every token-counting operator (qtx1, BM25's dl, vocab
    * growth, the token-budget sampler), so the contract can only change
    * in one place.
    */
  def nTokensCol(text: Column): Column =
    size(split(text, " ")).cast("bigint")

  /** Whitespace token counts + char stats — the BPE-ish proxy for token
    * budgeting. Pure integer outputs so any engine reproduces them.
    */
  def tokenCounts(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      nTokensCol(col("text")).as("n_tokens"),
      length(col("text")).cast("bigint").as("n_chars"),
      size(array_distinct(split(col("text"), " "))).cast("bigint").as("n_distinct_tokens"))
      .orderBy("doc_id")

  /** Quality components: stopword hits, mean token length, distinct-token
    * ratio. Ratios are single double divisions of exact integers —
    * bit-reproducible across engines.
    */
  def quality(d: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    val stop = array(Seq("the", "a", "an", "and", "of", "to", "in").map(lit): _*)
    d.select(col("doc_id"),
      size(filter(words, w => array_contains(stop, w))).cast("bigint").as("n_stopwords"),
      size(words).cast("bigint").as("n_tokens"),
      length(col("text")).cast("bigint").as("n_chars"))
      .withColumn("stopword_ratio",
        col("n_stopwords").cast("double") / col("n_tokens").cast("double"))
      .withColumn("mean_token_len",
        (col("n_chars") - col("n_tokens") + lit(1)).cast("double") / col("n_tokens").cast("double"))
      .orderBy("doc_id")
  }

  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "de" -> Seq(" der ", " und ", " das "),
    "es" -> Seq(" el ", " los ", " una "),
    "fr" -> Seq(" le ", " les ", " une "))

  /** N-gram-heuristic language ID: count language marker tokens, argmax
    * with deterministic tie order (en > de > es > fr), 'und' (undefined)
    * when no marker hits. Implemented as pure column arithmetic
    * (occurrence counts via length-difference), so an independent SQL
    * engine states the same result.
    */
  def langId(d: DataFrame): DataFrame = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    def hits(ms: Seq[String]) = ms.map { m =>
      (length(padded) - length(regexp_replace(padded, java.util.regex.Pattern.quote(m), ""))) / m.length
    }.reduce(_ + _)
    val scored = markers.foldLeft(
      d.select(col("doc_id"), col("lang"), col("text"))) {
      case (df, (code, ms)) => df.withColumn(s"s_$code", hits(ms).cast("bigint"))
    }
    // argmax with fixed priority order on ties (foldRight: earlier
    // markers win)
    val cols = markers.map { case (c, _) => col(s"s_$c") }
    val maxScore = greatest(cols: _*)
    val pred = when(maxScore === 0, lit("und"))
      .otherwise(markers.map(_._1).foldRight(lit("und")) { case (code, acc) =>
        when(col(s"s_$code") === maxScore, lit(code)).otherwise(acc)
      })
    // foldRight gives earlier markers precedence on ties
    scored.select(col("doc_id"), col("lang"), pred.as("pred_lang"),
      cols.head.as("s_en"))
      .orderBy("doc_id")
  }

  /** Normalized-content fingerprint (md5 of lowercased
    * whitespace-collapsed text) — the cheap cross-engine-checkable
    * fingerprint used for near-exact dedup bucketing.
    */
  def fingerprintMd5(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp"))
      .orderBy("doc_id")

  /** Token-window chunking — the context-window document splitter of a
    * training-data pipeline: fixed-size token chunks on a fixed stride
    * (`step` < `chunkSize` ⇒ overlapping windows). Pure codegen columns
    * (split → explode(sequence) → slice → md5), no UDF; one narrow map +
    * explode, so at 100 TB it is an embarrassingly-parallel pass whose
    * output partitioning follows the input's. Every token lands in at
    * least one chunk (starts run to the last token; the final chunk may
    * be partial); a doc never yields zero chunks.
    */
  def chunkTokens(d: DataFrame, chunkSize: Int = 32, step: Int = 24): DataFrame = {
    require(chunkSize > 0 && step > 0, "chunkSize and step must be positive")
    d.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n", size(col("ws")))
      .withColumn("start",
        explode(sequence(lit(0), greatest(col("n") - 1, lit(0)), lit(step))))
      .select(col("doc_id"),
        (col("start") / step).cast("bigint").as("chunk_idx"),
        least(lit(chunkSize), col("n") - col("start")).cast("bigint").as("n_chunk_tokens"),
        md5(array_join(slice(col("ws"), col("start") + 1, lit(chunkSize)), " ")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  // PII patterns shared by count + redact — ASCII-only constructs that
  // mean the same thing under Java regex (Spark) and RE2 (DuckDB).
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{4}\\b"

  /** PII scrub for training corpora: count then mask emails, IPv4s and
    * phone-suffix patterns (emails FIRST — an address can embed dots and
    * digits that the narrower patterns would half-mask). Pure
    * regexp_count/regexp_replace columns — codegen'd, no UDF, and the
    * patterns are engine-portable so an independent SQL engine states
    * the same redaction.
    */
  def redactPii(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
        regexp_count(col("text"), lit(EmailRe)).cast("bigint").as("n_emails"),
        regexp_count(col("text"), lit(Ipv4Re)).cast("bigint").as("n_ips"),
        regexp_count(col("text"), lit(PhoneRe)).cast("bigint").as("n_phones"),
        md5(
          regexp_replace(
            regexp_replace(
              regexp_replace(col("text"), EmailRe, "<EMAIL>"),
              Ipv4Re, "<IP>"),
            PhoneRe, "<PHONE>")).as("redacted_hash"))
      .orderBy("doc_id")

  /** Corpus-level bigram support — the LM-style boilerplate/quality
    * signal (CCNet-shaped, integer-exact instead of a float perplexity
    * so independent engines agree bit-for-bit): for each document, the
    * fraction of its bigram OCCURRENCES whose bigram appears in ≥
    * `minDocs` distinct documents. Boilerplate scores high (its bigrams
    * recur corpus-wide), novel prose scores low.
    *
    * Two-pass shape — the operator family the per-doc scorers can't
    * express: pass 1 aggregates corpus bigram document-frequencies (one
    * shuffle on the bigram), pass 2 joins them back to each document's
    * bigrams (second shuffle) and reduces per doc. At 100 TB the
    * df table is Zipf-long-tailed; the join is bigram-hash-partitioned
    * and the final reduce is a map-side-combinable sum. The single
    * double division per doc of two exact integers is bit-reproducible.
    */
  def bigramSupport(d: DataFrame, minDocs: Int = 2): DataFrame = {
    val ws = split(col("text"), " ")
    val bigrams = d.select(col("doc_id"), ws.as("ws"))
      .withColumn("i", explode(sequence(lit(0), size(col("ws")) - 2)))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"),
        concat_ws(" ", element_at(col("ws"), col("i") + 1),
          element_at(col("ws"), col("i") + 2)).as("bigram"))
    // `bigrams` is deliberately RECOMPUTED on both sides of the join
    // (the df_ aggregation and the probe): the exploded bigram stream is
    // ~10× the corpus, so materializing it to cache/disk at 100 TB costs
    // more than the second scan — the classic two-pass corpus-statistic
    // trade. The narrow split+explode re-runs; the expensive shuffles
    // (bigram agg, bigram join) each run once.
    val df_ = bigrams.groupBy("bigram")
      .agg(countDistinct(col("doc_id")).as("bigram_df"))
    bigrams.join(df_, "bigram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("bigram_df") >= minDocs, 1L).otherwise(0L)).as("n_supported"))
      .withColumn("support_ratio",
        col("n_supported").cast("double") / col("n_bigrams").cast("double"))
      .orderBy("doc_id")
  }

  /** Repetition signals — the Gopher/MassiveText-family boilerplate
    * heuristics ("Scaling Language Models", Rae et al. 2021, Table A1:
    * fraction-of-characters-in-most-common-ngram / in-duplicated-ngrams)
    * re-expressed integer-exactly per document:
    *
    *  - `top_tf`      — occurrence count of the document's most frequent
    *                    token (a high count ⇒ keyword-stuffing/spam);
    *  - `top_ratio`   — top_tf / n_tokens;
    *  - `n_dup_grams` — number of 3-gram OCCURRENCES whose 3-gram
    *                    appears ≥ 2 times within the document (repeated
    *                    template lines score high);
    *  - `dup_ratio`   — n_dup_grams / n_grams (0.0 for docs under 3
    *                    tokens, which have no 3-grams).
    *
    * Counts are integers and each ratio is one double division of two
    * exact integers, so every row is value-checkable cross-engine.
    *
    * Scale shape: explode → per-(doc, gram) count → per-doc reduce; both
    * aggregations key on the doc (map-side combinable), per-reducer
    * state is one document's vocabulary — never corpus-global state (the
    * corpus-level analog is [[bigramSupport]]). The token and 3-gram
    * passes share the one split; no UDFs, all codegen.
    */
  def repetitionSignals(d: DataFrame): DataFrame = {
    val ws = split(col("text"), " ")
    val toks = d.select(col("doc_id"), explode(ws).as("term"))
    val top = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .groupBy("doc_id")
      .agg(max(col("tf")).as("top_tf"), sum(col("tf")).as("n_tokens"))
    val grams = d.select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("ws")) - 3),
        i => concat_ws(" ", slice(col("ws"), i + 1, lit(3))))).as("gram"))
    val dup = grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_grams"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("n_dup_grams"))
    top.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("top_tf"),
        (col("top_tf").cast("double") / col("n_tokens").cast("double"))
          .as("top_ratio"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          col("n_dup_grams").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)).as("dup_ratio"))
      .orderBy("doc_id")
  }

  /** TF-IDF-style distinctive-term extraction: the top-`k` terms per
    * document by an INTEGER-EXACT score, `tf * 10^6 div df` (integral
    * division). For a fixed corpus size N this ranks identically to
    * classic tf·idf = tf·log(N/df) wherever the ranking is decided by
    * tf/df — and unlike the log spelling it is bit-reproducible across
    * engines, so the driver can value-hash it (the same reasoning as
    * [[bigramSupport]]'s integer support counts). Ties break by term.
    *
    * Two-pass corpus statistic: per-(doc, term) counts (one shuffle),
    * term document-frequency over that output (second, much smaller
    * shuffle), join back, per-doc top-k window. The window partitions by
    * doc_id — per-reducer state is one document's vocabulary, never the
    * corpus's.
    */
  def distinctiveTerms(d: DataFrame, k: Int = 3): DataFrame = {
    val toks = d.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // tf rows are (doc, term)-unique, so a plain count IS document freq
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, "term")
      .withColumn("score", expr("tf * CAST(1000000 AS BIGINT) div df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "term")
  }

  /** Corpus-df-driven token pruning — the vocabulary-trim pass every
    * large-scale text pipeline runs before tokenizer training or index
    * construction: classify every term by its document frequency
    * (`stop` if df·100 ≥ `stopPct`·n_docs — boilerplate that carries
    * no signal; `rare` if df < `minDf` — typo/noise tail that
    * bloats the vocabulary; `keep` otherwise) and report, per document,
    * the class-wise token counts plus an md5 pin of the kept text (the
    * kept tokens in original order, space-joined — value-pins the
    * pruned document without shipping it, the [[chunkTokens]] trade).
    * Both thresholds are integer comparisons, so the classification is
    * engine-exact.
    *
    * Scale shape: per-(doc, term) counts (one shuffle), df over that
    * output (smaller shuffle), then ONE term-keyed join of the token
    * stream against the per-term class table — the class side is one
    * row per term (vocabulary-sized, broadcastable in the common case;
    * under a shuffle join a stop-word's heavy key is 1:1 build-side, so
    * AQE skew splitting applies cleanly). The per-doc md5 fold sorts
    * each document's own tokens only — state bounded by document
    * length, never the corpus.
    */
  def dfPrune(d: DataFrame, minDf: Long = 2, stopPct: Int = 30): DataFrame = {
    val nDocs = d.count()
    val toks = d.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .filter(length(col("term")) > 0)
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val cls = dfreq.select(col("term"),
      when(col("df") * 100 >= lit(stopPct.toLong * nDocs), lit("stop"))
        .when(col("df") < minDf, lit("rare"))
        .otherwise(lit("keep")).as("cls"))
    val kept = when(col("cls") === "keep", struct(col("pos"), col("term")))
    toks.join(cls, "term")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("cls") === "keep", 1)).as("n_kept"),
        count(when(col("cls") === "stop", 1)).as("n_stop"),
        count(when(col("cls") === "rare", 1)).as("n_rare"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(kept)), x => x.getField("term"))))
          .as("kept_md5"))
      .orderBy("doc_id")
  }

  /** Inverted-index statistics — the retrieval-side build step: one row
    * per term with its posting count, document frequency, and a
    * position-complete fingerprint of the posting list. The fingerprint
    * is the SUM of a 32-bit hash of every `doc:pos` posting (mod 2⁶²) —
    * deliberately ORDER-FREE and therefore map-side combinable, so a
    * stop-word term never accumulates a giant sorted posting list on one
    * reducer the way a `collect_list`-then-md5 canonicalization would.
    * Two engines that index the same corpus agree on every row exactly
    * (hash inputs are decimal-rendered integers; the mod keeps the sum
    * inside BIGINT at any posting count — the raw 32-bit sum would
    * overflow past ~2·10⁹ postings per term).
    *
    * Positions are 1-based whitespace-token ordinals, matching
    * [[tokenCounts]]'s tokenizer.
    */
  def invertedIndex(d: DataFrame): DataFrame = {
    val tok = d.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("p", "term")))
      .select(col("term"), col("doc_id"), (col("p") + 1).cast("long").as("pos"))
    tok.groupBy("term").agg(
        count(lit(1)).as("n_postings"),
        countDistinct(col("doc_id")).as("df"),
        expr("""cast(sum(cast(conv(substring(md5(concat(
                |  cast(doc_id as string), ':', cast(pos as string))), 1, 8),
                |  16, 10) as decimal(38,0)))
                | % 4611686018427387904 as bigint)""".stripMargin)
          .as("postings_fp"))
      .orderBy("term")
  }

  /** URL canonicalization — the web-corpus dedup primitive (a crawl
    * sees the same page under fragment/tracking-param/case/port
    * variants; URL-level dedup needs ONE canonical spelling before any
    * content hash). Rules, in order:
    *
    *  1. strip the `#fragment`;
    *  2. lowercase scheme + host:port — userinfo (`user:pw@`, split at
    *     the authority's LAST `@`, the only one RFC 3986 permits), path
    *     and query stay case-SENSITIVE, per RFC 3986 §6.2.2.1;
    *  3. drop scheme-default ports (`http…:80`, `https…:443`);
    *  4. drop `utm_*` tracking params (exact split/filter/rejoin over
    *     `&`, not regex passes — adjacent params need no fixpoint), and
    *     the `?` itself when nothing but empty segments survives; empty
    *     segments (`a=1&&b=2`, trailing `&`) are otherwise preserved
    *     verbatim;
    *  5. drop a bare root-path trailing slash (`host/` → `host`,
    *     `host/?q` → `host?q`); deeper trailing slashes are meaningful
    *     and kept — the rule is anchored to the URL's OWN authority, so
    *     a `://` embedded in the path or a query value is never touched.
    *
    * The scheme is matched RFC-3986-shaped (`ALPHA *(ALPHA/DIGIT/+/-/.)`)
    * so a schemeless input — including one whose query embeds a full
    * URL — passes through rules 2/3/5 unchanged. Pure codegen column
    * expression (regex + string HOFs, no UDF). qtx10 value-checks it
    * against planted expectations recomputed from doc_id arithmetic —
    * the oracle never re-implements the normalizer.
    */
  def canonicalizeUrl(u: Column): Column = {
    val scheme = "[A-Za-z][A-Za-z0-9+.-]*"
    val f = regexp_replace(u, "#.*", "")
    val prefix = regexp_extract(f, s"^($scheme://[^/?#]*)", 1)
    // prefix = schemePart + userinfo@ + host:port; only the first and
    // last case-normalize (userinfo is case-sensitive credential data —
    // lowering it would falsely merge URLs differing only there). The
    // greedy `[^/?#]*@` stops at the authority's last `@`; all parts are
    // empty on schemeless input, leaving it untouched as before.
    val schemePart = regexp_extract(prefix, s"^($scheme://)", 1)
    val userinfo = regexp_extract(prefix, s"^$scheme://([^/?#]*@)", 1)
    val hostPort = prefix.substr(
      length(schemePart) + length(userinfo) + 1, length(prefix))
    val lowered = concat(lower(schemePart), userinfo, lower(hostPort),
      f.substr(length(prefix) + 1, length(f)))
    // optional userinfo before the host — it may contain ':' (user:pw),
    // which must not be mistaken for the port delimiter
    val p1 = regexp_replace(lowered,
      "^(http://(?:[^/?#]*@)?[^/:?#]+):80([/?]|$)", "$1$2")
    val p2 = regexp_replace(p1,
      "^(https://(?:[^/?#]*@)?[^/:?#]+):443([/?]|$)", "$1$2")
    val qpos = instr(p2, "?")
    val base = p2.substr(lit(1), qpos - 1)
    val q = p2.substr(qpos + 1, length(p2))
    val kept = filter(split(q, "&"), p => !p.startsWith("utm_"))
    val nonEmpty = filter(kept, p => p =!= "")
    val noUtm = when(qpos === 0, p2)
      .when(size(nonEmpty) > 0, concat(base, lit("?"), array_join(kept, "&")))
      .otherwise(base)
    regexp_replace(noUtm, s"^($scheme://[^/?#]*)/($$|\\?)", "$1$2")
  }

  /** Corpus novelty score — per document, the fraction of its `n`-gram
    * OCCURRENCES whose gram is INTRODUCED by this document (its first
    * corpus occurrence, under the canonical (doc_id, position) order,
    * lies here). The dual of [[bigramSupport]]: support measures how
    * recycled a doc's language is, novelty measures how much NEW
    * surface it contributes — the curation signal for dedup-adjacent
    * originality ranking and for ordering crawl snapshots. Documents
    * under `n` tokens have no grams and are excluded (declared).
    *
    * Scale shape: gram explode (narrow) → first-occurrence MIN on the
    * composite doc_id·10⁶ + pos (map-side combinable — the
    * [[segmentDedup]] trick and bound) → join back on the gram (1 build
    * row per distinct gram; AQE skew-splits boilerplate grams) →
    * per-doc counts. One double division of exact integers per doc.
    */
  def noveltyScore(d: DataFrame, n: Int = 3): DataFrame = {
    val ws = split(col("text"), " ")
    val occ = d.filter(size(ws) >= n).select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(ws) - n),
          i => concat_ws(" ", slice(ws, i + 1, lit(n))))).as(Seq("p", "gram")))
      .select(col("doc_id"), col("gram"),
        (col("doc_id") * 1000000L + col("p")).as("occ"))
    val first = occ.groupBy("gram").agg(min("occ").as("first_occ"))
    occ.join(first, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(expr("first_occ div 1000000") === col("doc_id"), 1))
          .as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
      .orderBy("doc_id")
  }

  /** Per-source corpus profile — the per-domain report crawl curation
    * reads before setting mixture rates ([[graft.sample.Sampling
    * .mixByRates]]/[[graft.sample.Sampling.tokenBudgetSample]] budgets
    * come from exactly this table): doc and token counts, language
    * spread, and the dominant language (count desc, lang tiebreak) per
    * source. Two map-side-combinable aggregates + a per-source argmax
    * window whose state is one source's language set.
    */
  def sourceProfile(d: DataFrame): DataFrame = {
    val per = d.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(nTokensCol(col("text"))).as("n_tokens"),
      countDistinct(col("lang")).as("n_langs"))
    val langCounts = d.groupBy("source", "lang").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("c").desc, col("lang"))
    val top = langCounts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"),
        col("c").as("top_lang_docs"))
    per.join(top, "source").orderBy("source")
  }

  /** Cross-document segment-level dedup — the C4/CCNet pass that removes
    * REPEATED SPANS (boilerplate, licence blocks, mirrored paragraphs)
    * from otherwise-distinct documents, where document-level dedup
    * ([[graft.dedup.Dedup]]) can't act. Documents split into
    * non-overlapping `segTokens`-token segments (the final segment may
    * be partial — every token belongs to exactly one segment); a segment
    * text occurring anywhere else in the corpus is kept ONLY at its
    * first occurrence — the smallest (doc_id, seg_idx) — and dropped
    * everywhere else, C4's keep-one semantics. Output per document:
    * segment counts and an md5 pin of the retained text (kept segments
    * in original order, space-joined — the [[chunkTokens]] trade).
    *
    * Scale shape: segmenting is a narrow map+explode; the first-
    * occurrence table is one groupBy on the segment hash whose MIN is
    * map-side combinable (a boilerplate segment duplicated across 10⁹
    * documents partially aggregates before the shuffle); the keep
    * decision joins back on the same hash (1 build row per distinct
    * segment, so AQE skew-splits a hot segment cleanly); the per-doc
    * reassembly sorts only one document's own segments. First-occurrence
    * order is encoded as the composite `doc_id·10⁶ + seg_idx` so MIN is
    * a plain integer aggregate (documented bound: documents under 10⁶
    * segments = 15M tokens at the default; doc_ids under 2⁶³/10⁶).
    */
  def segmentDedup(corpus: DataFrame, segTokens: Int = 15): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    val segs = corpus.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("start",
        explode(sequence(lit(0), greatest(size(col("ws")) - 1, lit(0)),
          lit(segTokens))))
      .select(col("doc_id"),
        (col("start") / segTokens).cast("long").as("seg_idx"),
        array_join(slice(col("ws"), col("start") + 1, lit(segTokens)), " ")
          .as("seg"))
      .select(col("doc_id"), col("seg_idx"), col("seg"),
        md5(col("seg")).as("sh"),
        (col("doc_id") * 1000000L + col("seg_idx")).as("occ"))
    val first = segs.groupBy("sh").agg(min(col("occ")).as("keep_occ"))
    segs.join(first, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        count(when(col("occ") === col("keep_occ"), 1)).as("n_kept"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(when(col("occ") === col("keep_occ"),
            struct(col("seg_idx"), col("seg"))))),
          x => x.getField("seg")))).as("kept_md5"))
      .withColumn("n_dropped", col("n_segments") - col("n_kept"))
      .orderBy("doc_id")
  }

  /** Vocabulary growth curve — the Heaps'-law observable a corpus
    * profile reports before tokenizer/vocab sizing: distinct-term count
    * within the first N tokens of the corpus, for each checkpoint N,
    * under the canonical global token order (documents by doc_id,
    * tokens by position). Checkpoints beyond the corpus report the full
    * vocabulary (the curve's plateau), so the output is always
    * |checkpoints| rows.
    *
    * Scale shape: the global order needs only a cumulative-offset
    * prefix sum over the DOCUMENT table (corpus-row-free, never the
    * token stream) — computed via [[graft.sample.DistOrder.prefixSum]]'s
    * two-level scheme (range shards from one quantile pass, per-shard
    * windows, driver-prefixed shard totals), NOT an unpartitioned
    * window, which would sort every doc row on one reducer — joined
    * back to the exploded tokens; per-term first positions are a
    * map-side-combinable MIN; the curve itself is |checkpoints|
    * counting aggregates over the first-position table
    * (vocabulary-sized).
    */
  def vocabGrowth(d: DataFrame,
                  checkpoints: Seq[Long] = Seq(1000L, 2000L, 5000L, 10000L,
                    20000L, 50000L)): DataFrame = {
    require(checkpoints.nonEmpty, "no checkpoints")
    // materialized once (localCheckpoint): the two bounded driver jobs
    // inside prefixSum (quantile boundaries, per-shard totals) and the
    // final join then all read the tiny (doc_id, n) table instead of
    // re-tokenizing the corpus per action
    val counts = d
      .select(col("doc_id"), nTokensCol(col("text")).as("n"))
      .localCheckpoint()
    val offsets = graft.sample.DistOrder.prefixSum(
      counts, col("doc_id"), col("doc_id"), col("n"), "off")
    val firsts = d
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("p", "term")))
      .filter(length(col("term")) > 0)
      .join(offsets.select(col("doc_id"), col("off")), "doc_id")
      .groupBy("term")
      .agg(min(col("off") + col("p") + 1L).as("first_pos"))
    // one conditional aggregate over the first-position table (no
    // checkpoint⋈vocabulary theta join), unpivoted to (N, vocab) rows
    val aggs = checkpoints.map(cp =>
      count(when(col("first_pos") <= cp, 1)).as(s"c$cp"))
    firsts.agg(aggs.head, aggs.tail: _*)
      .select(explode(map(checkpoints.flatMap(cp =>
        Seq(lit(cp), col(s"c$cp"))): _*)).as(Seq("n_tokens", "vocab")))
      .orderBy("n_tokens")
  }

  /** Greedy leftmost non-overlapping pair merge over a symbol array —
    * one BPE merge step as a pure column expression (aggregate HOF with
    * (result, pending) state; overlapping matches like a run of equal
    * symbols merge at even offsets, the standard BPE semantics).
    */
  private[text] def mergePair(syms: Column, a: Column, b: Column): Column = {
    val init = struct(array().cast("array<string>").as("res"),
      lit("").as("pend"))
    aggregate(syms, init,
      (acc, s) => {
        val res = acc.getField("res")
        val p = acc.getField("pend")
        val merged = p === a && s === b
        struct(
          when(merged, concat(res, array(concat(p, s))))
            .when(p === "", res)
            .otherwise(concat(res, array(p))).as("res"),
          when(merged, lit("")).otherwise(s).as("pend"))
      },
      acc => when(acc.getField("pend") === "", acc.getField("res"))
        .otherwise(concat(acc.getField("res"),
          array(acc.getField("pend")))))
  }

  /** Byte-pair-encoding merge learning — the first `iterations` merges
    * of tokenizer training (Sennrich et al. 2016) over the corpus's
    * whitespace words: symbols start as characters; each round counts
    * adjacent symbol pairs weighted by word frequency (overlapping
    * positions count, the reference semantics), picks the most frequent
    * pair (ties → lexicographically smallest), and greedily merges it
    * left-to-right in every word. Returns one row per merge: the pair,
    * its count at selection time, and the corpus-wide distinct-symbol
    * count after applying it — the vocabulary trajectory that pins the
    * whole segmentation state, not just the chosen pairs.
    *
    * Scale shape: everything runs on the WORD TYPE table (the classic
    * wordcount — map-side combinable; ~10⁸ rows at web scale, never the
    * token stream), pair counts aggregate by pair (map-side
    * combinable), the argmax is a 1-row TakeOrdered, and the merge is a
    * narrow map over the vocab table with a per-round localCheckpoint
    * (the LPA discipline — each round references the last, lineage
    * would stack). Only the winning (pair, count) row ever reaches the
    * driver. Rounds after pairs run out (all words single-symbol) stop
    * early.
    */
  def bpeMerges(d: DataFrame, iterations: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val spark = d.sparkSession
    // filter: Spark's split("") emits a trailing empty string; DuckDB's
    // does not — drop empties so both engines see the same symbol lists
    var words = d.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        filter(split(col("word"), ""), s => s =!= "").as("syms"))
      .localCheckpoint(true)
    val out = Seq.newBuilder[(Int, String, String, Long, Long)]
    var k = 1
    var exhausted = false
    while (k <= iterations && !exhausted) {
      val top = words.filter(size(col("syms")) >= 2)
        .select(col("freq"), col("syms"),
          posexplode(slice(col("syms"), lit(1), size(col("syms")) - 1))
            .as(Seq("i", "a")))
        .withColumn("b", element_at(col("syms"), col("i") + 2))
        .groupBy("a", "b").agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        words = words.withColumn("syms",
          mergePair(col("syms"), lit(a), lit(b))).localCheckpoint(true)
        val vocab = words.select(explode(col("syms")).as("s"))
          .agg(countDistinct(col("s"))).head().getLong(0)
        out += ((k, a, b, n, vocab))
        k += 1
      }
    }
    import spark.implicits._
    out.result().toDF("rank", "sym_a", "sym_b", "n_pairs", "vocab_after")
      .select(col("rank").cast("bigint").as("rank"), col("sym_a"),
        col("sym_b"), col("n_pairs"), col("vocab_after"))
      .orderBy("rank")
  }

  /** 61-bit Rabin–Karp rolling polynomial hash over the char stream —
    * the streaming fingerprint used at scale (content-defined chunking
    * base). Pure Scala, deterministic.
    */
  def rabin(text: String): Long = {
    val M = (1L << 61) - 1
    val B = 257L
    var h = 0L
    var i = 0
    while (i < text.length) {
      // (h*B + c) mod M with 128-bit-safe mulmod via Math.multiplyHigh
      val lo = h * B
      val hi = Math.multiplyHigh(h, B)
      // fold 2^64 ≡ 8 (mod 2^61-1): x = hi*2^64 + lo
      var v = (lo & M) + ((lo >>> 61) | (hi << 3)) * 1L
      v = (v & M) + (v >>> 61)
      h = (v + text.charAt(i).toLong) % M
      i += 1
    }
    h
  }

  /** Bigram language-model quality score — the KenLM-style perplexity
    * filter of training-data pipelines, self-trained on the corpus:
    * per document, the mean add-one-smoothed bigram log-probability
    * score = (Σ_pairs ln((c₂(w₁w₂)+1)/(c₁(w₁)+V))) / n_pairs, folded in
    * POSITION order. Lower = more surprising under the corpus LM (noise,
    * boilerplate-free gibberish); higher = well-modeled text.
    *
    * Bit-reproducible: counts and V are exact integers, the log is the
    * engine-portable [[graft.functions.ExactMath.lnOfInt]] applied to
    * the integer numerator and denominator separately, and the per-doc
    * sum is a sorted fold (qkg10 discipline).
    *
    * Scale: bigram/unigram count tables are corpus-level aggregations
    * (map-side combinable); the pairs→counts joins are shuffle joins
    * keyed on the bigram/unigram (a stop-word's hot key is 1:1
    * build-side so AQE skew split applies); per-doc state is one
    * document's pair list.
    */
  def lmScore(d: DataFrame): DataFrame = {
    import graft.functions.ExactMath
    val ws = split(col("text"), " ")
    // docs with < 2 tokens have no bigrams: excluded (declared), and the
    // guard keeps sequence(0, -1) from generating a descending range
    val pairs = d.filter(size(ws) >= 2).select(col("doc_id"),
        explode(transform(sequence(lit(0), size(ws) - 2),
          i => struct(i.cast("long").as("pos"),
            element_at(ws, i + 1).as("w1"),
            element_at(ws, i + 2).as("w2")))).as("pr"))
      .select(col("doc_id"), col("pr.pos").as("pos"),
        col("pr.w1").as("w1"), col("pr.w2").as("w2"))
    val toks = d.select(explode(ws).as("w"))
    val c1 = toks.groupBy(col("w").as("w1")).agg(count(lit(1)).as("c1"))
    val c2 = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val v = toks.select(countDistinct(col("w"))).head().getLong(0)
    val logp = ExactMath.lnOfInt(col("c2") + 1L) -
      ExactMath.lnOfInt(col("c1") + v)
    pairs.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .select(col("doc_id"), col("pos"), logp.as("logp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        (aggregate(array_sort(collect_list(struct(col("pos"), col("logp")))),
          lit(0.0), (acc, x) => acc + x.getField("logp")) /
          count(lit(1))).as("lm_score"))
      .orderBy("doc_id")
  }

  /** Skip-gram pair extraction + PPMI scoring — the word2vec/embedding
    * training-data step: within each document, (center, context) pairs
    * over a symmetric `window`, scored
    * ppmi = max(0, ln(c(pair)·T) − ln(c(center)·c(context))) over the
    * corpus totals; only positive-PMI pairs survive (the standard
    * embedding co-occurrence matrix).
    *
    * Bit-reproducible: all counts are exact integers and the log is
    * [[graft.functions.ExactMath.lnOfInt]] on the integer products
    * (domain: products must stay ≤ 2⁵² — T ≤ 2²⁶ pairs per invocation;
    * shard larger corpora by source and merge counts first).
    *
    * Scale: context generation is an exact-position EQUI-join — each
    * center explodes to its 2·window candidate positions and joins on
    * (doc, position) — never a per-document range join (O(len·window)
    * rows, no quadratic blowup on long docs); the three count tables
    * are map-side-combinable aggregations.
    */
  def skipgramPpmi(d: DataFrame, window: Int = 2): DataFrame = {
    import graft.functions.ExactMath
    require(window >= 1, s"window must be >= 1, got $window")
    val toks = d.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("p", "w")))
      .select(col("doc_id"), col("p").cast("long").as("p"), col("w"))
    val offs = (-window to window).filter(_ != 0)
    val cand = toks.select(col("doc_id"), col("w").as("center"),
      explode(array(offs.map(o => col("p") + o): _*)).as("pc"))
    val pairs = cand.join(
      toks.select(col("doc_id"), col("p").as("pc"), col("w").as("context")),
      Seq("doc_id", "pc"))
    // evaluated once, lineage cut, blocks not pinned (the Dedup
    // cappedBucketPairs pattern) — four consumers follow (T, c_center,
    // c_context, the final join) and an unpersist-in-finally would fire
    // before the lazy result plan ever ran
    val pc = pairs.groupBy("center", "context")
      .agg(count(lit(1)).as("n_pair")).localCheckpoint(true)
    val t = pc.agg(sum(col("n_pair"))).head().getLong(0)
    val cc = pc.groupBy("center").agg(sum(col("n_pair")).as("c_center"))
    val cx = pc.groupBy("context").agg(sum(col("n_pair")).as("c_context"))
    val ppmi = ExactMath.lnOfInt(col("n_pair") * t) -
      ExactMath.lnOfInt(col("c_center") * col("c_context"))
    pc.join(cc, "center").join(cx, "context")
      .select(col("center"), col("context"), col("n_pair"),
        ppmi.as("ppmi"))
      .filter(col("ppmi") > 0.0)
      .orderBy("center", "context")
  }

  def rabinFingerprints(spark: SparkSession, d: DataFrame): DataFrame = {
    import spark.implicits._
    d.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, t) => (id, rabin(t)) }
      .toDF("doc_id", "rabin_fp")
      .orderBy("doc_id")
  }

  /** BM25 top-k retrieval for a fixed term query over whitespace tokens:
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf(t) = ln((N − df + 0.5)/(df + 0.5)).
    *
    * Bit-reproducible like PageRank (qkg10): every input to the float
    * math is an exact integer (tf, df, dl, N, Σdl), the log is the
    * engine-portable polynomial ([[graft.functions.ExactMath.lnOfInt]]
    * — libm ln is NOT bit-portable across engines; idf is rewritten as
    * ln(2(N−df)+1) − ln(2df+1), both integer arguments), and the
    * per-doc term sum folds in SORTED term order via
    * aggregate(array_sort(collect_list)), so the score is independent of
    * partitioning and hash-checkable value-for-value.
    *
    * Scale: tf is one hash aggregation over only the rows matching the
    * (broadcast-tiny) query term set — the scan prunes on
    * `term isin q` before any shuffle; dl is a narrow per-doc map (no
    * token explode survives it); corpus stats are two scalars; top-k is
    * TakeOrdered (per-partition heaps, no global sort).
    */
  def bm25(d: DataFrame, queryTerms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75, topK: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty && topK > 0, "empty query or topK")
    val dl = d.select(col("doc_id"), nTokensCol(col("text")).as("dl"))
    val corpus = dl.agg(count(lit(1)), sum(col("dl"))).head()
    val n = corpus.getLong(0)
    val avgdl = corpus.getLong(1).toDouble / n.toDouble
    val toks = d.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
    val dfs = toks.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // idf = ln((N−df+0.5)/(df+0.5)) = ln(2(N−df)+1) − ln(2df+1): integer
    // arguments so the engine-portable lnOfInt applies
    val idf = graft.functions.ExactMath.lnOfInt(
      (lit(n) - col("df")) * 2L + 1L) -
      graft.functions.ExactMath.lnOfInt(col("df") * 2L + 1L)
    val norm = col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl)
    val part = tf.join(broadcast(dfs), "term").join(dl, "doc_id")
      .select(col("doc_id"), col("term"),
        (idf * (col("tf") * (k1 + 1.0)) / norm).as("part"))
    part.groupBy("doc_id")
      .agg(aggregate(array_sort(collect_list(struct(col("term"),
          col("part")))), lit(0.0),
        (acc, x) => acc + x.getField("part")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }
}
