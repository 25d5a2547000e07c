package graft.kg

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import scala.util.hashing.MurmurHash3
import graft.core.Graft

final case class PageText(url: String, text: String, lang: String)
final case class MentionRow(url: String, start: Int, end: Int, alias: String)
final case class LinkRow(url: String, start: Int, end: Int, entity_id: String)
final case class TripleRow(url: String, subj: String, pred: String, obj: String)

/** One extracted fact: kind 0 = mention link (start/end/a=entity_id),
  * kind 1 = pattern triple (a=subj, pred, obj). A single union row type
  * lets one corpus scan emit both (see [[Extract.facts]]).
  */
final case class FactRow(kind: Int, url: String, start: Int, end: Int,
                         a: String, pred: String, obj: String)

/** Sharded-scan scratch row ([[Extract.factsSharded]]): one raw
  * word-boundary candidate. `tkey` fingerprints the page TEXT (not just
  * the url) so resolution groups by (url, tkey) — duplicate urls with
  * different texts must not pool their candidates, or tiling one text
  * against another's spans would diverge from [[Extract.facts]].
  */
final case class ShardCand(url: String, tkey: Long, start: Int, end: Int,
                           alias: String)

/** Stage-1 transforms: deterministic HTML→text, dictionary mention
  * detection, and OpenIE-style pattern triple extraction — all narrow
  * mapPartitions over typed Datasets (no shuffle), the Spark re-cast of
  * the reference's pure-Python `transform` functions
  * (docs/root/dev/writing-intel-modules.md:24-56 contract: deterministic,
  * fail-fast on malformed required fields).
  */
object Extract {

  /** Length-preserving ASCII lowercasing — locale-free by construction
    * (String.toLowerCase can change length under some locales, which
    * would corrupt mention spans).
    */
  def asciiLower(s: String): String = {
    val a = s.toCharArray
    var i = 0
    while (i < a.length) {
      val c = a(i)
      if (c >= 'A' && c <= 'Z') a(i) = (c + 32).toChar
      i += 1
    }
    new String(a)
  }

  /** HTML → text. The byte-identical-per-url invariant (BASELINE.json
    * input_hint) is asserted against Page.text in tests and in the
    * qkg1 driver query.
    */
  def pageText(pages: Dataset[Page]): Dataset[PageText] = {
    import pages.sparkSession.implicits._
    pages.mapPartitions(_.map(p => PageText(p.url, Html.extract(p.html), p.lang)))
  }

  /** Dictionary mention detection: one Aho–Corasick automaton per
    * partition built from the broadcast alias list; case-insensitive,
    * word-boundary, leftmost-longest.
    */
  def mentions(spark: SparkSession, texts: Dataset[PageText],
               aliases: Seq[String]): Dataset[MentionRow] = {
    import spark.implicits._
    // The automaton is built ONCE on the driver and broadcast BUILT —
    // broadcast values are cached deserialized per executor, so every
    // task shares one automaton instance. Rebuilding per partition (the
    // previous shape) repeats a multi-second, multi-GB construction in
    // every one of ~10^6 tasks at corpus scale and holds one copy per
    // concurrently running task.
    val acB = spark.sparkContext.broadcast(
      new AhoCorasick(aliases.map(asciiLower).distinct.sorted.toArray))
    texts.mapPartitions { it =>
      val ac = acB.value
      it.flatMap { pt =>
        val lower = asciiLower(pt.text)
        ac.findMentions(lower).map { case (s, e, idx) =>
          MentionRow(pt.url, s, e, ac.patterns(idx))
        }
      }
    }
  }

  /** Mention → entity links via the broadcast dictionary. Ambiguous
    * aliases yield one link per owning entity; canonicalization later
    * collapses them (exact/ignore_case TargetNodeMatcher analog).
    */
  def links(spark: SparkSession, ments: Dataset[MentionRow],
            dict: Seq[AliasRow]): Dataset[LinkRow] = {
    import spark.implicits._
    val byAlias: Map[String, Seq[String]] =
      dict.groupBy(r => asciiLower(r.alias)).view
        .mapValues(_.map(_.entity_id).distinct.sorted).toMap
    val b = spark.sparkContext.broadcast(byAlias)
    ments.flatMap { m =>
      b.value.getOrElse(m.alias, Nil).map(e => LinkRow(m.url, m.start, m.end, e))
    }
  }

  private val sentenceSplit = "(?<=[.!?])\\s+|\\n\\n"

  private def stripArticles(s: String): String = {
    var t = s.trim
    for (a <- Seq("the ", "a ", "an ")) if (t.startsWith(a)) t = t.drop(a.length)
    for (a <- Seq(" the", " a", " an")) if (t.endsWith(a)) t = t.dropRight(a.length)
    t.trim
  }

  /** Pattern triple extraction: per sentence, the first two dictionary
    * mentions become (subj, obj) if the text between them normalizes to a
    * known predicate phrase (articles stripped). The analog of the
    * reference's template/pattern matching (Okta regex extraction,
    * okta/awssaml.py:23-47; requirements parser, github/repos.py:433-540)
    * recast as OpenIE-style relation patterns.
    */
  /** Fused single-pass extraction: ONE Aho–Corasick scan per page yields
    * both the mention links and the pattern triples — the separate
    * [[mentions]]+[[links]] and [[triples]] paths each rescan the full
    * corpus, which at 10^12 pages doubles the dominant stage-1 cost.
    * Semantics are pinned to the unfused paths by a test: the global
    * mention list restricted to a sentence equals the per-sentence scan
    * (aliases cannot span sentence separators — they contain no
    * terminator characters, and separators are whitespace runs).
    */
  def facts(spark: SparkSession, texts: Dataset[PageText],
            dict: Seq[AliasRow],
            predicatePhrases: Seq[(String, String)]): Dataset[FactRow] = {
    import spark.implicits._
    // built-once broadcast automaton — see mentions() for why
    val acB = spark.sparkContext.broadcast(new AhoCorasick(
      dict.map(r => asciiLower(r.alias)).distinct.sorted.toArray))
    val byAlias: Map[String, Seq[String]] =
      dict.groupBy(r => asciiLower(r.alias)).view
        .mapValues(_.map(_.entity_id).distinct.sorted).toMap
    val bAlias = spark.sparkContext.broadcast(byAlias)
    val bPred = spark.sparkContext.broadcast(
      predicatePhrases.map { case (id, phrase) => asciiLower(phrase) -> id }.toMap)
    val sentRe = java.util.regex.Pattern.compile(sentenceSplit)
    texts.mapPartitions { it =>
      val ac = acB.value
      it.flatMap { pt =>
        val lower = asciiLower(pt.text)
        val ms = ac.findMentions(lower) // sorted by start
        val linkRows = ms.iterator.flatMap { case (s, e, idx) =>
          bAlias.value.getOrElse(ac.patterns(idx), Nil)
            .map(ent => FactRow(0, pt.url, s, e, ent, null, null))
        }
        // sentence segments as [start, end) over the same string
        val m = sentRe.matcher(lower)
        val cuts = scala.collection.mutable.ArrayBuffer[Int](0)
        val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
        while (m.find()) { ends += m.start(); cuts += m.end() }
        ends += lower.length
        val tripleRows = cuts.iterator.zip(ends.iterator).flatMap {
          case (bs, be) =>
            val in = ms.filter(mm => mm._1 >= bs && mm._2 <= be)
            if (in.length < 2) Iterator.empty
            else {
              val (_, e1, i1) = in(0)
              val (s2, _, i2) = in(1)
              val between = stripArticles(lower.substring(e1, s2))
              bPred.value.get(between) match {
                case Some(predId) =>
                  for {
                    subj <- bAlias.value.getOrElse(ac.patterns(i1), Nil).iterator
                    obj <- bAlias.value.getOrElse(ac.patterns(i2), Nil)
                  } yield FactRow(1, pt.url, 0, 0, subj, predId, obj)
                case None => Iterator.empty
              }
            }
        }
        linkRows ++ tripleRows
      }
    }
  }

  /** Over-cap dictionaries: the same facts as [[facts]], computed in
    * automaton SHARDS so no single broadcast ever exceeds
    * `maxAliasesPerShard` patterns (the reference's CONTAINS matcher has
    * no dictionary ceiling — querybuilder.py:124 — this is the Spark
    * recast that removes ours). The plan:
    *
    *  1. hash-shard the distinct lowered aliases into k groups; for each
    *     shard, build + broadcast ONE automaton, scan the corpus emitting
    *     every word-boundary candidate match (NO leftmost-longest tiling
    *     — tiling is not compositional across shards), write the shard's
    *     candidates to scratch parquet, then destroy the broadcast so
    *     peak executor memory is one shard's automaton;
    *  2. cogroup the candidate union with the texts by (url, text
    *     fingerprint) — duplicate urls with different texts resolve
    *     independently, as facts() scans rows independently — and run
    *     the IDENTICAL leftmost-longest tiling + sentence/predicate
    *     logic as [[facts]], emitting alias-keyed proto facts;
    *  3. substitute entities via a distributed join with the (alias →
    *     entity) table — the alias→entities map is never driver-resident.
    *
    * Cost vs the broadcast path: k corpus scans instead of 1, one
    * url-shuffle of texts + candidates, and two alias joins — the price
    * of a dictionary that cannot fit one executor heap. Scratch files
    * stay under `scratchDir` (inside the work dir; re-runs overwrite).
    * Output is multiset-equal to [[facts]] run with the whole dictionary
    * (pinned by ExtractShardSpec).
    */
  /** 64-bit text fingerprint for the sharded-scan resolution grouping:
    * (length << 32) | murmur32. A collision is only relevant between two
    * DIFFERENT texts under the SAME url with equal length and equal
    * murmur — negligible, and its blast radius is one url's candidates.
    */
  private[kg] def textKey(text: String): Long =
    (text.length.toLong << 32) |
      (MurmurHash3.stringHash(text).toLong & 0xffffffffL)

  def factsSharded(spark: SparkSession, texts: Dataset[PageText],
                   dict: Dataset[AliasRow],
                   predicatePhrases: Seq[(String, String)],
                   scratchDir: String,
                   maxAliasesPerShard: Long): Dataset[FactRow] = {
    import spark.implicits._
    val aliasesLc = dict.map(r => asciiLower(r.alias)).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = aliasesLc.count()
    if (n == 0L) { // empty dictionary: no mentions, no triples — same as facts()
      aliasesLc.unpersist()
      return spark.emptyDataset[FactRow]
    }
    // fill shards to ~4/5 of the cap so hash imbalance has headroom,
    // then VALIDATE the split (one tiny aggregation — ≤k counts) and
    // double k until every shard fits; escalation before any corpus
    // scan, so an unlucky hash split never wastes scan work
    val target = math.max(1L, maxAliasesPerShard * 4 / 5)
    var k = math.max(1L, (n + target - 1) / target).toInt
    def maxShardSize(kk: Int): Long =
      aliasesLc.map(a => Math.floorMod(a.hashCode, kk))
        .groupByKey(identity).count().map(_._2)
        .reduce((a, b) => math.max(a, b))
    while (maxShardSize(k) > maxAliasesPerShard) {
      require(k <= 64 * n,
        s"cannot split $n aliases into shards of <= $maxAliasesPerShard " +
          "(hash-collision pathology)")
      k *= 2
    }
    System.err.println(s"[kg] dictionary has $n distinct aliases " +
      s"(cap $maxAliasesPerShard per automaton) — scanning in $k shards")
    (0 until k).foreach { i =>
      val shard = aliasesLc
        .filter(a => Math.floorMod(a.hashCode, k) == i)
        .collect()
      val acB = spark.sparkContext.broadcast(new AhoCorasick(shard.sorted))
      texts.mapPartitions { it =>
        val ac = acB.value
        it.flatMap { pt =>
          val lower = asciiLower(pt.text)
          val tk = Extract.textKey(pt.text)
          ac.findBoundaryMatches(lower).iterator.map { case (s, e, idx) =>
            ShardCand(pt.url, tk, s, e, ac.patterns(idx))
          }
        }
      }.write.mode("overwrite").parquet(s"$scratchDir/shard_$i")
      acB.destroy()
    }
    aliasesLc.unpersist()
    val cands = Graft.parquet(spark, (0 until k).map(i => s"$scratchDir/shard_$i"): _*)
      .as[ShardCand]
    val bPred = spark.sparkContext.broadcast(
      predicatePhrases.map { case (id, phrase) => asciiLower(phrase) -> id }.toMap)
    val sentRe = java.util.regex.Pattern.compile(sentenceSplit)
    // proto facts carry ALIASES in the entity slots (kind 0: a = alias;
    // kind 1: a/obj = subj/obj alias); the joins below substitute ids.
    // Grouping key is (url, textKey): facts() scans each input ROW
    // independently, so two rows sharing a url but carrying different
    // texts must resolve against their OWN candidates (identical
    // duplicates pool identical candidate sets, which tiling dedups —
    // each duplicate row still emits its own facts, preserving
    // multiplicity)
    val proto = texts.groupByKey(pt => (pt.url, Extract.textKey(pt.text)))
      .cogroup(cands.groupByKey(c => (c.url, c.tkey))) {
      case ((url, _), txIt, cIt) =>
        val raw = cIt.map(c => (c.start, c.end, c.alias)).toIndexedSeq
        txIt.flatMap { pt =>
          val lower = asciiLower(pt.text)
          val ms = AhoCorasick.leftmostLongest(raw)
          val linkRows = ms.iterator.map { case (s, e, alias) =>
            FactRow(0, url, s, e, alias, null, null)
          }
          val m = sentRe.matcher(lower)
          val cuts = scala.collection.mutable.ArrayBuffer[Int](0)
          val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
          while (m.find()) { ends += m.start(); cuts += m.end() }
          ends += lower.length
          val tripleRows = cuts.iterator.zip(ends.iterator).flatMap {
            case (bs, be) =>
              val in = ms.filter(mm => mm._1 >= bs && mm._2 <= be)
              if (in.length < 2) Iterator.empty
              else {
                val (_, e1, a1) = in(0)
                val (s2, _, a2) = in(1)
                val between = stripArticles(lower.substring(e1, s2))
                bPred.value.get(between) match {
                  case Some(predId) =>
                    Iterator.single(FactRow(1, url, 0, 0, a1, predId, a2))
                  case None => Iterator.empty
                }
              }
          }
          linkRows ++ tripleRows
        }
    }.toDF().localCheckpoint(false) // two consumers below; evaluate once
    // distributed alias→entity substitution (distinct sorted per-alias
    // entity lists in the broadcast path == distinct join rows here)
    val dictNorm = dict.map(r => (asciiLower(r.alias), r.entity_id))
      .toDF("alias_lc", "ent").distinct()
    val links = proto.filter(col("kind") === 0)
      .join(dictNorm, col("a") === col("alias_lc"))
      .select(col("kind"), col("url"), col("start"), col("end"),
        col("ent").as("a"), col("pred"), col("obj"))
    val trips = proto.filter(col("kind") === 1)
      .join(dictNorm.select(col("alias_lc").as("subj_lc"), col("ent").as("subj_ent")),
        col("a") === col("subj_lc"))
      .join(dictNorm.select(col("alias_lc").as("obj_lc"), col("ent").as("obj_ent")),
        col("obj") === col("obj_lc"))
      .select(col("kind"), col("url"), col("start"), col("end"),
        col("subj_ent").as("a"), col("pred"), col("obj_ent").as("obj"))
    links.unionByName(trips).as[FactRow]
  }

  def triples(spark: SparkSession, texts: Dataset[PageText],
              dict: Seq[AliasRow],
              predicatePhrases: Seq[(String, String)]): Dataset[TripleRow] = {
    import spark.implicits._
    // built-once broadcast automaton — see mentions() for why
    val acB = spark.sparkContext.broadcast(new AhoCorasick(
      dict.map(r => asciiLower(r.alias)).distinct.sorted.toArray))
    val byAlias: Map[String, Seq[String]] =
      dict.groupBy(r => asciiLower(r.alias)).view
        .mapValues(_.map(_.entity_id).distinct.sorted).toMap
    val bAlias = spark.sparkContext.broadcast(byAlias)
    val bPred = spark.sparkContext.broadcast(
      predicatePhrases.map { case (id, phrase) => asciiLower(phrase) -> id }.toMap)
    texts.mapPartitions { it =>
      val ac = acB.value
      it.flatMap { pt =>
        val sentences = pt.text.split(sentenceSplit)
        sentences.iterator.flatMap { sent =>
          val lower = asciiLower(sent)
          val ms = ac.findMentions(lower)
          if (ms.length < 2) Iterator.empty
          else {
            val (s1, e1, i1) = ms(0)
            val (s2, _, i2) = ms(1)
            val between = stripArticles(lower.substring(e1, s2))
            bPred.value.get(between) match {
              case Some(predId) =>
                for {
                  subj <- bAlias.value.getOrElse(ac.patterns(i1), Nil).iterator
                  obj <- bAlias.value.getOrElse(ac.patterns(i2), Nil)
                } yield TripleRow(pt.url, subj, predId, obj)
              case None => Iterator.empty
            }
          }
        }
      }
    }
  }
}
