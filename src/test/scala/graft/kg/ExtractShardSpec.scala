package graft.kg

import java.nio.file.Files
import graft.SparkSpecBase

/** Pins sharded-scan ≡ single-automaton equivalence: the automaton
  * sharding above the broadcast cap must not change ONE fact — mention
  * spans (leftmost-longest is dictionary-GLOBAL), links, or triples.
  */
class ExtractShardSpec extends SparkSpecBase {
  import spark.implicits._

  private def multiset(fs: Seq[FactRow]): Map[FactRow, Int] =
    fs.groupBy(identity).view.mapValues(_.size).toMap

  test("leftmost-longest over raw boundary matches == findMentions (random dictionaries)") {
    val rnd = new scala.util.Random(42)
    (0 until 200).foreach { trial =>
      // tiny alphabet forces dense overlaps/nesting between patterns
      val nPat = 2 + rnd.nextInt(6)
      val pats = Array.fill(nPat)(
        (0 to rnd.nextInt(3)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
        .distinct.sorted
      val text = (0 until 30).map(_ =>
        if (rnd.nextInt(5) == 0) ' ' else ('a' + rnd.nextInt(3)).toChar).mkString
      val ac = new AhoCorasick(pats)
      val viaResolver = AhoCorasick.leftmostLongest(ac.findBoundaryMatches(text))
      assert(viaResolver === ac.findMentions(text), s"trial $trial text=$text pats=${pats.mkString(",")}")
    }
  }

  test("sharded facts == single-automaton facts on the fixture corpus (any shard count)") {
    val texts = Extract.pageText(Corpus.pages(spark, sf1)).filter(_.lang == "en")
    val dict = Corpus.aliasRows
    val whole = Extract.facts(spark, texts, dict, Corpus.predicates).collect().toSeq
    val scratch = Files.createTempDirectory("shardscratch").toString
    // cap 300 over 1300 distinct aliases -> ~6 shards; the fixture's
    // "entity 1" / "entity 10" prefix aliases land in arbitrary shards,
    // exercising the cross-shard leftmost-longest resolution
    val sharded = Extract.factsSharded(spark, texts, dict.toDS(),
      Corpus.predicates, scratch, maxAliasesPerShard = 300L).collect().toSeq
    assert(multiset(sharded) === multiset(whole))
    assert(whole.nonEmpty)
  }

  test("cross-shard tiling: a shard-local winner must not survive when a longer alias from another shard claims its span") {
    // the non-compositionality witness: with dict {"w x", "x a", "a b"}
    // over "w x a b", global tiling keeps {"w x", "a b"}; a shard
    // holding {"x a", "a b"} alone would tile to {"x a"} and drop
    // "a b". Any hash split of these aliases must still produce the
    // global answer.
    val dict = Seq(AliasRow("w x", "e1"), AliasRow("x a", "e2"),
      AliasRow("a b", "e3"), AliasRow("new york", "e4"),
      AliasRow("york", "e5"), AliasRow("york city", "e6"))
    val texts = Seq(
      PageText("u1", "w x a b", "en"),
      PageText("u2", "new york meets york city. w x a b meets york.", "en"),
      PageText("u3", "york and new york city and york", "en")).toDS()
    val preds = Seq("rel_meets" -> "meets")
    val whole = Extract.facts(spark, texts, dict, preds).collect().toSeq
    // sanity on the witness itself: u1 keeps wx+ab, never xa
    val u1 = whole.filter(f => f.url == "u1" && f.kind == 0).map(_.a).toSet
    assert(u1 === Set("e1", "e3"))
    // triple planted across two multi-word aliases
    assert(whole.exists(f => f.kind == 1 && f.a == "e4" && f.obj == "e6"))
    (1 to 4).foreach { cap =>
      val scratch = Files.createTempDirectory(s"shardadv$cap").toString
      val sharded = Extract.factsSharded(spark, texts, dict.toDS(), preds,
        scratch, maxAliasesPerShard = cap.toLong).collect().toSeq
      assert(multiset(sharded) === multiset(whole), s"cap=$cap")
    }
  }

  test("duplicate urls resolve against their OWN text: different texts never pool candidates, identical rows keep multiplicity") {
    val dict = Seq(AliasRow("w x", "e1"), AliasRow("x a", "e2"),
      AliasRow("a b", "e3"), AliasRow("york", "e5"))
    // u1 appears twice with DIFFERENT texts (a re-crawl in one batch):
    // pooled candidates would tile text A against text B's spans.
    // u2 appears twice IDENTICALLY: each row must still emit its facts.
    val texts = Seq(
      PageText("u1", "w x a b", "en"),
      PageText("u1", "york x a then", "en"),
      PageText("u2", "york and york", "en"),
      PageText("u2", "york and york", "en")).toDS()
    val preds = Seq("rel_meets" -> "meets")
    val whole = Extract.facts(spark, texts, dict, preds).collect().toSeq
    val scratch = Files.createTempDirectory("sharddup").toString
    val sharded = Extract.factsSharded(spark, texts, dict.toDS(), preds,
      scratch, maxAliasesPerShard = 2L).collect().toSeq
    assert(multiset(sharded) === multiset(whole))
    // and the single-automaton semantics themselves: row 1 of u1 keeps
    // {w x, a b}; row 2 keeps {york, x a} — no cross-row suppression
    val u1 = whole.filter(f => f.url == "u1" && f.kind == 0).map(_.a)
    assert(u1.sorted === Seq("e1", "e2", "e3", "e5"))
    // identical u2 rows each emit 2 york mentions -> 4 with multiplicity
    assert(whole.count(f => f.url == "u2" && f.kind == 0) === 4)
  }

  test("empty dictionary: sharded path returns empty like facts(), no crash") {
    val texts = Seq(PageText("u1", "anything at all", "en")).toDS()
    val scratch = Files.createTempDirectory("shardempty").toString
    val out = Extract.factsSharded(spark, texts,
      Seq.empty[AliasRow].toDS(), Seq("r" -> "meets"), scratch, 5L)
    assert(out.isEmpty)
  }

  test("pipeline auto-shards an over-cap Dataset dictionary and emits identical triples") {
    val work = Files.createTempDirectory("kgshardpipe").toString
    // cap 300 < 1400 dictionary rows -> run() must take the sharded path
    val pipe = new KgPipeline(spark, work, maxBroadcastAliases = 300L)
    val dictDs = Corpus.aliasRows.toDS()
    val res = pipe.run(Corpus.pages(spark, sf1), KgPipeline.dictionary(dictDs, 300L), 100L,
      mergeGraph = false)
    val got = res.triples.select("url", "subj", "pred", "obj")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet

    val workRef = Files.createTempDirectory("kgshardref").toString
    val ref = new KgPipeline(spark, workRef)
      .run(Corpus.pages(spark, sf1), KgPipeline.DriverDictionary(Corpus.aliasRows), 100L,
        mergeGraph = false)
    val want = ref.triples.select("url", "subj", "pred", "obj")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(got === want)
    // the sharded path really ran: scratch shards exist under the work dir
    val shards = new java.io.File(s"$work/facts_scratch").listFiles()
    assert(shards != null && shards.count(_.getName.startsWith("shard_")) > 1,
      "expected a multi-shard scan")
  }
}
