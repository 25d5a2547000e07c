package graft.link

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3
import graft.kg.{AliasRow, Extract}

/** Candidate generation + verification for duplicate-entity detection —
  * the scale path for the reference's fuzzy CONTAINS matcher
  * (querybuilder.py:124,134-135): instead of an O(n²) theta-join,
  * generate candidate entity pairs by
  *
  *  1. **exact shared alias** (self-join of the dictionary on the
  *     normalized surface form — the MERGE-by-id dedup analog),
  *  2. **MinHash-LSH banding** over word shingles (probabilistic
  *     candidates for near-duplicate aliases),
  *  3. **rare-token blocking** (candidates share a token whose document
  *     frequency is below a cutoff — deterministic recall for pairs
  *     sharing any distinctive token, and the df cutoff is exactly what
  *     defuses head-token skew: "holdings"-style tokens never become
  *     join keys),
  *
  * then verify every candidate with exact word-set Jaccard ≥ τ so
  * banding/blocking false positives are filtered (precision 1.0 given
  * τ separates the clusters). Union of 2+3 keeps recall deterministic
  * while still exercising the LSH path.
  */
object Blocking {

  final case class EntityPair(a: String, b: String)

  def tokens(alias: String): Array[String] =
    Extract.asciiLower(alias).split("\\s+").filter(_.nonEmpty)

  def jaccard(a: String, b: String): Double = {
    val sa = tokens(a).toSet
    val sb = tokens(b).toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
  }

  /** MinHash signature over word shingles: numHashes seeded murmur3 mins. */
  def minhash(words: Iterable[String], numHashes: Int): Array[Int] = {
    val sig = Array.fill(numHashes)(Int.MaxValue)
    words.foreach { w =>
      var j = 0
      while (j < numHashes) {
        val h = MurmurHash3.stringHash(w, 0x9747b28c + j * 0x5bd1e995)
        if (h < sig(j)) sig(j) = h
        j += 1
      }
    }
    sig
  }

  /** LSH bucket-size cap: a band bucket holding more members than this
    * emits CHAIN pairs (each member paired with its sort-neighbor,
    * O(m) pairs) instead of all pairs (O(m²)). An oversized bucket means
    * the band signature carries no discriminating information (here:
    * every "entity k" alias min-hashes to the shared head token) — but
    * dropping it outright would make recall data-dependent: a true
    * duplicate pair whose aliases share no exact form and no rare token
    * would become unreachable. Chaining keeps every bucket member
    * connected at linear cost; sort order puts near-identical aliases
    * adjacent, and exact-Jaccard verification prunes the rest.
    */
  val MaxBucket = 100

  /** Candidate pairs from LSH banding: same band-hash in any band; the
    * [[MaxBucket]] chain cap lives in [[pairUp]].
    */
  def lshCandidates(spark: SparkSession, dict: Dataset[AliasRow],
                    numHashes: Int = 16, bands: Int = 8): DataFrame = {
    import spark.implicits._
    val rows = dict.map { r =>
      (r.alias, r.entity_id, minhash(tokens(r.alias), numHashes))
    }.toDF("alias", "entity_id", "sig")
    val r = numHashes / bands
    val banded = rows.select(col("alias"), col("entity_id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          hash((b * r until (b + 1) * r).map(j => col("sig")(j)): _*).as("bh"))
      }: _*)).as("bk"))
      .select(col("alias"), col("entity_id"),
        col("bk.band").as("band"), col("bk.bh").as("bh"))
    pairUp(banded, Seq("band", "bh"))
  }

  /** Candidate pairs sharing a rare token (df ≤ maxDf). */
  def rareTokenCandidates(spark: SparkSession, dict: Dataset[AliasRow],
                          maxDf: Int = 4): DataFrame = {
    import spark.implicits._
    val tok = dict.flatMap(r => tokens(r.alias).distinct
        .map(t => (t, r.alias, r.entity_id)))
      .toDF("tok", "alias", "entity_id")
    val dfs = tok.groupBy("tok").agg(countDistinct("alias", "entity_id").as("df"))
      .filter(col("df") <= maxDf && col("df") >= 2)
    val rare = tok.join(broadcast(dfs.select("tok")), Seq("tok"))
    pairUp(rare, Seq("tok"))
  }

  /** Exact shared-alias pairs. */
  def exactPairs(spark: SparkSession, dict: Dataset[AliasRow]): DataFrame = {
    import spark.implicits._
    val norm = dict.map(r => (Extract.asciiLower(r.alias), r.alias, r.entity_id))
      .toDF("key", "alias", "entity_id")
    pairUp(norm, Seq("key"))
  }

  /** Self-join on `keys`, emitting ordered distinct entity pairs with
    * the two alias strings for verification. Groups over [[MaxBucket]]
    * emit sort-adjacent CHAIN pairs instead of all pairs — the cap
    * applies to EVERY candidate generator, not just LSH: a single
    * surface form shared by 10^5 entities (or one ubiquitous rare-ish
    * token) would otherwise put O(m²) pairs on one reducer. Chaining is
    * linear, keeps the group connected for CC, and exact verification
    * prunes the rest.
    */
  private def pairUp(df: DataFrame, keys: Seq[String]): DataFrame = {
    val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))
    val inSmall = df.join(
      counts.filter(col("_n") <= MaxBucket).select(keys.map(col): _*),
      keys, "left_semi")
    val l = inSmall.select((keys.map(col) :+ col("alias").as("alias_a") :+ col("entity_id").as("ent_a")): _*)
    val r = inSmall.select((keys.map(col) :+ col("alias").as("alias_b") :+ col("entity_id").as("ent_b")): _*)
    val smallPairs = l.join(r, keys)
      .filter(col("ent_a") < col("ent_b"))
      .select(col("alias_a"), col("ent_a"), col("alias_b"), col("ent_b"))
    // oversized groups: adjacent pairs along the (alias, entity) sort
    // order — linear in group size, keeps the group connected
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("alias"), col("entity_id"))
    val chained = df.join(
        counts.filter(col("_n") > MaxBucket).select(keys.map(col): _*),
        keys, "left_semi")
      .withColumn("_pa", lag(col("alias"), 1).over(w))
      .withColumn("_pe", lag(col("entity_id"), 1).over(w))
      .filter(col("_pe").isNotNull)
    val chainPairs = chained.select(
        col("_pa").as("alias_a"), col("_pe").as("ent_a"),
        col("alias").as("alias_b"), col("entity_id").as("ent_b"))
      .unionByName(chained.select(
        col("alias").as("alias_a"), col("entity_id").as("ent_a"),
        col("_pa").as("alias_b"), col("_pe").as("ent_b")))
      .filter(col("ent_a") < col("ent_b"))
    smallPairs.unionByName(chainPairs)
      .dropDuplicates("ent_a", "ent_b", "alias_a", "alias_b")
  }

  /** Full candidate union + exact-Jaccard verification at threshold tau:
    * verified duplicate-entity edges (a, b) with a < b.
    */
  def duplicateEntityEdges(spark: SparkSession, dict: Dataset[AliasRow],
                           tau: Double = 0.55): Dataset[EntityPair] = {
    import spark.implicits._
    // distinct FIRST: duplicate (alias, entity_id) rows in a table-backed
    // dictionary would inflate bucket/token counts and flip groups across
    // the MaxBucket threshold — diverging from the local path, which
    // dedups its rows up front
    val d = dict.dropDuplicates("alias", "entity_id").as[AliasRow]
    val cands = exactPairs(spark, d)
      .unionByName(lshCandidates(spark, d))
      .unionByName(rareTokenCandidates(spark, d))
    cands.as[(String, String, String, String)]
      .filter { case (aliasA, _, aliasB, _) => jaccard(aliasA, aliasB) >= tau }
      .map { case (_, a, _, b) => EntityPair(a, b) }
      .distinct()
  }

  /** Code-point string ordering — matches Spark's UTF8String binary
    * comparison (UTF-8 byte order ≡ code-point order). Java's
    * `String.compareTo` compares UTF-16 code UNITS, which sorts
    * supplementary-plane characters (≥ U+10000, surrogate-encoded in
    * [0xD800,0xDFFF]) BELOW [U+E000,U+FFFF] — the local chain order
    * would diverge from the distributed Window orderBy on such aliases,
    * breaking the pair-for-pair local/distributed contract.
    */
  private[link] val codePointOrdering: Ordering[String] =
    new Ordering[String] {
      def compare(a: String, b: String): Int = {
        var i = 0
        var j = 0
        while (i < a.length && j < b.length) {
          val ca = a.codePointAt(i)
          val cb = b.codePointAt(j)
          if (ca != cb) return Integer.compare(ca, cb)
          i += Character.charCount(ca)
          j += Character.charCount(cb)
        }
        Integer.compare(a.length - i, b.length - j)
      }
    }

  private val pairOrdering: Ordering[(String, String)] =
    Ordering.Tuple2(codePointOrdering, codePointOrdering)

  /** All pairs for a group ≤ [[MaxBucket]]; sort-adjacent chain pairs
    * above — must stay identical to [[pairUp]]'s group handling so the
    * local and distributed paths agree pair-for-pair (hence the
    * code-point sort: Spark's Window orderBy compares UTF-8 bytes).
    */
  private def groupPairs(g: Seq[(String, String)])
      : Iterator[((String, String), (String, String))] =
    if (g.sizeIs <= MaxBucket) (for (x <- g; y <- g) yield (x, y)).iterator
    else {
      val sorted = g.sorted(pairOrdering)
      sorted.iterator.zip(sorted.iterator.drop(1))
        .flatMap { case (x, y) => Seq((x, y), (y, x)) }
    }

  /** Same candidate-union + verify computation in plain Scala for a
    * driver-resident dictionary — blocking runs in entity space, which
    * is orders of magnitude smaller than the corpus, so small syncs skip
    * ~10 tiny Spark jobs. Must stay semantically identical to
    * [[duplicateEntityEdges]] (pinned by a test); the Dataset version
    * remains the scale path for dictionaries too big for one heap.
    */
  def duplicateEntityEdgesLocal(dict: Seq[AliasRow], tau: Double = 0.55,
                                numHashes: Int = 16, bands: Int = 8,
                                maxDf: Int = 4): Seq[EntityPair] = {
    val rows = dict.map(r => (r.alias, r.entity_id)).distinct
    // exact: group by normalized surface form (chain-capped like every
    // other generator — one surface form shared by 10^5 entities must
    // not emit 10^10 pairs)
    val exact = rows.groupBy { case (a, _) => Extract.asciiLower(a) }
      .valuesIterator.flatMap(g => groupPairs(g))
    // LSH: band-hash buckets (same murmur3 seeds as lshCandidates; the
    // Spark side hashes the band's signature ints with Spark's hash(),
    // but bucket EQUALITY is all that matters for candidacy, so any
    // deterministic function of the same signature slice agrees)
    val r = numHashes / bands
    val sigs = rows.map { case (a, e) => (a, e, minhash(tokens(a), numHashes)) }
    val lsh = (0 until bands).iterator.flatMap { b =>
      sigs.groupBy { case (_, _, sig) => sig.slice(b * r, (b + 1) * r).toSeq }
        .valuesIterator
        .flatMap(g => groupPairs(g.map(t => (t._1, t._2))))
    }
    // rare tokens: document frequency over distinct (alias, entity) rows
    val tokRows = rows.flatMap { case (a, e) => tokens(a).distinct.map(t => (t, a, e)) }
    val dfs = tokRows.groupBy(_._1).view.mapValues(g => g.map(r0 => (r0._2, r0._3)).distinct.size)
    val rare = tokRows.filter { case (t, _, _) => val d = dfs(t); d >= 2 && d <= maxDf }
      .groupBy(_._1).valuesIterator
      .flatMap(g => groupPairs(g.map(t => (t._2, t._3))))
    (exact ++ lsh ++ rare)
      .filter { case ((_, ea), (_, eb)) => ea < eb }
      .filter { case ((aa, _), (ab, _)) => jaccard(aa, ab) >= tau }
      .map { case ((_, ea), (_, eb)) => EntityPair(ea, eb) }
      .toSeq.distinct
  }
}
