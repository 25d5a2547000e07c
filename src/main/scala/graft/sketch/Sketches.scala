package graft.sketch

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-based approximate aggregates whose SKETCH STATE is exact and
  * engine-reproducible. The estimate a sketch yields is approximate by
  * design, but the registers it is derived from are pure integer
  * functions of the input — so correctness is checkable value-for-value
  * against an independent engine even though the answer is an estimate.
  */
object Sketches {

  /** HyperLogLog register table over `key`: 256 registers addressed by
    * the first md5 byte, each holding the MAX of rank = 1 + (leading
    * zero bits of the next 60 md5 bits). Every value is integer-exact:
    * the leading-zero count is computed with string arithmetic on the
    * hex digest (zero-digit count ×4 plus a first-digit CASE), no
    * floats anywhere, so two engines hashing the same keys produce
    * byte-identical registers.
    *
    * This is THE cardinality operator for 100 TB: per-partition state
    * is 256 bytes-ish regardless of input size, `max` combines
    * map-side, and the final shuffle moves ≤256 rows per partition —
    * where an exact `COUNT(DISTINCT)` shuffles every distinct key.
    * Duplicate keys hash identically, so they cannot move a register:
    * the sketch depends only on the distinct key set. `n_keys` (input
    * rows landing in the bucket) is reported for the oracle check, not
    * used by the estimator.
    */
  def hllRegisters(df: DataFrame, key: String): DataFrame =
    df.select(hllBucketRank(col(key)).as("br"))
      .select(col("br.bucket").as("bucket"), col("br.rank").as("rank"))
      .groupBy("bucket")
      .agg(max(col("rank")).as("max_rank"), count(lit(1)).as("n_keys"))
      .orderBy("bucket")

  /** RAW HLL estimator as an aggregate Column over register rows
    * (bucketCol, rankCol): α·m² / ((m − occupied) + Σ 2^(−rank)) with
    * NO bias/linear-counting corrections — the declared semantics that
    * keeps every float step engine-reproducible (2^(−r) are exact
    * powers of two, the register sum folds in bucket order, α is the
    * same literal expression in any engine). Shared by the HyperBall
    * centralities and the overlap estimates.
    */
  def rawEstimateCol(bucketCol: Column, rankCol: Column): Column = {
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
    val sumPow = aggregate(
      array_sort(collect_list(struct(bucketCol.as("b"), rankCol.as("r")))),
      lit(0.0),
      (acc, x) => acc + pow(lit(2.0), -x.getField("r").cast("double")))
    alpha * lit(65536.0) /
      ((lit(256.0) - count(lit(1)).cast("double")) + sumPow)
  }

  /** Per-group [[hllRegisters]] — approximate COUNT(DISTINCT key) per
    * dimension value as mergeable sketch state (the "distinct users per
    * day/segment/source" workhorse): one ≤ 256-register table per group
    * where exact per-group distinct shuffles every (group, key) pair.
    * Same engine-exact integer register arithmetic as the global
    * sketch; groups merge independently via [[hllMerge]]'s MAX rule.
    */
  def hllRegistersBy(df: DataFrame, group: String, key: String): DataFrame =
    df.select(col(group), hllBucketRank(col(key)).as("br"))
      .select(col(group), col("br.bucket").as("bucket"),
        col("br.rank").as("rank"))
      .groupBy(group, "bucket")
      .agg(max(col("rank")).as("max_rank"), count(lit(1)).as("n_keys"))
      .orderBy(group, "bucket")

  /** Merge [[hllRegisters]] tables: elementwise register MAX — the
    * associative/commutative/idempotent combine that makes HLL a
    * DISTRIBUTED sketch: per-partition (or per-day, per-source) sketches
    * union into the whole-corpus sketch without rescanning any input,
    * and re-merging the same sketch is a no-op. `n_keys` sums — it is a
    * row count, only correct when the inputs partition the corpus
    * (duplicated keys across inputs double-count it; the REGISTERS are
    * immune, which is the point of the sketch).
    */
  def hllMerge(sketches: Seq[DataFrame]): DataFrame = {
    require(sketches.nonEmpty, "nothing to merge")
    sketches.reduce(_ unionByName _)
      .groupBy("bucket")
      .agg(max(col("max_rank")).as("max_rank"),
        sum(col("n_keys")).as("n_keys"))
      .orderBy("bucket")
  }

  /** The (bucket, rank) struct a key contributes to an HLL sketch —
    * bucket = first md5 byte, rank = 1 + leading zero bits of the next
    * 60 bits, all via integer/string arithmetic (the exact spelling
    * [[hllRegisters]] has always used; extracted so register-PROPAGATING
    * operators like [[graft.graph.Analytics.hyperBall]] hash identically
    * to the standalone sketch and its SQL oracle).
    */
  def hllBucketRank(key: Column): Column = {
    val h = md5(key.cast("string"))
    val t = regexp_replace(substring(h, 3, 15), "^0+", "")
    val first = substring(t, 1, 1)
    val dz = when(first === "1", 3L)
      .when(first.isin("2", "3"), 2L)
      .when(first.isin("4", "5", "6", "7"), 1L)
      .otherwise(0L)
    struct(
      conv(substring(h, 1, 2), 16, 10).cast("bigint").as("bucket"),
      (lit(60L) - length(t).cast("long") * 4L + dz + 1L).as("rank"))
  }

  /** Count-Min Sketch counter table over `key`: `depth` hash rows ×
    * `width` counters; counter (r, c) sums the occurrences of every key
    * with md5(r:key) mod width == c. Like [[hllRegisters]], the sketch
    * STATE is integer-exact and engine-reproducible (hash = first 32
    * md5 bits of the decimal-rendered row:key string, mod width) even
    * though point estimates from it are approximate upper bounds.
    *
    * Scale: the frequency-estimation workhorse at 100 TB — per-
    * partition state is depth×width counters regardless of key
    * cardinality, sums combine map-side, and the final shuffle moves
    * ≤depth×width rows per partition. Zero counters are not emitted.
    */
  def cmsCounters(df: DataFrame, key: String,
                  depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 1, s"bad cms shape $depth x $width")
    df.select(cmsCells(key, depth, width).as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("r", "c")
  }

  /** The (row, counter) cells a key lands in — one exploded struct per
    * hash row, shared by the counter build and the point-estimate probe
    * (an estimator hashing even one row differently reads garbage).
    */
  private def cmsCells(key: String, depth: Int, width: Int) =
    explode(array((0 until depth).map { r =>
      struct(lit(r.toLong).as("r"),
        expr(s"""cast(conv(substring(md5(concat('$r', ':',
               | cast($key as string))), 1, 8), 16, 10) as bigint)
               | % $width""".stripMargin).as("c"))
    }: _*))

  /** Distributed CMS point estimates: for every probe key, MIN over its
    * `depth` counters in a [[cmsCounters]] table — the declared
    * upper-bound estimate (exact when none of the key's cells took a
    * collision), computed with JOINS so neither the counter table nor
    * the probe set ever collects to the driver (the Map-based
    * [[cmsEstimate]] stays as the single-key convenience). Missing
    * cells count 0 — a key the sketch never saw estimates 0 exactly.
    *
    * Scale shape: probes explode to depth rows each, join the counter
    * table on (r, c) — the counter side is ≤ depth·width rows
    * (broadcastable by construction), then a per-key MIN. Integer-exact
    * end to end.
    */
  def cmsPointEstimates(counters: DataFrame, probes: DataFrame, key: String,
                        depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 1, s"bad cms shape $depth x $width")
    probes.select(col(key), cmsCells(key, depth, width).as("rc"))
      .select(col(key), col("rc.r").as("r"), col("rc.c").as("c"))
      .join(broadcast(counters), Seq("r", "c"), "left")
      .groupBy(key)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  /** Bloom-filter set-bit positions over `key`: each key sets
    * `numHashes` positions, position j = first 32 md5 bits of "j:key"
    * mod `numBits` — the same hash spelling as [[cmsCounters]], so the
    * sketch STATE is integer-exact and engine-reproducible like the HLL
    * registers and CMS counters. Output is the DISTINCT set positions
    * (the filter's 1-bits as data).
    *
    * Scale: distinct() partially aggregates map-side and is bounded by
    * `numBits` rows total regardless of input size — the build is one
    * bounded shuffle over positions, never over keys.
    */
  def bloomBits(df: DataFrame, key: String,
                numBits: Int = 1 << 20, numHashes: Int = 3): DataFrame =
    bloomPositions(df, key, numBits, numHashes).orderBy("pos")

  /** [[bloomBits]]' distinct positions in no order: what a filter build
    * needs, since a bitset ignores order and a sort would add a
    * range-partition sample job and a sort shuffle.
    */
  private def bloomPositions(df: DataFrame, key: String,
                             numBits: Int, numHashes: Int): DataFrame = {
    require(numBits >= 1 && numHashes >= 1,
      s"bad bloom shape $numHashes x $numBits")
    // NULL keys are skipped, matching semi-join semantics (a null key
    // can never equi-match; hashing it would also put a null position
    // row in the output)
    df.filter(col(key).isNotNull)
      .select(explode(bloomCells(col(key), numHashes, numBits)).as("pos"))
      .distinct()
  }

  /** The `k` bit positions a key sets/probes — shared by build and probe
    * (a probe hashing even one position differently loses the
    * no-false-negative guarantee). */
  private def bloomCells(key: Column, k: Int, m: Int): Column =
    array((0 until k).map { j =>
      conv(substring(md5(concat(lit(s"$j:"), key.cast("string"))), 1, 8),
        16, 10).cast("bigint") % m
    }: _*)

  /** Bloom-pre-filtered EXACT semi-join: keep the rows of `big` whose
    * `bigKey` appears in `small`'s `smallKey`, probing a broadcast Bloom
    * filter of the small side BEFORE the join so only candidates (true
    * matches + the fpp sliver) reach the shuffle. The residual semi-join
    * removes false positives — the OUTPUT is exactly the semi-join, the
    * bloom is a transparent pruning layer.
    *
    * This is the 100 TB shuffle killer for selective joins: a 100M-key
    * dimension is ~25 MB of bitset at 10 bits/key — broadcastable where
    * the dimension itself is not — and a 1% fpp means the fact-side
    * shuffle carries ~1% of non-matching rows instead of 100%. (Spark's
    * AQE runtime row-level filtering makes the same move implicitly;
    * this operator makes it explicit, tunable, and usable where AQE
    * can't see the opportunity, e.g. across separately-built stages.)
    * The position columns are codegen'd md5 arithmetic; only the bitset
    * membership test is a (cheap, primitive-typed) UDF — no built-in
    * can probe a broadcast bitset. The bitset is built from one collect
    * of the distinct positions, unsorted: one aggregate shuffle, with no
    * sort and no range-partition sample job.
    */
  def bloomSemiJoin(big: DataFrame, bigKey: String,
                    small: DataFrame, smallKey: String,
                    numBits: Int = 1 << 20, numHashes: Int = 3): DataFrame = {
    val bs = new java.util.BitSet(numBits)
    // bounded by construction: ≤ numBits rows ever come back, unsorted
    bloomPositions(small, smallKey, numBits, numHashes)
      .collect().foreach(r => bs.set(r.getLong(0).toInt))
    val bsB = big.sparkSession.sparkContext.broadcast(bs)
    val allSet = udf { (ps: Seq[Long]) =>
      val b = bsB.value; ps.forall(p => b.get(p.toInt))
    }
    // null big-side keys can never match — drop them before hashing
    // (their position array would contain nulls); no .distinct() on the
    // residual build side — a semi-join's output is independent of
    // build-side duplicates, and the dedup would cost a full extra
    // shuffle of the dimension
    big.filter(col(bigKey).isNotNull)
      .filter(allSet(bloomCells(col(bigKey), numHashes, numBits)))
      .join(small.select(col(smallKey).as(bigKey)),
        Seq(bigKey), "left_semi")
  }

  /** Fixed-grid histogram sketch over a numeric column: integer bin
    * counts on a [lo, hi) grid (out-of-range values clamp to the edge
    * bins — total mass is always conserved). Like the HLL/CMS/Bloom
    * state, the sketch is integer-exact and engine-reproducible; merge
    * = per-bin SUM (map-side combinable, per-partition state ≤ bins
    * regardless of input size) — the approximate-quantile primitive at
    * 100 TB, where an exact per-group sort is a full shuffle.
    */
  def histogram(df: DataFrame, value: Column, lo: Double, hi: Double,
                bins: Int): DataFrame = {
    require(bins >= 1 && hi > lo, s"bad histogram grid [$lo, $hi) x $bins")
    val raw = floor((value - lo) / (hi - lo) * bins).cast("bigint")
    val bin = greatest(lit(0L), least(lit(bins - 1L), raw))
    df.filter(value.isNotNull)
      .groupBy(bin.as("bin")).agg(count(lit(1)).as("cnt"))
      .orderBy("bin")
  }

  /** Rank-quantile reader over a collected [[histogram]] (≤ bins rows):
    * quantile(p) ≈ lower edge of the first bin whose cumulative count
    * reaches ceil(p·n/100) (the qev4 integer ceil-rank rule). Error is
    * bounded by one bin width — the sketch trade.
    */
  def histogramQuantile(hist: Seq[(Long, Long)], pct: Int,
                        lo: Double, hi: Double, bins: Int): Double = {
    require(pct >= 1 && pct <= 100, s"pct out of range: $pct")
    val n = hist.map(_._2).sum
    require(n > 0, "empty histogram")
    val rank = (pct * n + 99L) / 100L // ceil(p·n/100)
    var cum = 0L
    for ((b, c) <- hist.sortBy(_._1)) {
      cum += c
      if (cum >= rank) return lo + b * ((hi - lo) / bins)
    }
    hi
  }

  /** CMS point estimate for one key from a collected [[cmsCounters]]
    * table: the MIN over its depth counters — an upper bound on the
    * true count, exact when no collision hit any of the key's rows.
    */
  def cmsEstimate(counters: Map[(Long, Long), Long], key: String,
                  depth: Int = 4, width: Int = 1024): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until depth).map { r =>
      val h = md.digest(s"$r:$key".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 8)
      val c = java.lang.Long.parseLong(h, 16) % width
      counters.getOrElse((r.toLong, c), 0L)
    }.min
  }

  /** Standard HLL estimate from a [[hllRegisters]] table (collected —
    * 256 rows). Raw estimate αm·m²/Σ2^(−reg), with the small-range
    * linear-counting correction when raw ≤ 2.5m and empty registers
    * exist. Deterministic given the registers; typical error with m=256
    * is ~1/√m ≈ 6.5%.
    */
  def hllEstimate(registers: Map[Long, Long], m: Int = 256): Double = {
    require(registers.keys.forall(b => b >= 0 && b < m), "bucket out of range")
    val zeros = m - registers.count(_._2 > 0)
    val sum = (0 until m.toInt)
      .map(b => math.pow(2.0, -registers.getOrElse(b.toLong, 0L).toDouble)).sum
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val raw = alpha * m * m / sum
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else raw
  }
}
