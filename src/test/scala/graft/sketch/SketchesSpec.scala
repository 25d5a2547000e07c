package graft.sketch

import java.security.MessageDigest
import graft.SparkSpecBase

class SketchesSpec extends SparkSpecBase {
  import spark.implicits._

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** Reference rank: 1 + leading zero bits of the 60-bit tail. */
  private def refRank(h: String): Long = {
    val tail = h.substring(2, 17)
    val t = tail.dropWhile(_ == '0')
    val dz = t.headOption match {
      case Some('1') => 3L
      case Some(c) if c == '2' || c == '3' => 2L
      case Some(c) if c >= '4' && c <= '7' => 1L
      case _ => 0L
    }
    (15L - t.length) * 4L + dz + 1L
  }

  test("hllRegisters: registers equal the brute-force md5 rank maxima") {
    val keys = (0L until 2000L)
    val got = Sketches.hllRegisters(keys.toDF("k"), "k")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = keys.map(k => md5hex(k.toString))
      .groupBy(h => java.lang.Long.parseLong(h.substring(0, 2), 16))
      .map { case (b, hs) => b -> (hs.map(refRank).max, hs.size.toLong) }
    assert(got === want)
  }

  test("hllRegistersBy: each group's registers equal its own global sketch; groups never bleed") {
    val rows = (0L until 1200L).map(k => (s"g${k % 3}", k))
    val got = Sketches.hllRegistersBy(rows.toDF("g", "k"), "g", "k")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    (0 until 3).foreach { gi =>
      val keys = rows.filter(_._1 == s"g$gi").map(_._2)
      val want = Sketches.hllRegisters(keys.toDF("k"), "k")
        .collect()
        .map(r => (s"g$gi", r.getLong(0)) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(want.forall { case (k, v) => got.get(k).contains(v) }, s"g$gi")
    }
    assert(got.size === (0 until 3).map(gi =>
      Sketches.hllRegisters(
        rows.filter(_._1 == s"g$gi").map(_._2).toDF("k"), "k").count()).sum)
  }

  test("rawEstimateCol + inclusion-exclusion recovers a planted overlap within sketch error") {
    import org.apache.spark.sql.functions.col
    val a = Sketches.hllRegisters((1L to 1000L).toDF("k"), "k")
    val b = Sketches.hllRegisters((501L to 1500L).toDF("k"), "k")
    val u = Sketches.hllMerge(Seq(a, b))
    def est(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(Sketches.rawEstimateCol(col("bucket"), col("max_rank")))
        .head().getDouble(0)
    val (ea, eb, eu) = (est(a), est(b), est(u))
    assert(math.abs(ea - 1000.0) / 1000.0 < 0.15, s"est_a $ea")
    assert(math.abs(eu - 1500.0) / 1500.0 < 0.15, s"est_u $eu")
    val overlap = ea + eb - eu
    // 256-bucket raw estimator: overlap error compounds three sketches
    assert(math.abs(overlap - 500.0) < 250.0, s"overlap $overlap")
  }

  test("hllRegisters: duplicates cannot move a register") {
    val once = Sketches.hllRegisters((0L until 500L).toDF("k"), "k")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dup = Sketches.hllRegisters(
        ((0L until 500L) ++ (0L until 500L)).toDF("k"), "k")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(once === dup)
  }

  test("cmsCounters: total mass conserved per row; estimates bound truth") {
    val keys = (0 until 3000).map(i => s"k${i % 80}") // skewed: 80 terms
    val counters = Sketches.cmsCounters(keys.toDF("k"), "k")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // every hash row holds the full input mass
    (0L until 4L).foreach { r =>
      assert(counters.collect { case ((`r`, _), n) => n }.sum === 3000L) }
    val truth = keys.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    truth.foreach { case (k, n) =>
      val est = Sketches.cmsEstimate(counters, k)
      assert(est >= n, s"$k: est $est < true $n")
      assert(est <= n + 300, s"$k: est $est implausibly high vs $n")
    }
  }

  test("cmsPointEstimates: distributed estimates equal the Map-based cmsEstimate; unseen key estimates 0") {
    val keys = (0 until 3000).map(i => s"k${i % 80}")
    val countersDf = Sketches.cmsCounters(keys.toDF("k"), "k")
    val counters = countersDf
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val probes = ((0 until 80).map(i => s"k$i") :+ "never_seen").toDF("k")
    val got = Sketches.cmsPointEstimates(countersDf, probes, "k")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size === 81)
    got.foreach { case (k, est) =>
      assert(est === Sketches.cmsEstimate(counters, k), s"key $k")
    }
    // an unseen key only reads collision mass — with 80 keys in 4x1024
    // cells a specific probe key colliding in ALL 4 rows is ~(80/1024)^4
    assert(got("never_seen") === 0L)
  }

  test("hllMerge: merged partition sketches equal the whole-corpus sketch; overlap cannot move registers") {
    val all = (0L until 3000L)
    val parts = (0 until 3).map(r =>
      Sketches.hllRegisters(all.filter(_ % 3 == r).toDF("k"), "k"))
    def regs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val merged = Sketches.hllMerge(parts)
    val whole = Sketches.hllRegisters(all.toDF("k"), "k")
    assert(regs(merged) === regs(whole))
    assert(merged.collect().map(_.getLong(2)).sum === 3000L)
    // idempotent on overlapping inputs: re-merging a sub-sketch into the
    // merged sketch changes no register (n_keys double-counts — documented)
    val again = Sketches.hllMerge(Seq(merged, parts(0)))
    assert(regs(again) === regs(whole))
  }

  test("bloomSemiJoin: exact semi-join result; pre-filter prunes non-members") {
    import org.apache.spark.sql.functions.col
    // 10k fact keys, dim = the 500 multiples of 20 -> 5% true match rate
    val big = (0L until 10000L).toDF("k")
    val small = (0L until 10000L by 20L).toDF("d")
    // the filter build is one unsorted collect of the distinct positions:
    // its aggregate shuffle and the collect, with no sort shuffle and no
    // range-partition sample job (4 jobs with the sorted collect)
    val (joined, buildJobs) = sparkJobs(Sketches.bloomSemiJoin(big, "k", small, "d",
        numBits = 1 << 16, numHashes = 3))
    assert(buildJobs <= 2, s"the bloom build ran $buildJobs Spark jobs")
    val got = joined.collect().map(_.getLong(0)).sorted.toSeq
    // exactness: identical to the plain semi-join (no false negatives,
    // residual join removed every false positive)
    assert(got === (0L until 10000L by 20L).toSeq)
    // pruning: the bloom layer alone must pass ~matches + fpp sliver.
    // With 500 keys x 3 hashes in 65536 bits, fill ~2.3%, fpp ~1.2e-5 —
    // allow a generous 1% of the 9500 non-members before calling it
    // broken (a no-op filter would pass all 9500)
    val bits = Sketches.bloomBits(small, "d", 1 << 16, 3)
      .collect().map(_.getLong(0)).toSet
    assert(bits.forall(p => p >= 0 && p < (1 << 16)))
    val bs = new java.util.BitSet(1 << 16)
    bits.foreach(p => bs.set(p.toInt))
    val passed = (0L until 10000L).count { k =>
      (0 until 3).forall { j =>
        val pos = java.lang.Long.parseLong(
          md5hex(s"$j:$k").substring(0, 8), 16) % (1 << 16)
        bs.get(pos.toInt)
      }
    }
    assert(passed >= 500 && passed <= 500 + 95, s"bloom passed $passed")
    // the driver-side replay above is also the hash-parity pin: the
    // column hash and this MessageDigest spelling must agree, or the
    // filter would have dropped true members and `got` would be short
    assert(small.count() === 500)
  }

  test("histogram: mass conserved with edge clamping; halves merge by sum; quantiles within one bin width") {
    import org.apache.spark.sql.functions.col
    // values 0.005, 0.015, ... ~ uniform on [0, 25): the [20, 25) tail
    // must clamp into bin 63
    val vals = (0 until 2500).map(i => i / 100.0 + 0.005)
    val df = vals.toDF("v")
    val hist = Sketches.histogram(df, col("v"), 0.0, 20.0, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(hist.map(_._2).sum === 2500L)
    assert(hist.toMap.apply(63L) >= 500L) // the clamped tail
    // merge = per-bin sum of the halves' sketches
    val h1 = Sketches.histogram(df.filter(col("v") < 10.0), col("v"),
      0.0, 20.0, 64).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val h2 = Sketches.histogram(df.filter(col("v") >= 10.0), col("v"),
      0.0, 20.0, 64).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val merged = (h1.keySet ++ h2.keySet).map(b =>
      b -> (h1.getOrElse(b, 0L) + h2.getOrElse(b, 0L))).toMap
    assert(merged === hist.toMap)
    // quantile reads within one bin width of the exact rank value
    val binW = 20.0 / 64
    val sorted = vals.sorted
    for (p <- Seq(25, 50, 75)) {
      val est = Sketches.histogramQuantile(hist, p, 0.0, 20.0, 64)
      val exact = sorted(((p * sorted.size + 99) / 100) - 1)
      assert(math.abs(est - exact) <= binW + 1e-9, s"p$p est=$est exact=$exact")
    }
  }

  test("hllEstimate: within 15% of the true cardinality at n=5000") {
    val regs = Sketches.hllRegisters((0L until 5000L).toDF("k"), "k")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val est = Sketches.hllEstimate(regs)
    assert(math.abs(est - 5000.0) / 5000.0 < 0.15, s"estimate $est")
  }
}
