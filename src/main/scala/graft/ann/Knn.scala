package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Graft

/** Similarity search over an embedding column (array<float>):
  * brute-force cosine top-k as the exact baseline, and random-hyperplane
  * LSH bucketing as the scale path (probe only same-bucket candidates).
  *
  * Numeric discipline: dot products run in DOUBLE with sequential
  * left-to-right accumulation (functions.aggregate over zip_with), so
  * the result is bit-reproducible and matches any engine that does the
  * same — no UDF, stays inside codegen.
  */
object Knn {

  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    Graft.table(spark, sfDir, "embeddings")
      .select(col("vec_id").cast("long"), col("embedding"), col("label"))

  /** Columnar cosine similarity of two array<float> columns, computed in
    * double via the fused codegen dot product ([[graft.functions.FloatVecDot]]
    * — the HOF spelling `aggregate(zip_with(...))` evaluates lambdas
    * interpretively, three array passes per pair; this is one allocation-
    * free pass inside whole-stage codegen with the same accumulation
    * order, so values are bit-identical).
    */
  def cosine(a: Column, b: Column): Column = {
    import graft.functions.VecOps.fvecDot
    fvecDot(a, b) / (sqrt(fvecDot(a, a)) * sqrt(fvecDot(b, b)))
  }

  /** Exact top-k neighbors for `queries` vec_ids: broadcast the queries
    * against the corpus (the corpus side stays partitioned — this is the
    * "broadcast the small side of a 100 TB join" shape), rank per query.
    */
  def bruteForceTopK(spark: SparkSession, emb: DataFrame, queryIds: Seq[Long],
                     k: Int): DataFrame = {
    import graft.functions.VecOps.fvecDot
    // Self-norms are computed ONCE per row before the |Q|×n join instead
    // of once per pair — cuts 2/3 of the quadratic flops; `cos` stays
    // bit-identical (same dot, same sqrt(norm)·sqrt(norm) denominator
    // order as cosine(qv, embedding)).
    val embN = emb.withColumn("_nrm",
      sqrt(fvecDot(col("embedding"), col("embedding"))))
    val q = embN.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("_nrm").as("_qnrm"))
    val joined = embN.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        fvecDot(col("qv"), col("embedding")) / (col("_qnrm") * col("_nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** FILTERED vector search — exact top-k restricted to corpus vectors
    * sharing the query's `label` (search-within-tenant/category, the
    * metadata-constrained ANN every production vector store exposes as
    * "filtered search"): the predicate applies BEFORE ranking, so k is
    * k MATCHING neighbors, never k-then-filter (which silently returns
    * fewer). Same broadcast-queries shape as [[bruteForceTopK]]; at
    * scale, a label-partitioned corpus turns the equality predicate
    * into partition pruning — the scan never touches other labels.
    */
  def filteredTopK(spark: SparkSession, emb: DataFrame, queryIds: Seq[Long],
                   k: Int): DataFrame = {
    import graft.functions.VecOps.fvecDot
    val embN = emb.withColumn("_nrm",
      sqrt(fvecDot(col("embedding"), col("embedding"))))
    val q = embN.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("_nrm").as("_qnrm"), col("label").as("_qlabel"))
    val joined = embN.join(broadcast(q),
        col("vec_id") =!= col("query_id") &&
          col("label") === col("_qlabel"))
      .withColumn("cos",
        fvecDot(col("qv"), col("embedding")) / (col("_qnrm") * col("_nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("label"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Pairs with cosine ≥ threshold (brute-force; the exact near-dup
    * baseline for embedding-space dedup). `sorted=false` skips the
    * terminal presentation sort — a full shuffle-sort of the n²/2 pair
    * set that downstream joins would destroy anyway.
    */
  def pairsAbove(spark: SparkSession, emb: DataFrame, threshold: Double,
                 sorted: Boolean = true): DataFrame = {
    import graft.functions.VecOps.fvecDot
    // precomputed per-row norms (see bruteForceTopK) — the n²/2 pair scan
    // then does exactly one fused dot per pair
    val embN = emb.withColumn("_nrm",
      sqrt(fvecDot(col("embedding"), col("embedding"))))
    val l = embN.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("_nrm").as("_na"))
    val r = embN.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("_nrm").as("_nb"))
    val pairs = l.join(r, col("vec_a") < col("vec_b"))
      .withColumn("cos", fvecDot(col("ea"), col("eb")) / (col("_na") * col("_nb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"))
    if (sorted) pairs.orderBy(col("vec_a"), col("vec_b")) else pairs
  }

  /** Deterministic pseudo-random hyperplane component for
    * (table, plane, dim) in [-1, 1): two Lehmer-LCG steps (multiplier
    * 48271 mod 2³¹−1) over a structured seed. Chosen over a murmur hash
    * deliberately: every operation (int64 multiply/mod — no wraparound,
    * products stay ≤ 2³¹·48271 — then one exact int→double conversion,
    * one IEEE division, one multiply, one subtract) is expressible in
    * ANSI SQL with bit-identical results, so the ENTIRE LSH structure —
    * planes, sign sketches, buckets, candidates — is recomputable by the
    * DuckDB oracle (see the qann3_lsh_topk oracle in DataOps.queries) and the
    * bucketed-ANN path gets a full value check instead of rows-only.
    */
  private[ann] def planeComp(table: Int, plane: Int, dim: Int): Double = {
    val s = table.toLong * 1000003L + plane.toLong * 10007L + dim.toLong * 101L + 12345L
    val x1 = (s * 48271L) % 2147483647L
    val x2 = (x1 * 48271L) % 2147483647L
    x2.toDouble / 2147483647.0 * 2.0 - 1.0
  }

  /** Multi-table random-hyperplane LSH: `tables` independent `bits`-bit
    * sign sketches per vector (one output row per table). Two vectors
    * are ANN candidates if they share a bucket in ANY table — the
    * standard recall amplifier (single-table sign-LSH recall is poor for
    * 64-dim data; multiple independent tables trade candidate volume
    * for recall). At scale: corpus hashed once per table, queries probe
    * only their buckets.
    */
  def hyperplaneBuckets(spark: SparkSession, emb: DataFrame, bits: Int = 4,
                        tables: Int = 16): DataFrame = {
    import spark.implicits._
    emb.select(col("vec_id").cast("long"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        // The plane matrix is deterministic and tiny (tables×bits×dim
        // doubles) — materialize it once per partition per dim, so the
        // inner loop is pure multiply-add. Recomputing planeComp per
        // element (a tuple-allocating murmur hash) costs ~4096 hashes
        // per VECTOR — at 10^9 vectors that dominates the sketch pass.
        val planeCache = scala.collection.mutable.HashMap.empty[Int, Array[Double]]
        def planes(dim: Int): Array[Double] = planeCache.getOrElseUpdate(dim, {
          val a = new Array[Double](tables * bits * dim)
          var t = 0
          while (t < tables) {
            var p = 0
            while (p < bits) {
              var i = 0
              while (i < dim) {
                a((t * bits + p) * dim + i) = planeComp(t, p, i)
                i += 1
              }
              p += 1
            }
            t += 1
          }
          a
        })
        it.flatMap { case (id, v) =>
          val pl = planes(v.length)
          (0 until tables).map { t =>
            var sketch = 0L
            var p = 0
            while (p < bits) {
              val off = (t * bits + p) * v.length
              var dot = 0.0
              var i = 0
              while (i < v.length) { dot += v(i) * pl(off + i); i += 1 }
              if (dot >= 0) sketch |= (1L << p)
              p += 1
            }
            (id, t, sketch)
          }
        }
      }.toDF("vec_id", "table", "bucket")
  }

  /** Ceiling on driver-materialized IVF centroids: like the pipeline's
    * Aho–Corasick dictionary, the centroid table must fit in one
    * executor heap regardless of corpus size (real IVF indexes keep
    * centroid counts ≤ ~2²⁰ even for 10⁹-vector corpora). 2²⁰ 64-dim
    * float centroids ≈ 270 MB — the practical broadcast ceiling.
    */
  val MaxCentroids: Int = 1 << 20

  /** Nearest-centroid cell assignment as ONE embarrassingly-parallel
    * map pass over the corpus — zero Exchange between the scan and the
    * assignment (the previous shape ranked the n×C cross join with a
    * `row_number` window, shuffling all n×C scored rows just to take
    * each vector's argmax). Centroids are collected once on the driver
    * (size-checked against [[MaxCentroids]]) and broadcast; per row the
    * loop scans them in ascending-cid order keeping the best similarity
    * with a STRICT `>`, which reproduces the window's
    * `orderBy(cs.desc, cid)` tie-break exactly. The per-pair cosine is
    * the same fused left-to-right double dot + sqrt(n_c)·sqrt(n_v)
    * denominator as [[cosine]], so assignments are bit-identical to the
    * SQL spelling and the DuckDB oracle.
    */
  def assignCells(spark: SparkSession, emb: DataFrame,
                  cent: DataFrame): DataFrame = {
    import spark.implicits._
    val centRows = cent.select(col("cid").cast("long"), col("cv"))
      .as[(Long, Array[Float])]
      .limit(MaxCentroids + 1).collect()
    require(centRows.length <= MaxCentroids,
      s"IVF centroid table exceeds the $MaxCentroids broadcast cap — " +
        "coarsen the centroid sample")
    val sorted = centRows.sortBy(_._1).map { case (cid, cv) =>
      var n = 0.0
      var i = 0
      while (i < cv.length) { n += cv(i).toDouble * cv(i).toDouble; i += 1 }
      (cid, cv, math.sqrt(n))
    }
    val centB = spark.sparkContext.broadcast(sorted)
    emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cents = centB.value
        it.map { case (id, v) =>
          var nv = 0.0
          var i = 0
          while (i < v.length) { nv += v(i).toDouble * v(i).toDouble; i += 1 }
          val vNorm = math.sqrt(nv)
          var bestCid = -1L
          var bestCs = Double.NegativeInfinity
          var c = 0
          while (c < cents.length) {
            val (cid, cv, cNorm) = cents(c)
            val n = math.min(cv.length, v.length)
            var dot = 0.0
            var j = 0
            while (j < n) { dot += cv(j).toDouble * v(j).toDouble; j += 1 }
            val cs0 = dot / (cNorm * vNorm)
            // NaN (zero-norm vector or centroid) ranks HIGHEST under the
            // window's orderBy(cs.desc) in both Spark and DuckDB — map it
            // to +∞ so the strict `>` + ascending-cid scan reproduces the
            // same smallest-cid assignment instead of leaving cid = -1
            val cs = if (java.lang.Double.isNaN(cs0)) Double.PositiveInfinity else cs0
            if (cs > bestCs) { bestCs = cs; bestCid = cid }
            c += 1
          }
          (id, bestCid)
        }
      }.toDF("vec_id", "cid")
  }

  /** IVF-Flat ANN with deterministically sampled centroids
    * (`vec_id % centStep == 0` — no iterative k-means, so the index is
    * reproducible in plain SQL and the driver oracle can recompute the
    * entire structure). Build: one broadcast map pass assigns every
    * vector to its nearest centroid (its cell) with no shuffle
    * ([[assignCells]]). Query: probe the `nprobe` nearest cells and rank
    * only their members exactly.
    *
    * At scale this is the classic IVF shape: the centroid table is tiny
    * (broadcast), assignment is one embarrassingly-parallel pass, the
    * corpus can then be clustered/partitioned by `cid` so a query
    * touches only `nprobe/C` of the data — no all-pairs join anywhere.
    */
  def ivfTopK(spark: SparkSession, emb: DataFrame, queryIds: Seq[Long],
              k: Int, centStep: Int = 20, nprobe: Int = 6): DataFrame = {
    val cent = emb.filter(col("vec_id") % centStep === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val asgn = assignCells(spark, emb, cent)
    // probes rank only the |Q|×C query subset via a window (|Q| is tiny);
    // ties broken by cid so the probe set is deterministic
    val wAsgn = Window.partitionBy(col("vec_id"))
      .orderBy(col("cs").desc, col("cid"))
    val probes = emb.filter(col("vec_id").isin(queryIds: _*))
      .crossJoin(broadcast(cent))
      .withColumn("cs", cosine(col("cv"), col("embedding")))
      .withColumn("rn", row_number().over(wAsgn))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cid"))
    val candIds = asgn.join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    val qv = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val cand = candIds.join(emb, "vec_id").join(broadcast(qv), "query_id")
      .withColumn("cos", cosine(col("qv"), col("embedding")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Product-quantization codes (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search") — the compressed-domain
    * companion to [[ivfTopK]]: split each D-dim vector into `m`
    * contiguous subvectors and store, per subspace, the id of its
    * nearest codebook entry under squared-L2. A 64-dim float vector
    * (256 B) compresses to `m` small codes — the memory move that lets
    * a 10⁹-vector index live in RAM for asymmetric-distance scans.
    *
    * Codebooks are deterministically sampled (`vec_id % centStep == 0`,
    * code = the sampled vec_id; no iterative k-means) for the same
    * reason as [[ivfTopK]]'s centroids: the whole structure is plain
    * arithmetic, so a SQL oracle recomputes every code. Distances run
    * in DOUBLE with ascending-index accumulation; ties break to the
    * SMALLEST code (strict `<` over an ascending-code scan ≡ `ORDER BY
    * dist, code`), so codes are bit-reproducible.
    *
    * Scale shape: the codebook is collected once (capped at
    * [[MaxCentroids]]) and broadcast; assignment is ONE zero-shuffle
    * map pass over the corpus — the [[assignCells]] shape, m·K subspace
    * distances per vector. Requires dim % m == 0.
    */
  def pqCodes(spark: SparkSession, emb: DataFrame, m: Int = 4,
              centStep: Int = 25): DataFrame = {
    import spark.implicits._
    require(m >= 1, "m must be >= 1")
    val cb = emb.filter(col("vec_id") % centStep === 0)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .limit(MaxCentroids + 1).collect()
    require(cb.nonEmpty, "PQ codebook sample is empty — lower centStep")
    require(cb.length <= MaxCentroids,
      s"PQ codebook exceeds the $MaxCentroids broadcast cap — coarsen centStep")
    val sorted = cb.sortBy(_._1)
    val cbB = spark.sparkContext.broadcast(sorted)
    emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cents = cbB.value
        it.flatMap { case (id, v) =>
          require(v.length % m == 0,
            s"dim ${v.length} not divisible into $m subspaces")
          val sw = v.length / m
          (0 until m).map { s =>
            val off = s * sw
            var bestCode = -1L
            var bestDist = Double.PositiveInfinity
            var c = 0
            while (c < cents.length) {
              val (code, cv) = cents(c)
              var dist = 0.0
              var j = 0
              while (j < sw) {
                val dd = v(off + j).toDouble - cv(off + j).toDouble
                dist += dd * dd
                j += 1
              }
              // strict < keeps the smallest code among exact ties
              if (dist < bestDist) { bestDist = dist; bestCode = code }
              c += 1
            }
            (id, s.toLong, bestCode)
          }
        }
      }.toDF("vec_id", "sub", "code")
  }

  /** Asymmetric-distance (ADC) top-k over [[pqCodes]] — the search side
    * of product quantization: the query stays UNCOMPRESSED; per subspace
    * it precomputes its squared-L2 distance to every codebook entry (a
    * |Q|·m·K lookup table), and a candidate's distance is then the SUM
    * of m table lookups addressed by its stored codes — the corpus'
    * float vectors are never touched at query time. That is the whole
    * point of PQ at 10⁹ vectors: the scan reads m small codes per
    * vector instead of D floats, and the distance tables broadcast.
    *
    * Determinism: subspace distances are the same double-exact
    * ascending-index accumulation as [[pqCodes]]; the per-candidate sum
    * folds the m partials in SUBSPACE ORDER (sort_array over (sub, d)
    * structs — the qkg10 sorted-fold trick), so every ADC distance is
    * bit-reproducible and a SQL oracle replays the ranking exactly.
    * Ties break by neighbor id.
    *
    * Scale shape: ONE broadcast-join pass of the code table against the
    * tiny distance table, then a (query, vec)-keyed aggregation whose
    * per-group state is m partials (map-side combinable). No all-pairs
    * join, no corpus shuffle — the classic IVF-ADC scan shape minus the
    * cell pruning (compose with [[ivfTopK]]'s assignment to add it).
    */
  def adcTopK(spark: SparkSession, emb: DataFrame, queryIds: Seq[Long],
              k: Int, m: Int = 4, centStep: Int = 25): DataFrame = {
    val dt = adcDistTable(emb, queryIds, m, centStep)
    val codes = pqCodes(spark, emb, m, centStep)
    val parts = codes.join(broadcast(dt), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
    adcRank(parts, k)
  }

  /** IVF-PQ: the full production ANN index shape — [[ivfTopK]]'s cell
    * pruning composed with [[adcTopK]]'s compressed-domain ranking. A
    * query probes its `nprobe` nearest IVF cells (cosine, [[assignCells]]
    * semantics), and ONLY those cells' members are ranked, by ADC over
    * their stored PQ codes — at 10⁹ vectors the scan touches
    * `nprobe/C` of the code table and never a raw float vector. Both
    * structures stay deterministically sampled, so the whole index —
    * cells, probes, codes, distance tables, the final fold — replays in
    * the SQL oracle. The IVF codebook (`centStep`) and PQ sub-codebooks
    * (`pqStep`) sample independently, as in a real index.
    */
  def ivfPqTopK(spark: SparkSession, emb: DataFrame, queryIds: Seq[Long],
                k: Int, centStep: Int = 20, nprobe: Int = 6, m: Int = 4,
                pqStep: Int = 25): DataFrame = {
    val cent = emb.filter(col("vec_id") % centStep === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val asgn = assignCells(spark, emb, cent)
    val wAsgn = Window.partitionBy(col("vec_id"))
      .orderBy(col("cs").desc, col("cid"))
    val probes = emb.filter(col("vec_id").isin(queryIds: _*))
      .crossJoin(broadcast(cent))
      .withColumn("cs", cosine(col("cv"), col("embedding")))
      .withColumn("rn", row_number().over(wAsgn))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cid"))
    val candIds = asgn.join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    val dt = adcDistTable(emb, queryIds, m, pqStep)
    val codes = pqCodes(spark, emb, m, pqStep)
    val parts = candIds
      .join(codes, "vec_id")
      .join(broadcast(dt), Seq("query_id", "sub", "code"))
    adcRank(parts, k)
  }

  /** Query-to-codebook subspace distance table (query_id, sub, code, d):
    * |Q|·m·K rows, built once and broadcast. Distances are the same
    * double-exact ascending-index squared L2 as [[pqCodes]]' loop (the
    * HOF zip_with/aggregate spelling — float→double casts then
    * left-to-right accumulation — is bit-identical to it and to the SQL
    * list_reduce).
    */
  private def adcDistTable(emb: DataFrame, queryIds: Seq[Long], m: Int,
                           centStep: Int): DataFrame = {
    val dim = emb.select(size(col("embedding")).as("d")).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sw = dim / m
    def subL2(a: Column, b: Column, off: Int): Column =
      aggregate(
        zip_with(slice(a, off + 1, sw), slice(b, off + 1, sw),
          (x, y) => x.cast("double") - y.cast("double")),
        lit(0.0), (acc, d) => acc + d * d)
    val cb = emb.filter(col("vec_id") % centStep === 0)
      .select(col("vec_id").cast("long").as("code"), col("embedding").as("cv"))
    val q = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").cast("long").as("query_id"),
        col("embedding").as("qv"))
    // all m subspace distances in ONE pass over the |Q|×K cross join
    // (an m-way union would re-scan the query and codebook sides m times)
    val subs = array((0 until m).map { s =>
      struct(lit(s.toLong).as("sub"),
        subL2(col("qv"), col("cv"), s * sw).as("d"))
    }: _*)
    q.crossJoin(cb)
      .select(col("query_id"), col("code"), explode(subs).as("sd"))
      .select(col("query_id"), col("sd.sub").as("sub"), col("code"),
        col("sd.d").as("d"))
  }

  /** Fold per-(query, candidate) subspace partials in SUBSPACE ORDER
    * (bit-reproducible) and rank ascending with neighbor-id ties.
    */
  private def adcRank(parts: DataFrame, k: Int): DataFrame = {
    val adc = parts
      .groupBy("query_id", "vec_id")
      .agg(aggregate(sort_array(collect_list(struct(col("sub"), col("d")))),
        lit(0.0), (acc, x) => acc + x.getField("d")).as("adc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("vec_id"))
    adc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("bigint").as("rank"),
        col("vec_id").as("neighbor_id"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** ANN top-k via LSH buckets: candidates share the query's bucket in
    * any table.
    */
  def lshTopK(spark: SparkSession, emb: DataFrame, queryIds: Seq[Long],
              k: Int, bits: Int = 4, tables: Int = 16): DataFrame = {
    val buckets = hyperplaneBuckets(spark, emb, bits, tables)
    val q = buckets.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("table"), col("bucket"))
    val candIds = buckets.join(broadcast(q), Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")).distinct()
    val qv = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val cand = candIds.join(emb, "vec_id").join(broadcast(qv), "query_id")
      .withColumn("cos", cosine(col("qv"), col("embedding")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy(col("query_id"), col("rank"))
  }
}
