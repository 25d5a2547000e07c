package graft.link

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-star / small-star connected components (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) over an edge
  * DataFrame — the entity-canonicalization step (node MERGE dedup analog,
  * SURVEY.md §7.1 stage 2c). Converges in O(log n) rounds even on
  * adversarial chains, vs O(diameter) for naive label propagation.
  *
  * Spark-specific engineering (SURVEY.md §4 "iterative fixpoint"): a
  * driver loop over DataFrames with `localCheckpoint` each round to cut
  * lineage (on a cluster this would be a reliable checkpoint dir), and a
  * count+checksum convergence test instead of a full set comparison.
  * Canonical id = minimum id in the component (total order on the id
  * strings; the engine uses zero-padded ids so lexicographic = numeric).
  */
object ConnectedComponents {

  /** Edge-count bound under which the component computation runs as a
    * driver-side union-find instead of the iterative DataFrame loop. The
    * candidate-match edge set is orders of magnitude smaller than the
    * corpus (it lives in entity space), so small syncs hit this path and
    * skip ~30 tiny Spark jobs; the distributed loop below remains the
    * scale path and is exercised by tests and by any run above the bound.
    * allNodes stays distributed in BOTH paths — only edges are collected.
    */
  val DriverEdgeBound: Long = 2_000_000L

  /** @param edges    undirected edges, columns (u, v), string ids
    * @param allNodes every node id, column (id) — singletons map to self
    * @return mapping (id, canonical_id)
    */
  def run(spark: SparkSession, edges: DataFrame, allNodes: DataFrame,
          maxIter: Int = 50): DataFrame = {
    val eIn = edges.select(col("u"), col("v")).persist()
    val nEdges = eIn.count()
    try {
      if (nEdges <= DriverEdgeBound) runDriver(spark, eIn, allNodes)
      else runDistributed(spark, eIn, allNodes, maxIter)
    } finally eIn.unpersist()
  }

  /** Union-find on the driver over the collected edge list; mapping is
    * joined back (broadcast) so allNodes never leaves the cluster.
    */
  private def runDriver(spark: SparkSession, edges: DataFrame,
                        allNodes: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.collect().foreach { row =>
      val (a, b) = (row.getString(0), row.getString(1))
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        // canonical = lexicographic minimum root, matching the
        // distributed algorithm's min-id convention exactly
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val mapping = parent.keys.map(k => (k, find(k))).toSeq
    import spark.implicits._
    val mapDf = broadcast(mapping.toDF("id", "canonical_id"))
    allNodes.select(col("id"))
      .join(mapDf, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("canonical_id"), col("id")).as("canonical_id"))
  }

  /** The large-star/small-star loop — the scale path (public so tests
    * can pin it against the driver path regardless of input size).
    */
  def runDistributed(spark: SparkSession, edges: DataFrame,
                     allNodes: DataFrame, maxIter: Int = 50): DataFrame = {
    // Reliable checkpoint when a checkpoint dir is configured (cluster
    // deployments: survive executor loss mid-loop — localCheckpoint
    // blocks die with their executor and their lineage is already cut);
    // localCheckpoint otherwise (local runs, no HDFS round-trip).
    def cut(df: DataFrame): DataFrame =
      if (spark.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
      else df.localCheckpoint(true)

    var e = cut(edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct())

    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    var prev = checksum(e)
    var iter = 0
    var converged = e.isEmpty
    while (!converged && iter < maxIter) {
      // large-star processes every undirected edge at both endpoints
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
        .filter(col("u") =!= col("v")).distinct()
      // large-star: connect strictly larger neighbors to min(Γ(u) ∪ {u})
      val mins = sym.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))
      val large = sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: orient (big -> small), connect all small neighbors
      // (and self) to the minimum
      val oriented = large
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .distinct()
      val minsS = oriented.groupBy("u").agg(min(col("v")).as("m"))
      val small = cut(oriented.join(minsS, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(minsS.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct())
      val cur = checksum(small)
      converged = cur == prev
      prev = cur
      e = small
      iter += 1
    }
    // A silent non-converged exit would run the star extraction on a
    // non-star edge set and SPLIT real components — wrong canonical ids
    // with no diagnostic. Fail loudly instead (log n rounds suffice for
    // any graph; hitting maxIter means the input or loop is broken).
    require(converged,
      s"connected components did not converge within $maxIter rounds")

    // Post-convergence the edge set is a star per component; orient child
    // -> root and attach singletons to themselves.
    val child = e
      .select(greatest(col("u"), col("v")).as("id"), least(col("u"), col("v")).as("root"))
      .groupBy("id").agg(min(col("root")).as("canonical_id"))
    allNodes.select(col("id"))
      .join(child, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("canonical_id"), col("id")).as("canonical_id"))
  }
}
