package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Barrier

/** Graph analytics over edge lists the engine itself produces (near-dup
  * pairs, co-occurrence joins). North-star EXTENSION: corpus curation
  * uses centrality to pick cluster representatives and to spot
  * boilerplate hubs (a page near-duplicated by thousands of others is a
  * template, not content).
  *
  * Iteration model: the DRIVER loops over a bounded, data-independent
  * iteration count; each step is one distributed join+aggregate. Rank
  * lineage is truncated per step by a [[graft.Barrier]], so plans stay
  * constant-size instead of doubling per iteration, and PlanDump writes
  * each step's plan under its barrier's name — the standard shape for
  * iterative DataFrame algorithms (Dedup.nearDupClusters' star
  * contraction checkpoints each round the same way, though its round
  * count is data-dependent: it loops until the edges form a star forest).
  */
object GraphOps {

  /** Fixed-iteration PageRank over an UNDIRECTED edge list
    * `(id_a, id_b)` (each edge walked both ways). Returns
    * `(id, rank)` rounded to 6 dp.
    *
    * Cross-engine determinism: per-edge contributions (`rank/deg`,
    * an IEEE division both engines compute bit-identically) are summed
    * through DECIMAL(38,20) — order-independent — then cast back, so
    * every iteration's ranks are exactly reproducible from the same
    * edges; an external engine replaying the same unrolled arithmetic
    * matches hash-for-hash (q139's DuckDB oracle does).
    *
    * Isolated vertices don't exist in an edge list; dangling nodes
    * (out-degree 0) can't either — undirected edges give every node
    * ≥ 1 neighbor — so no dangling-mass correction is needed.
    */
  def pageRank(
      edges: DataFrame,
      iterations: Int = 3,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1 && iterations <= 50, "iterations must be in [1, 50]")
    val directed = Barrier(edges
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(edges.select(col("id_b").as("src"), col("id_a").as("dst"))),
      "GraphOps.pageRank.directed")
    val outDeg = directed.groupBy("src").agg(count(lit(1)).as("deg"))
    // The degree join is ITERATION-INVARIANT: deg(src) never changes, so
    // attach it to the adjacency once and checkpoint (src, dst, deg) —
    // each iteration then pays ONE join (rank) instead of two
    // (rank + outDeg). Checkpointed pre-partitioned by src so the
    // per-iteration join re-reads an already-hash-partitioned build of
    // the graph-sized frame and only the (small) rank side shuffles —
    // the "two operations keyed the same way share one exchange" rule.
    val adj = Barrier(directed.repartition(col("src")).join(outDeg, Seq("src")),
      "GraphOps.pageRank.adjacency")
    val nodes = Barrier(adj.select(col("src").as("id")).distinct(), "GraphOps.pageRank.nodes")
    val n = nodes.count() // bounded driver scalar (|V|), not data movement
    if (n == 0) return nodes.withColumn("rank", lit(0.0))

    var rank = nodes.withColumn("rank", lit(1.0 / n))
    for (i <- 1 to iterations) {
      // one join against the pre-partitioned (src, dst, deg) adjacency,
      // one exact-decimal aggregate, one node-width left join; the
      // barrier truncates lineage, so each step's plan is constant-size
      val contrib = adj
        .join(rank.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"),
          (col("rank") / col("deg")).cast("decimal(38,20)").as("c"))
        .groupBy("id")
        .agg(sum(col("c")).as("in")) // exact decimal sum: order-independent
      rank = Barrier(nodes
        .join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit((1 - damping) / n) +
            lit(damping) * coalesce(col("in").cast("double"), lit(0.0))).as("rank")),
        s"GraphOps.pageRank.iteration$i")
    }
    rank.select(col("id"), round(col("rank"), 6).as("rank"))
  }

  /** Degree centrality of an undirected edge list: neighbors per node —
    * the cheap hub detector (one shuffle).
    */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("id_a").as("id"))
      .unionByName(edges.select(col("id_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))

  /** Triangle count of an undirected simple edge list (`id_a < id_b`,
    * no duplicates — the near-dup pair contract). Near-dup graphs are
    * triangle-rich (similarity is quasi-transitive), so triangle density
    * separates genuine duplicate clusters from chance collisions.
    *
    * The classic ordered two-join: each triangle a<b<c is counted
    * exactly once as (a,b)⋈(b,c) closed by (a,c). Both joins are equi
    * shuffles on node ids; the ordering bounds per-node join fan-out by
    * forward-degree — the standard trick that keeps the worst case at
    * O(E^{3/2}) instead of Σdeg².
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    // three structural scans of the edge list — share one
    // materialization so an expensive upstream (e.g. the LSH pair
    // pipeline) runs once, not three times
    val e = Barrier(edges, "GraphOps.triangleCount")
    val e1 = e.select(col("id_a").as("a"), col("id_b").as("b"))
    val e2 = e.select(col("id_a").as("b"), col("id_b").as("c"))
    val e3 = e.select(col("id_a").as("a"), col("id_b").as("c"))
    e1.join(e2, "b").join(e3, Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-node triangle participation + local clustering coefficient
    * `2t / (d(d−1))` (null for degree < 2). The cluster-cohesion
    * signal: a near-dup component whose members all interlink is one
    * template family; a hub with low clustering is a boilerplate page
    * collided with unrelated docs.
    */
  def localClustering(edges: DataFrame): DataFrame = {
    val e = Barrier(edges, "GraphOps.localClustering")
    val e1 = e.select(col("id_a").as("a"), col("id_b").as("b"))
    val e2 = e.select(col("id_a").as("b"), col("id_b").as("c"))
    val e3 = e.select(col("id_a").as("a"), col("id_b").as("c"))
    val perNode = e1.join(e2, "b").join(e3, Seq("a", "c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
    degrees(e)
      .join(perNode, Seq("id"), "left")
      .select(
        col("id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") < 2, lit(null)).otherwise(
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)), 4)).as("clustering"))
  }
}
