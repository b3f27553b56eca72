package graft.graph

import graft.similarity.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Triangle counting over the corpus kNN graph — the structural-quality
  * probe of a semantic-dedup / retrieval graph (a high triangle density
  * means the LSH neighborhoods are coherent; near-zero means the
  * candidate generation is noise). Input edges are the deterministic
  * [[Similarity.knnGraph]] top-k pairs, made undirected.
  *
  * Algorithm: the MapReduce-classic degree-ordered wedge join (Suri &
  * Vassilvitskii, WWW'11; also Cohen's MR graph toolkit): orient every
  * edge from its (degree, id)-smaller endpoint to the larger, join
  * oriented edges on the shared low vertex to form wedges, and close
  * each wedge against the oriented edge list. Orientation bounds
  * per-vertex out-degree by O(√m) on any graph, so the wedge join emits
  * O(m^{3/2}) rows worst-case instead of Σdeg² — the difference between
  * feasible and not on a skewed 100 TB graph.
  *
  * Scale shape: everything is an equi-join on vertex ids over the EDGE
  * list (never the corpus); the oriented edge set is persisted once and
  * read by all three consumers (wedge left, wedge right, closing join);
  * degree and wedge-count aggregates are map-side-combined 1-row
  * reductions. All counts are exact integers; the one double division
  * (global clustering coefficient) is a single rounded op, replayed
  * identically by the oracle.
  */
object Triangles {

  def triangles(spark: SparkSession, dir: String): DataFrame =
    trianglesOnEdges(Similarity.knnGraph(spark, dir).select("src_id", "dst_id"))

  // Bounded memo of the persisted oriented-edge sets, keyed by the
  // canonicalized input plan: the same identity CacheManager uses, and
  // plan equality includes LocalRelation data (a plan string does not).
  // Repeated calls over the same edge set — the production kNN path —
  // reuse ONE materialization (the localCheckpoint alternative measured
  // 2.0 → 9.1 s at sf0.1 by losing exactly this reuse), while a caller
  // driving many DISTINCT edge sets (GraphSpec's adversarial
  // topologies) evicts the least-recently-returned entry instead of
  // accruing JVM-lifetime cached blocks. Keys are distinct canonical
  // plans, so an eviction can never drop a live entry's CacheManager data.
  private[graph] val MaxCachedEdgeSets = 4
  private[graph] val orientedEdges =
    new graft.Warehouse.Memo[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame](
      MaxCachedEdgeSets,
      _.unpersist()
    )

  private def cachedOrientedEdges(oe0: DataFrame): DataFrame =
    orientedEdges(oe0.sparkSession, oe0.queryExecution.analyzed.canonicalized)(oe0.persist())

  /** Degree-ordered triangle count over an arbitrary (src_id, dst_id)
    * edge list (direction and duplicates ignored). Split out so specs
    * can drive it with adversarial topologies.
    */
  private[graft] def trianglesOnEdges(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val und = edges
      .select(
        least($"src_id", $"dst_id").as("a"),
        greatest($"src_id", $"dst_id").as("b")
      )
      .filter($"a" =!= $"b")
      .distinct()
    val degs = und
      .select($"a".as("node"))
      .unionAll(und.select($"b".as("node")))
      .groupBy($"node")
      .agg(count(lit(1)).as("deg"))
    val j = und
      .join(degs.select($"node".as("a"), $"deg".as("da")), "a")
      .join(degs.select($"node".as("b"), $"deg".as("db")), "b")
    val lowFirst = $"da" < $"db" || ($"da" === $"db" && $"a" < $"b")
    // oriented edge u → v with v's degree carried for the wedge ordering.
    // persisted through the bounded memo above: oe is read three
    // times below (both wedge sides + the closing join), and repeated
    // calls over the same edge set reuse one materialization while
    // distinct edge sets evict the eldest entry instead of accruing
    // cached blocks for the JVM's lifetime.
    val oe = cachedOrientedEdges(
      j.select(
        when(lowFirst, $"a").otherwise($"b").as("u"),
        when(lowFirst, $"b").otherwise($"a").as("v"),
        when(lowFirst, $"db").otherwise($"da").as("dv")
      )
    )
    val wedges = oe
      .as("e1")
      .join(
        oe.as("e2"),
        col("e1.u") === col("e2.u") &&
          (col("e1.dv") < col("e2.dv") ||
            (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v")))
      )
      .select(col("e1.v").as("x"), col("e2.v").as("y"))
    val tri = wedges
      .join(oe, $"x" === $"u" && $"y" === $"v")
      .agg(count(lit(1)).as("n_triangles"))
    val vstats = degs.agg(
      count(lit(1)).as("n_vertices"),
      sum(expr("(deg * (deg - 1)) DIV 2")).as("n_wedges")
    )
    val estats = oe.agg(count(lit(1)).as("n_edges"))
    vstats
      .crossJoin(estats)
      .crossJoin(tri)
      .select(
        $"n_vertices",
        $"n_edges",
        $"n_wedges",
        $"n_triangles",
        when(
          $"n_wedges" > 0,
          graft.text.TextAnalysis.round6(
            (lit(3.0) * $"n_triangles".cast("double")) / $"n_wedges".cast("double")
          )
        ).otherwise(lit(0.0)).as("global_clustering")
      )
  }
}
