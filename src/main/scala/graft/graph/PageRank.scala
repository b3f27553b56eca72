package graft.graph

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixed-point PageRank over the customer↔supplier interaction graph —
  * the iterative-computation operator beyond connected components
  * (Dedup.connectedComponents): bounded iterative refinement where CC is
  * an iterate-to-fixpoint contraction.
  *
  * Determinism contract: ranks are FIXED-POINT integers (Scale = 1e6) and
  * every step is integer arithmetic — `rank div deg` truncating division,
  * an integer contribution sum (order-independent, unlike a double sum),
  * and `(85 · s) div 100` damping. Both engines replay the identical
  * integer recurrence, so the oracle compare is exact at any iteration
  * count. Float PageRank would diverge run-to-run on summation order
  * alone.
  *
  * Scale shape: the edge list (distinct customer–supplier pairs, orders
  * of magnitude below lineitem) is derived once and localCheckpointed;
  * each of the fixed [[Iterations]] rounds is one edges⋈ranks join plus a
  * dst-keyed partial-aggregated sum — pair-set-sized shuffles, no driver
  * data path, lineage cut per round exactly like connectedComponents.
  * Overflow headroom: a node's in-sum is bounded by in-degree × Scale
  * (rank mass starts at Scale per node and damping only shrinks it), so
  * 85·in_sum needs an ~10¹¹-in-degree hub to overflow a BIGINT.
  */
object PageRank {

  /** Fixed-point scale: ranks carry 6 fractional decimal digits. */
  val Scale = 1000000L

  val Iterations = 5

  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val raw = Tables
      .lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey")
      .join(
        Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey"
      )
      // suppliers map to the negative id space: disjoint from customer keys
      // BY CONSTRUCTION at any scale factor (an additive offset would
      // collide once c_custkey outgrows it)
      .select($"o_custkey".as("c"), (-($"l_suppkey" + 1)).as("s"))
      .distinct()
    pagerankOnPairs(raw)
  }

  /** The recurrence over an arbitrary distinct (c, s) pair set —
    * factored out so specs can drive it with synthetic graphs and check
    * against an in-memory reference implementation.
    */
  private[graft] def pagerankOnPairs(raw: DataFrame): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    // symmetrize: every node gains an out-edge, so no dangling-mass term
    val edges = raw
      .select($"c".as("src"), $"s".as("dst"))
      .union(raw.select($"s".as("src"), $"c".as("dst")))
      .localCheckpoint()
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("d"))
    // degree-annotated edges are loop-invariant: materialize once so each
    // round pays a single join against the current ranks. (A
    // SHUFFLE_HASH hint here measured within noise — this one-time join
    // shares its exchange with the deg aggregate, so the sort it saves
    // is already amortized.)
    val wedges = edges.join(deg, "src").localCheckpoint()
    // the node set IS deg's key set (distinct src) — a separate
    // edges.select(src).distinct() pass re-shuffled the same keys (r20)
    var ranks = deg.select($"src".as("node"), lit(Scale).as("rank")).localCheckpoint()
    // per-round localCheckpoint, measured choice: letting the fixed
    // 5-round chain evaluate lazily as one job was ~15% SLOWER at sf0.1
    // (Catalyst + AQE re-optimize the deep nested plan at every stage),
    // and checkpointing every 2nd round or never lost or tied every rep
    // of an in-JVM A/B (OPTIMIZATION_r20.md, "Pagerank checkpoint
    // cadence"); materializing each round keeps every optimization pass
    // O(one round's plan). Superseded checkpoints are NOT explicitly
    // unpersisted — Dataset.unpersist is a no-op for a localCheckpoint
    // (CacheManager has no entry for its LogicalRDD); once this loop
    // drops the reference, the ContextCleaner reclaims the blocks after
    // GC, which is fine for a fixed 5 rounds of node-sized rank tables
    //   r20: the per-round nodes ⟕ contrib re-attachment join is GONE —
    // symmetrization guarantees every node one in-edge, so contrib's
    // dst set equals the node set and the left join's coalesce(in_sum)
    // could never fire: one join per round (wedges ⋈ ranks), not two.
    for (_ <- 1 to Iterations) {
      // Join strategy deliberately UNHINTED (r20, measured in-JVM with
      // alternating arms): the initial plan reads SortMergeJoin (the
      // checkpointed frames come back as ExistingRDD with no
      // partitioning metadata), but at runtime AQE broadcasts the
      // node-sized ranks side and the edge list never shuffles — a
      // SHUFFLE_HASH hint pinned the join and BLOCKED that conversion,
      // measuring 0.40–0.43 s/round vs 0.33–0.37 s/round unhinted
      // (OPTIMIZATION_r20.md, "Measured and rejected"). At corpus scale
      // a node set too big to broadcast falls back to the shuffled join
      // automatically — the unhinted form is both the faster local plan
      // and the scale-safe one.
      val next = wedges
        .join(ranks, $"src" === $"node")
        .select($"dst", expr("rank div d").as("w"))
        .groupBy($"dst")
        .agg(sum($"w").as("in_sum"))
        .select(
          $"dst".as("node"),
          (lit(15L * Scale / 100L) + expr("(85 * in_sum) div 100")).as("rank")
        )
      ranks = next.localCheckpoint()
    }
    ranks.orderBy($"node")
  }
}
