package graft.graph

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** PageRank invariants the oracle replay alone doesn't articulate:
  * bit-exact determinism across runs (the point of the fixed-point
  * integer recurrence) and the structural bounds of the damped walk.
  */
class GraphSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4, "graph-spec")
  private val MaxEdgeSetProbe = 7 // > Triangles.MaxCachedEdgeSets distinct inputs
  private val dir = "/root/testdata/sf0.001"

  test("pagerank is bit-exact deterministic across runs") {
    val a = PageRank.pagerank(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = PageRank.pagerank(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.sameElements(b))
    assert(a.nonEmpty)
  }

  test("every rank is at least the teleport floor and mass is conserved up to truncation") {
    val rows = PageRank.pagerank(spark, dir).collect()
    val teleport = 15L * PageRank.Scale / 100L
    rows.foreach(r => assert(r.getLong(1) >= teleport, r))
    // each iteration only loses mass to integer truncation (div per edge
    // + damping div per node), so total mass stays within a small band
    // below the initial N·Scale and can never exceed it
    val n = rows.length.toLong
    val mass = rows.map(_.getLong(1)).sum
    assert(mass <= n * PageRank.Scale)
    assert(mass >= n * PageRank.Scale * 9 / 10, s"mass $mass vs ${n * PageRank.Scale}")
  }

  test("pagerank matches an in-memory reference on random bipartite graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(42) // fixed seed: deterministic spec
    for (_ <- 1 to 3) {
      val pairs = (1 to 60)
        .map(_ => (rng.nextInt(12).toLong + 1, -(rng.nextInt(8).toLong + 1)))
        .distinct
      val got = PageRank
        .pagerankOnPairs(pairs.toDF("c", "s"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toMap
      // reference: same integer recurrence, plain Scala maps
      val edges = pairs.flatMap { case (c, s) => Seq((c, s), (s, c)) }
      val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val nodes = edges.map(_._1).distinct
      var rank = nodes.map(_ -> PageRank.Scale).toMap
      for (_ <- 1 to PageRank.Iterations) {
        val inSum = edges
          .groupBy(_._2)
          .view
          .mapValues(_.map { case (src, _) => rank(src) / deg(src) }.sum)
          .toMap
        rank = nodes.map(n => n -> (15L * PageRank.Scale / 100L + 85L * inSum.getOrElse(n, 0L) / 100L)).toMap
      }
      assert(got === rank)
    }
  }

  test("triangle counting matches a brute-force reference on random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(7) // fixed seed: deterministic spec
    for (_ <- 1 to 3) {
      val pairs = (1 to 80)
        .map(_ => (rng.nextInt(14).toLong + 1, rng.nextInt(14).toLong + 1))
        .filter(p => p._1 != p._2)
        .distinct
      val row = Triangles.trianglesOnEdges(pairs.toDF("src_id", "dst_id")).collect().head
      // reference: canonical undirected edge set, count ordered triples
      val und = pairs.map(p => (p._1 min p._2, p._1 max p._2)).toSet
      val nodes = und.flatMap(e => Set(e._1, e._2)).toSeq.sorted
      val triples = for {
        i <- nodes; j <- nodes if i < j && und((i, j))
        k <- nodes if j < k && und((j, k)) && und((i, k))
      } yield (i, j, k)
      val wedges = nodes.map { n =>
        val d = und.count(e => e._1 == n || e._2 == n).toLong
        d * (d - 1) / 2
      }.sum
      assert(row.getAs[Long]("n_vertices") === nodes.size.toLong)
      assert(row.getAs[Long]("n_edges") === und.size.toLong)
      assert(row.getAs[Long]("n_wedges") === wedges)
      assert(row.getAs[Long]("n_triangles") === triples.size.toLong, und.toSeq.sorted)
    }
  }

  test("the oriented-edge registry is bounded: distinct edge sets evict, repeats reuse") {
    import spark.implicits._
    // drive more distinct topologies than the registry holds
    (1 to MaxEdgeSetProbe).foreach { seed =>
      val pairs = (1 to 30).map(i => ((i % 9).toLong + seed * 100, ((i * 7) % 9).toLong + seed * 100))
        .filter(p => p._1 != p._2)
      Triangles.trianglesOnEdges(pairs.toDF("src_id", "dst_id")).collect()
    }
    val held = Triangles.orientedEdges.size
    assert(held <= Triangles.MaxCachedEdgeSets, s"registry grew past its bound: $held")
    // persisted blocks track the registry, not the call count: cached
    // RDD count must stay well below the number of distinct inputs
    val cachedNow = spark.sparkContext.getPersistentRDDs.size
    val before = cachedNow
    val pairs = (1 to 30).map(i => (i.toLong % 7, (i * 3).toLong % 7)).filter(p => p._1 != p._2)
    Triangles.trianglesOnEdges(pairs.toDF("src_id", "dst_id")).collect()
    Triangles.trianglesOnEdges(pairs.toDF("src_id", "dst_id")).collect() // repeat reuses
    assert(
      spark.sparkContext.getPersistentRDDs.size <= before + 2,
      "a repeated edge set must reuse its materialization, not add one per call"
    )
  }

  test("the symmetrized graph covers every customer and supplier that traded") {
    import spark.implicits._
    val nodes = PageRank.pagerank(spark, dir).select($"node").collect().map(_.getLong(0)).toSet
    val custs = nodes.filter(_ >= 0) // suppliers live in the negative id space
    val supps = nodes.filter(_ < 0)
    assert(custs.nonEmpty && supps.nonEmpty)
  }
}
