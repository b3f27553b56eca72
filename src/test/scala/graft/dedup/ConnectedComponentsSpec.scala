package graft.dedup

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Property test for the large-star/small-star connected components:
  * on random multigraphs the label fixpoint must equal a reference
  * union-find's component minima exactly (the CC contract is
  * algorithm-independent, so any divergence is a bug in the distributed
  * formulation — wrong star emission, a bad convergence test, etc).
  */
class ConnectedComponentsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4, "cc-spec")

  private def referenceLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else {
        val r = find(p)
        parent(x) = r
        r
      }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(n => n -> find(n)).toMap
  }

  test("large-star/small-star labels equal union-find minima on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val m = 60 + trial * 30 // edges; node ids in [0, 200) → many components
      val edges = Seq
        .fill(m)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
        .filter(e => e._1 != e._2)
      val (labelsDf, rounds) = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
      val got = labelsDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = referenceLabels(edges)
      // engine output lists non-minimum nodes; component minima label
      // themselves implicitly (absent row = own id)
      assert(got.keySet.subsetOf(want.keySet), s"unexpected nodes (trial $trial)")
      want.foreach { case (node, lbl) =>
        assert(got.getOrElse(node, node) == lbl, s"node $node (trial $trial, rounds $rounds)")
      }
    }
  }
}
