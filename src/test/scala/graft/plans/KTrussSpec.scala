package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KTrussSpec extends SparkSpec {
  import spark.implicits._
  import KTrussSpec.reference

  private def run(edges: Seq[(Long, Long)], k: Int, rounds: Int) =
    KTruss.peelSummary(edges.toDF("u", "v"), k, rounds)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq

  test("K4 with a pendant triangle: the pendant peels, the clique survives") {
    // K4 on 1-4 (every edge in 2 triangles) + triangle 4-5-6 whose
    // edges have support 1 — at k=4 the pendant triangle dies round 1
    // and K4 is the fixpoint
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L))
    val got = run(e, k = 4, rounds = 3)
    assert(got == Seq((1, 6L, 12L), (2, 6L, 12L), (3, 6L, 12L)))
  }

  test("a triangle-free graph empties in one round") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)) // path: no triangles
    val got = run(e, k = 3, rounds = 2)
    assert(got == Seq((1, 0L, 0L), (2, 0L, 0L)))
  }

  test("PROPERTY: matches the sequential peel on random graphs") {
    val rng = new scala.util.Random(20260814L)
    for (trial <- 1 to 3) {
      val n = 14
      val edges = Seq.fill(45)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      val got = run(edges, k = 4, rounds = 4)
      val want = reference(edges, k = 4, rounds = 4)
      assert(got == want, s"trial $trial: $got != $want")
    }
  }
}

object KTrussSpec {

  /** Sequential reference: round-synchronous truss peel returning the
    * (n_edges, sum_support) trajectory, with converged rounds repeating
    * the fixpoint — the operator's documented contract.
    */
  def reference(edges: Seq[(Long, Long)], k: Int, rounds: Int): Seq[(Int, Long, Long)] = {
    val minSup = k - 2
    var e = edges.map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .filter(p => p._1 != p._2).distinct.toSet
    def supports(es: Set[(Long, Long)]): Map[(Long, Long), Int] = {
      val nodes = es.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
      val triangles = for {
        a <- nodes; b <- nodes if a < b && es(a -> b)
        c <- nodes if b < c && es(b -> c) && es(a -> c)
      } yield (a, b, c)
      triangles.flatMap { case (a, b, c) => Seq(a -> b, a -> c, b -> c) }
        .groupBy(identity).map { case (kk, v) => kk -> v.size }
    }
    val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    var converged = false
    for (r <- 1 to rounds) {
      if (converged) out += ((r, out.last._2, out.last._3))
      else {
        val sup = supports(e)
        val kept = e.filter(p => sup.getOrElse(p, 0) >= minSup)
        out += ((r, kept.size.toLong, kept.toSeq.map(p => sup(p).toLong).sum))
        converged = kept.size == e.size
        e = kept
      }
    }
    out.toSeq
  }
}
