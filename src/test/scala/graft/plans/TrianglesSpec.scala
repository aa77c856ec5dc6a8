package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TrianglesSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force reference: count unordered vertex triples with all
    * three edges present.
    */
  private def ref(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
    val und = simple(edges)
    val deg = refDegrees(edges).values
    (und.size.toLong, deg.map(d => d * (d - 1) / 2).sum, refList(edges).size.toLong)
  }

  private def simple(edges: Seq[(Long, Long)]): Seq[(Long, Long)] =
    edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct

  private def refDegrees(edges: Seq[(Long, Long)]): Map[Long, Long] =
    simple(edges).flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (v, vs) => v -> vs.size.toLong }

  /** Brute-force triangle list: every vertex triple `(x1 < x2 < x3)`
    * with all three edges present. */
  private def refList(edges: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
    val es = simple(edges).toSet
    val vs = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    for {
      i <- vs.indices; j <- (i + 1) until vs.size; k <- (j + 1) until vs.size
      if es((vs(i), vs(j))) && es((vs(i), vs(k))) && es((vs(j), vs(k)))
    } yield (vs(i), vs(j), vs(k))
  }

  /** Brute-force per-node features `(x, degree, n_triangles, cc_permille)`. */
  private def refPerNode(edges: Seq[(Long, Long)]): Seq[(Long, Long, Long, Long)] = {
    val tri = refList(edges).flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).map { case (v, vs) => v -> vs.size.toLong }
    refDegrees(edges).toSeq.sorted.map { case (x, d) =>
      val t = tri.getOrElse(x, 0L)
      (x, d, t, if (d >= 2) 2000L * t / (d * (d - 1)) else 0L)
    }
  }

  private def counts(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
    val r = Triangles.counts(edges.toDF("u", "v")).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("known shapes: triangle, square, K5, star, with loops and dup/reversed edges") {
    assert(counts(Seq((1L, 2L), (2L, 3L), (3L, 1L))) == ((3L, 3L, 1L)))
    // square: 4 edges, 4 wedges, no triangle
    assert(counts(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))) == ((4L, 4L, 0L)))
    // K5: C(5,2)=10 edges, 5*C(4,2)=30 wedges, C(5,3)=10 triangles
    val k5 = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    assert(counts(k5) == ((10L, 30L, 10L)))
    // star has wedges but no triangles; loops and duplicates are dropped
    assert(counts(Seq((0L, 1L), (0L, 2L), (0L, 3L), (3L, 0L), (2L, 2L))) == ((3L, 3L, 0L)))
  }

  test("randomized graphs match the brute-force reference") {
    val rng = new scala.util.Random(67L)
    for (trial <- 1 to 5) {
      val n = 8 + rng.nextInt(10)
      val edges = Seq.fill(3 * n)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      assert(counts(edges) == ref(edges), s"trial $trial: $edges")
    }
  }

  test("empty and edgeless inputs yield zero counts") {
    assert(counts(Seq.empty) == ((0L, 0L, 0L)))
    assert(counts(Seq((7L, 7L))) == ((0L, 0L, 0L)))
  }

  test("triangleList consumers == direct forms on random graphs (census, per-node, peel)") {
    // every form shares one enumerator, so each is checked against an
    // independent brute-force reference rather than against another form
    val rng = new scala.util.Random(41L)
    for (trial <- 1 to 3) {
      val n = 10 + rng.nextInt(10)
      val edges = Seq.fill(4 * n)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val df = edges.toDF("u", "v")
      val tri = Triangles.triangleList(df)
      assert(tri.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted == refList(edges), s"trial $trial list")
      val census = ref(edges)
      assert(counts(edges) == census, s"trial $trial census")
      val fromList = Triangles.countsFromList(df, tri).collect()(0)
      assert((fromList.getLong(0), fromList.getLong(1), fromList.getLong(2)) == census,
        s"trial $trial census from list")
      def perNode(f: org.apache.spark.sql.DataFrame) = f.orderBy("x").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(perNode(Triangles.perNodeCounts(df)) == refPerNode(edges), s"trial $trial per-node")
      assert(perNode(Triangles.perNodeCountsFromList(df, tri)) == refPerNode(edges),
        s"trial $trial per-node from list")
      val want = KTrussSpec.reference(edges, k = 3, rounds = 3)
      for (t0 <- Seq(None, Some(tri))) {
        val got = KTruss.peelSummary(df, k = 3, maxRounds = 3, tri0 = t0)
          .orderBy("round").collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
        assert(got == want, s"trial $trial peel (standing list: ${t0.isDefined})")
      }
    }
  }

  test("DataFrame census and the GraphX twin agree on random graphs") {
    val rng = new scala.util.Random(72L)
    for (trial <- 1 to 3) {
      val n = 10 + rng.nextInt(10)
      val edges = Seq.fill(4 * n)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val df = edges.toDF("u", "v")
      val a = Triangles.counts(df).collect()(0)
      val b = GraphAnalytics.triangleCounts(df)
        .select("n_edges", "n_wedges", "n_triangles", "sampled", "n_edges_input")
        .collect()(0)
      assert((a.getLong(0), a.getLong(1), a.getLong(2)) ==
        ((b.getLong(0), b.getLong(1), b.getLong(2))), s"trial $trial")
      assert(b.getInt(3) == 0 && b.getLong(4) == b.getLong(0), s"trial $trial exact branch flags")
    }
  }

  test("approxCounts: deterministic sample, exact census of the sample, 1/p³ scale-up") {
    val rng = new scala.util.Random(91L)
    val n = 40
    val edges = Seq.fill(8 * n)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
    val p = 0.5
    val got = Triangles.approxCounts(edges.toDF("u", "v"), p).collect()(0)
    // replay the md5 coin on the canonical edge set in plain Scala
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    def h01(s: String): Double =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
          .take(7), 16) / (1L << 28).toDouble
    val kept = und.filter { case (u, v) => h01(s"doulion:${u}_$v") < p }
    val (ke, _, kt) = ref(kept.map(e => (e._1, e._2)))
    assert(got.getLong(0) == ke, "sampled edge count")
    assert(got.getLong(1) == kt, "sampled triangle count")
    assert(got.getLong(2) == math.round(kt / (p * p * p)), "estimate")
    // and running it twice is bit-identical (no rand() anywhere)
    val again = Triangles.approxCounts(edges.toDF("u", "v"), p).collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) ==
      ((again.getLong(0), again.getLong(1), again.getLong(2))))
  }

  test("approxCounts estimate lands near the exact census on a triangle-rich graph") {
    // K25: C(25,3) = 2300 triangles — enough mass for the concentration
    // bound to keep a deterministic p=0.5 sample within a loose band
    val k = for (i <- 1L to 25L; j <- (i + 1) to 25L) yield (i, j)
    val exact = counts(k)._3
    val est = Triangles.approxCounts(k.toDF("u", "v"), 0.5)
      .collect()(0).getLong(2)
    assert(math.abs(est - exact).toDouble / exact < 0.35,
      s"estimate $est vs exact $exact")
  }

  test("GraphX census above maxEdges runs on the deterministic induced subgraph") {
    val rng = new scala.util.Random(14L)
    val n = 30
    val edges = Seq.fill(6 * n)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
    val df = edges.toDF("u", "v")
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val maxEdges = und.size / 3L
    def h01(s: String): Double =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
          .take(7), 16) / (1L << 28).toDouble
    val f = math.sqrt(maxEdges.toDouble / und.size)
    val keptV = und.flatMap(e => Seq(e._1, e._2)).distinct
      .filter(v => h01(s"graphx-tri:$v") < f).toSet
    val sub = und.filter(e => keptV(e._1) && keptV(e._2))
    val want = ref(sub.map(e => (e._1, e._2)))
    val got = GraphAnalytics.triangleCounts(df, maxEdges)
      .select("n_edges", "n_wedges", "n_triangles", "sampled", "n_edges_input")
      .collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == want)
    assert(got.getInt(3) == 1 && got.getLong(4) == und.size.toLong,
      "sampled branch must flag itself and report the input edge count")
  }

  test("perNodeCounts: K4 plus a pendant — exact per-vertex features") {
    // K4 on 1-4 (every vertex in 3 triangles, cc = 1) + pendant 5 on 4
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("u", "v")
    val got = Triangles.perNodeCounts(e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 3L, 3L, 1000L),
      (2L, 3L, 3L, 1000L),
      (3L, 3L, 3L, 1000L),
      (4L, 4L, 3L, 500L), // 3 triangles over C(4,2)=6 wedges
      (5L, 1L, 0L, 0L))) // degree-1: cc defined as 0
  }

  test("perNodeCounts sums to 3x the census triangle count on random graphs") {
    val rng = new scala.util.Random(20260814L)
    for (trial <- 1 to 3) {
      val n = 12 + rng.nextInt(8)
      val edges = Seq.fill(4 * n)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val df = edges.toDF("u", "v")
      val perNode = Triangles.perNodeCounts(df).collect()
      val census = Triangles.counts(df).collect()(0)
      assert(perNode.map(_.getLong(2)).sum == 3L * census.getLong(2), s"trial $trial")
      assert(perNode.map(_.getLong(1)).sum == 2L * census.getLong(0), s"trial $trial")
    }
  }

  private def incr(base: Seq[(Long, Long)], delta: Seq[(Long, Long)]) =
    Triangles.incrementalCounts(base.toDF("u", "v"), delta.toDF("u", "v"))
      .collect()(0)

  test("incrementalCounts: base + delta attribution equals the full census") {
    // K4 split: base gets a path, delta closes all 4 triangles
    val base = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    val delta = Seq((0L, 2L), (1L, 3L), (0L, 3L))
    val r = incr(base, delta)
    val full = Triangles.counts((base ++ delta).toDF("u", "v")).collect()(0)
    assert(r.getLong(2) === 0L)                       // path has no triangles
    assert(r.getLong(3) === full.getLong(2))          // all 4 are delta-attributed
    assert(r.getLong(4) === full.getLong(2))
  }

  test("incrementalCounts: delta edges already in base are no-ops (replay-safe)") {
    val base = Seq((0L, 1L), (1L, 2L), (0L, 2L))      // one existing triangle
    val r = incr(base, Seq((1L, 0L), (2L, 0L)))       // reversed replays
    assert(r.getLong(1) === 0L)                       // nothing genuinely new
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) === ((1L, 0L, 1L)))
  }

  test("incrementalCounts: triangles fully inside the delta count exactly once") {
    val r = incr(Seq((10L, 11L)), Seq((0L, 1L), (1L, 2L), (0L, 2L)))
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) === ((0L, 1L, 1L)))
  }

  test("PROPERTY: incremental total equals the full census on random splits") {
    for (seed <- 21L to 25L) {
      val g = GraphGen.randGraph(seed, n = 13, m = 40)
      val (base, delta) = g.zipWithIndex.partition(_._2 % 3 != 0)
      val r = incr(base.map(_._1), delta.map(_._1))
      val full = Triangles.counts(g.toDF("u", "v")).collect()(0)
      assert(r.getLong(4) === full.getLong(2), s"seed $seed: $g")
    }
  }

  test("PROPERTY: incrementalTriangleList refresh invariant — stored ∪ delta-list == full list, disjoint") {
    import org.apache.spark.sql.functions._
    for (seed <- 41L to 44L) {
      val g = GraphGen.randGraph(seed, n = 13, m = 42)
      val (base, delta) = g.zipWithIndex.partition(_._2 % 5 != 0)
      val baseDf = base.map(_._1).toDF("u", "v")
      val canonBase = baseDf
        .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      def triSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val stored = triSet(Triangles.triangleList(canonBase))
      val fresh = triSet(Triangles.incrementalTriangleList(
        canonBase, delta.map(_._1).toDF("u", "v")))
      val full = triSet(Triangles.triangleList(g.toDF("u", "v")))
      assert((stored & fresh).isEmpty, s"seed $seed: attribution not disjoint")
      assert(stored ++ fresh == full, s"seed $seed: refresh != full")
    }
  }

  test("PROPERTY: split-join (bucketed-base) attribution == merged-adjacency attribution") {
    // the baseMirrored path must be a pure plan-shape change: identical
    // counts AND identical triangle lists on random splits
    import org.apache.spark.sql.functions._
    for (seed <- 51L to 54L) {
      val g = GraphGen.randGraph(seed, n = 14, m = 48)
      val (base, delta) = g.zipWithIndex.partition(_._2 % 4 != 0)
      val canonBase = base.map(_._1).toDF("u", "v")
        .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      val mirrored = canonBase.select(col("u").as("x"), col("v").as("y"))
        .unionByName(canonBase.select(col("v").as("x"), col("u").as("y")))
      val deltaDf = delta.map(_._1).toDF("u", "v")
      val tBase = Triangles.triangleList(canonBase).agg(count(lit(1)).as("t_base"))
      val merged = Triangles.incrementalCountsFrom(canonBase, deltaDf, tBase).collect()(0)
      val split = Triangles.incrementalCountsFrom(canonBase, deltaDf, tBase,
        baseMirrored = Some(mirrored)).collect()(0)
      assert(split.toSeq === merged.toSeq, s"seed $seed: counts diverge")
      def triSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(triSet(Triangles.incrementalTriangleList(canonBase, deltaDf,
          baseMirrored = Some(mirrored))) ===
        triSet(Triangles.incrementalTriangleList(canonBase, deltaDf)),
        s"seed $seed: lists diverge")
    }
  }

  test("preferSplitForCounts flips exactly at the standing-mass crossover") {
    import graft.plans.Triangles.{preferSplitForCounts, SplitCountsEdgeThreshold}
    // unknown mass (pre-r14 meta) must keep the merged default
    assert(!preferSplitForCounts(None))
    assert(!preferSplitForCounts(None, threshold = 1L))
    // boundary at an explicit threshold
    assert(!preferSplitForCounts(Some(9L), threshold = 10L))
    assert(preferSplitForCounts(Some(10L), threshold = 10L))
    assert(preferSplitForCounts(Some(11L), threshold = 10L))
    // the committed default sits between the two measured points IN
    // ENGINE UNITS (artifact rows over the deduped fact table): sf1.0
    // (5.4M rows, merged wins) below, sf4.0 (21.4M rows, split wins)
    // above — NOT the raw-fact-table masses the r13 notes quoted
    assert(!preferSplitForCounts(Some(5400L * 1000)))
    assert(preferSplitForCounts(Some(21400L * 1000)))
    assert(SplitCountsEdgeThreshold == 15L * 1000 * 1000)
  }

  test("the pick reads the artifact store's rebuild-time row count (synthetic meta)") {
    import org.apache.spark.sql.functions._
    import graft.core.ArtifactStore
    // a freshly-built artifact records its mass on meta line 4
    val name = "tri_pick_spec_art"
    val df = spark.range(37).select(col("id").as("u"), (col("id") * 2).as("v"))
    ArtifactStore.bucketed(spark, name, "fp-spec-1", "u", 2)(df)
    assert(ArtifactStore.rowCount(name) === Some(37L))
    assert(!graft.plans.Triangles.preferSplitForCounts(ArtifactStore.rowCount(name)))
    // synthetic meta with a super-crossover mass: the pick must flip on
    // the META alone — no data scan involved in the decision
    val metaPath = java.nio.file.Paths.get(ArtifactStore.storeRoot, "tri_pick_spec_fake.meta")
    java.nio.file.Files.write(metaPath,
      "fp-spec-2\nu BIGINT,v BIGINT\nu:2\n43000000\n".getBytes("UTF-8"))
    assert(ArtifactStore.rowCount("tri_pick_spec_fake") === Some(43000000L))
    assert(graft.plans.Triangles.preferSplitForCounts(
      ArtifactStore.rowCount("tri_pick_spec_fake")))
    // a pre-r14 three-line meta reads as mass-unknown, not zero
    java.nio.file.Files.write(metaPath,
      "fp-spec-3\nu BIGINT,v BIGINT\nu:2\n".getBytes("UTF-8"))
    assert(ArtifactStore.rowCount("tri_pick_spec_fake") === None)
    java.nio.file.Files.deleteIfExists(metaPath)
  }

  test("triwaveBaseMirroredAuto: merged below the crossover, split mirror at/above it") {
    import org.apache.spark.sql.functions._
    // sub-crossover standing mass (sf0.001) + committed threshold → merged
    assert(graft.sources.TpchGraph.triwaveBaseMirroredAuto(spark, sf).isEmpty)
    // forced sub-mass threshold → the bucketed mirror artifact, and the
    // g65 result through it must row-equal the merged path's
    val mirror = graft.sources.TpchGraph.triwaveBaseMirroredAuto(spark, sf, threshold = 1L)
    assert(mirror.nonEmpty)
    val base = graft.sources.TpchGraph.storedTriwaveBaseEdges(spark, sf)
    assert(mirror.get.count() === 2L * base.count(), "mirror must hold both orientations")
    val delta = graft.sources.TpchGraph.triwaveDeltaEdges(spark, sf)
    val tBase = graft.sources.TpchGraph.storedTriwaveBaseTriangles(spark, sf)
      .agg(count(lit(1)).as("t_base"))
    val merged = Triangles.incrementalCountsFrom(base, delta, tBase).collect()(0)
    val split = Triangles.incrementalCountsFrom(base, delta, tBase,
      baseMirrored = mirror).collect()(0)
    assert(split.toSeq === merged.toSeq, "auto-picked split path diverges from merged")
  }

  test("incrementalCountsFrom (standing-artifact form) row-equals the inline audit twin") {
    // the g65 deployment shape: base arrives pre-canonicalized, t_base
    // as a prebuilt count over the standing triangle list — must be
    // bit-identical to incrementalCounts' self-contained rebuild
    import org.apache.spark.sql.functions._
    for (seed <- 31L to 33L) {
      val g = GraphGen.randGraph(seed, n = 14, m = 45)
      val (base, delta) = g.zipWithIndex.partition(_._2 % 4 != 0)
      val baseDf = base.map(_._1).toDF("u", "v")
      val canonBase = baseDf
        .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      val tBase = Triangles.triangleList(canonBase)
        .agg(count(lit(1)).as("t_base"))
      val fromStore = Triangles.incrementalCountsFrom(
        canonBase, delta.map(_._1).toDF("u", "v"), tBase).collect()(0)
      val inline = incr(base.map(_._1), delta.map(_._1))
      assert(fromStore.toSeq === inline.toSeq, s"seed $seed")
    }
  }
}
