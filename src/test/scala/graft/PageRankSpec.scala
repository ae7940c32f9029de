package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphOps

/** Pins for fixed-point integer PageRank: a sequential scalar
  * reference (bit equality), partitioning independence, the mass
  * bound, and the overflow guard.
  */
class PageRankSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Base = 1000000000000L

  /** Sequential reference of the same integer recurrence. */
  private def ref(edges: Seq[(Long, Long)], iters: Int,
      base: Long): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var rank = deg.keys.map(_ -> base).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) =>
          rank(src) * 17L / (20L * deg(src)) }.sum
      }
      rank = in.map { case (n, s) => n -> (3L * base / 20L + s) }
    }
    rank
  }

  private def run(edges: Seq[(Long, Long)], iters: Int,
      parts: Int = 4): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.pageRank(edges.toDF("src", "dst").repartition(parts),
        iters, Base, materialize = false)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
  }

  private def symmetrize(s: Seq[(Long, Long)]): Seq[(Long, Long)] =
    s ++ s.map(_.swap)

  test("matches the sequential integer reference bit-for-bit") {
    val rnd = new scala.util.Random(11)
    val edges = symmetrize(
      Seq.tabulate(400)(_ =>
        (rnd.nextInt(40).toLong, 100L + rnd.nextInt(25)))
        .distinct)
    val got = run(edges, iters = 4)
    val want = ref(edges, iters = 4, Base)
    assert(got == want)
  }

  test("hub outranks leaves on a star") {
    val edges = symmetrize((1L to 9L).map(i => (0L, i)))
    val got = run(edges, iters = 3)
    assert((1L to 9L).forall(i => got(0L) > got(i)))
    assert((1L to 9L).map(got).distinct.size == 1) // symmetric leaves tie
  }

  test("partitioning independence: 3 vs 17 partitions identical") {
    val rnd = new scala.util.Random(5)
    val edges = symmetrize(
      Seq.tabulate(300)(_ =>
        (rnd.nextInt(30).toLong, 50L + rnd.nextInt(20))).distinct)
    assert(run(edges, 3, parts = 3) == run(edges, 3, parts = 17))
  }

  test("total mass never exceeds N*base (floor only leaks downward)") {
    val rnd = new scala.util.Random(23)
    val edges = symmetrize(
      Seq.tabulate(200)(_ =>
        (rnd.nextInt(25).toLong, 30L + rnd.nextInt(12))).distinct)
    val got = run(edges, 5)
    assert(got.values.sum <= got.size.toLong * Base)
    assert(got.values.forall(_ >= 3L * Base / 20L))
  }

  /** Sequential reference for the personalized variant. */
  private def refPpr(edges: Seq[(Long, Long)], seeds: Set[Long],
      iters: Int, base: Long): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var rank = deg.keys.map(n => n -> (if (seeds(n)) base else 0L)).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) =>
          rank(src) * 17L / (20L * deg(src)) }.sum
      }
      rank = in.map { case (n, s) =>
        n -> ((if (seeds(n)) 3L * base / 20L else 0L) + s) }
    }
    rank
  }

  test("personalized variant matches its sequential reference and " +
    "concentrates mass near the seeds") {
    import spark.implicits._
    // path graph 0-1-2-...-9, seed at node 0
    val edges = symmetrize((0L until 9L).map(i => (i, i + 1)))
    val seeds = Set(0L)
    val got = GraphOps.personalizedPageRank(
        edges.toDF("src", "dst").repartition(5),
        Seq(0L).toDF("node"), iters = 4, Base, materialize = false)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == refPpr(edges, seeds, 4, Base))
    // the seed holds the most mass (note: a path graph is bipartite, so
    // per-hop masses OSCILLATE with walk parity — no monotone chain)
    assert((1L to 9L).forall(i => got(0L) > got(i)))
    // nodes beyond the walk horizon (4 hops) hold zero mass
    assert(got(6L) == 0L && got(9L) == 0L)
    assert(got(4L) > 0L)
  }

  private def triCount(edges: Seq[(Long, Long)]): Long = {
    import spark.implicits._
    GraphOps.triangleCount(edges.toDF("x", "y"))
      .collect().head.getLong(2)
  }

  test("oriented triangle count equals brute force on random graphs " +
    "and planted shapes") {
    // K4 has 4 triangles; a path has none
    assert(triCount(for {
      a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)) == 4L)
    assert(triCount(Seq((0L, 1L), (1L, 2L), (2L, 3L))) == 0L)
    val rnd = new scala.util.Random(19)
    val edges = Seq.fill(300)((rnd.nextInt(40).toLong,
        rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .distinct
    val es = edges.toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var brute = 0L
    for {
      i <- nodes.indices; j <- i + 1 until nodes.size
      k <- j + 1 until nodes.size
      if es((nodes(i), nodes(j))) && es((nodes(i), nodes(k))) &&
        es((nodes(j), nodes(k)))
    } brute += 1
    assert(triCount(edges) == brute)
  }

  /** Sequential reference with the GENERAL-directed-graph semantics:
    * node universe = src ∪ dst, pure sources keep teleport-only rank,
    * sinks (deg 0) accumulate but distribute nothing.
    */
  private def refDirected(edges: Seq[(Long, Long)], iters: Int,
      base: Long): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var rank = nodes.map(_ -> base).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) =>
          rank(src) * 17L / (20L * deg(src)) }.sum
      }
      rank = nodes.map(n => n -> (3L * base / 20L + in.getOrElse(n, 0L)))
        .toMap
    }
    rank
  }

  test("directed graph: zero-in-degree nodes are retained with " +
    "teleport-only rank, sinks get deg 0, reference matches bit-for-bit") {
    import spark.implicits._
    // 0 -> 1 -> 2 -> 3 (sink); 4 -> 2; 0 and 4 have NO in-edges.
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (4L, 2L))
    val got = GraphOps.pageRank(edges.toDF("src", "dst").repartition(3),
        iters = 3, Base, materialize = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every node of src ∪ dst present exactly once
    assert(got.map(_._1).sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    val ranks = got.map(t => t._1 -> t._3).toMap
    assert(ranks == refDirected(edges, 3, Base))
    // pure sources hold exactly the teleport mass
    assert(ranks(0L) == 3L * Base / 20L && ranks(4L) == 3L * Base / 20L)
    // the sink has deg 0 and positive rank
    val deg = got.map(t => t._1 -> t._2).toMap
    assert(deg(3L) == 0L && ranks(3L) > 0L)
    // mass never exceeds N*base (teleport + floor losses only shrink)
    assert(ranks.values.sum <= 5L * Base)
  }

  test("deep iteration (checkpoint cadence) stays bit-identical to " +
    "the sequential reference") {
    val rnd = new scala.util.Random(7)
    val edges = symmetrize(
      Seq.tabulate(120)(_ =>
        (rnd.nextInt(15).toLong, 20L + rnd.nextInt(10))).distinct)
    import spark.implicits._
    val got = GraphOps.pageRank(edges.toDF("src", "dst").repartition(4),
        iters = 17, Base, materialize = true)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == ref(edges, 17, Base))
  }

  test("triangle count is exact for node ids far above 2^20 " +
    "(struct-ordered orientation, no packed-key collisions)") {
    // planted: one triangle entirely above 2^20, one mixed, plus a
    // non-triangle wedge with huge ids
    val a = 5000000L; val b = 1L << 21; val c = 1L << 30
    val d = 7L; val e = 3000000000L
    val edges = Seq(
      (a, b), (b, c), (a, c),          // triangle 1 (all > 2^20)
      (d, a), (d, b),                  // closes (d,a,b) with (a,b)
      (d, e), (a, e)                   // wedge only — no (d,a)? yes (d,a) exists -> triangle (d,a,e)
    ).map(t => (math.min(t._1, t._2), math.max(t._1, t._2))).distinct
    // brute force
    val es = edges.toSet
    val nodes = edges.flatMap(t => Seq(t._1, t._2)).distinct.sorted
    var brute = 0L
    for {
      i <- nodes.indices; j <- i + 1 until nodes.size
      k <- j + 1 until nodes.size
      if es((nodes(i), nodes(j))) && es((nodes(i), nodes(k))) &&
        es((nodes(j), nodes(k)))
    } brute += 1
    assert(brute >= 2L) // the planting worked
    assert(triCount(edges) == brute)
  }

  test("overflow guard fails loudly instead of wrapping") {
    import spark.implicits._
    val edges = symmetrize(Seq((1L, 2L), (2L, 3L)))
    val e = intercept[IllegalArgumentException] {
      GraphOps.pageRank(edges.toDF("src", "dst"), 1,
        Long.MaxValue / 20, materialize = false).collect()
    }
    assert(e.getMessage.contains("overflows"))
  }

  /** Sequential k-core reference: parallel peel to fixpoint; returns
    * (core membership with in-core degree, changing-round count).
    */
  private def refKcore(edges: Seq[(Long, Long)],
      k: Int): (Map[Long, Long], Int) = {
    var e = edges.toSet
    var rounds = 0
    var changed = true
    while (changed) {
      val deg = e.toSeq.flatMap(t => Seq(t._1, t._2))
        .groupBy(identity).map { case (n, v) => n -> v.size }
      val keep = deg.filter(_._2 >= k).keySet
      val e2 = e.filter(t => keep(t._1) && keep(t._2))
      changed = e2.size != e.size
      if (changed) rounds += 1
      e = e2
    }
    val core = e.toSeq.flatMap(t => Seq(t._1, t._2))
      .groupBy(identity).map { case (n, v) => n -> v.size.toLong }
    (core, rounds)
  }

  private def runKcore(edges: Seq[(Long, Long)], k: Int,
      maxRounds: Int = 12): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.kCore(edges.toDF("x", "y").repartition(4), k, maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("kCore: planted cliques with pendant chains peel to exactly " +
    "the cliques, matching the sequential reference") {
    // two 4-cliques + a 3-cycle, each with pendant chains hanging off
    // (chains peel away round by round — the multi-round dynamic the
    // organic entry graphs don't exercise), plus an isolated edge
    def clique(ids: Seq[Long]) =
      for (i <- ids.indices; j <- i + 1 until ids.size)
        yield (ids(i), ids(j))
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) ++
      Seq((20L, 21L), (21L, 22L), (20L, 22L)) ++ // 3-cycle
      Seq((4L, 100L), (100L, 101L), (101L, 102L), (102L, 103L)) ++
      Seq((13L, 200L), (200L, 201L)) ++
      Seq((300L, 301L))).distinct
    val (want3, _) = refKcore(edges, 3)
    assert(runKcore(edges, 3) == want3)
    // k=3 core = the two 4-cliques exactly (3-cycle has deg 2)
    assert(want3.keySet == Set(1L, 2L, 3L, 4L, 10L, 11L, 12L, 13L))
    assert(want3.values.forall(_ == 3L))
    val (want2, rounds2) = refKcore(edges, 2)
    assert(rounds2 >= 2, "chains must force a multi-round peel")
    assert(runKcore(edges, 2) == want2)
    // k=2 core = cliques + 3-cycle; every chain and the lone edge gone
    assert(want2.keySet ==
      Set(1L, 2L, 3L, 4L, 10L, 11L, 12L, 13L, 20L, 21L, 22L))
  }

  test("kCore: random graphs match the sequential reference for " +
    "several k, and are partitioning-independent") {
    val rnd = new scala.util.Random(53)
    val edges = Seq.fill(400)(
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(t => t._1 != t._2)
      .map(t => (math.min(t._1, t._2), math.max(t._1, t._2))).distinct
    for (k <- Seq(2, 4, 7, 11)) {
      val (want, _) = refKcore(edges, k)
      assert(runKcore(edges, k) == want, s"k=$k")
    }
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      assert(runKcore(edges, 4) == refKcore(edges, 4)._1)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("kCore: exceeding the peel-span bound fails loudly instead of " +
    "returning a half-peeled subgraph") {
    // a k=2 path peels two endpoints per round: span = ceil(L/2)
    val path = Seq.tabulate(30)(i => (i.toLong, i + 1L))
    val e = intercept[IllegalArgumentException] {
      runKcore(path, 2, maxRounds = 3)
    }
    assert(e.getMessage.contains("fixpoint"))
    // with the span allowed, the path (no cycle) peels to empty
    assert(runKcore(path, 2, maxRounds = 16).isEmpty)
  }

  /** Sequential reference of synchronous min-tiebreak LPA. */
  private def refLpa(edges: Seq[(Long, Long)],
      rounds: Int): Map[Long, Long] = {
    val adj = (edges ++ edges.map(_.swap)).distinct
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    var lbl: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      lbl = adj.map { case (n, ms) =>
        val best = ms.map(lbl).groupBy(identity)
          .map { case (l, g) => (l, g.size) }
          .minBy { case (l, c) => (-c, l) }._1
        n -> best
      }
    }
    lbl
  }

  private def runLpa(edges: Seq[(Long, Long)],
      rounds: Int): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.labelPropagation(edges.toDF("x", "y").repartition(4), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("labelPropagation: planted cliques with a bridge match the " +
    "sequential sync reference; random graphs too, partition-independent") {
    def clique(ids: Seq[Long]) =
      for (i <- ids.indices; j <- i + 1 until ids.size)
        yield (ids(i), ids(j))
    val planted = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) ++ Seq((4L, 10L))).distinct
    for (r <- Seq(1, 2, 4))
      assert(runLpa(planted, r) == refLpa(planted, r), s"rounds=$r")
    val rnd = new scala.util.Random(97)
    val edges = Seq.fill(300)(
      (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter(t => t._1 != t._2)
      .map(t => (math.min(t._1, t._2), math.max(t._1, t._2))).distinct
    for (r <- Seq(1, 3, 4))
      assert(runLpa(edges, r) == refLpa(edges, r), s"rounds=$r")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      assert(runLpa(edges, 4) == refLpa(edges, 4))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("labelPropagation: fixed rounds ARE the spec — a single edge " +
    "2-cycles, so even/odd round counts differ deterministically") {
    val e = Seq((1L, 2L))
    // round 1: each endpoint adopts the other's label; round 2: back
    assert(runLpa(e, 1) == Map(1L -> 2L, 2L -> 1L))
    assert(runLpa(e, 2) == Map(1L -> 1L, 2L -> 2L))
  }

  // ---- connected components (large-star / small-star) -------------

  /** Union-find reference: node -> min id of its component. */
  private def refCc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  private def runCc(edges: Seq[(Long, Long)], rounds: Int,
      parts: Int = 4): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.connectedComponents(
        edges.toDF("x", "y").repartition(parts), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("connectedComponents: planted chains, cliques, and random " +
    "graphs match union-find; partition-independent") {
    // three separate structures: a chain, a clique, a lone edge
    val planted = Seq((5L, 6L), (6L, 7L), (7L, 8L),
      (20L, 21L), (20L, 22L), (21L, 22L),
      (40L, 41L))
    assert(runCc(planted, 4) == refCc(planted))
    val rnd = new scala.util.Random(31)
    val edges = Seq.fill(120)(
      (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter(t => t._1 != t._2)
      .map(t => (math.min(t._1, t._2), math.max(t._1, t._2))).distinct
    val want = refCc(edges)
    assert(runCc(edges, 8) == want)
    for (p <- Seq(1, 7)) assert(runCc(edges, 8, parts = p) == want)
  }

  test("connectedComponents: star contraction covers a 400-hop path " +
    "in ~log rounds, in both id orientations") {
    val path = (0L until 400L).map(i => (i, i + 1))
    val want = (0L to 400L).map(_ -> 0L).toMap
    assert(runCc(path, 10) == want)
    // reversed ids: the descending orientation exercises the other
    // star (hash-min-style propagation is O(n) on one of the two)
    val rev = (0L until 400L).map(i => (400L - i - 1, 400L - i))
    assert(runCc(rev, 10) == want)
  }

  test("connectedComponents: a 3,000-node path with shuffled ids " +
    "matches union-find, and the labels' size estimate stays bounded") {
    // adversarial id placement: neither id orientation lines up with
    // the path. The estimate pin guards the planner statistics of the
    // returned labels: a loop whose joins multiply the estimate every
    // round grows its bit length ~9x per round (hash-min measured 216
    // -> 13,152,842 bits over 2 -> 12 rounds) and stalls planning
    // long before any round bound can fail
    import spark.implicits._
    val ids = new scala.util.Random(17).shuffle((0L until 3000L).toVector)
    val path = ids.zip(ids.tail).map { case (a, b) =>
      (math.min(a, b), math.max(a, b)) }
    val cc = GraphOps.connectedComponents(
      path.toDF("x", "y").repartition(4), 20)
    assert(cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      refCc(path))
    val bits = cc.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    assert(bits < 64, s"labels size estimate is $bits bits")
  }

  test("connectedComponents: an insufficient round unroll fails " +
    "loudly instead of returning half-merged components") {
    val path = (0L until 400L).map(i => (i, i + 1))
    val ex = intercept[IllegalArgumentException](runCc(path, 2))
    assert(ex.getMessage.contains("certificate"))
  }
}
