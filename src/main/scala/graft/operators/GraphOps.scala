package graft.operators

import graft.{Engine, Q}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Engine.Materialize

/** Distributed graph centrality — fixed-point integer PageRank. For a
  * crawled training corpus the link graph IS the quality signal
  * (PageRank/harmonic centrality feeds the keep-or-drop score in
  * CommonCrawl-scale pipelines); here the organic graph is the
  * customer<->supplier purchase graph (distinct order lines),
  * symmetrized so every node has in- and out-edges.
  *
  * Arithmetic: the classic double-precision PageRank cannot be
  * hash-checked across engines (association order), so ranks are
  * FIXED-POINT INTEGERS — rank_0 = B per node, one update is
  * `rank' (v) = (3B)/20 + Σ_{u→v} (rank(u)·17) div (20·deg(u))`
  * (damping 17/20 = 0.85 exactly). Every operation is int64
  * multiply / floor-divide / add: deterministic under ANY
  * partitioning, and DuckDB reproduces it with `//`. Floor losses
  * leak ≤ 1 per (edge, round) of mass — bounded, identical in both
  * engines, and irrelevant to ranking. Overflow headroom: total mass
  * ≈ N·B, so the contract is N·B·17 < 2^63 (guarded below); at
  * 100 TB scale drop B accordingly.
  *
  * Execution shape per iteration: ONE hash join of the (src-keyed)
  * edge list against the (node-keyed) rank table + ONE groupBy(dst)
  * aggregate — the standard distributed PageRank cost. Edges are
  * localCheckpoint-ed once (like [[MlOps.kmeansFit]]); ranks stay a
  * nodes-sized relation.
  */
object GraphOps {

  /** `edges`: (src: long, dst: long), any directed graph. The node
    * universe is src ∪ dst; pure sources (no in-edges) keep their
    * teleport-only rank each round and sinks (no out-edges, deg 0)
    * accumulate but do not distribute — their outflow is dropped,
    * like the bounded floor losses. Returns (node, deg, rank) after
    * `iters` fixed-point updates.
    */
  def pageRank(edges: DataFrame, iters: Int, base: Long,
      materialize: Boolean = true): DataFrame =
    prLoop(edges, iters, base, materialize, seeds = None)

  /** Personalized PageRank (random walk with restart): the teleport
    * mass lands ONLY on `seeds` (a (node: long) relation) — ranks
    * measure graph proximity to the seed set, the seed-based corpus
    * EXPANSION primitive (curated seed docs -> neighborhood at 100 TB
    * without per-seed traversals). Same integer recurrence with the
    * teleport term gated on seed membership; seed relations are small
    * curated sets, broadcast into each round.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
      base: Long, materialize: Boolean = true): DataFrame =
    prLoop(edges, iters, base, materialize, Some(seeds))

  private def prLoop(edges: DataFrame, iters: Int, base: Long,
      materialize: Boolean, seeds: Option[DataFrame]): DataFrame = {
    require(iters >= 1 && base > 0, "pageRank: iters >= 1, base > 0")
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val e0 = edges.join(deg, "src")
      .select(col("src"), col("dst"), col("deg"))
    // NOTE (r15, measured): under AQE the checkpointed RDD reports
    // UnknownPartitioning (NOTES.md "AQE checkpoint partitioning"), so
    // each iteration's rank join DOES re-exchange the edge relation
    // (~14 MB/round at sf0.1, visible in the plan as Sort+Exchange
    // over Scan ExistingRDD).
    // Pinning the layout (OPTIMIZATION_r15.md) removed
    // those per-round exchanges in the plan but measured SLOWER
    // end-to-end (graph_pagerank 2.9 -> 8.0 s bench: the extra
    // materialization pass plus un-coalesced 32-partition rounds and
    // the added block pressure cost more than the small re-shuffle) —
    // so the checkpoint here cuts lineage/re-analysis only, and the
    // per-round exchange is a KNOWN, measured-cheaper trade at this
    // scale. Revisit at true cluster scale where the edge relation
    // dwarfs the rank table.
    val e = if (materialize) e0.materialized else e0
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
    // ONE nodes-sized job answers both up-front questions — the node
    // count (overflow guard) and whether any node never appears as a
    // dst (spine need) — instead of two separate distinct+count jobs
    // over the edge relation (guide §1.2: don't compute things twice)
    val stats = e.select(col("src").as("node"), lit(0).as("isdst"))
      .unionAll(e.select(col("dst").as("node"), lit(1).as("isdst")))
      .groupBy(col("node")).agg(max(col("isdst")).as("isdst"))
      .agg(count(lit(1)), sum(col("isdst"))).head()
    val n = stats.getLong(0)
    require(n > 0 && base <= Long.MaxValue / 17 / math.max(n, 1L),
      s"pageRank: N*base*17 overflows int64 (n=$n, base=$base)")
    val teleport = 3L * base / 20L
    val seedSet = seeds.map(s =>
      s.select(col("node")).distinct().withColumn("__seed", lit(1)))
    def tele(nodeCol: Column, seedFlag: Column): Column = seedSet match {
      case Some(_) => when(seedFlag.isNotNull, lit(teleport)).otherwise(lit(0L))
      case None => lit(teleport)
    }
    var ranks = nodes
    ranks = seedSet match {
      case Some(ss) => ranks.join(broadcast(ss), Seq("node"), "left")
        .select(col("node"),
          when(col("__seed").isNotNull, lit(base)).otherwise(lit(0L))
            .as("rank"))
      case None => ranks.withColumn("rank", lit(base))
    }
    // Node spine: keep EVERY node each round, even ones with no
    // in-edges (a pure source never appears as a dst, so building
    // ranks from the aggregate alone would drop its row and its
    // teleport mass on general directed graphs — invisible on
    // symmetrized ones). The spine join is only NEEDED when the
    // dst-set is a proper subset of the node universe — detected
    // ONCE up front (folded into the stats job above), so
    // symmetrized graphs — the common case — pay zero per-round
    // spine joins.
    val nIn = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    val needSpine = nIn != n
    val spine = if (!needSpine) null
      else if (materialize) ranks.select(col("node")).materialized
      else ranks.select(col("node"))
    for (i <- 1 to iters) {
      val in = e.join(ranks, e("src") === ranks("node"))
        .select(col("dst"), expr("(rank * 17L) div (20L * deg)").as("__c"))
        .groupBy(col("dst"))
        .agg(sum(col("__c")).as("__in"))
      val kept =
        if (needSpine)
          spine.join(in, spine("node") === in("dst"), "left")
            .select(col("node"),
              coalesce(col("__in"), lit(0L)).as("__in"))
        else in.select(col("dst").as("node"), col("__in"))
      ranks = (seedSet match {
        case Some(ss) => kept.join(broadcast(ss), Seq("node"), "left")
          .select(col("node"), (tele(col("node"), col("__seed")) +
            col("__in")).as("rank"))
        case None =>
          kept.select(col("node"),
            (lit(teleport) + col("__in")).as("rank"))
      })
      // lineage grows linearly with iters (only edges are checkpointed
      // up front); cut it every 8 rounds for deep iteration
      if (materialize && i % 8 == 0 && i < iters)
        ranks = ranks.materialized
    }
    ranks.join(deg, ranks("node") === deg("src"), "left")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"),
        col("rank"))
  }

  /** Driver entry + FULL oracle: 3 PageRank rounds over the
    * symmetrized customer<->supplier graph (node id = 2·custkey for
    * customers, 2·suppkey+1 for suppliers), top 25 by rank. DuckDB
    * unrolls the same three integer updates as chained CTEs — bit
    * equality on every rank.
    */
  val pagerankEntry: Q = Q("graph_pagerank",
    (s, d) => {
      Engine.configure(s)
      // materialize the expensive orders-join-lineitem distinct ONCE:
      // it feeds both union branches of the symmetrized edge list, and
      // the deg build + probe side consume that union again — without
      // the checkpoint the whole derivation executed twice inside the
      // edge-materialization job (measured: duplicated 2.3 s/1.5 s
      // stage pairs at sf0.1; guide §1.2 / §2.4)
      val pairs = Engine.table(s, d, "orders")
        .join(Engine.table(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
        .distinct()
        .materialized
      val edges = pairs
        .select((col("c") * 2).as("src"), (col("sp") * 2 + 1).as("dst"))
        .unionAll(pairs
          .select((col("sp") * 2 + 1).as("src"), (col("c") * 2).as("dst")))
      pageRank(edges, iters = 3, base = 1000000000000L)
        .select(
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("kind"),
          expr("node div 2").as("key"), col("deg"), col("rank"))
        .orderBy(col("rank").desc, col("kind"), col("key"))
        .limit(25)
    },
    Some("""WITH pairs AS (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (
      |  SELECT 2*c AS src, 2*sp+1 AS dst FROM pairs
      |  UNION ALL
      |  SELECT 2*sp+1 AS src, 2*c AS dst FROM pairs),
      |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
      |r0 AS (SELECT src AS node, CAST(1000000000000 AS BIGINT) AS rank
      |       FROM deg),
      |r1 AS (SELECT e.dst AS node,
      |         CAST(150000000000 + SUM((r.rank*17)//(20*d.deg)) AS BIGINT)
      |           AS rank
      |       FROM edges e JOIN r0 r ON e.src = r.node
      |       JOIN deg d ON e.src = d.src GROUP BY e.dst),
      |r2 AS (SELECT e.dst AS node,
      |         CAST(150000000000 + SUM((r.rank*17)//(20*d.deg)) AS BIGINT)
      |           AS rank
      |       FROM edges e JOIN r1 r ON e.src = r.node
      |       JOIN deg d ON e.src = d.src GROUP BY e.dst),
      |r3 AS (SELECT e.dst AS node,
      |         CAST(150000000000 + SUM((r.rank*17)//(20*d.deg)) AS BIGINT)
      |           AS rank
      |       FROM edges e JOIN r2 r ON e.src = r.node
      |       JOIN deg d ON e.src = d.src GROUP BY e.dst)
      |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
      |    AS kind,
      |  node // 2 AS key, deg, rank
      |FROM r3 JOIN deg ON node = src
      |ORDER BY rank DESC, kind, key
      |LIMIT 25""".stripMargin))

  /** Driver entry + FULL oracle: personalized PageRank seeded on the
    * suppliers of one nation group (s_nationkey % 5 = 3 — present at every SF) — "which customers/suppliers sit closest
    * to this curated set in purchase space". Same graph and integer
    * recurrence as `graph_pagerank`, teleport gated on the seed set.
    */
  val pprEntry: Q = Q("graph_ppr",
    (s, d) => {
      Engine.configure(s)
      // same pairs checkpoint as graph_pagerank (one derivation, two
      // union branches + deg + probe consumers)
      val pairs = Engine.table(s, d, "orders")
        .join(Engine.table(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
        .distinct()
        .materialized
      val edges = pairs
        .select((col("c") * 2).as("src"), (col("sp") * 2 + 1).as("dst"))
        .unionAll(pairs
          .select((col("sp") * 2 + 1).as("src"), (col("c") * 2).as("dst")))
      val seeds = Engine.table(s, d, "supplier")
        .filter(col("s_nationkey") % 5 === 3)
        .select((col("s_suppkey") * 2 + 1).as("node"))
      personalizedPageRank(edges, seeds, iters = 3,
        base = 1000000000000L)
        .filter(col("rank") > 0)
        .select(
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("kind"),
          expr("node div 2").as("key"), col("deg"), col("rank"))
        .orderBy(col("rank").desc, col("kind"), col("key"))
        .limit(25)
    },
    Some("""WITH pairs AS (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (
      |  SELECT 2*c AS src, 2*sp+1 AS dst FROM pairs
      |  UNION ALL
      |  SELECT 2*sp+1 AS src, 2*c AS dst FROM pairs),
      |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
      |seeds AS (
      |  SELECT 2*s_suppkey+1 AS node FROM supplier
      |  WHERE s_nationkey % 5 = 3),
      |r0 AS (
      |  SELECT src AS node,
      |    CAST(CASE WHEN src IN (SELECT node FROM seeds)
      |         THEN 1000000000000 ELSE 0 END AS BIGINT) AS rank
      |  FROM deg),
      |r1 AS (SELECT e.dst AS node,
      |    CAST(CASE WHEN e.dst IN (SELECT node FROM seeds)
      |         THEN 150000000000 ELSE 0 END
      |      + SUM((r.rank*17)//(20*d.deg)) AS BIGINT) AS rank
      |  FROM edges e JOIN r0 r ON e.src = r.node
      |  JOIN deg d ON e.src = d.src GROUP BY e.dst),
      |r2 AS (SELECT e.dst AS node,
      |    CAST(CASE WHEN e.dst IN (SELECT node FROM seeds)
      |         THEN 150000000000 ELSE 0 END
      |      + SUM((r.rank*17)//(20*d.deg)) AS BIGINT) AS rank
      |  FROM edges e JOIN r1 r ON e.src = r.node
      |  JOIN deg d ON e.src = d.src GROUP BY e.dst),
      |r3 AS (SELECT e.dst AS node,
      |    CAST(CASE WHEN e.dst IN (SELECT node FROM seeds)
      |         THEN 150000000000 ELSE 0 END
      |      + SUM((r.rank*17)//(20*d.deg)) AS BIGINT) AS rank
      |  FROM edges e JOIN r2 r ON e.src = r.node
      |  JOIN deg d ON e.src = d.src GROUP BY e.dst)
      |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
      |    AS kind,
      |  node // 2 AS key, deg, rank
      |FROM r3 JOIN deg ON node = src
      |WHERE rank > 0
      |ORDER BY rank DESC, kind, key
      |LIMIT 25""".stripMargin))

  /** Triangle count with DEGREE ORIENTATION — the classic trick that
    * makes wedge enumeration tractable at scale: orient every
    * undirected edge from its lower-(deg, node) endpoint to the
    * higher, enumerate wedges only from each node's oriented
    * out-neighborhood (out-degree is O(sqrt(m)) after orientation, so
    * wedge count is bounded by m^1.5 instead of sum(deg²) — the
    * difference between feasible and not on a skewed 100 TB graph),
    * and close each wedge with one hash join back against the
    * oriented edges. Every triangle is counted exactly once, from its
    * lowest-rank vertex.
    *
    * `edges`: undirected, x < y, distinct. Returns one row
    * (n_nodes, n_edges, n_triangles).
    */
  def triangleCount(edges0: DataFrame): DataFrame = {
    // the operator runs FOUR actions (orientation-bounds row, the
    // closing-join count, n_nodes, n_edges) — without a checkpoint
    // each one re-derives the caller's edge relation (for the entry,
    // an events SELF-JOIN) from scratch; materialize it once
    val edges = edges0.materialized
    val nodes = edges.select(col("x").as("n"))
      .unionAll(edges.select(col("y").as("n")))
    val deg = nodes.groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // sortable rank key: degree-major, node-minor. Two encodings with
    // IDENTICAL order semantics, selected by a one-row bounds check:
    // the packed `deg*2^20+node` long when every id fits 20 bits (one
    // long per row through the wedge shuffle — cheap), else an
    // UNPACKED (deg, node) struct whose lexicographic ordering is a
    // strict total order for ANY int64 id (the packed key silently
    // collided above 2^20 — the r12 finding; now it is a guarded
    // fast path, not an assumption)
    // bounds from the deg AGGREGATE (nodes-sized), not the raw edge
    // union — one row, no extra edge pass
    val bounds = deg.agg(min(col("n")).cast("long"),
      max(col("n")).cast("long")).head()
    val packable = bounds.isNullAt(0) ||
      (bounds.getLong(0) >= 0L && bounds.getLong(1) < (1L << 20))
    def rk(d: Column, i: Column): Column =
      if (packable) d * lit(1048576L) + i.cast("long")
      else struct(d.as("d"), i.cast("long").as("i"))
    val keyed = edges
      .join(deg.select(col("n").as("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("n").as("y"), col("deg").as("dy")), "y")
      .select(col("x"), col("y"),
        rk(col("dx"), col("x")).as("rx"),
        rk(col("dy"), col("y")).as("ry"))
    // Spread the oriented edges by src BEFORE wedge enumeration: AQE
    // sizes post-shuffle partitions by INPUT bytes, and the oriented
    // relation is tiny relative to the wedge fan-out it produces
    // (measured at sf0.1: a 1 MB edge input coalesced to ONE task that
    // then wrote 38 MB of wedges serially for 4.7 s — the exploding-
    // join shape of guide §3.3). An explicit hash repartition at the
    // session's parallelism pins the wedge work wide; both self-join
    // sides inherit the partitioning (alias-preserved), so the wedge
    // join itself adds no further exchange.
    val oriented = keyed.select(
      when(col("rx") < col("ry"), col("x")).otherwise(col("y")).as("src"),
      when(col("rx") < col("ry"), col("y")).otherwise(col("x")).as("dst"),
      greatest(col("rx"), col("ry")).as("rdst"))
      .repartition(
        edges.sparkSession.sparkContext.defaultParallelism, col("src"))
    val o1 = oriented.select(col("src"), col("dst").as("v"),
      col("rdst").as("rv"))
    val o2 = oriented.select(col("src").as("src2"), col("dst").as("w"),
      col("rdst").as("rw"))
    val wedges = o1.join(o2,
        col("src") === col("src2") && col("rv") < col("rw"))
      .select(col("v"), col("w"))
    val closing = oriented.select(col("src").as("v"), col("dst").as("w"))
    val tri = wedges.join(closing, Seq("v", "w")).count()
    val sess = edges.sparkSession
    import sess.implicits._
    Seq((deg.count(), edges.count(), tri))
      .toDF("n_nodes", "n_edges", "n_triangles")
  }

  /** The shared user co-occurrence graph of the entry family
    * (triangles / k-core / label propagation): users sharing an
    * (event_type, 5-minute window) cell, undirected, x < y, distinct.
    * µs-aligned first (NOTES rule 2) so a ts within 1 µs of a window
    * boundary can't land differently across engines.
    */
  def coOccurrenceEdges(s: SparkSession, d: String): DataFrame = {
    val b = Engine.table(s, d, "events")
      .select(col("user_id").as("u"), col("event_type").as("t"),
        expr("(ts - ts % 1000) div 300000000000").as("w"))
      .distinct()
    val b2 = b.select(col("u").as("u2"), col("t").as("t2"),
      col("w").as("w2"))
    b.join(b2, col("t") === col("t2") &&
        col("w") === col("w2") && col("u") < col("u2"))
      .select(col("u").as("x"), col("u2").as("y"))
      .distinct()
  }

  /** Driver entry + FULL oracle: triangles of the user co-occurrence
    * graph ([[coOccurrenceEdges]]). The oracle counts triangles with
    * the textbook 3-way self-join — the oriented distributed plan
    * must land on the same number.
    */
  val trianglesEntry: Q = Q("graph_triangles",
    (s, d) => {
      Engine.configure(s)
      triangleCount(coOccurrenceEdges(s, d))
    },
    Some("""WITH b AS (
      |  SELECT DISTINCT user_id u, event_type t,
      |    epoch_ns(ts) // 300000000000 w
      |  FROM events),
      |ed AS (
      |  SELECT DISTINCT a.u AS x, c.u AS y
      |  FROM b a JOIN b c ON a.t = c.t AND a.w = c.w AND a.u < c.u),
      |nd AS (SELECT COUNT(DISTINCT n) AS n_nodes FROM (
      |  SELECT x AS n FROM ed UNION ALL SELECT y FROM ed)),
      |tr AS (
      |  SELECT COUNT(*) AS n_triangles
      |  FROM ed e1 JOIN ed e2 ON e1.x = e2.x AND e1.y < e2.y
      |  JOIN ed e3 ON e3.x = e1.y AND e3.y = e2.y)
      |SELECT n_nodes, (SELECT COUNT(*) FROM ed) AS n_edges, n_triangles
      |FROM nd, tr""".stripMargin))

  /** k-CORE decomposition by parallel peeling — the standard
    * corpus-quality / community primitive: repeatedly delete every
    * node whose CURRENT degree is < k, simultaneously, until nothing
    * changes; the survivors are the (unique, order-independent)
    * maximal subgraph with min degree >= k.
    *
    * `edges`: undirected, x < y, distinct. Returns (node, core_deg)
    * for every k-core member, core_deg = its degree INSIDE the core.
    *
    * 100 TB shape: each round is one nodes-keyed degree aggregate +
    * two left-semi joins of the shrinking edge relation against the
    * survivor set — never an all-pairs product, never driver-side
    * graph state (the only collected value per round is one count,
    * which the fixpoint test needs anyway). The edge relation is
    * checkpointed per round (the pageRank cadence lesson: each round
    * counts AND feeds the next — without truncation every round
    * replays the whole peel history). Round complexity is the
    * PARALLEL PEEL SPAN — O(graph diameter) worst case (a k=2 path of
    * length L peels from the ends, L/2 rounds), so `maxRounds` is a
    * LOUD bound, not a silent cap: exceeding it raises (ZOrder guard
    * precedent) rather than returning a half-peeled subgraph. Peel
    * rounds are IDEMPOTENT at fixpoint — the property the unrolled
    * oracle relies on (extra rounds past fixpoint change nothing).
    */
  def kCore(edges0: DataFrame, k: Int, maxRounds: Int = 12): DataFrame = {
    require(k >= 1, "kCore: k >= 1")
    require(maxRounds >= 1, "kCore: maxRounds >= 1")
    var e = edges0.select(col("x"), col("y")).materialized
    var m = e.count()
    var rounds = 0
    var converged = false
    while (!converged && rounds <= maxRounds) {
      val deg = e.select(col("x").as("n"))
        .unionAll(e.select(col("y").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("n"))
      val e2 = e
        .join(keep.select(col("n").as("x")), Seq("x"), "left_semi")
        .join(keep.select(col("n").as("y")), Seq("y"), "left_semi")
        .materialized
      val m2 = e2.count()
      // edge count unchanged <=> no node fell below k (every node in
      // the edge relation has >= 1 edge, so dropping one drops edges)
      if (m2 == m) converged = true
      else { e = e2; m = m2; rounds += 1 }
    }
    require(converged,
      s"kCore: no fixpoint after $maxRounds peel rounds — the graph's " +
        "peel span exceeds the bound; raise maxRounds (rounds are " +
        "idempotent past fixpoint, a larger bound is always safe)")
    e.select(col("x").as("node"))
      .unionAll(e.select(col("y").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
      .orderBy(col("node"))
  }

  private val KcoreK = 2
  private val KcoreRounds = 12

  /** Unrolled-peel oracle: `rounds` idempotent parallel-peel rounds
    * over the edge relation defined by `withAndE0` (the pagerank
    * unrolled-CTE pattern — DuckDB runs the exact integer recurrence,
    * and rounds past fixpoint are no-ops, so a fixed unroll >= the
    * engine's loud `maxRounds` bound checks the true fixpoint).
    */
  private def kcoreOracle(k: Int, rounds: Int,
      withAndE0: String): String = {
    val sb = new StringBuilder
    // every round CTE is MATERIALIZED: each round references the
    // previous one 3x, so default CTE inlining would expand the plan
    // 3^rounds-fold (observed as "too many open files" on the base
    // parquet at 12 rounds); materialization makes the unroll linear
    sb.append(withAndE0)
    (0 until rounds).foreach { r =>
      sb.append(s"d$r AS MATERIALIZED (SELECT n FROM (SELECT x AS n FROM e$r " +
        s"UNION ALL SELECT y FROM e$r) GROUP BY n " +
        s"HAVING COUNT(*) >= $k),\n")
      sb.append(s"e${r + 1} AS MATERIALIZED (SELECT x, y FROM e$r " +
        s"WHERE x IN (SELECT n FROM d$r) " +
        s"AND y IN (SELECT n FROM d$r)),\n")
    }
    sb.append(s"fin AS (SELECT x AS n FROM e$rounds " +
      s"UNION ALL SELECT y FROM e$rounds)\n")
    sb.append("SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS core_deg\n")
    sb.append("FROM fin GROUP BY n ORDER BY node")
    sb.toString
  }

  /** Driver entry + FULL oracle: the 2-core of the user co-occurrence
    * graph (same edge derivation as [[trianglesEntry]] — users sharing
    * an (event_type, 5-minute window) cell): users embedded in at
    * least one cycle of co-activity, with their in-core degree.
    */
  val kcoreEntry: Q = Q("graph_kcore",
    (s, d) => {
      Engine.configure(s)
      kCore(coOccurrenceEdges(s, d), KcoreK, KcoreRounds)
    },
    Some(kcoreOracle(KcoreK, KcoreRounds,
      "WITH b AS (\n" +
        "  SELECT DISTINCT user_id u, event_type t,\n" +
        "    epoch_ns(ts) // 300000000000 w\n  FROM events),\n" +
        "e0 AS MATERIALIZED (\n  SELECT DISTINCT a.u AS x, c.u AS y\n" +
        "  FROM b a JOIN b c ON a.t = c.t AND a.w = c.w AND a.u < c.u),\n")))

  private val KcorePeelRounds = 32

  /** Driver entry + FULL oracle: the 2-core of the SAME-SUPPLIER
    * co-purchase graph — parts appearing on the same order from the
    * same supplier. Unlike the dense co-occurrence graph, this
    * relation is chain-rich: at sf0.01 the parallel peel takes 17
    * ROUNDS to fixpoint (measured), so the entry exercises the
    * iterative peel depth the planted specs pin, not just the
    * terminal filter. The loud engine bound and the idempotent oracle
    * unroll are both 32.
    */
  val kcorePeelEntry: Q = Q("graph_kcore_peel",
    (s, d) => {
      Engine.configure(s)
      kCore(coPurchaseEdges(s, d), KcoreK, KcorePeelRounds)
    },
    Some(kcoreOracle(KcoreK, KcorePeelRounds,
      "WITH li AS (\n" +
        "  SELECT l_orderkey o, l_suppkey sk, l_partkey p FROM lineitem),\n" +
        "e0 AS MATERIALIZED (\n  SELECT DISTINCT a.p AS x, b.p AS y\n" +
        "  FROM li a JOIN li b ON a.o = b.o AND a.sk = b.sk " +
        "AND a.p < b.p),\n")))

  /** The shared same-supplier co-purchase graph ([[kcorePeelEntry]] /
    * [[componentsEntry]]): parts appearing on the same order from the
    * same supplier, undirected, x < y, distinct. Chain-rich and
    * fragmented — the structural opposite of the dense near-one-
    * component co-occurrence graph, so it exercises iteration depth
    * (k-core peel span, component diameter), not just terminal
    * filters.
    */
  def coPurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val li = Engine.table(s, d, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_suppkey").as("sk"),
        col("l_partkey").as("p"))
    val li2 = li.select(col("o").as("o2"), col("sk").as("sk2"),
      col("p").as("p2"))
    li.join(li2, col("o") === col("o2") &&
        col("sk") === col("sk2") && col("p") < col("p2"))
      .select(col("p").as("x"), col("p2").as("y"))
      .distinct()
  }

  /** Synchronous label propagation — the standard lightweight
    * community-detection primitive (complementing components =
    * reachability, k-core = density, pagerank = centrality): every
    * node starts labeled with its own id; each round, ALL nodes
    * simultaneously adopt the most frequent label among their
    * neighbors, ties broken by MIN label. A FIXED round count (not
    * fixpoint detection) is the spec: synchronous LPA can 2-cycle on
    * bipartite structures, so "R rounds exactly" is what makes the
    * operator deterministic and oracle-checkable — identical
    * arithmetic in both engines, no randomized tie-breaking (the
    * usual async-LPA nondeterminism is exactly what this formulation
    * removes).
    *
    * `edges`: undirected, x < y, distinct. Returns (node, label)
    * after `rounds` rounds, ordered by node.
    *
    * 100 TB shape: each round is ONE adjacency-join shuffle keyed by
    * neighbor + one (node, label) count aggregate + one per-node
    * argmax aggregate (min over struct(-cnt, label) — no window, so
    * no per-node sort); labels are checkpointed per round (the
    * pageRank cadence lesson). Zero driver-side graph state — not
    * even a per-round count; the loop is a fixed unroll.
    */
  def labelPropagation(edges0: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "labelPropagation: rounds >= 1")
    val adj = edges0.select(col("x").as("n"), col("y").as("m"))
      .unionAll(edges0.select(col("y").as("n"), col("x").as("m")))
      .materialized
    var labels = adj.select(col("n")).distinct()
      .select(col("n"), col("n").as("lbl"))
      .materialized
    (1 to rounds).foreach { _ =>
      val nbrLbl = adj.join(
        labels.select(col("n").as("m"), col("lbl")), Seq("m"))
      val counts = nbrLbl.groupBy(col("n"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
      // argmax by (cnt desc, lbl asc): lexicographic MIN over
      // struct(-cnt, lbl) — node ids are >= 0 so -cnt can't collide
      labels = counts.groupBy(col("n"))
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("lbl")))
          .as("pick"))
        .select(col("n"), col("pick.lbl").as("lbl"))
        .materialized
    }
    labels.select(col("n").as("node"), col("lbl").as("label"))
      .orderBy(col("node"))
  }

  private val LpaRounds = 4

  /** Unrolled sync-LPA oracle (the kcore/pagerank unrolled-CTE
    * pattern): `withAndAdj` must define `adj(n, m)` (both edge
    * directions); each round is MATERIALIZED (referenced twice —
    * default inlining would grow the plan exponentially in rounds).
    */
  private def lpaOracle(rounds: Int, withAndAdj: String): String = {
    val sb = new StringBuilder
    sb.append(withAndAdj)
    sb.append("l0 AS MATERIALIZED (SELECT DISTINCT n, n AS lbl FROM adj),\n")
    (0 until rounds).foreach { r =>
      sb.append(s"c$r AS MATERIALIZED (SELECT a.n, l.lbl, " +
        s"COUNT(*) AS cnt FROM adj a JOIN l$r l ON a.m = l.n " +
        "GROUP BY a.n, l.lbl),\n")
      sb.append(s"l${r + 1} AS MATERIALIZED (SELECT n, lbl FROM (" +
        "SELECT n, lbl, ROW_NUMBER() OVER (PARTITION BY n " +
        s"ORDER BY cnt DESC, lbl ASC) AS rk FROM c$r) WHERE rk = 1),\n")
    }
    sb.append(s"fin AS (SELECT n, lbl FROM l$rounds)\n")
    sb.append("SELECT n AS node, CAST(lbl AS BIGINT) AS label " +
      "FROM fin ORDER BY node")
    sb.toString
  }

  /** Driver entry + FULL oracle: 4 sync-LPA rounds over the user
    * co-occurrence graph (same edge derivation as [[trianglesEntry]]
    * / [[kcoreEntry]]) — co-activity communities per user.
    */
  val labelPropEntry: Q = Q("graph_label_prop",
    (s, d) => {
      Engine.configure(s)
      labelPropagation(coOccurrenceEdges(s, d), LpaRounds)
    },
    Some(lpaOracle(LpaRounds,
      "WITH b AS (\n" +
        "  SELECT DISTINCT user_id u, event_type t,\n" +
        "    epoch_ns(ts) // 300000000000 w\n  FROM events),\n" +
        "ed AS MATERIALIZED (\n  SELECT DISTINCT a.u AS x, c.u AS y\n" +
        "  FROM b a JOIN b c ON a.t = c.t AND a.w = c.w AND a.u < c.u),\n" +
        "adj AS MATERIALIZED (\n  SELECT x AS n, y AS m FROM ed\n" +
        "  UNION ALL SELECT y AS n, x AS m FROM ed),\n")))

  /** Connected components by ALTERNATING STAR CONTRACTION (the
    * large-star / small-star algorithm of Kiveris, Lattanzi,
    * Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
    * MapReduce and Beyond", SoCC'14 — the published Spark/MapReduce-
    * native CC with an O(log^2 n) round guarantee) — the engine's one
    * connected-components operator: [[componentsEntry]] and every
    * dedup cluster pass (`dedup_cluster_assign`, `dedup_survivor`,
    * `dedup_simhash_full`) call it.
    *
    * One round is a (large-star, small-star) pair over the canonical
    * (x < y) edge relation:
    *  - large-star: each node u computes m(u) = min over its
    *    neighborhood incl. itself and reconnects every STRICTLY
    *    LARGER neighbor v > u to m(u);
    *  - small-star: each node u reconnects its smaller neighbors
    *    (and itself) to the min of those smaller neighbors.
    * Both preserve connectivity and node presence; iterated, every
    * component contracts to a STAR centered at its minimum id.
    * Hash-min propagation was rejected: it spreads a component's min
    * ONE hop per round — O(diameter) — and a single pointer-jump
    * chaser barely helps on tree-shaped regions (measured: 28 rounds
    * to fixpoint on the sf0.01 co-purchase graph, diameter ~66, vs 7
    * star rounds; 400-hop paths take 10 star rounds regardless of id
    * orientation). Its label joins also multiplied the planner's size
    * estimate every round (NOTES.md, graph_components); the star's
    * stays flat.
    *
    * Star rounds are IDEMPOTENT at fixpoint — a star maps to itself
    * under both operations — the kcore/pagerank unroll property the
    * oracle relies on. An insufficient `rounds` is LOUD, not silent:
    * the result is certified by checking the final labels are
    * CONSTANT ACROSS EVERY ORIGINAL EDGE. Labels are always
    * same-component node ids, edge-constancy makes them per-component
    * constants, and the component minimum always labels itself, so
    * the constant IS the minimum — certificate failure raises (ZOrder
    * guard precedent) rather than returning half-merged components.
    *
    * 100 TB shape: each star op is one min aggregate (map-side
    * combinable) + one join back keyed by node + distinct — all keyed
    * shuffles, never all-pairs; the edge relation only shrinks under
    * contraction and is checkpointed per round (the pageRank cadence
    * lesson) through [[Engine.materialize]], so
    * `graft.reliableCheckpoint=true` makes every round recoverable
    * after executor loss (FaultToleranceSpec). High-degree hubs are exactly what large-star is built
    * for: its emissions re-key a hub's larger neighbors to the
    * neighborhood min, splitting the hub's star across keys in the
    * next round.
    *
    * Input contract: `edges0(x, y)` is undirected, canonical (x < y)
    * and distinct; callers rename their columns to x, y. It is not
    * checked at runtime — an edge set that breaks it fails the
    * certificate. Returns (node, component), component = min node id
    * in the component, one row per node that appears in an edge,
    * unordered: callers join the labels and order their own output.
    */
  def connectedComponents(edges0: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "connectedComponents: rounds >= 1")
    val e0 = edges0.select(col("x"), col("y")).materialized
    def largeStar(e: DataFrame): DataFrame = {
      val adj = e.select(col("x").as("u"), col("y").as("v"))
        .unionAll(e.select(col("y").as("u"), col("x").as("v")))
      val mins = adj.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      // every emitted edge is (m, v) with m <= u < v: canonical
      adj.filter(col("v") > col("u")).join(mins, Seq("u"))
        .select(col("m").as("x"), col("v").as("y")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // group by the LARGER endpoint: e is canonical, so that is y
      val mins = e.groupBy(col("y").as("u")).agg(min(col("x")).as("m"))
      val self = mins.select(col("m").as("x"), col("u").as("y"))
      val rest = e.join(mins, e("y") === mins("u"))
        .filter(e("x") =!= mins("m"))
        .select(mins("m").as("x"), e("x").as("y"))
      // m = min of u's smaller neighbors, so m < every kept x: canonical
      self.unionAll(rest).distinct()
    }
    var e = e0
    // early exit on a stable (count, hash-sum) edge-set signature —
    // one 2-long aggregate per round (the kCore per-round count
    // class). The signature is a HEURISTIC shortcut only: a false
    // stable (astronomically unlikely) would be caught by the exact
    // edge-constancy certificate below, so correctness never rests
    // on it — it just stops a 3-round graph from paying all `rounds`
    var prevSig: (Long, Long) = null
    var r = 0
    while (r < rounds && {
        val sig = e.agg(count(lit(1)), sum(xxhash64(col("x"), col("y"))))
          .collect().head
        val cur = (sig.getLong(0),
          if (sig.isNullAt(1)) 0L else sig.getLong(1))
        val go = cur != prevSig
        prevSig = cur
        go
      }) {
      e = smallStar(largeStar(e)).materialized
      r += 1
    }
    // labels from the final (star) edge set: min over self + neighbors
    val labels = e.select(col("x").as("n"), col("y").as("v"))
      .unionAll(e.select(col("y").as("n"), col("x").as("v")))
      .groupBy(col("n"))
      .agg(least(col("n"), min(col("v"))).as("lbl"))
      .materialized
    // certificate: labels constant across every ORIGINAL edge. LEFT
    // joins on purpose: node presence in the final star edge set is a
    // proven invariant of both star ops, but a violation would make
    // an inner join silently HIDE the very edge that witnesses it —
    // a missing label must fail the certificate, not shrink it
    val bad = e0
      .join(labels.select(col("n").as("x"), col("lbl").as("lx")),
        Seq("x"), "left")
      .join(labels.select(col("n").as("y"), col("lbl").as("ly")),
        Seq("y"), "left")
      .filter(col("lx").isNull || col("ly").isNull ||
        col("lx") =!= col("ly")).count()
    require(bad == 0,
      s"connectedComponents: label certificate failed after $rounds " +
        "star rounds — components not fully contracted; raise rounds " +
        "(star rounds are idempotent past fixpoint, larger is always " +
        "safe)")
    labels.select(col("n").as("node"), col("lbl").as("component"))
  }

  // (large-star, small-star) pairs: 7 reaches fixpoint on the sf0.01
  // co-purchase graph (the deepest of the 3 SFs — sparse, diameter
  // ~66); 10 also covers 400-hop paths, and idempotence makes the
  // margin free
  private val CcRounds = 10

  /** Unrolled large-star/small-star oracle (the kcore/LPA
    * unrolled-CTE pattern): `withAndE0` must define the canonical
    * edge relation `e0(x, y)`, x < y, distinct; every round CTE is
    * MATERIALIZED (each is referenced 2-3x downstream — default
    * inlining would grow the plan exponentially in rounds).
    */
  private def ccOracle(rounds: Int, withAndE0: String): String = {
    val sb = new StringBuilder
    sb.append(withAndE0)
    (0 until rounds).foreach { r =>
      // large-star over e$r
      sb.append(s"la$r AS MATERIALIZED (SELECT x AS u, y AS v FROM e$r " +
        s"UNION ALL SELECT y AS u, x AS v FROM e$r),\n")
      sb.append(s"lm$r AS MATERIALIZED (SELECT u, LEAST(u, MIN(v)) AS m " +
        s"FROM la$r GROUP BY u),\n")
      sb.append(s"le$r AS MATERIALIZED (SELECT DISTINCT lm.m AS x, a.v AS y " +
        s"FROM la$r a JOIN lm$r lm ON a.u = lm.u WHERE a.v > a.u),\n")
      // small-star over le$r (canonical: y is the larger endpoint)
      sb.append(s"sm$r AS MATERIALIZED (SELECT y AS u, MIN(x) AS m " +
        s"FROM le$r GROUP BY y),\n")
      sb.append(s"e${r + 1} AS MATERIALIZED (SELECT DISTINCT x, y FROM (" +
        s"SELECT m AS x, u AS y FROM sm$r UNION ALL " +
        s"SELECT sm.m AS x, le.x AS y FROM le$r le " +
        s"JOIN sm$r sm ON le.y = sm.u WHERE le.x <> sm.m)),\n")
    }
    sb.append(s"fin AS (SELECT x AS n, y AS v FROM e$rounds " +
      s"UNION ALL SELECT y AS n, x AS v FROM e$rounds)\n")
    sb.append("SELECT n AS node, LEAST(n, MIN(v)) AS component " +
      "FROM fin GROUP BY n ORDER BY node")
    sb.toString
  }

  /** Driver entry + FULL oracle: connected components of the
    * same-supplier co-purchase graph ([[coPurchaseEdges]] — the
    * fragmented chain-rich relation, so the result is many real
    * components, not one giant blob; 185 components at sf0.01).
    * DuckDB unrolls the same star-contraction recurrence; rounds past
    * fixpoint are no-ops, so the fixed unroll checks the true
    * component assignment, and the engine's own edge-constancy
    * certificate proves the unroll sufficed.
    */
  val componentsEntry: Q = Q("graph_components",
    (s, d) => {
      Engine.configure(s)
      connectedComponents(coPurchaseEdges(s, d), CcRounds)
        .orderBy(col("node"))
    },
    Some(ccOracle(CcRounds,
      "WITH li AS (\n" +
        "  SELECT l_orderkey o, l_suppkey sk, l_partkey p FROM lineitem),\n" +
        "e0 AS MATERIALIZED (\n  SELECT DISTINCT a.p AS x, b.p AS y\n" +
        "  FROM li a JOIN li b ON a.o = b.o AND a.sk = b.sk " +
        "AND a.p < b.p),\n")))


  val defs: Seq[Q] = Seq(pagerankEntry, pprEntry, trianglesEntry,
    kcoreEntry, kcorePeelEntry, labelPropEntry, componentsEntry)
}
