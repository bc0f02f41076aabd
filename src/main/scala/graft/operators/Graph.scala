package graft.operators

import graft.{Iterate, QueryModule, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics — the power-iteration family a curation
  * pipeline uses to rank domains/sources by link authority before
  * sampling. The representative operator is PageRank over an entity
  * graph derived from the warehouse tables.
  *
  * Scale shape: the edge list is built ONCE (one distinct shuffle) and
  * cached; every iteration is exactly one join (edges ⋈ ranks,
  * both keyed by src — at scale both pre-partitioned on the same key
  * so iterations reuse the partitioning) plus one aggregation on dst.
  * Ranks live in PPB (parts-per-billion) BIGINTs and every step is
  * integer arithmetic (`div`), so the fixpoint trajectory is
  * bit-identical on any engine — the drift contract applied to an
  * iterative algorithm, with the DuckDB oracle replaying the same
  * unrolled iterations. Dangling mass (nodes with no out-edges) is
  * redistributed uniformly each round, computed distributively via a
  * one-row cross join (no driver collect in the loop).
  */
object Graph extends QueryModule {

  private val Iters = 5
  private val Scale = 1000000000L // rank unit: parts-per-billion

  /** Shuffle-partition count for the edge-set layout (matches the
    * session's shuffle.partitions so co-partitioned joins line up).
    */
  private def np(s: SparkSession): Int =
    s.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** Iteration-layout width, derived from the INPUT SIZE (guide §2:
    * scale-adaptive partitioning, never a constant tuned for one
    * deployment): ~1M edge rows per cached partition, sized from a
    * metadata-rate estimate of the raw rows (counting the built edge
    * set itself would cost a materialization — the triangles layout
    * note measured +40% from exactly that). Every per-round stage of
    * the iterative loops runs over this layout, so its width is the
    * task count the loop pays 2·iters times: the 1M-row data term
    * dominates at scale (sf1 ≈ 12-way, 100 TB ≫ any core count), and
    * the floor of 8 keeps a small graph's rounds parallel without
    * launching a full core-count of tasks per KB-sized stage
    * (measured at sf0.1: 32-way → 8-way halves per-iteration wall,
    * identical plans, because each round's stages are task-launch
    * bound, not data bound).
    */
  private def graphParts(s: SparkSession, edgeEstimate: Long): Int =
    math.max(8, math.min(20000L, edgeEstimate / 1000000L).toInt)

  /** The supplier↔part supply graph the graph queries run on: both
    * directions of every lineitem supplier-part pair, node ids
    * disambiguated by parity. Returns the edges and the iteration
    * layout width, sized from a metadata-rate lineitem row count (see
    * [[graphParts]]; the edge set is ≤ 2 pairs per lineitem row).
    */
  private def supplyGraph(s: SparkSession, dir: String): (DataFrame, Int) = {
    import s.implicits._
    val liRows = T.t(s, dir, "lineitem").count()
    val li = T.t(s, dir, "lineitem")
      .select(($"l_suppkey" * 2).as("s"), ($"l_partkey" * 2 + 1).as("p"))
    (li.select($"s".as("src"), $"p".as("dst"))
      .union(li.select($"p".as("src"), $"s".as("dst"))),
      graphParts(s, liRows * 2))
  }

  /** Power iteration over (src, dst) BIGINT edges. Returns
    * (node, rank_ppb) for every node appearing as a source or target.
    * rank' = base + 0.85·(inflow + dangling/N), all in integer ppb:
    * base = 0.15·Scale div N, per-edge contribution = rank div outdeg.
    * `iters` fixed rounds (an engine-replayable trajectory); `parts`
    * is the width of the cached edge and node layouts.
    */
  private[graft] def pagerankEdges(s: SparkSession, edgesIn: DataFrame,
      iters: Int = Iters,
      parts: Int = np(SparkSession.active)): DataFrame = {
    import s.implicits._
    // Edges are partitioned ON THE JOIN KEY once and cached: an
    // InMemoryRelation advertises its outputPartitioning (a
    // localCheckpoint'd LogicalRDD does not — measured), so every
    // iteration's rank join consumes the edge blocks IN PLACE and
    // only the rank side (|V| rows) moves. Per-iteration shuffle
    // drops from O(|E|) to O(|V|) — at 100 TB the edge set shuffles
    // exactly once per query, the textbook Pregel layout.
    val edges = edgesIn.select($"src", $"dst").distinct()
      .repartition(parts, $"src").cache()
    val nodes = edges.select($"src".as("node"))
      .union(edges.select($"dst".as("node"))).distinct()
    val deg = edges.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
    // The rank state CARRIES out-degree (null = dangling): the
    // per-iteration ranks⋈deg join and the dangling anti-join of the
    // naive loop collapse into a filter over the state — two fewer
    // |V|-row exchanges per round. `nd` (node ⋈ deg, node-partitioned,
    // cached) is built once and serves as the next-state outer side
    // in place every round: contrib aggregates land already
    // node-partitioned at the same count, so the per-round next-state
    // join is exchange-free on both sides.
    val nd = nodes.join(deg, Seq("node"), "left_outer")
      .repartition(parts, $"node").cache()
    // graph order N: a one-row aggregate, cross-joined (no driver count)
    val init = nd.crossJoin(nd.agg(count(lit(1)).as("n")))
      .select($"node", expr(s"$Scale div n").as("rank"), $"deg")
    def round(state: DataFrame): DataFrame = {
      val contrib = edges
        .join(state.filter($"deg".isNotNull)
          .select($"node".as("src"), $"rank", $"deg"), "src")
        .select($"dst".as("node"), expr("rank div deg").as("c"))
        .groupBy($"node").agg(sum($"c").as("inflow"))
      // dangling nodes hold rank with nowhere to go: redistribute
      // uniformly. Every node is a state row, so N rides the same
      // one-row aggregate (cross-joined — no collect)
      val dang = state.agg(
        coalesce(sum(when($"deg".isNull, $"rank")), lit(0L)).as("dsum"),
        count(lit(1)).as("n"))
      nd.join(contrib, Seq("node"), "left_outer")
        .crossJoin(dang)
        .select($"node", expr(s"${Scale * 15 / 100} div n + " +
          "(850 * (coalesce(inflow, 0L) + (dsum div n))) div 1000")
          .as("rank"), $"deg")
    }
    Iterate(init, iters)(round)(_ => false)
      .state.select($"node", $"rank".as("rank_ppb"))
  }

  /** PageRank over the supplier↔part supply graph. Top-100 authority
    * ranking — the "which sources matter" query a domain-mix curation
    * step starts from.
    */
  def pagerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (edges, parts) = supplyGraph(s, dir)
    pagerankEdges(s, edges, Iters, parts)
      .orderBy($"rank_ppb".desc, $"node")
      .limit(100)
  }

  /** Triangle counting over the co-purchase graph (parts sharing an
    * order), DEGREE-oriented wedge closure: every undirected edge is
    * oriented from its lower-(degree, id) endpoint to its higher one
    * — an acyclic total order, so each triangle forms exactly one
    * wedge at its lowest vertex — which caps per-node wedge fan-out
    * at O(√m) on ANY degree distribution (the Schank/Wagner bound;
    * id-orientation leaves hub nodes quadratic). Wedges are pairs of
    * out-neighbors (one self-join on src), and BEFORE the closing
    * join shuffles them, a broadcast Bloom over the packed edge keys
    * discards the non-closing wedges map-side inside codegen
    * (`bloom_might_contain_long`) — only true triangles + ~1% false
    * positives reach the exact closure join, which trims the FPs.
    * Edge build is per-order pair expansion: fan-out bounded by order
    * size, linear in lineitem.
    */
  def triangles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = T.t(s, dir, "lineitem")
      .select($"l_orderkey".as("k"), $"l_partkey".as("p")).distinct()
    val und = li.as("a").join(li.as("b"),
        col("a.k") === col("b.k") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v"))
      .distinct()
    // wedge-stage partition count SCALES WITH THE GRAPH, not the
    // session: the self-join's per-partition working set is the
    // partition's edges PLUS their wedge expansion (√m-bounded but
    // several × the input), so a fixed 32-way layout that is right at
    // sf0.1 sorts/spills at 10×+. Sizing input: the RAW lineitem row
    // count — metadata-rate (parquet footer counts; caching/counting
    // `und` itself measured +40% on this query at sf1, so the layout
    // must not cost a materialization). Pair expansion ≈ 3× rows on
    // this order-size distribution; ~1M oriented edges per partition.
    val liRows = T.t(s, dir, "lineitem").count()
    val parts = math.max(np(s),
      math.min(20000L, liRows * 3 / 1000000L).toInt)
    val deg = und.select(explode(array($"u", $"v")).as("n"))
      .groupBy($"n").agg(count(lit(1)).as("d"))
      .select($"n", ($"d" * 4294967296L + $"n").as("ord"))
    val e = und
      .join(deg.select($"n".as("u"), $"ord".as("ou")), "u")
      .join(deg.select($"n".as("v"), $"ord".as("ov")), "v")
      .select(
        when($"ou" < $"ov", $"u").otherwise($"v").as("src"),
        when($"ou" < $"ov", $"v").otherwise($"u").as("dst"),
        greatest($"ou", $"ov").as("dord"))
      // src-partitioned cache: the wedge SELF-join reads both sides
      // from the same co-partitioned blocks — zero exchanges for the
      // quadratic step; only the closure join re-keys (inherent: it
      // probes (a,b), a different key)
      .repartition(parts, $"src").cache()
    val nEdges = e.count()
    val bloom = e.select(($"src" * 4294967296L + $"dst").as("ek"))
      .stat.bloomFilter("ek", nEdges, 0.01)
    val b = s.sparkContext.broadcast(bloom)
    // wedge at the lowest vertex: two out-neighbors, ordered — the
    // closing edge, if present, is oriented (a → b) by construction
    val wedges = e.as("x").join(e.as("y"),
        col("x.src") === col("y.src") && col("x.dord") < col("y.dord"))
      .select(col("x.dst").as("a"), col("y.dst").as("b"))
      .filter(graft.functions.SketchFunctions.bloom_might_contain_long(
        $"a" * 4294967296L + $"b", b))
    wedges.join(e.as("e3"),
        wedges("a") === col("e3.src") && wedges("b") === col("e3.dst"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Multi-level BFS from one source over the supplier–part bipartite
    * graph: level-synchronous frontier expansion — each level is ONE
    * equi-join (frontier ⋈ edges) + an anti-join against the visited
    * set (the union of the checkpointed levels), one [[Iterate]] round
    * per level. The driver holds only the frontier-empty test (the
    * level's observed row count), never node data; levels run until
    * exhaustion, so distances are exact with no depth guess. The
    * oracle replays it as a DuckDB recursive CTE bounded at depth 10
    * with MIN(dist) per node — UNION-dedup keeps (node, dist) pairs
    * finite, the MIN recovers BFS distance (sound because every
    * true eccentricity here is < 10, which exhaustion proves).
    */
  def bfs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (pairs, parts) = supplyGraph(s, dir)
    // src-partitioned cached edges: every level's frontier expansion
    // joins against the edge blocks in place; only the frontier
    // (≤|V| rows) shuffles per level
    val edges = pairs.distinct().repartition(parts, $"src").cache()
    // the levels reached so far, newest first: the visited set is
    // their union, so each level is checkpointed once, by its round
    var levels = List.empty[DataFrame]
    def expand(frontier: DataFrame): DataFrame = {
      levels ::= frontier
      frontier.join(edges, $"node" === $"src")
        .select($"dst".as("node")).distinct()
        .join(levels.reduce(_ unionByName _), Seq("node"), "left_anti")
        .withColumn("dist", lit(levels.size))
    }
    Iterate(Seq((2L, 0)).toDF("node", "dist"), Int.MaxValue,
      count(lit(1)).as("n"))(expand)(_("n") == 0L)
    levels.reduce(_ unionByName _).groupBy($"dist")
      .agg(count(lit(1)).as("cnt"), min($"node").as("min_node"),
        max($"node").as("max_node"))
      .orderBy($"dist")
  }

  private val LpIters = 3

  /** SYNCHRONOUS label propagation (community detection, Raghavan et
    * al. 2007) made deterministic: every node starts labeled by its
    * own id; each round every node adopts the MOST FREQUENT label
    * among its neighbors, ties broken toward the smaller label — so
    * the trajectory is a pure function of the graph (classic async LP
    * is order-dependent; synchronous + total-order tie-break is the
    * reproducible variant, and the integer census needs no float
    * modularity). Each round is ONE join (edges ⋈ labels, both keyed
    * for reuse) + a per-node window vote — the PageRank iteration
    * discipline with a vote instead of a sum; k=3 rounds bounds work
    * (label cores stabilize in 2-3 rounds on short-diameter graphs).
    * The oracle replays the same rounds unrolled.
    */
  def labelProp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (edges, parts) = supplyGraph(s, dir)
    labelPropEdges(s, edges, LpIters, parts)
      .groupBy($"label")
      .agg(count(lit(1)).as("size"),
        min($"node").as("min_node"), max($"node").as("max_node"))
      .orderBy($"label")
  }

  /** The voting loop behind [[labelProp]]: (node, label) after
    * `iters` synchronous rounds — a fixed count, so DuckDB replays it
    * exactly.
    */
  private[graft] def labelPropEdges(s: SparkSession, edgesIn: DataFrame,
      iters: Int, parts: Int = np(SparkSession.active)): DataFrame = {
    import s.implicits._
    // dst-partitioned cached edges: each voting round's label join
    // reads the edge blocks in place (the pagerank discipline — only
    // the |V|-row label side shuffles per round)
    val edges = edgesIn.select($"src", $"dst")
      .distinct().repartition(parts, $"dst").cache()
    val init = edges.select($"src".as("node")).distinct()
      .select($"node", $"node".as("label"))
    def vote(labels: DataFrame): DataFrame = {
      // argmax via max(struct(c, -label)): (votes desc, label asc) as
      // TWO map-side-combined hash aggregates — a row_number window
      // would SORT every src partition per round (measured 1.5× the
      // whole query's cost at sf0.1)
      edges
        .join(labels.select($"node".as("dst"), $"label"), "dst")
        .groupBy($"src", $"label").agg(count(lit(1)).as("c"))
        .groupBy($"src")
        .agg(max(struct($"c", (-$"label").as("nl"))).as("w"))
        .select($"src".as("node"), (-$"w.nl").as("label"))
    }
    Iterate(init, iters)(vote)(_ => false)
      .state.select($"node", $"label")
  }

  /** The DuckDB mirror of [[supplyGraph]]'s edges, deduplicated: the
    * `pairs` and `e` CTEs every graph oracle but triangles starts from.
    */
  private val supplySql =
    """pairs AS (
      |  SELECT l_suppkey * 2 AS s, l_partkey * 2 + 1 AS p FROM lineitem),
      |e AS (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT s AS src, p AS dst FROM pairs
      |    UNION ALL
      |    SELECT p AS src, s AS dst FROM pairs))""".stripMargin

  /** One unrolled LP voting round in DuckDB SQL. */
  private def lpIterSql(k: Int): String =
    s"""l$k AS (
       |  SELECT node, label FROM (
       |    SELECT e.src AS node, l.label, COUNT(*) AS c,
       |      ROW_NUMBER() OVER (PARTITION BY e.src
       |        ORDER BY COUNT(*) DESC, l.label) AS rn
       |    FROM e JOIN l${k - 1} l ON l.node = e.dst
       |    GROUP BY e.src, l.label) t
       |  WHERE rn = 1)""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("graph_pagerank" -> (pagerank(_, _)),
      "graph_triangles" -> (triangles(_, _)),
      "graph_labelprop" -> (labelProp(_, _)),
      "graph_bfs" -> (bfs(_, _)))

  /** One unrolled power-iteration step in DuckDB SQL, mirroring the
    * integer-ppb arithmetic exactly.
    *
    * Every aggregate / arithmetic result is pinned with
    * CAST(... AS BIGINT): DuckDB widens SUM(BIGINT) to HUGEINT and
    * newer versions widen `*`/`//` chains too, which changes the
    * RESULT TYPE the driver hashes even when the values are identical
    * to Spark's LongType (the sole hash-mismatch row in r03).
    */
  private def iterSql(k: Int): String =
    s"""c$k AS (
       |  SELECT e.dst AS node,
       |    CAST(SUM(r.rank // d.deg) AS BIGINT) AS inflow
       |  FROM e JOIN r${k - 1} r ON r.node = e.src
       |  JOIN deg d ON d.node = e.src
       |  GROUP BY e.dst),
       |dg$k AS (
       |  SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT) AS dsum
       |  FROM r${k - 1} r ANTI JOIN deg d ON d.node = r.node),
       |r$k AS (
       |  SELECT n.node,
       |    CAST((SELECT base FROM params) +
       |      (850 * (COALESCE(c.inflow, 0) +
       |              dg.dsum // (SELECT n FROM params))) // 1000
       |      AS BIGINT) AS rank
       |  FROM nodes n LEFT JOIN c$k c ON c.node = n.node
       |  CROSS JOIN dg$k dg)""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "graph_labelprop" ->
      s"""WITH $supplySql,
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
         |${(1 to LpIters).map(lpIterSql).mkString(",\n")}
         |SELECT label, COUNT(*) AS size,
         |  MIN(node) AS min_node, MAX(node) AS max_node
         |FROM l$LpIters GROUP BY label ORDER BY label""".stripMargin,
    "graph_bfs" ->
      s"""WITH RECURSIVE $supplySql,
        |walk(node, dist) AS (
        |  SELECT CAST(2 AS BIGINT) AS node, 0 AS dist
        |  UNION
        |  SELECT e.dst, w.dist + 1
        |  FROM walk w JOIN e ON e.src = w.node
        |  WHERE w.dist < 10),
        |best AS (SELECT node, MIN(dist) AS dist FROM walk GROUP BY node)
        |SELECT CAST(dist AS INT) AS dist, COUNT(*) AS cnt,
        |  MIN(node) AS min_node, MAX(node) AS max_node
        |FROM best GROUP BY dist ORDER BY dist""".stripMargin,
    "graph_triangles" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM li a JOIN li b ON a.k = b.k AND a.p < b.p)
        |SELECT COUNT(*) AS n_triangles
        |FROM e e1
        |JOIN e e2 ON e1.v = e2.u
        |JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin,
    "graph_pagerank" ->
      (s"""WITH $supplySql,
          |nodes AS (
          |  SELECT DISTINCT node FROM (
          |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
          |params AS (
          |  SELECT COUNT(*) AS n,
          |    CAST(((CAST(1000000000 AS BIGINT) * 15) // 100) // COUNT(*)
          |         AS BIGINT) AS base
          |  FROM nodes),
          |deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY src),
          |r0 AS (
          |  SELECT node,
          |    CAST(1000000000 // (SELECT n FROM params) AS BIGINT) AS rank
          |  FROM nodes),
          |""" +
        (1 to Iters).map(iterSql).mkString(",\n") +
        s"""
          |SELECT node, CAST(rank AS BIGINT) AS rank_ppb FROM r$Iters
          |ORDER BY rank_ppb DESC, node LIMIT 100""").stripMargin)
}
