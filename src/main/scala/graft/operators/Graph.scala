package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.QueryDef.sqlChecked

/** Iterative graph dataflow beyond connected components (dd_components):
  * PageRank over the bipartite customer↔part purchase graph derived from
  * orders×lineitem (both directions, so the walk is over the undirected
  * structure and every node has in- and out-edges — no dangling mass).
  *
  * All rank arithmetic is FIXED-POINT integer micro-units (r0 = 1e12 DIV n;
  * share = r DIV deg; next = base + 85·Σshare DIV 100) so five iterations
  * are bit-identical in any engine and under any partitioning — float
  * PageRank is neither (sum order changes the ulps). The DuckDB oracle
  * unrolls the whole trajectory as a generated 5-stage CTE chain (the
  * ta_bpe_train discipline): every intermediate rank vector is pinned, not
  * just the final ordering.
  *
  * Scale shape: the edge list is built once and cached (every iteration
  * reuses it); one iteration = one join of the node-state vector against
  * edges on the source key + one destination-keyed aggregate — two
  * shuffles over fixed-width (node-key, long) rows, never the raw tables.
  * At 100 TB: pre-partition edges by source and the join side of each
  * iteration reuses that partitioning; the rank vector is O(nodes), always
  * ≪ edges. Per-iteration localCheckpoint truncates the 2-joins-per-round
  * lineage (the dd_components lesson — un-truncated growth is exponential
  * in rounds). n (node count) and the derived base term are 1-row driver
  * scalars, the k-means model-collect discipline.
  */
object Graph {

  /** Fixed-point scale: total rank mass in micro-units. */
  val PrScale = 1000000000000L

  /** Damping numerator (d = 0.85 as the integer pair 85/100). */
  val PrDampNum = 85L

  val PrIters = 5

  /** Result size for the presentation top-k. */
  val PrTopK = 30

  /** HITS iterations (each = one auth update + one hub update). */
  val HitsIters = 3

  /** Per-side result size for pr_hits' presentation top-k. */
  val HitsTopK = 20

  /** How many times the incidence write job actually ran (observable form
    * of the write-once contract — GraphStagedSpec asserts it stays at one
    * per dir across both graph queries, sequential AND racing).
    */
  val incidenceBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Write-once-per-(dir, JVM) PURCHASE-INCIDENCE INTERMEDIATE shared by
    * the graph family (r10 verdict #2): distinct (custkey, orderkey,
    * partkey) triples from orders⋈lineitem, materialized to parquet by the
    * first graph query to run. Both pr_pagerank (customer↔part bipartite
    * edges = project custkey/partkey) and pr_triangles (part co-purchase
    * edges = self-join on orderkey) previously rebuilt this from the raw
    * fact tables independently — together ~10% of the bench suite spent
    * scanning + joining + deduping the same lineitem twice. At 100 TB this
    * is the long-lived-pipeline topology (the curationIntermediate
    * discipline): the fact scan, the orders join, and the
    * (orderkey, partkey) dedup run ONCE; every derived graph reads a
    * compact typed incidence table, column-pruned. The dir is removed on
    * JVM exit; oracles still derive everything from the raw tables, so the
    * intermediate itself is verified by the full-replay gate.
    *
    * Concurrency (r11 verdict #5): racing first callers execute the write
    * job AT MOST ONCE per dir — the loser waits and reads the winner's
    * path ([[graft.Scratch.memoDir]]).
    */
  def purchaseIncidence(s: SparkSession, dir: String): String =
    graft.Scratch.memoDir("graft-graph-ti", dir) { p =>
      incidenceBuilds.incrementAndGet()
      import s.implicits._
      val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey")
      val ord = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
      li.join(ord, $"l_orderkey" === $"o_orderkey")
        .select($"o_custkey".as("custkey"), $"l_orderkey".as("orderkey"),
          $"l_partkey".as("partkey"))
        .distinct() // custkey is determined by orderkey ⇒ = (orderkey, partkey) dedup
        .write.mode("overwrite").parquet(p)
    }

  /** Bipartite customer↔part edge list off the shared incidence. The
    * (custkey, partkey) projection still needs its own dedup: a customer
    * buys the same part across several orders. Exposed (with
    * [[copurchaseEdges]]) so GraphStagedSpec can pin the edge-build plans —
    * the query results themselves are lineage-truncated (localCheckpoint /
    * driver-profile rows), so the scans are only visible here.
    */
  def pagerankEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.parquet(purchaseIncidence(s, dir))
      .select(concat(lit("c:"), $"custkey").as("a"),
        concat(lit("p:"), $"partkey").as("b"))
      .distinct()
  }

  /** Part co-purchase edges off the shared incidence: the self-join input
    * is already (orderkey, partkey)-distinct, so the pre-distinct pair
    * volume can only shrink vs the raw-lineitem self-join; the distinct
    * (u, v) edge set is identical (the oracle replays the raw form).
    */
  def copurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val inc = s.read.parquet(purchaseIncidence(s, dir))
      .select($"orderkey", $"partkey")
    inc.as("a").join(inc.as("b"),
        $"a.orderkey" === $"b.orderkey" && $"a.partkey" < $"b.partkey")
      .select($"a.partkey".as("u"), $"b.partkey".as("v"))
      .distinct()
  }

  def defs: Seq[QueryDef] = Seq(
    sqlChecked("pr_pagerank", pagerankOracleSql) { (s, dir) =>
      import s.implicits._
      pagerank(pagerankEdges(s, dir))
        .orderBy($"rank_micro".desc, $"node")
        .limit(PrTopK)
    },

    // EXACT TRIANGLE COUNTING on the part co-purchase graph (parts bought
    // together in one order), via degree-ordered edge ORIENTATION — the
    // published distributed formulation (Cohen 2009 "Graph twiddling in a
    // MapReduce world"; Suri–Vassilvitskii WWW'11): orient every
    // undirected edge from its (degree, id)-smaller endpoint to the
    // larger, so each triangle becomes exactly ONE wedge a→b, a→c with
    // edge b→c, and — the scale argument — every node's OUT-degree is
    // O(√m), bounding the wedge join at O(m^1.5) regardless of hub sizes.
    // A naive adjacency self-join on an unoriented hub would square the
    // hub's degree; orientation converts worst-case skew into a uniform
    // bound. All-integer (counts and ids), so the count is exact and
    // engine-identical; the oracle replays the orientation and both joins.
    // Output: graph profile + triangle count + the measured max out-degree
    // beside its ⌈√(2m)⌉ bound, gated TRUE.
    sqlChecked(
      "pr_triangles",
      """WITH co AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (
        |  SELECT node, COUNT(*) AS d FROM (
        |    SELECT u AS node FROM co UNION ALL SELECT v FROM co) GROUP BY node),
        |ori AS (
        |  SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS x,
        |         CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS y
        |  FROM co JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
        |tri AS (
        |  SELECT COUNT(*) AS n FROM ori e1
        |    JOIN ori e2 ON e2.x = e1.y
        |    JOIN ori e3 ON e3.x = e1.x AND e3.y = e2.y),
        |outd AS (SELECT MAX(c) AS mx FROM (SELECT x, COUNT(*) AS c FROM ori GROUP BY x))
        |SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
        |  CAST((SELECT COUNT(*) FROM co) AS BIGINT) AS n_edges,
        |  CAST((SELECT n FROM tri) AS BIGINT) AS n_triangles,
        |  CAST((SELECT mx FROM outd) AS BIGINT) AS max_outdeg,
        |  (SELECT mx FROM outd) <= CAST(ceil(sqrt(2.0 * (SELECT COUNT(*) FROM co))) AS BIGINT) + 1
        |    AS outdeg_bounded""".stripMargin) { (s, dir) =>
      triangleProfile(s, copurchaseEdges(s, dir))
    },

    // HITS — hubs & authorities (Kleinberg 1999, the other classic
    // link-analysis fixed point) on the DIRECTED customer→part purchase
    // graph: a good hub is a customer whose purchases concentrate on
    // authoritative parts, a good authority a part bought by good hubs.
    // Same engineering discipline as pr_pagerank: exact integer
    // micro-units (L1 normalization per half-step — score·SCALE DIV total,
    // the total being a 1-row model-collect scalar — so three iterations
    // are bit-identical in any engine and under any partitioning, where
    // float L2-normalized HITS is neither), edges read once from the
    // shared incidence intermediate and cached pre-partitioned, one join +
    // one aggregate per half-step over fixed-width rows, localCheckpoint
    // truncating each round's lineage. The oracle unrolls the entire
    // 3-iteration trajectory as a CTE chain off the raw tables — every
    // intermediate score vector is pinned, not just the final top-k.
    sqlChecked("pr_hits", hitsOracleSql) { (s, dir) =>
      hits(s, s.read.parquet(purchaseIncidence(s, dir))
        .select(concat(lit("c:"), col("custkey")).as("c"),
          concat(lit("p:"), col("partkey")).as("p"))
        .distinct())
    })

  /** Above this edge count the oriented edge list stops being broadcast
    * and the wedge/closing joins fall back to shuffles (r17): 2M (x, y)
    * long pairs build a ~150 MB hash relation — the upper edge of a sane
    * broadcast (the ExactBroadcastRowCap discipline). Under the cap the
    * whole count is ONE exchange-free stage: the Σ outdeg² wedge stream is
    * generated AND closed against in-memory hash maps, never shuffled —
    * the published hash-probe formulation of oriented triangle counting.
    */
  final val TriangleBroadcastEdgeCap = 2000000L

  /** Node-count cap for broadcasting an ITERATION STATE VECTOR (rank /
    * hub / authority scores: a node string + a long, ~80 MB at the cap)
    * into the per-iteration edge join — the state-vector sibling of
    * [[TriangleBroadcastEdgeCap]] (r18, VERDICT r17 #6). Under the cap
    * each fixed-point iteration joins the CACHED edge list against a
    * broadcast state vector: no exchange and no per-iteration sort on the
    * edge side, no exchange of the state side — the only per-iteration
    * shuffle left is the map-side-combined contribution aggregation.
    * Above it the pre-partitioned shuffle join stands (the at-scale
    * plan, where the state vector no longer fits an executor).
    */
  final val StateBroadcastNodeCap = 2000000L

  /** Triangle profile of an undirected edge list (u < v, distinct) —
    * exposed for TriangleSpec's hand-computable graphs.
    */
  def triangleProfile(s: SparkSession, edges: DataFrame): DataFrame = {
    import s.implicits._
    val co = edges.cache() // feeds degrees, orientation, and profile counts
    // profile counts run FIRST (r17): they materialize both caches before
    // the expensive joins are planned, and nEdges is the broadcast valve's
    // input — the old order planned the wedge join against an unmaterialized
    // cache with no usable statistics
    val nEdges = co.count()
    val deg = co.select($"u".as("node")).union(co.select($"v"))
      .groupBy($"node").agg(count(lit(1)).as("d"))
    val ori = orientedEdges(s, co, deg)
      .cache() // wedge stream + both hash sides
    val nNodes = deg.count()
    val maxOut = ori.groupBy($"x").agg(count(lit(1)).as("c"))
      .agg(max($"c")).collect().head.getLong(0)
    // the middle vertex is not needed for counting — dropping it cuts the
    // wedge width by a third (the wedge volume Σ outdeg² is the
    // irreducible cost of the exact count). Under the broadcast cap both
    // the wedge join's build side and the closing-edge probe are the SAME
    // broadcast hash relation, so the wedge stream flows build→probe→count
    // inside one stage with zero Exchange operators (measured at sf0.1:
    // the wedge+closing job fell 11.5 s → one ~2 s stage); the stream side
    // is widened to every core because the cached 8-partition layout would
    // otherwise cap the probe stage's parallelism at 8 tasks on a 32-core
    // box. Above the cap: the previous shuffle plan, unchanged.
    val nTri = triangleClosures(s, ori, nEdges).count()
    val bound = math.ceil(math.sqrt(2.0 * nEdges)).toLong + 1
    Seq((nNodes, nEdges, nTri, maxOut, maxOut <= bound))
      .toDF("n_nodes", "n_edges", "n_triangles", "max_outdeg", "outdeg_bounded")
  }

  /** Degree-ordered orientation of the undirected edge list (see the
    * pr_triangles comment) — factored out so the plan-evidence harness can
    * rebuild the exact counting frame.
    */
  private[graft] def orientedEdges(s: SparkSession, co: DataFrame,
      deg: DataFrame): DataFrame = {
    import s.implicits._
    co.join(deg.as("du"), $"u" === $"du.node")
      .join(deg.as("dv"), $"v" === $"dv.node")
      .select(
        when(struct($"du.d", $"u") < struct($"dv.d", $"v"), $"u").otherwise($"v").as("x"),
        when(struct($"du.d", $"u") < struct($"dv.d", $"v"), $"v").otherwise($"u").as("y"))
  }

  /** One row per closed wedge (triangle) over the oriented edge list —
    * the frame whose count is n_triangles, exposed so the plan shape is
    * dumpable (plans/r17). See [[TriangleBroadcastEdgeCap]] for the valve.
    */
  private[graft] def triangleClosures(s: SparkSession, ori: DataFrame,
      nEdges: Long): DataFrame = {
    import s.implicits._
    val oriB =
      if (nEdges <= TriangleBroadcastEdgeCap) broadcast(ori) else ori
    val stream =
      if (nEdges <= TriangleBroadcastEdgeCap)
        ori.repartition(s.sparkContext.defaultParallelism)
      else ori
    stream.as("e1").join(oriB.as("e2"), $"e1.y" === $"e2.x")
      .select($"e1.x".as("a"), $"e2.y".as("c"))
      .join(oriB.as("e3"), $"a" === $"e3.x" && $"c" === $"e3.y")
  }

  /** Five fixed-point PageRank iterations over the undirected closure of
    * `pairs` (a, b): returns (node, rank_micro). Exposed for PageRankSpec.
    */
  def pagerank(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    // undirected: both directions, materialized once (see the two cache
    // layouts below)
    val edges0 = pairs.select(col("a"), col("b"))
      .union(pairs.select(col("b").as("a"), col("a").as("b")))
    val deg = edges0.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg")).cache()
    val n = deg.count() // 1-row driver scalar (model-collect discipline)
    val r0 = PrScale / n
    val base = 15L * r0 / 100L // (1 - d) · r0, in integer micro-units
    // the same count feeds the state-vector broadcast valve (r18, VERDICT
    // r17 #6). UNDER [[StateBroadcastNodeCap]] nodes: the source DEGREE is
    // attached to the cached edge list ONCE (an edge's share divisor is a
    // static property of its source), so one iteration = ONE broadcast
    // join of the cached edge list against the rank vector with the share
    // computed in the join projection + the map-side-combined destination
    // aggregate — no per-iteration shuffle or sort of anything. The r17
    // form paid a rank⋈deg join AND a sort-merge edge join per round (the
    // checkpointed rank vector is a no-stats LogicalRDD, so the planner
    // re-sorted the cached edge list every round). ABOVE the cap the rank
    // vector no longer fits an executor and the r17 plan stands: edges
    // pre-partitioned on the source key, each round co-shuffles only the
    // O(nodes) state side. Integer micro-unit arithmetic is partitioning-
    // independent, so the trajectory is bit-identical in both regimes.
    val bcState = n <= StateBroadcastNodeCap
    val edges =
      if (bcState)
        edges0.join(broadcast(deg), edges0("a") === deg("node"))
          .select(col("a"), col("b"), col("deg")).cache()
      else edges0.repartition(col("a")).cache()
    var ranks = deg.select(col("node"), lit(r0).as("r"))
    for (_ <- 1 to PrIters) {
      val incoming =
        if (bcState)
          edges.join(broadcast(ranks), edges("a") === ranks("node"))
            .groupBy(edges("b").as("node"))
            .agg(sum(expr("r DIV deg")).as("acc"))
        else {
          val shares = ranks.join(deg, "node")
            .select(col("node"), expr("r DIV deg").as("share"))
          edges.join(shares, edges("a") === shares("node"))
            .groupBy(edges("b").as("node"))
            .agg(sum(col("share")).as("acc"))
        }
      ranks = incoming
        .select(col("node"),
          (lit(base) + expr(s"$PrDampNum * acc DIV 100")).as("r"))
        .localCheckpoint() // truncate the per-round lineage
    }
    // safe to drop now: every iteration ran eagerly (localCheckpoint), and
    // the returned frame reads only the final checkpointed vector
    edges.unpersist()
    deg.unpersist()
    ranks.select(col("node"), col("r").as("rank_micro"))
  }

  /** [[HitsIters]] integer HITS iterations over directed (c, p) edges:
    * returns the top [[HitsTopK]] per side as (kind, node, score_micro).
    * Exposed for HitsSpec's hand-computable graphs.
    */
  def hits(s: SparkSession, edges0: DataFrame): DataFrame = {
    import s.implicits._
    // the two half-steps join on DIFFERENT keys — cache one pre-partitioned
    // copy per key (the pagerank discipline, doubled): after the two
    // initial shuffles the edge list never moves again; each half-step
    // co-shuffles only the O(nodes) state side, and the groupBy output of
    // one half-step arrives already hash-partitioned for the next
    val e0 = edges0.select($"c", $"p")
    // ONE plain cache feeds the valve counts; the per-key pre-partitioned
    // copies are built only ABOVE the broadcast valve (r18): under it the
    // half-step joins broadcast the score vector, so a keyed layout buys
    // nothing and the second repartition+materialization was pure setup
    // cost. Above [[StateBroadcastNodeCap]] the r17 layout stands — one
    // pre-partitioned copy per join key, each half-step co-shuffles only
    // the O(nodes) state side. The nAuths count is one extra 1-row action,
    // amortized over 2 × HitsIters half-step joins it pins the strategy
    // for. Integer micro-unit arithmetic is partitioning-independent, so
    // the trajectory is bit-identical in both regimes.
    val eCached = e0.cache()
    val nHubs = eCached.select($"c").distinct().count() // 1-row driver scalar
    val bcState = nHubs <= StateBroadcastNodeCap
    val edgesByC = if (bcState) eCached else e0.repartition($"c").cache()
    val edgesByP = if (bcState) eCached else e0.repartition($"p").cache()
    // auth-vector valve input: filled from the FIRST half-step's
    // checkpointed aggregate (its row count IS the distinct-p count —
    // one cheap scan of materialized rows, not a fresh distinct+count job)
    var nAuths = -1L
    val h0 = PrScale / nHubs
    var hub = edgesByC.select($"c").distinct().select($"c", lit(h0).as("h"))
    var auth: DataFrame = null
    for (_ <- 1 to HitsIters) {
      // checkpoint the RAW aggregate BEFORE the total collect: the global
      // sum and the normalization both read the materialized vector, so
      // the edge join runs exactly once per half-step (and the lineage is
      // truncated per round, the pagerank lesson)
      val hubB = if (bcState) broadcast(hub) else hub
      val authRaw = edgesByC.join(hubB, "c")
        .groupBy($"p").agg(sum($"h").as("raw")).localCheckpoint()
      if (nAuths < 0) nAuths = authRaw.count()
      val totalA = authRaw.agg(sum($"raw")).collect().head.getLong(0)
      // exact 128-bit intermediate: raw·SCALE ≲ 1e29 stays inside
      // DECIMAL(38,0); DIV floors back to micro-units (BIGINT)
      auth = authRaw.select($"p",
        expr(s"CAST(raw AS DECIMAL(38,0)) * $PrScale DIV CAST($totalA AS DECIMAL(38,0))")
          .as("a"))
      val authB =
        if (bcState && nAuths <= StateBroadcastNodeCap) broadcast(auth) else auth
      val hubRaw = edgesByP.join(authB, "p")
        .groupBy($"c").agg(sum($"a").as("raw")).localCheckpoint()
      val totalH = hubRaw.agg(sum($"raw")).collect().head.getLong(0)
      hub = hubRaw.select($"c",
        expr(s"CAST(raw AS DECIMAL(38,0)) * $PrScale DIV CAST($totalH AS DECIMAL(38,0))")
          .as("h"))
    }
    eCached.unpersist()
    if (!bcState) { edgesByC.unpersist(); edgesByP.unpersist() }
    val topA = auth.orderBy($"a".desc, $"p")
      .limit(HitsTopK).select(lit("auth").as("kind"), $"p".as("node"), $"a".as("score_micro"))
    val topH = hub.orderBy($"h".desc, $"c")
      .limit(HitsTopK).select(lit("hub").as("kind"), $"c".as("node"), $"h".as("score_micro"))
    QueryDef.smallSort(topA.union(topH),
      $"kind", $"score_micro".desc, $"node")
  }

  /** The identical 3-iteration HITS trajectory unrolled as a CTE chain. */
  private def hitsOracleSql: String = {
    val iters = (1 to HitsIters).map { k =>
      s"""a${k}r AS (
         |  SELECT p, sum(h.h) AS raw FROM inc JOIN h${k - 1} h USING (c) GROUP BY p),
         |a$k AS (
         |  SELECT p, CAST(raw * $PrScale // (SELECT sum(raw) FROM a${k}r) AS BIGINT) AS a
         |  FROM a${k}r),
         |h${k}r AS (
         |  SELECT c, sum(a.a) AS raw FROM inc JOIN a$k a USING (p) GROUP BY c),
         |h$k AS (
         |  SELECT c, CAST(raw * $PrScale // (SELECT sum(raw) FROM h${k}r) AS BIGINT) AS h
         |  FROM h${k}r)"""
    }.mkString(",\n")
    s"""WITH inc AS (
       |  SELECT DISTINCT 'c:' || o_custkey AS c, 'p:' || l_partkey AS p
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |params AS (SELECT $PrScale // count(DISTINCT c) AS h0 FROM inc),
       |h0 AS (SELECT DISTINCT c, (SELECT h0 FROM params) AS h FROM inc),
       |$iters
       |SELECT kind, node, score_micro FROM (
       |  (SELECT 'auth' AS kind, p AS node, a AS score_micro FROM a$HitsIters
       |   ORDER BY a DESC, p LIMIT $HitsTopK)
       |  UNION ALL
       |  (SELECT 'hub', c, h FROM h$HitsIters ORDER BY h DESC, c LIMIT $HitsTopK))
       |ORDER BY kind, score_micro DESC, node""".stripMargin
  }

  /** The identical fixed-point trajectory unrolled as a DuckDB CTE chain. */
  private def pagerankOracleSql: String = {
    val iters = (1 to PrIters).map { k =>
      s"""r$k AS (
         |  SELECT d.node, d.deg,
         |    (15 * (SELECT r0 FROM params) // 100) + $PrDampNum * s.acc // 100 AS r
         |  FROM deg d JOIN (
         |    SELECT e.b AS node, CAST(sum(r.r // r.deg) AS BIGINT) AS acc
         |    FROM edges e JOIN r${k - 1} r ON e.a = r.node GROUP BY e.b) s
         |  ON d.node = s.node)"""
    }.mkString(",\n")
    s"""WITH cp AS (
       |  SELECT DISTINCT 'c:' || o_custkey AS a, 'p:' || l_partkey AS b
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (SELECT a, b FROM cp UNION ALL SELECT b, a FROM cp),
       |deg AS (SELECT a AS node, count(*) AS deg FROM edges GROUP BY a),
       |params AS (SELECT $PrScale // count(*) AS r0 FROM deg),
       |r0 AS (SELECT node, deg, (SELECT r0 FROM params) AS r FROM deg),
       |$iters
       |SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r$PrIters
       |ORDER BY rank_micro DESC, node LIMIT $PrTopK""".stripMargin
  }
}
