package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Iterative graph analytics — bounded-iteration numeric fixpoints
  * expressed as per-round join + aggregate passes over a stationary
  * edge list.
  *
  * The reference has no graph operators (its plan surface is
  * `fpdb-plan/include/fpdb/plan/prephysical/PrePOpType.h` — scans,
  * joins, aggregates); this is new surface in the same spirit as the
  * dedup/similarity tier: the compute class a large-scale corpus
  * pipeline needs that the relational core doesn't cover. PageRank-style
  * link centrality is a standard corpus-quality signal for web-scale
  * training data (harmonic/PageRank centrality over the host graph is
  * how Common-Crawl-derived corpora rank sources), and personalized
  * PageRank from a trusted seed set is the classic "expand a curated
  * domain" selection device. Both run here over the synthetic
  * customer↔supplier purchase graph (the deterministic graph the
  * testdata affords); swapping in a host-link table changes only
  * [[purchaseEdges]].
  *
  * Scale design (100 TB of edges):
  *  - the edge list is symmetrized, pre-partitioned by `src`, and
  *    checkpointed ONCE; every iteration joins the (node-sized) rank
  *    vector INTO the stationary edge partitioning, so the edge-sized
  *    side never reshuffles after round 0 — per iteration the shuffle
  *    carries one (id, contribution) pair per edge into a map-side-
  *    combined sum, plus the node-sized rank vector;
  *  - rank vectors are localCheckpointed each round (lineage would
  *    otherwise grow by two joins per iteration and recompute the whole
  *    chain on every action) and the previous round's blocks are freed
  *    eagerly — the loop holds at most two node-sized vectors plus the
  *    edge set, same discipline as [[Dedup.connectedComponents]];
  *  - no driver-side state: N and |seeds| enter the plan as 1-row
  *    aggregates broadcast into a cross join (the t07/q37 shape), never
  *    a `.count()` round trip.
  *
  * Determinism: the fixpoint runs a FIXED iteration count (3), so both
  * engines compute the same closed-form polynomial of the edge matrix —
  * the DuckDB oracle unrolls the same three rounds as chained CTEs.
  * Per-group float-sum association order differs between engines
  * (~1 ulp per term); the driver's float tolerance absorbs it, as with
  * t07/t12.
  */
object Graph {

  val Damping = 0.85
  val Iters = 3

  /** Node encoding over the two disjoint key spaces: customer c → 2c,
    * supplier s → 2s+1 (parity = node type; collision-free without a
    * lookup table). */
  private val SuppParity = 1

  /** Final rank vectors are ingest-time-style artifacts: checkpointed,
    * built once per version of their source tables
    * ([[graft.util.Artifacts]]), released at the suite runner's release
    * points — the d08/IVF discipline. Everything intermediate (edge set,
    * degrees, per-round vectors) is freed eagerly inside [[pagerank]]
    * itself. Their sources are the tables [[purchaseEdges]] reads (g02
    * adds `customer`). */
  private def edgeSources(dir: String): Seq[(String, String)] =
    Seq(dir -> "orders", dir -> "lineitem")

  /** Directed customer→supplier purchase edges: one edge per DISTINCT
    * (custkey, suppkey) pair appearing in orders⋈lineitem. The distinct
    * collapses the ~10× lineitem multiplicity BEFORE anything iterates —
    * a 16-byte-pair shuffle, same discipline as d01's hash-groupBy. */
  def purchaseEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(s, dir).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst"))
      .distinct()
  }

  /** PageRank with an explicit teleport vector.
    *
    * @param edges directed (src, dst) pairs; symmetrized here (the
    *              purchase graph is bipartite-undirected), which also
    *              guarantees no dangling nodes — every node's full rank
    *              mass re-enters the graph, so the per-iteration update
    *              `pr' = (1−d)·tele + d·Σ_in pr/outdeg` conserves mass
    *              exactly and no dangling-redistribution term is needed.
    * @param tele  (id, t) teleport distribution summing to 1 — uniform
    *              1/N for classic PageRank, 1/|S| over a seed set for
    *              personalized PageRank. Node-sized; checkpointed once.
    */
  def pagerank(edges: DataFrame, tele: DataFrame,
      iters: Int = Iters, damping: Double = Damping): DataFrame = {
    val release = graft.util.SessionCache.releaseFrame _
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .localCheckpoint()
    // out-degree is over the SYMMETRIZED list (node-sized result)
    val deg = sym.groupBy(col("src").as("id"))
      .agg(count(lit(1)).cast("double").as("outdeg"))
      .localCheckpoint()
    val teleC = tele.select(col("id"), col("t")).localCheckpoint()
    var pr = teleC.select(col("id"), col("t").as("pr")).localCheckpoint()
    for (_ <- 1 to iters) {
      // per-node contribution (node-sized), joined into the stationary
      // edge partitioning; groupBy(dst) map-side-combines per partition
      val contrib = pr.join(deg, "id")
        .select(col("id").as("cid"), (col("pr") / col("outdeg")).as("c"))
      val inflow = sym.join(contrib, sym("src") === col("cid"))
        .groupBy(sym("dst").as("id"))
        .agg(sum(col("c")).as("inflow"))
      val next = teleC.join(inflow, Seq("id"), "left")
        .select(col("id"),
          (lit(1.0 - damping) * col("t")
            + lit(damping) * coalesce(col("inflow"), lit(0.0))).as("pr"))
        .localCheckpoint()
      release(pr)
      pr = next
    }
    // the final vector is checkpointed (self-contained) — the working
    // set can be freed before it is handed to the caller
    release(sym); release(deg); release(teleC)
    pr
  }

  /** Uniform teleport vector 1/N over every node of the symmetric graph
    * (N enters as a broadcast 1-row aggregate, not a driver count). */
  private def uniformTele(edges: DataFrame): DataFrame = {
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    val n = nodes.agg(count(lit(1)).cast("double").as("n_nodes"))
    nodes.crossJoin(broadcast(n)).select(col("id"), (lit(1.0) / col("n_nodes")).as("t"))
  }

  /** Seed nation for g02 — arbitrary but fixed; ~1/25 of customers. */
  val SeedNation = 7

  /** g01 — classic PageRank, 3 iterations, over all nodes. */
  private def g01Pagerank(s: SparkSession, dir: String): DataFrame =
    graft.util.Artifacts.getOrBuild(s, "rank_g01", edgeSources(dir))({
      // checkpoint the edge list ONCE: the teleport vector's node set
      // derives from the same edges, and without the checkpoint its
      // distinct re-ran the full orders⋈lineitem join a second time
      val edges = purchaseEdges(s, dir).localCheckpoint()
      try pagerank(edges, uniformTele(edges))
      finally graft.util.SessionCache.releaseFrame(edges)
    }).orderBy(col("id"))

  /** Shared SQL prelude: edge construction + degree + the three unrolled
    * update rounds are identical between g01/g02 up to the teleport CTE. */
  private def roundsSql(prev: Int, cur: Int): String =
    // $Damping interpolated, never hardcoded: the engine and the oracle
    // must change together when the constant does (the file's own
    // pairing discipline for SeedNation etc.)
    s"""i$cur AS (
       |  SELECT e.dst AS id, sum(r.pr / dg.outdeg) AS inflow
       |  FROM edges e JOIN p$prev r ON e.src = r.id JOIN deg dg ON e.src = dg.id
       |  GROUP BY e.dst),
       |p$cur AS (
       |  SELECT t.id, ${1.0 - Damping} * t.t + $Damping * coalesce(i.inflow, 0) AS pr
       |  FROM tele t LEFT JOIN i$cur i ON t.id = i.id),""".stripMargin

  /** The Iters update rounds, unrolled — `p0` in, `p$Iters` out. */
  private def allRoundsSql: String =
    (1 to Iters).map(i => roundsSql(i - 1, i)).mkString("\n")

  private val graphSql =
    """WITH pairs AS (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (SELECT src, dst FROM pairs
      |          UNION ALL SELECT dst AS src, src AS dst FROM pairs),
      |deg AS (SELECT src AS id, count(*)::DOUBLE AS outdeg FROM edges GROUP BY src),""".stripMargin

  private val g01Sql =
    s"""$graphSql
       |nn AS (SELECT count(*)::DOUBLE AS n FROM deg),
       |tele AS (SELECT id, 1.0 / nn.n AS t FROM deg CROSS JOIN nn),
       |p0 AS (SELECT id, t AS pr FROM tele),
       |$allRoundsSql
       |fin AS (SELECT id, pr FROM p$Iters)
       |SELECT id, pr FROM fin ORDER BY id""".stripMargin

  /** g02 — personalized PageRank from a seed set (customers of one
    * nation): teleport mass 1/|S| on seeds, 0 elsewhere. Output: the
    * supplier side of the random walk — "which suppliers serve this
    * market segment", the seed-expansion selection device. */
  private def g02PprSeeds(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.util.Artifacts.getOrBuild(s, "rank_g02", edgeSources(dir) :+ (dir -> "customer"))({
      // same one-checkpoint discipline as g01: the node set must not
      // re-run the edge join
      val edges = purchaseEdges(s, dir).localCheckpoint()
      val nodes = edges.select($"src".as("id"))
        .union(edges.select($"dst".as("id"))).distinct()
      val seeds = Tables.customer(s, dir)
        .filter($"c_nationkey" === SeedNation)
        .select(($"c_custkey" * 2).as("sid"))
      val k = seeds.agg(count(lit(1)).cast("double").as("n_seeds"))
      val tele = nodes.join(seeds, nodes("id") === seeds("sid"), "left")
        .crossJoin(broadcast(k))
        .select($"id",
          when($"sid".isNotNull, lit(1.0) / $"n_seeds").otherwise(lit(0.0)).as("t"))
      try pagerank(edges, tele)
      finally graft.util.SessionCache.releaseFrame(edges)
    }).filter(pmod($"id", lit(2)) === SuppParity)
      .orderBy($"id")
  }

  private val g02Sql =
    s"""$graphSql
       |seeds AS (SELECT c_custkey * 2 AS sid FROM customer WHERE c_nationkey = $SeedNation),
       |ns AS (SELECT count(*)::DOUBLE AS k FROM seeds),
       |nodes AS (SELECT DISTINCT id FROM deg),
       |tele AS (
       |  SELECT n.id, CASE WHEN s.sid IS NOT NULL THEN 1.0 / ns.k ELSE 0 END AS t
       |  FROM nodes n LEFT JOIN seeds s ON n.id = s.sid CROSS JOIN ns),
       |p0 AS (SELECT id, t AS pr FROM tele),
       |$allRoundsSql
       |fin AS (SELECT id, pr FROM p$Iters)
       |SELECT id, pr FROM fin WHERE id % 2 = 1 ORDER BY id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g01_pagerank"  -> g01Pagerank _,
    "g02_ppr_seeds" -> g02PprSeeds _,
  )

  val oracleSql: Map[String, String] = Map(
    "g01_pagerank"  -> g01Sql,
    "g02_ppr_seeds" -> g02Sql,
  )
}
