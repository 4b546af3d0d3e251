package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Graph operators on an edge relation — the link-analysis half of web
  * corpus curation (harvest-quality signals like PageRank feed document
  * scoring the same way in-document heuristics do) and of entity/feature
  * graphs in a feature store (account→merchant, user→item).
  *
  * Everything is DataFrame-iterative in the
  * [[Dedup.connectedComponents]] discipline: a Scala loop of join +
  * aggregate rounds with `localCheckpoint` per round so plan lineage
  * stays flat; each round is ONE shuffle join on the edge source plus one
  * aggregate on the destination. A checkpoint keeps no hash layout
  * (PlanSpec pins it), so every round exchanges its join inputs again:
  * under AQE a PageRank round is 7 Spark jobs (8 when some node has no
  * out-edge) and a HITS round 14 (GraphSpec pins both).
  */
object Graph {

  private val D9 = DecimalType(18, 9)

  /** The distinct string edges (src, dst) that satisfy `keep`, and their
    * node set (node) — both checkpointed once, before a loop's rounds.
    */
  private def edgeSetup(edges: DataFrame, srcCol: String, dstCol: String,
      keep: Column): (DataFrame, DataFrame) = {
    val e = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .filter(keep).distinct().localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint()
    (e, nodes)
  }

  /** One propagation step: the per-edge value `w` over `state` ⋈ `edges`
    * (state.node = the edge's `from` end) summed per `to` end, left-joined
    * onto `base`'s nodes as `__m` — NULL where nothing arrives.
    */
  private def propagate(state: DataFrame, edges: DataFrame, from: String,
      to: String, w: Column, base: DataFrame): DataFrame =
    base.join(state.join(edges, col("node") === col(from))
        .groupBy(col(to).as("__to")).agg(sum(w).as("__m")),
      col("node") === col("__to"), "left")

  /** The random-walk graph of [[pageRank]] and [[personalizedPageRank]]
    * (self-loops are walk edges and stay): the node set, the
    * degree-carrying edges `ew` (src, dst, deg) and the dangling nodes
    * (no out-edge), each checkpointed once. Joining out-degrees inside
    * the round re-shuffled the full edge relation every iteration
    * (SURVEY §6.1 iterative graph family: 134 s → 18 s for 3 rounds at
    * 6M edges from hoisting them).
    */
  private case class Walk(nodes: DataFrame, ew: DataFrame,
      danglingNodes: DataFrame) {

    /** `iterations` rounds from the checkpointed state `init` (node, …):
      * each propagates the per-edge share `w` along `ew`, aggregates the
      * dangling nodes' mass `dm` into a 1-row `__dm` broadcast back (the
      * tiny-stat pattern), and selects `next` from `base` ⟕ `__m` ×
      * `__dm`, checkpointed. The caller's columns carry its arithmetic.
      */
    def rounds(init: DataFrame, base: DataFrame, iterations: Int,
        w: Column, dm: Column, next: Column*): DataFrame =
      (1 to iterations).foldLeft(init) { (ranks, _) =>
        val dangling = ranks.join(danglingNodes, Seq("node"), "left_semi")
          .agg(dm.as("__dm"))
        propagate(ranks, ew, "src", "dst", w, base)
          .crossJoin(broadcast(dangling)).select(next: _*).localCheckpoint()
      }
  }

  private def walk(edges: DataFrame, srcCol: String, dstCol: String)
      : Walk = {
    val (e, nodes) = edgeSetup(edges, srcCol, dstCol, lit(true))
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // the checkpoint keeps no hash layout, so each round's ranks ⋈ ew
    // join still exchanges the edge side; a repartition(src) before it
    // would only add a set-up shuffle (PlanSpec pins this)
    Walk(nodes, e.join(outDeg, Seq("src")).localCheckpoint(),
      nodes.join(outDeg, col("node") === col("src"), "left_anti")
        .select("node").localCheckpoint())
  }

  /** Fixed-iteration damped PageRank (Page et al. 1999) on a directed
    * edge list, WITH dangling-node handling: mass held by nodes without
    * out-edges redistributes uniformly each round (the standard
    * stochastic-completion term), so the ranks stay a probability
    * distribution — Σ rank = 1 up to the per-node 9-dp rounding
    * (|error| ≤ N·5e-10, pinned in GraphSpec) instead of leaking
    * 1−d·(leaked mass) per round.
    *
    * Determinism discipline: per-edge contributions `r(u)/outdeg(u)`
    * round to 9 dp and sum in exact DECIMAL per destination; the dangling
    * mass is an exact DECIMAL sum over the anti-joined rank relation
    * (1 row, broadcast back — the tiny-stat pattern); the new rank
    * `(1−d)/N + d·(Σ + dm/N)` spends one fixed IEEE sequence and rounds
    * back to 9 dp before the next round — every iteration's state is a
    * DECIMAL(18,9) relation identical on any engine, partitioning, or
    * summation order (the property that lets a DuckDB oracle replay the
    * iterations as unrolled CTEs).
    *
    * Per round: one edge join + one destination aggregate + one 1-row
    * dangling aggregate — 7 Spark jobs under AQE, 8 when some node has
    * no out-edge (GraphSpec pins it). The degree-weighted edge relation
    * and the dangling-node set build ONCE outside the loop.
    * Returns (node, rank) — rank as DOUBLE rounded 9 dp.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val g = walk(edges, srcCol, dstCol)
    val n = g.nodes.count()
    g.rounds(g.nodes.select(col("node"),
        round(lit(1.0 / n), 9).cast(D9).as("r")).localCheckpoint(),
      g.nodes, iterations,
      round(col("r").cast("double") / col("deg"), 9).cast(D9),
      coalesce(sum(col("r")), lit(0).cast(D9)),
      col("node"),
      round(lit((1.0 - damping) / n) + lit(damping) *
        (coalesce(col("__m").cast("double"), lit(0.0)) +
          col("__dm").cast("double") / lit(n.toDouble)),
        9).cast(D9).as("r"))
      .select(col("node"), col("r").cast("double").as("rank"))
  }

  /** Personalized PageRank (Page et al. 1999 §6; the random walk with
    * restart behind "related items" serving): identical to [[pageRank]]
    * except ALL teleport mass — the (1−d) restart and the dangling
    * redistribution — returns to the SEED set (uniform over seeds)
    * instead of the whole graph, so rank concentrates in the seeds'
    * neighborhood: r(v) = (1−d)·s(v) + d·(in(v) + dm·s(v)),
    * s = 1/|S| on seeds, 0 elsewhere.
    *
    * STRONGER replay discipline than [[pageRank]]: the state lives in
    * NANO-UNIT LONGS and every step is integer arithmetic with
    * explicit HALF-UP division (round(x/d) = (2x+d) div 2d) — zero
    * floating point in the whole recursion. This is forced, not
    * stylistic: a non-seed node's update is exactly 0.85·in_mass, and
    * 0.85·(k·10⁻⁹) lands its 10th decimal digit on a 5 whenever
    * 85k ≡ 50 (mod 100) — ~5% of values sit ON a round-half tie where
    * double-path engines disagree (measured at sf0.1; pageRank's
    * nonzero (1−d)/n teleport term masks the same hazard). The rounds
    * are [[pageRank]]'s (same set-up, same jobs per round) with this
    * arithmetic. `seeds` must expose a `node` column; seeds outside the
    * graph are ignored (must leave ≥1). Returns (node, rank) —
    * Σrank ≤ 1, with equality when no walk escapes the seed component.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, iterations: Int = 3,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val g = walk(edges, srcCol, dstCol)
    val seedNodes = g.nodes.join(
        seeds.select(col("node").cast("string").as("node")).distinct(),
        Seq("node"), "left_semi")
      .withColumn("__seed", lit(true)).localCheckpoint()
    val nS = seedNodes.count()
    require(nS > 0, "no seed node appears in the graph")
    require(damping == 0.85,
      "the integer recursion hard-codes d = 85/100; generalize the " +
        "15/85 numerators to change it")
    val flagged = g.nodes.join(seedNodes, Seq("node"), "left")
      .select(col("node"), coalesce(col("__seed"), lit(false)).as("__seed"))
      .localCheckpoint()
    // s = round-half-up(10⁹/|S|) nano units, computed once in integers
    val sNano = (2L * 1000000000L + nS) / (2L * nS)
    val sFlag = when(col("__seed"), lit(sNano)).otherwise(lit(0L))
    g.rounds(flagged.select(col("node"), col("__seed"), sFlag.as("rn"))
        .localCheckpoint(),
      flagged, iterations,
      expr("(2 * rn + deg) div (2 * deg)"),
      coalesce(sum(col("rn")), lit(0L)),
      col("node"), col("__seed"),
      expr(s"""(15 * (CASE WHEN __seed THEN ${sNano}L ELSE 0L END)
              | + 85 * (coalesce(__m, 0L) +
              |     (CASE WHEN __seed THEN
              |        (2 * __dm * ${sNano}L + 1000000000L)
              |          div 2000000000L
              |      ELSE 0L END))
              | + 50) div 100""".stripMargin).as("rn"))
      .select(col("node"), (col("rn").cast(DoubleType) / lit(1.0e9))
        .as("rank"))
  }

  /** In/out degree profile per node — the 1-hop structural feature set
    * (and the skew diagnostic for [[pageRank]]'s join planning). One
    * aggregate per direction, full-outer merged on the node.
    */
  def degreeStats(edges: DataFrame, srcCol: String, dstCol: String)
      : DataFrame = {
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst")).distinct()
    val outD = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val inD = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    outD.join(inD, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Canonical undirected edges (u, v), u < v, of the endpoint columns
    * `a` and `b`: self-loops dropped, duplicates and both spellings
    * collapsed.
    */
  private def undirected(edges: DataFrame, a: Column, b: Column)
      : DataFrame =
    edges.select(least(a, b).as("u"), greatest(a, b).as("v"))
      .filter(col("u") =!= col("v")).distinct()

  /** Node degrees (n, d) of canonical edges `und`. */
  private def degrees(und: DataFrame): DataFrame =
    und.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))

  /** The wedges (s, w1, w2), w1 < w2, of canonical edges `und` under the
    * degree-ordered orientation (Schank 2007): every edge points out of
    * its (degree, id)-smaller endpoint, which bounds every out-degree by
    * O(√m), so wedges = Σ outdeg² ≤ m^1.5 regardless of skew, and each
    * triangle is one wedge (the orientation is acyclic). A wedge closes
    * iff (w1, w2) is itself an edge of `und` — the caller's probe.
    */
  private def wedges(und: DataFrame, deg: DataFrame): DataFrame = {
    val oriented = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    oriented.select(col("s"), col("t").as("w1"))
      .join(oriented.select(col("s"), col("t").as("w2")), Seq("s"))
      .filter(col("w1") < col("w2"))
  }

  /** Exact triangle count by degree-ordered orientation (Schank 2007; the
    * MapReduce formulation of Suri & Vassilvitskii, WWW'11) — the graph
    * clustering-coefficient primitive.
    *
    * Why not the naive 3-way self-join: its wedge step is Σ deg(v)² and a
    * single celebrity vertex makes it quadratic; the oriented wedges of
    * [[wedges]] stay ≤ m^1.5 and count each triangle exactly once.
    *
    * Input: undirected edges as (aCol, bCol) in any order/duplication;
    * self-loops dropped, duplicates collapsed. Three equi-joins on bounded
    * relations. Returns one row: (n_nodes, n_edges, n_wedges, n_triangles).
    */
  def triangles(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val und = undirected(edges, col(aCol), col(bCol))
    val deg = degrees(und)
    // und is already in (min, max) form, so the closing probe is a
    // direct join
    val counts = wedges(und, deg)
      .join(und.select(col("u").as("w1"), col("v").as("w2"))
          .withColumn("__closed", lit(1L)),
        Seq("w1", "w2"), "left_outer")
      .agg(count(lit(1)).as("n_wedges"),
        coalesce(sum(col("__closed")), lit(0L)).as("n_triangles"))
    val sizes = und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
    sizes.crossJoin(broadcast(counts))
      .select("n_nodes", "n_edges", "n_wedges", "n_triangles")
  }

  /** Bounded-round k-truss peel (Cohen 2008) — the edge-cohesion
    * sibling of the node-level k-core: keep only edges supported by at
    * least k−2 triangles WITHIN the surviving subgraph, re-peeling for
    * `rounds` synchronous rounds (the k-core discipline: a bounded,
    * unrollable prefix of the fixpoint — each round is itself an exact
    * relational step, and a fixpoint run just raises `rounds`).
    *
    * Per round the triangle enumeration is the Schank degree-ordered
    * orientation of [[triangles]] — wedges = Σ outdeg² ≤ m^1.5
    * regardless of hubs — and each closed wedge credits its THREE edges
    * through one explode + edge group-by. All integers, no rounding
    * surface. Returns surviving canonical edges with their final-round
    * support: (u, v, support), support ≥ k−2.
    */
  def ktruss(edges: DataFrame, aCol: String, bCol: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3: $k")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    var und = undirected(edges, col(aCol).cast("string"),
      col(bCol).cast("string")).localCheckpoint()
    var support: DataFrame = null
    for (_ <- 1 to rounds) {
      val tri = wedges(und, degrees(und))
        .join(und.select(col("u").as("w1"), col("v").as("w2")),
          Seq("w1", "w2"), "left_semi")
      // each triangle (s, w1, w2) credits its three canonical edges
      val credits = tri.select(explode(array(
        struct(least(col("s"), col("w1")).as("u"),
          greatest(col("s"), col("w1")).as("v")),
        struct(least(col("s"), col("w2")).as("u"),
          greatest(col("s"), col("w2")).as("v")),
        struct(col("w1").as("u"), col("w2").as("v")))).as("e"))
        .groupBy(col("e.u").as("u"), col("e.v").as("v"))
        .agg(count(lit(1)).as("support"))
      support = credits
      und = und.join(credits, Seq("u", "v"), "left")
        .filter(coalesce(col("support"), lit(0L)) >= k - 2)
        .select("u", "v").localCheckpoint()
    }
    und.join(support, Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Deterministic hash-chosen random walks — the corpus-generation step
    * of DeepWalk/node2vec-style graph embeddings (Perozzi et al. 2014):
    * from every node, a fixed-length walk whose step-r choice is the
    * `md5(start|r) mod deg(cur)`-th neighbor of the current node in
    * sorted-neighbor order — uniform over neighbors, independent across
    * starts and steps, yet bit-exactly reproducible on any engine, any
    * partitioning, any run (the md5-derived index is the [[Prep
    * .hashBucket]] family).
    *
    * Shape at scale — the INDEXED-adjacency formulation: the positioned
    * adjacency (u, i, v) and per-node degrees build ONCE (one sort window
    * over the symmetrized edges, checkpointed); each step then joins the
    * |nodes|-row frontier against degrees to compute its index, and
    * against the adjacency on (node, index) to fetch the chosen neighbor
    * — O(1) work per walk per step. The earlier argmin-over-neighbors
    * formulation (min over md5(start|r|v)) costs Σ walks·deg(cur) per
    * step, which a celebrity hub turns quadratic: SURVEY §6.1 measured
    * 1052 s at 6M edges with a 600k-degree hub vs ~17 s for this shape —
    * and the (node, index) join key is intrinsically salted, a hub's
    * lookups spreading across its whole neighbor range instead of one hot
    * key. `length` bounds the rounds. Dead-ends (no out-edge) terminate
    * the walk early (path keeps its prefix). Returns
    * (start, path, end_node, steps).
    */
  def randomWalks(edges: DataFrame, aCol: String, bCol: String,
      length: Int, carryDeadEnds: Boolean = true): DataFrame = {
    require(length >= 1, s"length must be >= 1: $length")
    val sym0 = edges.select(col(aCol).cast("string").as("u"),
      col(bCol).cast("string").as("v")).distinct()
    val sym = sym0
      .union(sym0.select(col("v").as("u"), col("u").as("v")))
      .distinct()
    val adj = sym
      .withColumn("i", (row_number().over(
        Window.partitionBy(col("u")).orderBy(col("v"))) - 1).cast("long"))
      .localCheckpoint()
    val deg = adj.groupBy("u").agg(count(lit(1)).as("__deg"))
      .localCheckpoint()
    var walk = deg.select(col("u").as("start"))
      .select(col("start"), col("start").as("cur"),
        col("start").as("path"), lit(0L).as("steps"))
    for (r <- 1 to length) {
      val stepped = walk
        .join(deg, col("cur") === col("u")).drop("u")
        .withColumn("__i", pmod(
          graft.functions.Kernels.md5hash48(
            concat_ws("|", col("start"), lit(r))),
          col("__deg")))
        .drop("__deg")
        .join(adj, col("cur") === col("u") && col("__i") === col("i"))
        .select(col("start"), col("v").as("cur"),
          concat_ws(">", col("path"), col("v")).as("path"),
          (col("steps") + 1).as("steps"))
      // dead-ended walks carry forward unchanged; callers whose graph
      // provably has an out-edge everywhere (any symmetrized edge list)
      // skip the anti-join + union + per-round checkpoint entirely
      walk =
        if (carryDeadEnds)
          walk.join(stepped.select(col("start").as("__s")),
              col("start") === col("__s"), "left_anti")
            .unionByName(stepped)
            .localCheckpoint()
        else stepped
    }
    walk.select(col("start"), col("path"), col("cur").as("end_node"),
      col("steps"))
  }

  /** Bounded k-core peeling (Seidman 1983; the BSP formulation of
    * Montresor et al. 2013): `rounds` synchronous rounds of "drop every
    * node with degree < k", then report the surviving subgraph's nodes
    * with their residual degree and an `in_core` flag (degree still ≥ k —
    * all-true iff the peel converged within the budget). The k-core is
    * the standard dense-substructure filter: spam/bot rings and tightly
    * coupled item clusters survive peeling, long chains and stars do not.
    *
    * A fixed round budget (not iterate-to-convergence) keeps the operator
    * a deterministic bounded plan that an oracle replays as unrolled CTEs
    * — the [[pageRank]] discipline; callers needing the exact core run
    * more rounds (peeling converges in O(diameter) rounds, and each round
    * halves at most the candidate set's periphery).
    *
    * Shape at scale: each round is one degree aggregate + two semi-joins
    * against the ≤node-cardinality survivor set, all partitioned by node
    * key; `localCheckpoint` per round caps plan lineage (the iterative-
    * loop discipline the CC operators established).
    */
  def kcorePeel(edges: DataFrame, aCol: String, bCol: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1, rounds >= 1: $k, $rounds")
    val sym = undirected(edges, col(aCol), col(bCol))
    // the repartition only spreads the union's rows over the shuffle
    // partitions: the checkpoint keeps no hash layout for the rounds
    var und = sym
      .union(sym.select(col("v").as("u"), col("u").as("v")))
      .repartition(col("u"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val alive = und.groupBy("u").agg(count(lit(1)).as("__deg"))
        .filter(col("__deg") >= k).select(col("u").as("__n"))
        .localCheckpoint()
      und = und
        .join(alive.select(col("__n").as("__m")),
          col("v") === col("__m"), "left_semi")
        .join(alive, col("u") === col("__n"), "left_semi")
        .localCheckpoint()
    }
    und.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("degree"))
      .withColumn("in_core", col("degree") >= k)
  }

  /** Bounded-round HITS hubs & authorities (Kleinberg, JACM 1999) on a
    * directed edge list — the query-dependent companion to [[pageRank]]:
    * a node is a good AUTHORITY when good hubs point at it and a good HUB
    * when it points at good authorities, the mutual-reinforcement pair
    * behind both web-spam triage and bipartite interaction graphs (a
    * customer→supplier purchase edge makes hubs "broad buyers" and
    * authorities "widely-bought suppliers").
    *
    * Determinism discipline (the [[pageRank]] replay rules): iteration
    * state is DECIMAL(18,9); each half-step sums the opposite score over
    * the edge relation in exact DECIMAL, then L2-normalizes via the
    * nano-unit integer square ([[EventOps.rollingAnomaly]] pattern —
    * widen to DECIMAL(38,0) BEFORE the multiply, so Σx² is an exact
    * integer; widths hold to in-degree ≤ ~9e9 per node) and spends
    * exactly two IEEE ops (sqrt — correctly rounded on every engine —
    * and one division) before rounding back to 9 dp. Every round's state
    * is engine-identical, which lets the DuckDB oracle replay the
    * iterations as unrolled CTEs.
    *
    * Per round: two edge joins + two destination aggregates + two 1-row
    * norm aggregates broadcast back (the tiny-stat pattern) — 14 Spark
    * jobs under AQE (GraphSpec pins it). Self-loops are dropped; the
    * deduplicated edge relation builds ONCE outside the loop. Returns
    * (node, hub, authority) as 9-dp doubles; nodes with no in-edges have
    * authority 0, nodes with no out-edges hub 0.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val decBig = DecimalType(38, 0)
    val d28 = DecimalType(28, 9)
    val (e, nodes) = edgeSetup(edges, srcCol, dstCol,
      col("src") =!= col("dst"))

    // exact-integer L2 normalize: x/||x|| = x_nano/√(Σ x_nano²)
    def l2normalize(raw: DataFrame, c: String): DataFrame = {
      val nano = raw.withColumn("__xn",
        (col(c) * lit(1000000000L)).cast("long"))
      val ss = nano.agg(
        sum(col("__xn").cast(decBig) * col("__xn").cast(decBig))
          .as("__ss"))
      nano.crossJoin(broadcast(ss))
        .select(col("node"),
          when(col("__ss") === 0, lit(0).cast(D9))
            .otherwise(round(col("__xn").cast("double") /
              sqrt(col("__ss").cast("double")), 9).cast(D9)).as(c))
    }
    // one half-step: score `s` summed over e at each edge's `to` end,
    // zero-filled on every node, L2-normalized into `out`
    def halfStep(score: DataFrame, s: String, from: String, to: String,
        out: String): DataFrame =
      l2normalize(propagate(score, e, from, to, col(s), nodes)
          .select(col("node"),
            coalesce(col("__m"), lit(0).cast(d28)).as(out)),
        out).localCheckpoint()

    var hubs = nodes.select(col("node"), lit(1).cast(D9).as("h"))
    var auths = nodes.select(col("node"), lit(0).cast(D9).as("a"))
    for (_ <- 1 to iterations) {
      auths = halfStep(hubs, "h", "src", "dst", "a")
      hubs = halfStep(auths, "a", "dst", "src", "h")
    }
    hubs.join(auths, Seq("node"))
      .select(col("node"), col("h").cast("double").as("hub"),
        col("a").cast("double").as("authority"))
  }

  /** Adjusted Rand Index between two partitions of the same node set
    * (Hubert & Arabie 1985) — "do the discovered communities agree
    * with a reference partition?", chance-corrected so that random
    * labelings score ≈0 and identical partitions exactly 1.
    *
    * ALL-INTEGER: with contingency counts n_ij and marginals a_i, b_j,
    * ARI = (2·Σ_ij C(n_ij,2)·C(n,2) − 2·ΣC(a_i,2)·ΣC(b_j,2)) /
    *       ((ΣC(a_i,2)+ΣC(b_j,2))·C(n,2) − 2·ΣC(a_i,2)·ΣC(b_j,2)) —
    * pair counts C(x,2) = x(x−1)/2 are exact integers, everything
    * accumulates in DECIMAL(38,0), ONE unrounded division at the end
    * (null when the denominator is 0 — all-singletons vs one-cluster
    * degeneracies).
    *
    * Scale shape: one node-keyed join aligns the partitions, one
    * (a, b) group-by builds the contingency table, marginals and pair
    * sums aggregate THAT (cluster²-bounded) relation; 1-row broadcasts
    * only. Returns one row: (n, n_cells, sum_comb, sum_a, sum_b, ari).
    */
  def ariPartitions(labelsA: DataFrame, labelsB: DataFrame): DataFrame = {
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val dbl = org.apache.spark.sql.types.DoubleType
    def comb2(c: Column): Column =
      (c.cast(big) * (c - 1).cast(big) / lit(2).cast(big)).cast(big)
    val joined = labelsA.select(col("node"), col("a"))
      .join(labelsB.select(col("node"), col("b")), Seq("node"))
    val cont = joined.groupBy("a", "b").agg(count(lit(1)).as("o"))
      .localCheckpoint()
    val cells = cont.agg(count(lit(1)).as("n_cells"),
      sum(col("o")).as("n"), sum(comb2(col("o"))).as("sum_comb"))
    val sa = cont.groupBy("a").agg(sum("o").as("ra"))
      .agg(sum(comb2(col("ra"))).as("sum_a"))
    val sb = cont.groupBy("b").agg(sum("o").as("cb"))
      .agg(sum(comb2(col("cb"))).as("sum_b"))
    val tot = comb2(col("n"))
    val num = lit(2).cast(big) * col("sum_comb") * tot -
      lit(2).cast(big) * col("sum_a") * col("sum_b")
    val den = (col("sum_a") + col("sum_b")).cast(big) * tot -
      lit(2).cast(big) * col("sum_a") * col("sum_b")
    cells.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
      .select(col("n").cast("long").as("n"), col("n_cells"),
        col("sum_comb").cast("long").as("sum_comb"),
        col("sum_a").cast("long").as("sum_a"),
        col("sum_b").cast("long").as("sum_b"),
        when(den.cast(dbl) =!= 0.0, num.cast(dbl) / den.cast(dbl))
          .as("ari"))
  }

  /** Newman modularity of a community assignment (Newman & Girvan
    * 2004) — the quality number that makes [[lpaCommunities]]' output
    * judgeable: Q = Σ_c (e_c/m − (deg_c/2m)²), rewritten all-integer
    * as Q = (4m·Σe_c − Σdeg_c²) / (4m²) — exact DECIMAL(38,0)
    * numerator/denominator down to ONE unrounded division (Q ∈
    * [−½, 1), ≈0 means the partition is no better than random wiring).
    *
    * Scale shape: canonical undirected edge set (least/greatest +
    * distinct, one shuffle), degrees from one endpoint-explode
    * group-by, two label joins on the edge relation (node-keyed —
    * bucketable at cluster scale), and the totals come from 1-row
    * aggregates broadcast back — never a global window over the
    * community-scale relation. Returns one row per community:
    * (community, n_nodes, degree_sum, internal_edges, modularity) with
    * the global Q repeated (the tvDistance convention).
    */
  def modularity(edges: DataFrame, aCol: String, bCol: String,
      labels: DataFrame): DataFrame = {
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val dbl = org.apache.spark.sql.types.DoubleType
    val e = undirected(edges, col(aCol).cast("string"),
      col(bCol).cast("string")).localCheckpoint()
    val lab = labels.select(col("node"), col("community"))
    val deg = e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val dc = deg.join(lab, Seq("node"))
      .groupBy("community")
      .agg(count(lit(1)).as("n_nodes"), sum("d").as("degree_sum"))
    val ec = e
      .join(lab.select(col("node").as("u"), col("community").as("cu")),
        Seq("u"))
      .join(lab.select(col("node").as("v"), col("community").as("cv")),
        Seq("v"))
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community"))
      .agg(count(lit(1)).as("internal"))
    val m = e.agg(count(lit(1)).as("m"))
    val tot = dc.agg(
      sum((col("degree_sum").cast(big) * col("degree_sum").cast(big))
        .cast(big)).as("sum_deg2"))
    val ti = ec.agg(coalesce(sum("internal"), lit(0L)).cast(big)
      .as("sum_int"))
    dc.join(ec, Seq("community"), "left")
      .crossJoin(broadcast(m)).crossJoin(broadcast(tot))
      .crossJoin(broadcast(ti))
      .select(col("community"), col("n_nodes"), col("degree_sum"),
        coalesce(col("internal"), lit(0L)).as("internal_edges"),
        ((lit(4L).cast(big) * col("m").cast(big) * col("sum_int") -
          col("sum_deg2")).cast(dbl) /
          (lit(4L).cast(big) * col("m").cast(big) * col("m").cast(big))
            .cast(dbl)).as("modularity"))
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007), bounded rounds — the near-linear community pass for
    * link/interaction graphs (domain clusters in a web graph, user
    * cohorts in a purchase graph) where modularity methods don't scale.
    * Every node starts as its own community; each round it adopts the
    * label carried by the MAJORITY of its neighbors, ties to the
    * smallest label (min-struct over (−count, label) — the library
    * argmin convention, so the whole run is deterministic and
    * engine-replayable; classic LPA randomizes both the visit order and
    * the tie, which no oracle could replay).
    *
    * Per round: ONE join of the label relation against the symmetrized
    * edges + one (node, label) count collapse + one per-node argmin —
    * all partial-aggregable — with `localCheckpoint` lineage discipline;
    * bounded `rounds` keeps the plan unrolled-CTE-replayable (the
    * pageRank rule). Returns (node, community).
    */
  def lpaCommunities(edges: DataFrame, aCol: String, bCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val e0 = edges.select(col(aCol).cast("string").as("u"),
        col(bCol).cast("string").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // the symmetric edges are checkpointed once (the distinct already
    // spread them); each round's single repartition(v) below covers
    // BOTH grouped aggregations
    val sym = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint()
    var labels = sym.select(col("u").as("node")).distinct()
      .withColumn("community", col("node")).localCheckpoint()
    for (_ <- 1 to rounds) {
      labels = labels
        .join(sym, col("node") === col("u"))
        // hash(v) satisfies the clustered distribution of BOTH the
        // (v, community) count and the per-node argmin that follows —
        // the explicit repartition replaces two implicit exchanges
        .repartition(col("v"))
        .groupBy(col("v").as("node"), col("community"))
        .agg(count(lit(1)).as("__c"))
        .groupBy("node")
        .agg(min(struct((-col("__c")).as("__nc"),
          col("community").as("__l"))).as("__best"))
        .select(col("node"), col("__best.__l").as("community"))
        .localCheckpoint()
    }
    labels
  }
}
