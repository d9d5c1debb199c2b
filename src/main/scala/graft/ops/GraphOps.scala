package graft.ops

import graft.T
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over relations — link-authority scoring of the kind
  * a crawl/training-data pipeline uses to weight sources (PageRank on
  * the link graph is the classic crawl-frontier quality prior). The
  * reference reaches graphs only as self-joined tables through
  * `--query` passthrough (/root/reference/main.go:106); here the power
  * iteration is a first-class distributed operator.
  *
  * Determinism: scores are kept in exact integer ppm (1.0 ≡ 1 000 000)
  * and every division is a truncating integer division of non-negative
  * operands (Spark `div` ≡ DuckDB `//` there). The per-iteration update
  *   r'(v) = 150000 + (850 · Σ_{u→v} (r(u) div deg(u))) div 1000
  * is therefore a pure function over BIGINTs — bit-identical in any
  * engine and under any aggregation order, unlike float PageRank where
  * 3 iterations of reordered double sums would drift. (The truncation
  * deliberately sheds ≤ deg(u) ppm of mass per node per step — a
  * well-defined deterministic operator approximating PageRank, the same
  * exactness-over-floats trade every sketch in this repo makes.)
  *
  * Scale posture: edges carry their out-degree (joined once, then the
  * relation is checkpointed and hash-partitioned by source node), so a
  * superstep is ONE join of the score relation (already hash-partitioned
  * by node from the previous superstep's aggregate) against the
  * stationary edge relation plus one dst-keyed partial-aggregable sum —
  * no driver-side state, no growing lineage (per-superstep checkpoint,
  * same discipline as functions/Components). Iteration count is a fixed
  * small constant — the "3 supersteps of a link-quality prior" shape,
  * not convergence-to-epsilon.
  */
object GraphOps {
  type Q = (SparkSession, String) => DataFrame

  /** Fixed-point integer PageRank over a directed edge list (u, v).
    * Every node must have out-degree ≥ 1 (feed an undirected graph —
    * both edge directions — to guarantee it; dangling-node mass
    * redistribution is deliberately out of scope of this operator).
    */
  def integerPagerank(edges: DataFrame, iters: Int,
                      reliable: Boolean = false): DataFrame = {
    def ck(df: DataFrame, eager: Boolean): DataFrame =
      if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager)
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
    // stationary per-superstep probe side: (u, v, deg(u)), partitioned
    // by u so only the score side moves in later supersteps
    val ed = ck(edges.join(deg, "u").repartition(col("u")), eager = true)
    var r = deg.select(col("u").as("node"), lit(1000000L).as("r"))
    for (_ <- 1 to iters) {
      r = ck(
        ed.join(r, ed("u") === r("node"))
          .select(col("v"), expr("r div d").as("contrib"))
          .groupBy(col("v"))
          .agg(sum(col("contrib")).as("s"))
          .select(col("v").as("node"),
            expr("CAST(150000 + (850 * s) div 1000 AS BIGINT)").as("r")),
        eager = false)
    }
    r
  }

  /** Bounded-hop single-source-set shortest paths (Bellman-Ford
    * supersteps on the min-plus semiring): dist' (v) = min(dist(v),
    * min over edges u→v of dist(u) + w(u,v)), iterated `hops` times
    * from a seed relation (node, d). Integer weights keep every
    * distance exact — min-plus needs no division at all, so unlike
    * [[integerPagerank]] there is not even truncation shedding. Each
    * superstep is one join of the frontier-bearing dist relation
    * against the stationary edge relation plus one node-keyed min
    * partial agg; unreached nodes simply never enter the relation
    * (no ∞ sentinels to carry).
    */
  def shortestPaths(edges: DataFrame, seeds: DataFrame, hops: Int,
                    reliable: Boolean = false): DataFrame = {
    def ck(df: DataFrame, eager: Boolean): DataFrame =
      if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager)
    val ed = ck(edges.repartition(col("u")), eager = true)
    var dist = seeds.select(col("node"), col("d"))
    for (_ <- 1 to hops) {
      dist = ck(
        dist.unionByName(
          ed.join(dist, ed("u") === dist("node"))
            .select(col("v").as("node"), (col("d") + col("w")).as("d")))
          .groupBy(col("node")).agg(min(col("d")).as("d")),
        eager = false)
    }
    dist
  }

  /** Degree-ordered triangle counting with per-node local clustering
    * coefficients — the community/cohesion diagnostic (a part whose
    * co-purchase neighbors also co-purchase each other sits inside a
    * basket "community"; a high-degree low-lcc part is a hub).
    *
    * Input: one row per unordered undirected edge (a, b), a < b,
    * distinct. Output: (node, deg, tri, lcc_bp) — triangle count per
    * node and 2·tri/(deg·(deg−1)) in integer basis points.
    *
    * Scale posture: the naive wedge join fans out Σ deg(v)² — a single
    * celebrity node with deg 1e6 emits 1e12 wedges. Orienting every
    * edge from its lower-(deg, node) endpoint to its higher one makes
    * the edge relation a DAG whose out-degrees are O(√m)-bounded
    * (the classic compact-forward/degree-ordering bound), so wedges
    * are Σ outdeg(v)² ≤ O(m^1.5) TOTAL — independent of skew. Every
    * triangle {x,y,z} is then counted exactly once (from its
    * lowest-ordered apex). The plan is: one node-keyed degree agg, two
    * keyed joins to attach degrees, one u-keyed self-join for wedges,
    * one (y,z)-keyed LEFT SEMI probe against the oriented edges, one
    * node-keyed rollup — every shuffle keyed, nothing driver-side,
    * no orientation decision ever compares more than two (deg, node)
    * tuples. lcc divisions are non-negative (Spark div ≡ DuckDB //).
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("a").as("n"))
      .unionByName(edges.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val lt = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = edges
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(
        when(lt, col("a")).otherwise(col("b")).as("u"),
        when(lt, col("b")).otherwise(col("a")).as("v"),
        when(lt, col("db")).otherwise(col("da")).as("dv"))
    // The oriented relation feeds three consumers (wedge left, wedge
    // right, semi probe). A localCheckpoint here was MEASURED SLOWER
    // on round-6 data (6.0 vs 5.4 s) AND no better on round-7 data
    // (27.5 vs 24.9 s min) — the wedge subtree, not the edge build,
    // dominates; recompute beats materialization again (DESIGN.md).
    val o2 = o.select(col("u").as("u2"), col("v").as("w"), col("dv").as("dw"))
    val wed = o.join(o2,
      col("u") === col("u2") &&
        (col("dv") < col("dw") ||
          (col("dv") === col("dw") && col("v") < col("w"))))
      .select(col("u").as("x"), col("v").as("y"), col("w").as("z"))
    val probe = o.select(col("u").as("y2"), col("v").as("z2"))
    // LEFT SEMI probes O(m^1.5) wedge rows against O(m) edges: a
    // sort-merge join pays an O(W log W) sort of the WEDGE side, a
    // shuffled-hash join only hashes the edge side and streams wedges
    // through it. The hash build is left to AQE's
    // maxShuffledHashJoinLocalMapThreshold (session posture) instead
    // of a static hint: the edge side grows with the graph, and a
    // forced per-partition build OOMs once it outgrows executor
    // memory (the measured q63 failure mode at 100× data).
    val tri = wed.join(probe,
      col("y") === col("y2") && col("z") === col("z2"), "left_semi")
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("t"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("node"), col("d").as("deg"),
        coalesce(col("t"), lit(0L)).as("tri"),
        expr("CAST(CASE WHEN d >= 2 THEN (2 * coalesce(t, 0) * 10000) div (d * (d - 1)) ELSE 0 END AS BIGINT)")
          .as("lcc_bp"))
      .orderBy(col("node"))
  }

  /** Bounded k-core peeling: `rounds` rounds of "drop every node with
    * degree < k, keep only edges between survivors", then report the
    * surviving nodes with their post-peel degrees. Fixed round count
    * (not peel-to-convergence) keeps the operator a finite declarative
    * plan — the same bounded-superstep contract as [[integerPagerank]]
    * / [[shortestPaths]]; survivors are an upper bound on the true
    * k-core that tightens per round. Each round is one node-keyed
    * degree agg + two keyed LEFT SEMI filters of the (shrinking) edge
    * relation; lineage is cut per round (executor-local checkpoint,
    * O(m) bound, never the driver).
    */
  /** One peel round (exposed for the plan pin in PlanAuditSpec).
    * Round-16 (guide §2.4/§3.1): filter by ANTI-join against the
    * peeled nodes instead of semi-join against the survivors — the
    * complement within deg's domain (every endpoint of e has a
    * degree row), so the relations are identical. The drop set is
    * typically a small fraction of nodes per round, so AQE elects a
    * broadcast anti-join from real map stats and the edge relation
    * STREAMS — the semi form shuffled e by a and again by b every
    * round (2 full edge shuffles × rounds). No static hint: on a
    * round where most nodes die, drop is big and AQE keeps a keyed
    * join, which is no worse than the old shape. Measured (sf0.1,
    * cpus=32, fresh JVM, min of 2): q192 8.2 → 3.8 s.
    */
  private[graft] def peelRound(e: DataFrame, k: Int): DataFrame = {
    val deg = e.select(col("a").as("n"))
      .unionByName(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val drop = deg.filter(col("d") < k)
    e.join(drop.select(col("n").as("a")), Seq("a"), "left_anti")
      .join(drop.select(col("n").as("b")), Seq("b"), "left_anti")
  }

  def kcorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var e = edges
    for (_ <- 1 to rounds) {
      e = peelRound(e, k).localCheckpoint()
    }
    e.select(col("a").as("n")).unionByName(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .select(col("n").as("node"), col("d").as("deg"))
      .orderBy(col("node"))
  }

  /** Capped-neighborhood link prediction by the resource-allocation
    * index (Zhou/Lü/Zhang 2009): for a non-adjacent pair (a, b),
    * RA(a,b) = Σ_{c ∈ N(a)∩N(b)} 1/deg(c) — common neighbors weighted
    * so that promiscuous hubs contribute little. Scores are exact
    * integer ppm (1000000 div deg, truncating), so the sum is
    * order-independent and engine-exact — the same
    * exactness-over-floats trade as [[integerPagerank]] (and the
    * reason RA was chosen over Adamic-Adar's 1/ln(deg), whose libm
    * last-ulp differences could straddle a truncation boundary).
    *
    * Scale posture: candidate generation is the wedge self-join, and
    * on a dense graph (this co-purchase graph: median degree ≈ 119,
    * 148M unoriented wedges at sf0.1 — DuckDB recount) the full wedge
    * set is the scale-killer. The dial is a DETERMINISTIC fan-out cap
    * (GraphSAGE-style neighbor sampling): each node keeps only the
    * `cap` neighbors with the smallest md5 coin on the directed
    * (u,v) pair, bounding wedge volume by n·C(cap,2) — LINEAR in
    * nodes regardless of degree skew (cap=32 ⇒ ≤ 496 wedges/node:
    * ~9.9M at sf0.1 vs 148M uncapped). The md5 coin (not rand())
    * means the DuckDB oracle replays the identical sampled
    * neighborhood, so the approximate operator stays bit-exact-checked
    * — the q185b discipline. Center weights use the TRUE degree (the
    * RA semantics); only candidate enumeration is capped.
    */
  def linkPredictionRA(edges: DataFrame, cap: Int, topK: Int): DataFrame = {
    val und = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("d"))
    // per-node fan-out cap: row_number over the md5 coin; u is
    // node-cardinality (high), so Window.partitionBy(u) hash-spreads
    // — not the low-cardinality regime that needs ScalableRank
    val capped = und
      .withColumn("h",
        conv(substring(md5(concat_ws(":", col("u"), col("v"))), 1, 8), 16, 10)
          .cast("long"))
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("u")).orderBy(col("h"), col("v"))))
      .filter(col("rn") <= cap)
      .select(col("u").as("c"), col("v"))
    // wedges centered at c — both endpoints drawn from the capped list
    val cand = capped.select(col("c"), col("v").as("x"))
      .join(capped.select(col("c").as("c2"), col("v").as("y")),
        col("c") === col("c2") && col("x") < col("y"))
      .select(col("c"), col("x").as("a"), col("y").as("b"))
    val scored = cand
      .join(deg.select(col("u").as("c"), col("d")), "c")
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000 div d")).as("ra_ppm"))
    // hash only the O(m) edge side (q185's measured shuffled-hash win),
    // via the session's adaptive hash-build threshold rather than a
    // static hint — the edge side scales with the graph, so a forced
    // build is the q63 100× OOM shape; AQE converts when it fits
    scored
      .join(edges, Seq("a", "b"), "left_anti")
      .orderBy(col("ra_ppm").desc, col("cn").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Bounded label-propagation community detection (Raghavan et al.
    * 2007, made deterministic): every node starts labeled with its own
    * id; each round it adopts the most frequent label among its
    * neighbors, ties to the SMALLEST label — a pure function of the
    * graph, so the rounds are replayable in any engine (the classic
    * formulation's random tie-break and visit order are exactly what
    * an oracle cannot replay). Fixed round count, not
    * run-to-convergence — the bounded-superstep contract of
    * [[integerPagerank]]/[[kcorePeel]] (LPA on a bipartite-ish graph
    * can oscillate forever; k rounds of strictly-defined updates are a
    * well-defined operator regardless).
    *
    * Scale posture per round: one edge⋈labels join keyed on the node
    * id, one (v, label) partial-aggregable count, one argmax via
    * row_number over the HIGH-cardinality v — never a driver
    * collection, never a low-card window; lineage cut per round.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    // Round-16: a repartition(u)-before-checkpoint (the
    // integerPagerank pattern) was A/B-measured here and dropped —
    // under AQE a lazy localCheckpoint does NOT preserve the
    // hash partitioning (the adaptive plan's partitioning is unknown
    // pre-execution, and coalescing changes the count), so the extra
    // build shuffle bought nothing: q199 5.32 s without vs 6.02 s
    // with, q248 7.29 vs 6.95 (sf0.1, cpus=32, fresh JVMs, min of 2 —
    // a wash inside noise, and the label side rides an AQE broadcast
    // at these sizes anyway).
    val und = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint(false)
    var lab = und.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("lab"))
    for (_ <- 1 to rounds) {
      lab = lpRound(und, lab).localCheckpoint(false)
    }
    lab.select(col("node"), col("lab").as("comm")).orderBy(col("node"))
  }

  /** One label-propagation round (exposed for the plan pin in
    * PlanAuditSpec). Argmax by (cnt desc, lab asc) as a second hash
    * aggregate (max over an orderable struct; labels are node ids ≥ 0
    * so the negation is a safe total-order flip) instead of a
    * row_number window: the window re-exchanged ALL (v, lab, cnt)
    * rows by v and sorted them; the aggregate's map-side partial max
    * ships ≤1 row per (v, mapper) and never sorts (guide §2.3
    * "aggregate before you shuffle"). Same label per node by the same
    * deterministic tie-break. Measured (sf0.1, cpus=32, fresh JVM,
    * min of 2): q199 14.2 → 5.3 s, q248 18.8 → 7.0 s.
    */
  private[graft] def lpRound(und: DataFrame, lab: DataFrame): DataFrame = {
    val cnt = und.join(lab, und("u") === lab("node"))
      .groupBy(col("v"), col("lab")).agg(count(lit(1)).as("cnt"))
    cnt
      .groupBy(col("v"))
      .agg(max(struct(col("cnt"), (-col("lab")).as("nl"))).as("m"))
      .select(col("v").as("node"), (-col("m.nl")).as("lab"))
  }

  /** The co-purchase part graph that q185–q248 analyze: one row per
    * distinct part pair (a, b), a < b, bought in the same order. */
  private def coPurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val op = T.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    op.select(col("o"), col("p").as("a"))
      .join(op.select(col("o").as("o2"), col("p").as("b")),
        col("o") === col("o2") && col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  val queries: Map[String, Q] = Map(
    // Authority scores on the undirected bipartite customer↔supplier
    // trade graph (distinct trading pairs via orders ⋈ lineitem).
    // Node ids: customers = 2·custkey, suppliers = 2·suppkey + 1.
    // Isolated nodes (no trades) have no defined score, by construction.
    "q163_pagerank" -> ((s, d) => {
      val co = T.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(T.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("cu"), (col("l_suppkey") * 2 + 1).as("sv"))
        .distinct()
      val edges = co.select(col("cu").as("u"), col("sv").as("v"))
        .union(co.select(col("sv").as("u"), col("cu").as("v")))
      integerPagerank(edges, 3).orderBy(col("node"))
    }),

    // 4-hop shortest paths from the sub-10 customers over the weighted
    // trade graph: edge cost = 1e6 div (trades on the edge), so heavily
    // traded links are "close" — the supply-chain-proximity query.
    // Node encoding as in q163.
    "q177_shortest_paths" -> ((s, d) => {
      val co = T.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(T.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy((col("o_custkey") * 2).as("cu"), (col("l_suppkey") * 2 + 1).as("sv"))
        .agg(count(lit(1)).as("n"))
        .withColumn("w", expr("1000000 div n"))
      val edges = co.select(col("cu").as("u"), col("sv").as("v"), col("w"))
        .unionByName(co.select(col("sv").as("u"), col("cu").as("v"), col("w")))
      val seeds = T.customer(s, d).filter(col("c_custkey") < 10)
        .select((col("c_custkey") * 2).as("node"), lit(0L).as("d"))
      shortestPaths(edges, seeds, 4).orderBy(col("node"))
    }),

    // TextRank-style keyword scoring: q163's power iteration run over
    // the word-adjacency graph of the corpus (consecutive-token pairs,
    // both directions) — graph and text families composing, which is
    // the point of operators as library functions. Top 20 keywords by
    // authority; deterministic (cos-free integer ranks, (r, word)
    // tiebreak), so the LIMIT is a TakeOrderedAndProject.
    "q178_textrank_keywords" -> ((s, d) => {
      val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      val toks = T.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p", "wd")))
      val adj = toks
        .withColumn("nx", lead(col("wd"), 1).over(w))
        .filter(col("nx").isNotNull)
        .select(col("wd").as("a"), col("nx").as("b"))
        .distinct()
      val edges = adj.select(col("a").as("u"), col("b").as("v"))
        .unionByName(adj.select(col("b").as("u"), col("a").as("v")))
        .distinct()
      integerPagerank(edges, 3)
        .orderBy(col("r").desc, col("node"))
        .limit(20)
    }),

    // Triangle census of the co-purchase part graph (parts appearing
    // in the same order; pair fan-out per order is C(items, 2) with
    // TPC-H-ish order sizes ≤ 7 — bounded map-side expansion). The
    // degree ordering inside triangleStats is what survives scale:
    // without it the densest part's wedge fan-out alone would be
    // quadratic in its basket frequency.
    "q185_triangles" -> ((s, d) =>
      triangleStats(coPurchaseEdges(s, d))),

    // Degree assortativity of the co-purchase graph — the one-number
    // mixing diagnostic (do hubs link to hubs?) that q185's clustering
    // and q192's cores don't capture: Pearson correlation of endpoint
    // degrees over the DIRECTED edge list (each undirected edge
    // counted both ways — the standard Newman convention). Scale: the
    // degree relation is node-keyed and partial-aggregable; the two
    // lookups are equi-joins keyed on their own endpoint (no
    // broadcast of anything that grows); corr is a single-pass
    // co-moment agg. The co-moment ratio cancels n, so only
    // round(·,4) touches a float.
    "q234_assortativity" -> ((s, d) => {
      val e = coPurchaseEdges(s, d)
      val dir = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      val deg = dir.groupBy(col("a").as("n")).agg(count(lit(1)).as("dg"))
      val nn = deg.agg(count(lit(1)).as("n_nodes"))
      val ne = e.agg(count(lit(1)).as("n_edges"))
      dir
        .join(deg.select(col("n").as("na"), col("dg").as("da")), col("a") === col("na"))
        .join(deg.select(col("n").as("nb"), col("dg").as("db")), col("b") === col("nb"))
        .agg(count(lit(1)).as("n_dir_edges"),
             round(corr(col("da").cast("double"), col("db").cast("double")), 4)
               .as("assortativity4"))
        .crossJoin(broadcast(nn)).crossJoin(broadcast(ne))
        .select(col("n_nodes"), col("n_edges"), col("n_dir_edges"),
                col("assortativity4"))
        .orderBy(col("n_nodes"))
    }),

    // Dense-core extraction on the co-purchase part graph (q185's
    // edge relation): 3 rounds of 3-core peeling strip pendant and
    // chain structure so what remains is the densely co-purchased
    // "core catalog" — the graph-cleaning step run before community
    // or embedding passes so hubs-by-accident don't pollute them.
    "q192_kcore" -> ((s, d) =>
      kcorePeel(coPurchaseEdges(s, d), 3, 3)),

    // Approximate triangle census — the production dial next to q185's
    // exact tier (the q61→q62 tiering pattern). DOULION (Tsourakakis
    // et al., KDD'09): keep each edge independently with probability
    // p = 1/4, count triangles exactly on the sparsified graph, scale
    // by 1/p³ = 64 for an unbiased global estimate. Sampling is a
    // DETERMINISTIC md5 coin on the edge key (not rand()), so the
    // result is reproducible and the DuckDB oracle replays the exact
    // same subgraph — an approximate operator with a bit-exact oracle.
    // Scale posture: wedge fan-out scales ~p² (16× fewer wedges than
    // exact at p=1/4) and the sparsified graph reuses the same
    // degree-ordered O(m^1.5) kernel, so this is the dial to turn when
    // the exact census dominates a run; variance is Θ(1/(p³·T))-tight
    // for triangle-rich graphs so the estimate tightens as data grows.
    "q185b_triangles_sampled" -> ((s, d) => {
      val keep = conv(substring(md5(concat_ws(",", col("a"), col("b"))), 1, 8), 16, 10)
        .cast("long") % 4 === 0
      triangleStats(coPurchaseEdges(s, d).filter(keep))
        .agg(count(lit(1)).as("n_nodes"),
             expr("CAST(sum(deg) div 2 AS BIGINT)").as("n_edges"),
             expr("CAST(sum(tri) div 3 AS BIGINT)").as("n_tri_sampled"),
             expr("CAST((sum(tri) div 3) * 64 AS BIGINT)").as("est_tri"))
        .orderBy(col("n_nodes"))
    }),

    // "Frequently bought together — but never yet in one basket":
    // top-100 non-adjacent part pairs of the co-purchase graph ranked
    // by the resource-allocation index over md5-capped neighborhoods
    // (cap 32). The recommendation/link-prediction operator a catalog
    // pipeline runs on the same edge relation q185/q192 analyze.
    "q193_link_prediction" -> ((s, d) =>
      linkPredictionRA(coPurchaseEdges(s, d), cap = 32, topK = 100)),

    // Community assignment on the co-purchase part graph: 3 rounds of
    // deterministic neighbor-majority label propagation — the
    // community-structure pass run after q192's core cleaning, before
    // per-community mixing/curation decisions.
    "q199_label_propagation" -> ((s, d) =>
      labelPropagation(coPurchaseEdges(s, d), 3)),

    // Newman modularity of q199's communities — the number that says
    // whether the partition MEANS anything: Q = Σ_c (e_c/m −
    // (d_c/2m)²), here as the single exact rational Σ(4m·e_c − d_c²)
    // / 4m² emitted in ppm by integer division (Q ∈ [−½, 1]; near 0
    // on this dense co-purchase graph is itself the finding — LP
    // collapses it into one blob, and the number proves it rather
    // than the eyeball). Costs: the LP rounds (shared shape with
    // q199), one intra-edge count via two label joins keyed on their
    // own endpoint, one community-keyed degree rollup.
    "q248_modularity" -> ((s, d) => {
      // e feeds FOUR consumers (LP's und, m, intra, und) — unlike
      // q185's thrice-read oriented relation (where recompute measured
      // faster because the downstream wedge join dominated), here the
      // downstream work is small relative to the pair build, and the
      // lazy localCheckpoint measured 8.5 → 5.3 s at sf0.1 (cpus=8,
      // min of 2).
      val e = coPurchaseEdges(s, d).localCheckpoint(false)
      val lab = labelPropagation(e, 3)
      val m = e.agg(count(lit(1)).as("m"))
      val intra = e
        .join(lab.select(col("node").as("a"), col("comm").as("ca")), "a")
        .join(lab.select(col("node").as("b"), col("comm").as("cb")), "b")
        .filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("c")).agg(count(lit(1)).as("ec"))
      val und = e.select(col("a").as("u")).unionByName(e.select(col("b").as("u")))
      val degc = und
        .join(lab.select(col("node").as("u"), col("comm").as("c")), "u")
        .groupBy(col("c")).agg(count(lit(1)).as("dc"))
      degc.join(intra, Seq("c"), "left")
        .select(col("c"), coalesce(col("ec"), lit(0L)).as("ec"), col("dc"))
        .crossJoin(broadcast(m))
        .agg(count(lit(1)).as("n_communities"),
             max(col("m")).as("n_edges"),
             // 4·m·ec exceeds int64 once m·ec ≳ 2.3e18 (plausible at the
             // 100 TB graph tier: m ~ 1e12 edges, ec ~ 1e7) — the q116/q152
             // audited-overflow class: widen to DECIMAL(38,0) before the
             // product; the final ppm ratio is ≤ 1e6 so the div result
             // stays comfortably BIGINT.
             sum(expr(
               "4 * CAST(m AS DECIMAL(38,0)) * ec - CAST(dc AS DECIMAL(38,0)) * dc"))
               .as("num"))
        .select(col("n_communities"), col("n_edges"),
          expr("(1000000 * num) div (4 * CAST(n_edges AS DECIMAL(38,0)) * n_edges)")
            .as("modularity_ppm"))
        .orderBy(col("n_communities"))
    })
  )

  /** Oracle twin of [[coPurchaseEdges]]: the `op` and `<e>` CTEs. */
  private def coPurchaseCtes(e: String = "e"): String =
    s"""op AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
       |), $e AS (
       |  SELECT DISTINCT x.p AS a, y.p AS b
       |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
       |)""".stripMargin

  /** Both directions of [[coPurchaseCtes]]'s `e`, as (u, v). */
  private val undCte =
    """und AS (
      |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
      |)""".stripMargin

  /** Oracle twin of [[labelPropagation]] over `und`: `l0` labels each
    * node with its own id, `l1`..`l<rounds>` are the argmax rounds. */
  private def lpCtes(rounds: Int): String =
    ("l0 AS (\n  SELECT DISTINCT u AS node, u AS lab FROM und\n)" +:
      (1 to rounds).map(i =>
        s"""c$i AS (
           |  SELECT v, lab, count(*) AS cnt FROM und JOIN l${i - 1} ON und.u = l${i - 1}.node
           |  GROUP BY 1, 2
           |), l$i AS (
           |  SELECT v AS node, lab FROM (
           |    SELECT v, lab, row_number() OVER (
           |      PARTITION BY v ORDER BY cnt DESC, lab) AS rn FROM c$i)
           |  WHERE rn = 1
           |)""".stripMargin)).mkString(", ")

  /** Oracle twin of [[integerPagerank]] over an `edges` CTE (u, v):
    * `deg`, `ed`, `r0` and the rank rounds `i1`..`i<iters>`. */
  private def rankCtes(iters: Int): String =
    ("""deg AS (
       |  SELECT u, count(*) AS d FROM edges GROUP BY 1
       |), ed AS (
       |  SELECT e.u, e.v, d.d FROM edges e JOIN deg d USING (u)
       |), r0 AS (
       |  SELECT u AS node, CAST(1000000 AS BIGINT) AS r FROM deg
       |)""".stripMargin +: (1 to iters).map { i =>
      val prev = if (i == 1) "r0" else s"i${i - 1}"
      s"""i$i AS (
         |  SELECT v AS node, CAST(150000 + (850 * sum(r // d)) // 1000 AS BIGINT) AS r
         |  FROM ed JOIN $prev ON ed.u = $prev.node GROUP BY v
         |)""".stripMargin
    }).mkString(", ")

  /** Oracle twin of [[shortestPaths]] over `e` (u, v, w) from the
    * seeds `d0`: the relaxation rounds `d1`..`d<hops>`. */
  private def hopCtes(hops: Int): String =
    (1 to hops).map { i =>
      val p = s"d${i - 1}"
      s"""d$i AS (
         |  SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
         |    SELECT node, d FROM $p
         |    UNION ALL
         |    SELECT e.v AS node, $p.d + e.w AS d FROM e JOIN $p ON e.u = $p.node
         |  ) GROUP BY node
         |)""".stripMargin
    }.mkString(", ")

  /** Oracle twin of [[kcorePeel]]'s rounds over `e0` (a, b): round i
    * keeps the edges `e<i>` whose endpoints both have degree ≥ k. The
    * next round reads `e<i>` three times, so it is MATERIALIZED: DuckDB
    * inlines it otherwise, and each round multiplies the work of the
    * one before (sf0.1 ran out of temp space). */
  private def peelCtes(k: Int, rounds: Int): String =
    (1 to rounds).map { i =>
      val p = s"e${i - 1}"
      s"""d$i AS (
         |  SELECT n, count(*) AS d FROM (
         |    SELECT a AS n FROM $p UNION ALL SELECT b FROM $p) GROUP BY 1
         |), k$i AS (SELECT n FROM d$i WHERE d >= $k),
         |e$i AS MATERIALIZED (
         |  SELECT a, b FROM $p
         |  WHERE a IN (SELECT n FROM k$i) AND b IN (SELECT n FROM k$i)
         |)""".stripMargin
    }.mkString(", ")

  val oracle: Map[String, String] = Map(
    "q234_assortativity" ->
      s"""WITH ${coPurchaseCtes()},
        |dir AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
        |deg AS (SELECT a AS n, CAST(count(*) AS BIGINT) AS dg FROM dir GROUP BY 1)
        |SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
        |       CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
        |       CAST(count(*) AS BIGINT) AS n_dir_edges,
        |       round(corr(CAST(da.dg AS DOUBLE), CAST(db.dg AS DOUBLE)), 4)
        |         AS assortativity4
        |FROM dir JOIN deg da ON dir.a = da.n JOIN deg db ON dir.b = db.n
        |ORDER BY n_nodes""".stripMargin,

    "q163_pagerank" ->
      s"""WITH co AS (
        |  SELECT DISTINCT o_custkey * 2 AS cu, l_suppkey * 2 + 1 AS sv
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), edges AS (
        |  SELECT cu AS u, sv AS v FROM co
        |  UNION ALL
        |  SELECT sv AS u, cu AS v FROM co
        |), ${rankCtes(3)}
        |SELECT node, r FROM i3 ORDER BY node""".stripMargin,

    "q177_shortest_paths" ->
      s"""WITH co AS (
        |  SELECT o_custkey * 2 AS cu, l_suppkey * 2 + 1 AS sv, count(*) AS n
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2
        |), cw AS (SELECT cu, sv, 1000000 // n AS w FROM co),
        |e AS (
        |  SELECT cu AS u, sv AS v, w FROM cw
        |  UNION ALL
        |  SELECT sv AS u, cu AS v, w FROM cw
        |), d0 AS (
        |  SELECT c_custkey * 2 AS node, CAST(0 AS BIGINT) AS d
        |  FROM customer WHERE c_custkey < 10
        |), ${hopCtes(4)}
        |SELECT node, d FROM d4 ORDER BY node""".stripMargin,

    "q178_textrank_keywords" ->
      s"""WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |), tok AS (
        |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS p FROM t
        |), adj AS (
        |  SELECT DISTINCT ws[p] AS a, ws[p + 1] AS b FROM tok
        |), edges AS (
        |  SELECT DISTINCT u, v FROM (
        |    SELECT a AS u, b AS v FROM adj
        |    UNION ALL
        |    SELECT b AS u, a AS v FROM adj
        |  )
        |), ${rankCtes(3)}
        |SELECT node, r FROM i3 ORDER BY r DESC, node LIMIT 20""".stripMargin,

    "q185_triangles" ->
      s"""WITH ${coPurchaseCtes()}, deg AS (
        |  SELECT n, count(*) AS d FROM (
        |    SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e) GROUP BY 1
        |), o AS (
        |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
        |              THEN e.a ELSE e.b END AS u,
        |         CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
        |              THEN e.b ELSE e.a END AS v,
        |         CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
        |              THEN db.d ELSE da.d END AS dv
        |  FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n
        |), w AS (
        |  SELECT p.u AS x, p.v AS y, q.v AS z
        |  FROM o p JOIN o q ON p.u = q.u
        |  WHERE p.dv < q.dv OR (p.dv = q.dv AND p.v < q.v)
        |), tr AS (
        |  SELECT x, y, z FROM w
        |  WHERE EXISTS (SELECT 1 FROM o WHERE o.u = w.y AND o.v = w.z)
        |), tn AS (
        |  SELECT n, count(*) AS t FROM (
        |    SELECT x AS n FROM tr UNION ALL SELECT y FROM tr
        |    UNION ALL SELECT z FROM tr) GROUP BY 1
        |)
        |SELECT deg.n AS node, deg.d AS deg,
        |       CAST(coalesce(tn.t, 0) AS BIGINT) AS tri,
        |       CAST(CASE WHEN deg.d >= 2
        |            THEN (2 * coalesce(tn.t, 0) * 10000) // (deg.d * (deg.d - 1))
        |            ELSE 0 END AS BIGINT) AS lcc_bp
        |FROM deg LEFT JOIN tn ON deg.n = tn.n
        |ORDER BY node""".stripMargin,

    "q192_kcore" ->
      s"""WITH ${coPurchaseCtes("e0")}, ${peelCtes(3, 3)}
        |SELECT n AS node, CAST(count(*) AS BIGINT) AS deg FROM (
        |  SELECT a AS n FROM e3 UNION ALL SELECT b FROM e3) GROUP BY 1
        |ORDER BY node""".stripMargin,

    "q185b_triangles_sampled" ->
      s"""WITH ${coPurchaseCtes("e0")}, e AS (
        |  SELECT a, b FROM e0
        |  WHERE CAST(('0x' || substr(md5(CAST(a AS VARCHAR) || ',' || CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) % 4 = 0
        |), tri AS (
        |  SELECT count(*) AS t
        |  FROM e ab JOIN e bc ON ab.b = bc.a
        |            JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
        |), stats AS (
        |  SELECT count(DISTINCT n) AS n_nodes FROM (
        |    SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
        |), ne AS (SELECT count(*) AS n_edges FROM e)
        |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
        |       CAST(n_edges AS BIGINT) AS n_edges,
        |       CAST(t AS BIGINT) AS n_tri_sampled,
        |       CAST(t * 64 AS BIGINT) AS est_tri
        |FROM stats, tri, ne
        |ORDER BY n_nodes""".stripMargin,

    "q193_link_prediction" ->
      s"""WITH ${coPurchaseCtes()}, $undCte, deg AS (
        |  SELECT u, count(*) AS d FROM und GROUP BY 1
        |), capped AS (
        |  SELECT u AS c, v FROM (
        |    SELECT u, v, row_number() OVER (
        |      PARTITION BY u
        |      ORDER BY CAST(('0x' || substr(md5(CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)), 1, 8)) AS BIGINT), v
        |    ) AS rn FROM und)
        |  WHERE rn <= 32
        |), cand AS (
        |  SELECT x.c AS c, x.v AS a, y.v AS b
        |  FROM capped x JOIN capped y ON x.c = y.c AND x.v < y.v
        |), scored AS (
        |  SELECT a, b, CAST(count(*) AS BIGINT) AS cn,
        |         CAST(sum(1000000 // d) AS BIGINT) AS ra_ppm
        |  FROM cand JOIN deg ON cand.c = deg.u
        |  GROUP BY 1, 2
        |)
        |SELECT a, b, cn, ra_ppm FROM scored
        |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = scored.a AND e.b = scored.b)
        |ORDER BY ra_ppm DESC, cn DESC, a, b LIMIT 100""".stripMargin,

    "q199_label_propagation" ->
      s"""WITH ${coPurchaseCtes()}, $undCte, ${lpCtes(3)}
        |SELECT node, lab AS comm FROM l3 ORDER BY node""".stripMargin,

    "q248_modularity" ->
      s"""WITH ${coPurchaseCtes()}, $undCte, ${lpCtes(3)}, mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
        |intra AS (
        |  SELECT la.lab AS c, CAST(count(*) AS BIGINT) AS ec
        |  FROM e JOIN l3 la ON e.a = la.node JOIN l3 lb ON e.b = lb.node
        |  WHERE la.lab = lb.lab GROUP BY 1
        |), degc AS (
        |  SELECT la.lab AS c, CAST(count(*) AS BIGINT) AS dc
        |  FROM und JOIN l3 la ON und.u = la.node GROUP BY 1
        |), terms AS (
        |  SELECT d.c, coalesce(i.ec, 0) AS ec, d.dc
        |  FROM degc d LEFT JOIN intra i ON d.c = i.c
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_communities,
        |       mm.m AS n_edges,
        |       CAST((1000000 * sum(4 * CAST(mm.m AS HUGEINT) * ec - CAST(dc AS HUGEINT) * dc))
        |         // (4 * CAST(mm.m AS HUGEINT) * mm.m) AS BIGINT) AS modularity_ppm
        |FROM terms CROSS JOIN mm GROUP BY mm.m
        |ORDER BY n_communities""".stripMargin
  )
}
