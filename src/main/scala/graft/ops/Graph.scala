package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.engine.Iterate

/** Iterative + combinatorial graph operators over relational edge lists:
  * PageRank (the canonical "ranks flow until fixpoint" loop) and exact
  * triangle counting (the canonical "bound the blow-up" self-join).
  *
  * The iterative operators here share one discipline: per-iteration work
  * is ONE shuffle, the loop runs through [[graft.engine.Iterate]] (which
  * owns the round cap, the stop test and the checkpoint cadence), and
  * nothing data-sized ever reaches the driver.
  */
object Graph {
  import Tables._

  /** Generic PageRank over a weighted edge list `(src, dst, w)` where `w`
    * is already out-normalized per src (Σ_dst w(src,·) = 1). Dangling
    * nodes (no out-edges) redistribute their mass uniformly — the
    * standard correction, kept INSIDE the dataflow: the dangling mass is
    * a 1-row aggregate cross-joined back in, not a per-iteration driver
    * collect, so one iteration = one edges⋈ranks shuffle + one 1×1 join.
    *
    * Ranks are rounded to 12 decimals each iteration: both engines then
    * carry bit-identical values, so summation-order fp noise (~1e-16)
    * cannot compound across iterations — this is what makes an ITERATIVE
    * fp computation hash-matchable across engines.
    *
    * At 100 TB: ranks is |nodes| rows partitioned by node; the join with
    * edges shuffles on src (or broadcasts ranks when nodes ≪ edges);
    * [[Iterate]] checkpoints the ranks every iteration, so Catalyst never
    * re-analyzes a plan that doubles per round.
    */
  def pageRank(edgesIn: DataFrame, iterations: Int = 10,
      damping: Double = 0.85): DataFrame = {
    // every iteration joins the edge list; without this boundary the
    // caller's edge DERIVATION (for g1: a four-table join + window) is
    // re-evaluated once per iteration — measured 10 redundant passes
    val edges = edgesIn.cache()
    // r18 (guide §2.4): the dangling flag rides the node row, so the
    // per-iteration dangling-mass term is a conditional 1-row aggregate
    // over ranks instead of a semi-join + aggregate — one join per
    // iteration removed; same summand set in the same arbitrary-order fp
    // class (the 12-dp round absorbs summation-order noise either way)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .join(edges.select(col("src").as("has_out")).distinct(),
        col("node") === col("has_out"), "left")
      .select(col("node"), col("has_out").isNull.as("dang")).cache()
    val n = nodes.count().toDouble

    val ranks = iterateRanks("pageRank", edges, nodes, lit(1.0 / n), iterations) {
      (mass, dm) => lit((1 - damping) / n) + lit(damping) * (mass + dm / n)
    }
    nodes.unpersist()
    ranks
  }

  /** The rank iteration [[pageRank]] and [[personalizedPageRank]] share:
    * `base` is the cached node row (node, dang, …), `rank0` the starting
    * rank, and `update(mass, dm)` the unrounded new rank from the
    * in-flowing and the dangling mass.
    */
  private def iterateRanks(name: String, edges: DataFrame, base: DataFrame,
      rank0: Column, iterations: Int)(update: (Column, Column) => Column): DataFrame = {
    val init = base.select(col("node"), col("dang"), rank0.as("rank"))
    Iterate(name, init, iterations) { (ranks, _) =>
      val dm = ranks
        .agg(coalesce(sum(when(col("dang"), col("rank"))), lit(0.0)).as("dm"))
      val contrib = edges.join(ranks, edges("src") === ranks("node"))
        .groupBy(edges("dst").as("cnode"))
        .agg(sum(col("w") * col("rank")).as("mass"))
      Some(base
        .join(contrib, base("node") === col("cnode"), "left")
        .crossJoin(dm)
        .select(base("node"), col("dang"),
          round(update(coalesce(col("mass"), lit(0.0)), col("dm")), 12).as("rank")))
    }.select("node", "rank")
  }

  /** PERSONALIZED PageRank (the random-walk-with-restart ranking behind
    * "related to THESE nodes" recommendations — Page et al. 1999 §6,
    * Haveliwala 2002's topic-sensitive variant): [[pageRank]] with the
    * uniform restart vector replaced by a distribution concentrated on a
    * SEED set — restart goes to a seed (1/|S| each), never to an
    * arbitrary node, so mass stays in the seeds' neighborhood and the
    * stationary ranks measure proximity to the seed set. Dangling mass
    * redistributes to the seed distribution too (the same correction,
    * personalized). Identical per-iteration dataflow and 12-decimal
    * rounding discipline as g1, so the unrolled iterations stay exactly
    * oracle-able.
    */
  def personalizedPageRank(edgesIn: DataFrame, seedsIn: DataFrame,
      iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    val edges = edgesIn.cache()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct().cache()
    // seeds outside the graph carry no edges and would strand restart
    // mass — normalize over the seeds actually present (both engines)
    val seeds = seedsIn.select("node").distinct()
      .join(nodes, Seq("node"), "left_semi").cache()
    val ns = seeds.count().toDouble
    require(ns > 0, "personalized PageRank needs at least one seed in the graph")
    // restart vector + dangling flag on one cached node row (r18, the
    // pageRank discipline: dm becomes a conditional aggregate, no
    // per-iteration semi-join)
    val pvec = nodes
      .join(seeds.withColumn("__s", lit(1)), Seq("node"), "left")
      .join(edges.select(col("src").as("has_out")).distinct(),
        col("node") === col("has_out"), "left")
      .select(col("node"),
        when(col("__s").isNotNull, lit(1.0 / ns)).otherwise(lit(0.0)).as("p"),
        col("has_out").isNull.as("dang"))
      .cache()

    val ranks = iterateRanks("personalizedPageRank", edges, pvec, col("p"), iterations) {
      (mass, dm) => lit(1 - damping) * col("p") + lit(damping) * (mass + dm * col("p"))
    }
    Seq(pvec, seeds, nodes).foreach(_.unpersist())
    ranks
  }

  /** The nation-level trade graph g1 and g8 rank over: an edge
    * customer-nation → supplier-nation per lineitem (via its order),
    * weighted by flow count and out-normalized. The edge build is the
    * expensive part at scale — a fact-fact shuffle join on orderkey plus
    * broadcastable dims — and it happens ONCE; the rank iterations then
    * run on the |nations|² aggregate.
    */
  private def nationTradeEdges(s: SparkSession, d: String): DataFrame = {
    val flows = lineitem(s, d).select("l_orderkey", "l_suppkey")
      .join(orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(supplier(s, d).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    flows.withColumn("w",
      round(col("cnt") / sum("cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")), 12))
      .select("src", "dst", "w")
  }

  /** g1 — PageRank over the nation-level trade graph. */
  def nationPageRank(s: SparkSession, d: String): DataFrame =
    pageRank(nationTradeEdges(s, d))
      .select(col("node").as("nationkey"), col("rank"))
      .orderBy("nationkey")

  /** g8 — PERSONALIZED PageRank on the trade graph, seeded at one
    * region's nations: "which trading partners are closest to ASIA" —
    * the walk restarts only inside the region, so ranks decay with
    * trade distance from it. Fully oracled via g1's unrolled-CTE
    * discipline with the personalized restart vector.
    */
  def regionPersonalizedRank(s: SparkSession, d: String,
      region: String = "ASIA"): DataFrame = {
    val seeds = Tables.nation(s, d)
      .join(Tables.region(s, d),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === region)
      .select(col("n_nationkey").as("node"))
    personalizedPageRank(nationTradeEdges(s, d), seeds)
      .select(col("node").as("nationkey"), col("rank"))
      .orderBy("nationkey")
  }

  /** g2 — exact triangle count on the part co-occurrence graph (parts
    * sharing an order). Scale design: the wedge join runs on the
    * DEGREE-ORDERED orientation — every undirected edge points from its
    * lower-(degree, id) endpoint to the higher one, which caps any
    * node's out-degree at O(√m) regardless of hubs, so the wedge
    * blow-up is bounded by Σ out-deg² = O(m^1.5) instead of the
    * id-ordered worst case Σ deg² (a low-id hub with 10⁵ neighbors is
    * 10¹⁰ wedges). The count is orientation-invariant — the oracle uses
    * the simple id-ordering and must agree exactly.
    */
  /** Per-order basket cap feeding every pair self-join below: the pair
    * build is QUADRATIC in basket size, so one pathological order with
    * 10⁵ lines would emit 5·10⁹ pairs from a single task — the classic
    * skew bomb TPC-H (≤ 7 lines/order) never shows. Baskets are
    * truncated deterministically (lowest part ids win, so reruns agree)
    * at [[maxBasket]], far above any real basket and above every TPC-H
    * fixture, so g2/g3/g4 results are byte-identical to the uncapped
    * build; the guard only engages on planted hubs (GraphSpec). The
    * rank window shuffles on ok — the SAME key the pair join hashes on
    * — so the exchange is reused, not added.
    */
  private[graft] val maxBasket = 1024

  /** (ok, pk) → unordered co-occurrence pairs (u < v), basket-capped.
    *
    * r18 optimization (guide §2.4 — remove shuffles outright): the
    * original form cost a distinct pass upstream, a row_number window
    * (shuffle on ok + sort) and a sort-merge/broadcast SELF-JOIN on ok.
    * All three collapse into ONE aggregation: collect_set builds the
    * per-order basket (map-side partial aggregation dedups (ok, pk)
    * before the exchange, so callers need not pre-distinct),
    * sort_array + slice keeps the cap LOWEST part ids — exactly the
    * row_number(pk asc) <= cap truncation — and the u < v pairs are
    * generated in-task from the sorted basket by a codegen'd nested
    * transform. Result set and multiplicities (one row per (ok, u, v))
    * are identical to the join form; the planted-hub cap spec and every
    * g/a21 oracle pin that.
    */
  private[graft] def cappedPairs(op: DataFrame, cap: Int): DataFrame = {
    // r19 (guide §5, advice item): the r18 collect_set+slice form held
    // the ENTIRE distinct basket in one unbounded heap buffer before the
    // cap truncated it — exactly the degenerate-hub threat the cap
    // exists for. LowestK (a native TypedImperativeAggregate — the same
    // ObjectHashAggregate machinery collect_set uses; a udaf Aggregator
    // form measured 1-4 s/query of encoder overhead and was replaced)
    // enforces the bound DURING aggregation (buffer ≤ cap+1 entries,
    // map-side included) and returns bit-identically
    // slice(sort_array(collect_set(pk)), 1, cap). Nulls are skipped
    // exactly like collect_set (callers' pk is a non-null l_partkey).
    val baskets = op.groupBy("ok")
      .agg(graft.functions.LowestK.lowestK(col("pk"), cap).as("ps"))
    baskets.select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), size(col("ps")) - i - lit(1)),
          y => struct(x.as("u"), y.as("v")))))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
  }

  /** Undirected part co-occurrence edges (parts sharing an order),
    * stored once per unordered pair as u < v. Shared by g2 and g3.
    */
  private def partCoEdges(s: SparkSession, d: String): DataFrame = {
    // no .distinct() before cappedPairs: collect_set dedups per order
    // inside the one basket aggregation (one shuffle saved)
    val op = lineitem(s, d).select(col("l_orderkey").as("ok"),
      col("l_partkey").as("pk"))
    cappedPairs(op, maxBasket).distinct()
  }

  /** Part co-occurrence pairs (u < v) weighted by the number of orders
    * the two parts share. Shared by g4 and g6.
    */
  private def weightedPartPairs(s: SparkSession, d: String): DataFrame =
    cappedPairs(lineitem(s, d).select(col("l_orderkey").as("ok"),
      col("l_partkey").as("pk")), maxBasket) // cappedPairs dedups per order
      .groupBy("u", "v").agg(count(lit(1)).as("w"))

  /** The deterministic seed set g3, g4 and g9 walk from: the nodes of the
    * pair list `e` (u, v) whose id is a multiple of 97.
    */
  private def seeds97(e: DataFrame): DataFrame =
    e.select(col("u").as("node")).union(e.select(col("v").as("node")))
      .filter(pmod(col("node"), lit(97)) === 0).distinct()

  def triangleStats(s: SparkSession, d: String): DataFrame = {
    val e = partCoEdges(s, d).cache()
    val deg = e.select(col("u").as("node")).union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("dg")).cache()
    // orient {u,v} from lower (deg, id) to higher
    val du = deg.select(col("node").as("u"), col("dg").as("du"))
    val dv = deg.select(col("node").as("v"), col("dg").as("dv"))
    val oriented = e.join(du, "u").join(dv, "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
          .otherwise(col("u")).as("dst"))
      .cache()
    val wedges = oriented.as("e1").join(oriented.as("e2"),
      col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("apex"), col("e1.dst").as("x"), col("e2.dst").as("y"))
    // a wedge closes iff {x,y} is an edge. Wedge (x, y) is id-ordered
    // (the e1.dst < e2.dst join bound), so normalize each oriented edge
    // to id order once — one closing row per edge, half the union-both-
    // ways table this previously shuffled
    val closing = oriented.select(
      least(col("src"), col("dst")).as("cx"),
      greatest(col("src"), col("dst")).as("cy"))
    // The wedge set is Θ(Σ outdeg²) — 34× the edge count on this graph
    // — while closing is exactly edge-sized. Shuffling wedges to meet
    // closing moves the big side to the small one; broadcasting closing
    // keeps the wedge stream map-side and it never touches an exchange.
    // Data-driven, not unconditional: past ~4M edges (~64 MB of two
    // longs) fall back to the shuffled semi-join rather than OOM the
    // executors — the measured edge count (cached, needed for the shape
    // row anyway) makes the call, the same broadcast discipline as j1/j8.
    val closingSide =
      if (e.count() <= 4000000L) broadcast(closing) else closing
    val tri = wedges.join(closingSide,
      col("x") === col("cx") && col("y") === col("cy"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val shape = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes"),
        sum(col("dg") * (col("dg") - 1) / 2).cast("double").as("n_wedges")))
    shape.crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
          .as("transitivity"))
  }

  /** g7 — graph FEATURE PROPAGATION (the message-passing aggregation
    * layer of GraphSAGE/GCN, Hamilton et al. 2017 / Kipf & Welling
    * 2017, run as a dataflow): each round every node's feature becomes
    * the mean of its own and its neighbors' features — the smoothing
    * primitive GNN inference reduces to when the weights are identity
    * (simplified-GCN, Wu et al. 2019), and the label/feature-imputation
    * pass feature stores run over entity graphs. Features are part
    * prices in EXACT integer cents and each round's mean uses
    * TRUNCATING integer division (ts7's cross-engine discipline:
    * Scala `div` ≡ DuckDB `//` on non-negatives), so every round's
    * state is bit-identical across engines and the whole unrolled
    * computation is fully oracled — no fp drift ever accumulates.
    *
    * Shape at scale: per round ONE join of the undirected edge list
    * with the current feature table + one hash agg, both partitioned
    * on the node key (g4's relaxation shape); the feature table is
    * node-sized, edges never duplicate beyond the 2|E| undirected
    * view, and `rounds` is a small constant. No windows, no driver
    * materialization.
    */
  def featurePropagation(s: SparkSession, d: String, rounds: Int = 2): DataFrame = {
    val e = partCoEdges(s, d).cache()
    val und = e.union(e.select(col("v").as("u"), col("u").as("v"))).cache()
    val feat = part(s, d).select(col("p_partkey").as("node"),
      expr("cast(round(p_retailprice * 100) as bigint)").as("h"))
    val nodes = und.select(col("u").as("node")).distinct()
    val h0 = nodes.join(feat, "node").localCheckpoint()
    // the output carries every round's features: keep each leaf
    val states = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val last = Iterate("featurePropagation", h0, rounds) { (h, _) =>
      states += h
      val nb = und.select(col("u").as("node"), col("v").as("nbr"))
      val hn = h.select(col("node").as("nbr"), col("h").as("nh"))
      Some(nb.join(hn, "nbr")
        .groupBy("node").agg(sum("nh").as("sn"), count(lit(1)).as("cn"))
        .join(h, "node")
        .select(col("node"), expr("(h + sn) div (1 + cn)").as("h")))
    }
    states += last
    Seq(und, e).foreach(_.unpersist())
    states.zipWithIndex
      .map { case (df, i) => df.select(col("node"), col("h").as(s"h$i")) }
      .reduce((a, b) => a.join(b, "node"))
      .orderBy("node")
  }

  /** Multi-source BFS hop distances over a DIRECTED edge list
    * `(src, dst)` from a seed set `(node)`. Level-synchronous
    * frontier expansion: each hop joins only the NEW frontier — the
    * rows with `dist = hop - 1` in the one settled-state leaf — against
    * edges and anti-joins the settled set. A round is one checkpoint job
    * plus an emptiness test of the new level in that leaf, the
    * termination condition. The state is |reached| rows — the textbook
    * Pregel/BSP equivalent without per-vertex messaging.
    */
  def bfsDistances(edges: DataFrame, sources: DataFrame,
      maxHops: Int = 20): DataFrame = {
    val seeds = sources.select(col("node"), lit(0L).as("dist"))
      .distinct().localCheckpoint()
    // a union stacks its inputs' partitions: keep the state one shuffle wide,
    // or every round's frontier scan widens with it (measured +65% tasks)
    val width = sources.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    Iterate("bfsDistances", seeds, maxHops,
        until = (dist, hop) => dist.filter(col("dist") === hop).isEmpty) { (dist, hop) =>
      val frontier = dist.filter(col("dist") === hop - 1)
      Some(frontier.join(edges, frontier("node") === edges("src"))
        .select(edges("dst").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .select(col("node"), lit(hop.toLong).as("dist"))
        .union(dist).coalesce(width))
    }
  }

  /** g3 — BFS reachability/distance on the part co-occurrence graph from
    * a deterministic multi-source seed set (partkey % 97 = 0). The
    * undirected pair list symmetrizes into a directed edge list first.
    */
  def partBfs(s: SparkSession, d: String): DataFrame = {
    val e = partCoEdges(s, d).cache()
    val sym = e.select(col("u").as("src"), col("v").as("dst"))
      .union(e.select(col("v").as("src"), col("u").as("dst")))
    val dist = bfsDistances(sym, seeds97(e))
    e.unpersist()
    dist.orderBy("node")
  }

  /** g9 — WEIGHTED multi-seed shortest paths (hop-bounded Bellman–Ford
    * with frontier-limited relaxation — SPFA): g3's BFS answers "how
    * many hops", this answers "how cheap" under per-edge INTEGER
    * weights (wt = 1 + (u+v) mod 7, symmetric and a pure function of
    * the endpoints, so both engines weight identical edges). Each round
    * relaxes only from nodes whose distance IMPROVED last round — by
    * induction the distance table after round k is exactly the minimum
    * over ≤k-edge paths, so frontier relaxation computes the same
    * k-bounded semantics as textbook Bellman–Ford at frontier-sized
    * (not graph-sized) join cost per round; an empty frontier is the
    * fixpoint (= the true unbounded shortest distance); the frontier is
    * the rows the last round improved, tagged in the state leaf as BFS
    * tags its levels. Declared
    * semantics are `maxHops`-edge-bounded — exact-integer arithmetic,
    * fully oracled: the DuckDB recursive CTE carries (node, dist, hops)
    * and takes the same min. At 100 TB: per-round cost ∝ frontier ×
    * degree, state is one (node, dist) row per reached node, and the
    * hop bound caps the iteration like every production graph engine's
    * max-iterations guard.
    */
  def weightedSssp(s: SparkSession, d: String, maxHops: Int = 8): DataFrame = {
    val e = partCoEdges(s, d).cache()
    val sym = e.select(col("u").as("src"), col("v").as("dst"))
      .union(e.select(col("v").as("src"), col("u").as("dst")))
      .withColumn("wt", lit(1L) + pmod(col("src") + col("dst"), lit(7)))
      .cache()
    val init = seeds97(e).select(col("node"), lit(0L).as("dist"), lit(0).as("hop"))
      .localCheckpoint()
    val dist = Iterate("weightedSssp", init, maxHops,
        until = (dist, hop) => dist.filter(col("hop") === hop).isEmpty) { (dist, hop) =>
      val frontier = dist.filter(col("hop") === hop - 1)
      val cand = frontier.join(sym, frontier("node") === sym("src"))
        .select(sym("dst").as("node"),
          (frontier("dist") + sym("wt")).as("nd"))
        .groupBy("node").agg(min("nd").as("nd"))
      val improved = cand.join(dist, Seq("node"), "left")
        .filter(col("dist").isNull || col("nd") < col("dist"))
        .select(col("node"), col("nd").as("dist"), lit(hop).as("hop"))
      // an improvement is strictly below the old distance, so the min
      // row per node is the improved one (and carries this hop's tag)
      Some(improved.unionByName(dist)
        .groupBy("node").agg(min(struct(col("dist"), col("hop"))).as("m"))
        .select(col("node"), col("m.dist").as("dist"), col("m.hop").as("hop")))
    }
    Seq(sym, e).foreach(_.unpersist())
    dist.select("node", "dist").orderBy("node")
  }

  /** g5 — k-CORE membership on the part co-occurrence graph: peel nodes
    * with degree < k until fixpoint; survivors form the k-core. This is
    * the graph-quality filter real corpus pipelines run on web/link
    * graphs (spam and boilerplate live in the low-core shell), and it is
    * a genuinely different iterative shape from CC/PageRank/BFS: the
    * fixpoint is over a SHRINKING edge set, so per-round cost decreases
    * monotonically — one degree aggregation plus two semi-joins, each
    * keyed on the node id the degree agg already shuffled on.
    *
    * Scale design: state is the surviving edge list (never grows),
    * [[Iterate]]'s per-round leaf cuts lineage, and the only driver values
    * are the per-round edge counts (the termination test). Peeling is
    * monotone, so count equality ⇔ set equality — no expensive
    * anti-join diff. Convergence within [[maxRounds]] is a CONTRACT
    * (CC's discipline): silent truncation would return shell nodes
    * labeled as core, so exhaustion throws instead. The oracle unrolls
    * the same number of peels; extra rounds past the fixpoint are
    * no-ops, so the two always agree when the contract holds.
    */
  def kCoreMembership(s: SparkSession, d: String, k: Int = 3,
      maxRounds: Int = 12): DataFrame = {
    val e0 = partCoEdges(s, d).localCheckpoint()
    val nodes = e0.select(col("u").as("part"))
      .union(e0.select(col("v").as("part"))).distinct()
    var nEdges = e0.count()
    val noPeel = (pruned: DataFrame, _: Int) => {
      val n = pruned.count()
      val same = n == nEdges
      nEdges = n
      same
    }
    val edges = Iterate(s"$k-core peeling", e0, maxRounds, until = noPeel,
        mustConverge = true) { (edges, _) =>
      val keep = edges.select(col("u").as("node"))
        .union(edges.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k).select("node")
      Some(edges
        .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .select("u", "v"))
    }
    val core = edges.select(col("u").as("part"))
      .union(edges.select(col("v").as("part"))).distinct()
    nodes.join(core.select(col("part"), lit(1).as("c")), Seq("part"), "left")
      .select(col("part"),
        coalesce(col("c"), lit(0)).cast("int").as("in_core"))
      .orderBy("part")
  }

  /** Unrolled k-core peel oracle: `rounds` chained MATERIALIZED CTEs
    * (deg filter + edge restriction per round). Mirrors [[kCoreMembership]]
    * exactly because peeling past the fixpoint is a no-op.
    */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT node, count(*) AS dg FROM (
         |      SELECT u AS node FROM e${r - 1}
         |      UNION ALL SELECT v FROM e${r - 1}) GROUP BY node)
         |  WHERE dg >= $k),
         |e$r AS MATERIALIZED (
         |  SELECT u, v FROM e${r - 1}
         |  WHERE u IN (SELECT node FROM d$r)
         |    AND v IN (SELECT node FROM d$r))""".stripMargin
    }.mkString(",\n")
    s"""WITH op AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.pk AS u, b.pk AS v
       |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
       |$steps,
       |nodes AS (
       |  SELECT u AS part FROM e0 UNION SELECT v FROM e0),
       |core AS (
       |  SELECT u AS part FROM e$rounds UNION SELECT v FROM e$rounds)
       |SELECT n.part,
       |  CAST(CASE WHEN c.part IS NULL THEN 0 ELSE 1 END AS INT) AS in_core
       |FROM nodes n LEFT JOIN core c ON n.part = c.part
       |ORDER BY n.part""".stripMargin
  }

  /** Unrolled 10-step PageRank oracle (recursive CTEs can reference the
    * previous state only once; the dangling-mass term needs it twice, so
    * the iteration is generated as chained CTEs instead). Every CTE is
    * MATERIALIZED: DuckDB otherwise inlines the whole chain — ~30 copies
    * of the 4-table edge build — and runs out of file handles.
    */
  /** g6 — synchronous LABEL PROPAGATION communities on the weighted part
    * co-occurrence graph: every node starts as its own label; each round
    * it adopts the label with the highest total incident edge weight
    * (ties → smallest label, so the fixpoint is deterministic), for a
    * FIXED round count — bounding rounds is what makes an iterative
    * heuristic exactly oracle-able (g4's discipline). Scale shape: the
    * pair build reuses the basket-capped self-join; each round is one
    * hash join (labels ⋈ edges on dst), one (src, label) map-side-
    * combinable weight agg, and one per-src argmax window — the window
    * shuffles on src, the SAME key the agg hashed on, so the exchange is
    * reused; [[Iterate]] checkpoints the labels every round.
    * Weights are integer co-occurrence counts — no fp in the argmax.
    */
  def labelPropagation(s: SparkSession, d: String, rounds: Int = 4): DataFrame = {
    val pairs = weightedPartPairs(s, d)
    val und = pairs
      .select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionByName(pairs.select(col("v").as("src"), col("u").as("dst"), col("w")))
      .cache()
    val nodes = und.select(col("src").as("node")).distinct()
    val init = nodes.withColumn("label", col("node")).localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(desc("ws"), asc("label"))
    val labels = Iterate("labelPropagation", init, rounds) { (labels, _) =>
      val best = und
        .join(labels.select(col("node").as("dst"), col("label")), "dst")
        .groupBy("src", "label").agg(sum("w").as("ws"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("src").as("node"), col("label").as("newl"))
      Some(labels.join(best, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("newl"), col("label")).as("label")))
    }
    und.unpersist()
    labels.orderBy("node")
  }

  /** Unrolled label-propagation oracle: same bounded rounds, same
    * (weight desc, label asc) argmax tie-break, replayed as chained
    * MATERIALIZED CTEs (the pageRankOracle pattern).
    */
  private def labelPropOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""l$r AS MATERIALIZED (
         |  SELECT p.node, coalesce(b.label, p.label) AS label
         |  FROM l${r - 1} p LEFT JOIN (
         |    SELECT src AS node, label FROM (
         |      SELECT e.src, p2.label, sum(e.w) AS ws,
         |        row_number() OVER (PARTITION BY e.src
         |          ORDER BY sum(e.w) DESC, p2.label) AS rn
         |      FROM und e JOIN l${r - 1} p2 ON p2.node = e.dst
         |      GROUP BY e.src, p2.label)
         |    WHERE rn = 1) b ON b.node = p.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH op AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |pairs AS MATERIALIZED (
       |  SELECT a.pk AS u, b.pk AS v, CAST(count(*) AS BIGINT) AS w
       |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2),
       |und AS MATERIALIZED (
       |  SELECT u AS src, v AS dst, w FROM pairs
       |  UNION ALL SELECT v, u, w FROM pairs),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, src AS label FROM und),
       |$steps
       |SELECT node, label FROM l$rounds ORDER BY node""".stripMargin
  }

  /** The trade-graph CTEs (e0, edges, nodes) both rank oracles open with. */
  private val tradeGraphCtes =
    """e0 AS MATERIALIZED (
      |  SELECT c_nationkey AS src, s_nationkey AS dst,
      |    CAST(count(*) AS DOUBLE) AS cnt
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2),
      |edges AS MATERIALIZED (
      |  SELECT src, dst,
      |    round(cnt / sum(cnt) OVER (PARTITION BY src), 12) AS w
      |  FROM e0),
      |nodes AS MATERIALIZED (
      |  SELECT src AS node FROM e0 UNION SELECT dst FROM e0),""".stripMargin

  private def pageRankOracle: String = {
    val steps = (1 to 10).map { i =>
      s"""pr$i AS MATERIALIZED (
         |  SELECT n.node,
         |    round((SELECT 0.15/n FROM nn) + 0.85*(coalesce(im.mass, 0) +
         |      (SELECT coalesce(sum(rank), 0) FROM pr${i - 1}
         |       WHERE node IN (SELECT node FROM dang)) / (SELECT n FROM nn)), 12)
         |      AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS dnode, sum(p.rank * e.w) AS mass
         |    FROM edges e JOIN pr${i - 1} p ON p.node = e.src GROUP BY 1) im
         |    ON n.node = im.dnode)""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |$tradeGraphCtes
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |dang AS MATERIALIZED (
       |  SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM e0)),
       |pr0 AS MATERIALIZED (
       |  SELECT node, 1.0/(SELECT n FROM nn) AS rank FROM nodes),
       |$steps
       |SELECT node AS nationkey, rank FROM pr10 ORDER BY 1""".stripMargin
  }

  private def personalizedPageRankOracle: String = {
    val steps = (1 to 10).map { i =>
      s"""pr$i AS MATERIALIZED (
         |  SELECT pv.node,
         |    round(0.15 * pv.p + 0.85*(coalesce(im.mass, 0) +
         |      (SELECT coalesce(sum(rank), 0) FROM pr${i - 1}
         |       WHERE node IN (SELECT node FROM dang)) * pv.p), 12)
         |      AS rank
         |  FROM pvec pv LEFT JOIN (
         |    SELECT e.dst AS dnode, sum(p.rank * e.w) AS mass
         |    FROM edges e JOIN pr${i - 1} p ON p.node = e.src GROUP BY 1) im
         |    ON pv.node = im.dnode)""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |$tradeGraphCtes
       |seeds AS MATERIALIZED (
       |  SELECT n_nationkey AS node FROM nation
       |  JOIN region ON n_regionkey = r_regionkey
       |  WHERE r_name = 'ASIA' AND n_nationkey IN (SELECT node FROM nodes)),
       |ns AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS k FROM seeds),
       |pvec AS MATERIALIZED (
       |  SELECT node, CASE WHEN node IN (SELECT node FROM seeds)
       |    THEN 1.0/(SELECT k FROM ns) ELSE 0.0 END AS p
       |  FROM nodes),
       |dang AS MATERIALIZED (
       |  SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM e0)),
       |pr0 AS MATERIALIZED (SELECT node, p AS rank FROM pvec),
       |$steps
       |SELECT node AS nationkey, rank FROM pr10 ORDER BY 1""".stripMargin
  }

  /** Bounded Bellman-Ford relaxation: after R rounds, `cost(node)` is the
    * cheapest path from any seed using ≤ R edges — the distributed SSSP
    * iterate (each round = one edges⋈dist shuffle + one min-agg, both
    * hash-partitioned on node). Bounding the rounds is what makes the
    * semantics exactly oracle-able: full SSSP's fixpoint is
    * data-dependent, but "cheapest ≤R-hop path" unrolls to R relax
    * layers any engine can replay. [[Iterate]]'s per-round leaf bounds
    * plan lineage.
    */
  def weightedHopCosts(edges: DataFrame, sources: DataFrame,
      rounds: Int = 4): DataFrame = {
    val seeds = sources.select(col("node"), lit(0L).as("cost"))
      .distinct().localCheckpoint()
    Iterate("weightedHopCosts", seeds, rounds) { (dist, _) =>
      val relaxed = dist.join(edges, dist("node") === edges("src"))
        .select(edges("dst").as("node"), (dist("cost") + edges("w")).as("cost"))
      Some(dist.union(relaxed)
        .groupBy("node").agg(min("cost").as("cost")))
    }
  }

  /** g4 — 4-round weighted relaxation on the part co-occurrence graph,
    * edge weight = number of orders the two parts share, seeds as in g3.
    */
  def partWeightedHops(s: SparkSession, d: String): DataFrame = {
    val e = weightedPartPairs(s, d).cache()
    val sym = e.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .union(e.select(col("v").as("src"), col("u").as("dst"), col("w")))
    weightedHopCosts(sym, seeds97(e)).orderBy("node")
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("g4_weighted_hops", partWeightedHops, Some(
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT a.pk AS u, b.pk AS v, count(*) AS w
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2),
        |sym AS MATERIALIZED (
        |  SELECT u AS src, v AS dst, w FROM e
        |  UNION ALL SELECT v, u, w FROM e),
        |seeds AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |  WHERE node % 97 = 0),
        |d0 AS (SELECT node, CAST(0 AS BIGINT) AS cost FROM seeds),
        |d1 AS (SELECT node, min(cost) AS cost FROM (
        |  SELECT * FROM d0 UNION ALL
        |  SELECT s.dst, d.cost + s.w FROM d0 d JOIN sym s ON d.node = s.src)
        |  GROUP BY 1),
        |d2 AS (SELECT node, min(cost) AS cost FROM (
        |  SELECT * FROM d1 UNION ALL
        |  SELECT s.dst, d.cost + s.w FROM d1 d JOIN sym s ON d.node = s.src)
        |  GROUP BY 1),
        |d3 AS (SELECT node, min(cost) AS cost FROM (
        |  SELECT * FROM d2 UNION ALL
        |  SELECT s.dst, d.cost + s.w FROM d2 d JOIN sym s ON d.node = s.src)
        |  GROUP BY 1),
        |d4 AS (SELECT node, min(cost) AS cost FROM (
        |  SELECT * FROM d3 UNION ALL
        |  SELECT s.dst, d.cost + s.w FROM d3 d JOIN sym s ON d.node = s.src)
        |  GROUP BY 1)
        |SELECT node, cost FROM d4 ORDER BY node""".stripMargin)),
    QueryDef("g7_feature_prop", (s, d) => featurePropagation(s, d), Some(
      // two unrolled mean-with-self rounds in exact integer cents with
      // truncating //, so both engines walk bit-identical state; the
      // basket cap is a no-op at test SFs (g2/g3's oracle precedent)
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
        |sym AS MATERIALIZED (
        |  SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |feat AS (
        |  SELECT p_partkey AS node,
        |    CAST(round(p_retailprice * 100) AS BIGINT) AS h
        |  FROM part),
        |s0 AS (
        |  SELECT f.node, f.h FROM feat f
        |  WHERE f.node IN (SELECT u FROM sym)),
        |s1 AS (
        |  SELECT s.u AS node,
        |    CAST((hs.h + sum(hn.h)) // (1 + count(*)) AS BIGINT) AS h
        |  FROM sym s JOIN s0 hs ON hs.node = s.u JOIN s0 hn ON hn.node = s.v
        |  GROUP BY s.u, hs.h),
        |s2 AS (
        |  SELECT s.u AS node,
        |    CAST((hs.h + sum(hn.h)) // (1 + count(*)) AS BIGINT) AS h
        |  FROM sym s JOIN s1 hs ON hs.node = s.u JOIN s1 hn ON hn.node = s.v
        |  GROUP BY s.u, hs.h)
        |SELECT s0.node, s0.h AS h0, s1.h AS h1, s2.h AS h2
        |FROM s0 JOIN s1 USING (node) JOIN s2 USING (node)
        |ORDER BY s0.node""".stripMargin)),
    QueryDef("g1_pagerank", nationPageRank, Some(pageRankOracle)),
    QueryDef("g8_personalized_rank", (s, d) => regionPersonalizedRank(s, d),
      Some(personalizedPageRankOracle)),
    // UNION (not UNION ALL) recursion: DuckDB's semi-naive evaluation
    // dedups (node, dist) states, so the walk is |nodes|·maxHops bounded
    // instead of path-enumerating; min() collapses to hop distance
    QueryDef("g3_bfs_distance", partBfs, Some(
      """WITH RECURSIVE op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
        |sym AS MATERIALIZED (
        |  SELECT u AS src, v AS dst FROM e
        |  UNION ALL SELECT v, u FROM e),
        |seeds AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |  WHERE node % 97 = 0),
        |walk(node, dist) AS (
        |  SELECT node, 0 FROM seeds
        |  UNION
        |  SELECT s.dst, w.dist + 1
        |  FROM walk w JOIN sym s ON s.src = w.node WHERE w.dist < 20)
        |SELECT node, CAST(min(dist) AS BIGINT) AS dist
        |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("g9_weighted_sssp", (s, d) => weightedSssp(s, d), Some(
      // the same walk with (dist, hops) carried: min over ≤8-edge paths
      // under the endpoint-derived integer weights — exact arithmetic,
      // g3's recursion discipline
      """WITH RECURSIVE op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
        |symw AS MATERIALIZED (
        |  SELECT u AS src, v AS dst, 1 + (u + v) % 7 AS wt FROM e
        |  UNION ALL SELECT v, u, 1 + (u + v) % 7 FROM e),
        |seeds AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |  WHERE node % 97 = 0),
        |walk(node, dist, hops) AS (
        |  SELECT node, 0, 0 FROM seeds
        |  UNION
        |  SELECT s.dst, w.dist + s.wt, w.hops + 1
        |  FROM walk w JOIN symw s ON s.src = w.node WHERE w.hops < 8)
        |SELECT node, CAST(min(dist) AS BIGINT) AS dist
        |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("g5_kcore", (s, d) => kCoreMembership(s, d),
      Some(kCoreOracle(3, 12))),
    QueryDef("g6_label_propagation", (s, d) => labelPropagation(s, d),
      Some(labelPropOracle(4))),
    QueryDef("g2_triangle_count", triangleStats, Some(
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS (
        |  SELECT node, count(*) AS dg FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY 1),
        |tri AS (
        |  SELECT count(*) AS n_triangles
        |  FROM e e1 JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT
        |  (SELECT count(*) FROM deg) AS n_nodes,
        |  (SELECT count(*) FROM e) AS n_edges,
        |  tri.n_triangles,
        |  round(3.0 * tri.n_triangles /
        |    (SELECT CAST(sum(dg*(dg-1)/2) AS DOUBLE) FROM deg), 6)
        |    AS transitivity
        |FROM tri""".stripMargin)))
}
