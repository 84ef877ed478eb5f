package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Store

/** Distributed property graph + Cypher-subset executor (SURVEY §2.8 G1-G7).
  *
  * The reference keeps the WHOLE graph on one node as dense numpy adjacency
  * matrices per relationship (/root/reference/client.py:757-816) and
  * evaluates MATCH by repeated matrix-vector products
  * (client.py:1088-1186). That caps the graph at one machine's RAM and
  * makes expansion O(V²). Here the graph is two DataFrames —
  * vertices(name, label) and edges(src, dst, rel) — partitioned like any
  * other table, and a MATCH compiles to a chain of equi-joins on edge
  * endpoints: hop = one shuffle (or broadcast when the frontier is small),
  * shared pattern variables = join conditions between triple outputs. This
  * is the GraphFrames `find` evaluation strategy, expressed directly.
  *
  * Node identity = the `name` attribute when present; otherwise the full
  * attribute map, serialized canonically (the reference merges on the
  * attribute map — client.py:841-889 — and its own corpus always carries a
  * unique 'name'; see [[PropertyGraph.identityOf]]).
  */
final case class PropertyGraph(vertices: DataFrame, edges: DataFrame) {

  /** Edge frame normalized to carry the `eattrs` property map — callers
    * may supply bare (src, dst, rel) frames (the pre-edge-property shape,
    * and the natural hand-built fixture); they behave as all-empty maps. */
  private def edgesN: DataFrame =
    if (edges.columns.contains("eattrs")) edges
    else edges.withColumn("eattrs", typedLit(Map.empty[String, String]))

  /** G1/G2 MERGE: upsert the nodes and edges of one chain, as each
    * frame's keep-on-key insert ([[graft.core.Store.insertAbsent]]): of
    * the statement's own identities — node `name`s, edge (src, dst,
    * rel)s — append only those not stored yet, as literal rows.
    * Idempotent: re-merging an existing node/edge appends nothing, so the
    * existing row always wins (the reference's match-by-attributes no-op
    * case, client.py:876-889) — a re-merge with a different label, attrs
    * or edge properties keeps the stored row.
    *
    * Plan shape: a session graph grown from [[PropertyGraph.empty]] is
    * matched and appended on the driver and stays ONE local relation, so
    * a later MATCH plans over a flat scan however many MERGEs preceded it
    * (the reference's in-memory upsert property); any other frame gets
    * one probe and a union, no join, aggregate or shuffle. Existing rows
    * are never rewritten: a caller-supplied edge frame that already holds
    * duplicate identity rows keeps them (MATCH is set-semantic, so its
    * results are unaffected). */
  def merge(stmt: Cypher.Merge): PropertyGraph = {
    val ns = stmt.chain.nodes.map(n =>
      (PropertyGraph.identityOf(n.label, n.attrs), n.label.getOrElse(""), n.attrs))
    val es = stmt.chain.rels.zipWithIndex.map { case (r, k) =>
      require(r.minHops == 1 && r.maxHops == 1,
        "MERGE cannot take a variable-length edge (*m..n is MATCH-only)")
      r.dir match {
        case Cypher.Out => (ns(k)._1, ns(k + 1)._1, r.typ, r.attrs)
        case Cypher.In => (ns(k + 1)._1, ns(k)._1, r.typ, r.attrs)
        case Cypher.Both => throw new IllegalArgumentException(
          "MERGE requires a directed edge (-[:R]-> or <-[:R]-)")
      }
    }
    // within-statement duplicates resolved driver-side, first occurrence
    // wins (deterministic — ns/es are in statement order)
    val newV = ns.distinctBy(_._1).map { case (n, l, a) =>
      Map("name" -> n, "label" -> l, "attrs" -> a) }
    val newE = es.distinctBy(t => (t._1, t._2, t._3)).map { case (s, d, r, a) =>
      Map("src" -> s, "dst" -> d, "rel" -> r, "eattrs" -> a) }
    def merged(df: DataFrame, keys: Seq[String], rows: Seq[Map[String, Any]]): DataFrame = {
      val s = Store.of(df)
      s.insertAbsent(keys, s.newRows(rows)).frame
    }
    PropertyGraph(merged(vertices, Seq("name"), newV),
      if (newE.isEmpty) edgesN else merged(edgesN, Seq("src", "dst", "rel"), newE))
  }

  def merge(cypher: String): PropertyGraph = Cypher.parse(cypher) match {
    case m: Cypher.Merge => merge(m)
    case _ => throw new IllegalArgumentException(s"not a MERGE: $cypher")
  }

  /** G3 node scan by label/attributes → single-column frame of node names.
    * All attributes in the pattern's map must match (the reference's
    * multi-attribute set intersection, client.py:841-860). */
  private def nodesFor(pat: Cypher.NodePat, as: String): Option[DataFrame] = {
    if (pat.label.isEmpty && pat.attrs.isEmpty) return None
    var v = vertices
    pat.label.foreach(l => v = v.filter(col("label") === l))
    pat.attrs.foreach { case (k, value) =>
      if (k == "name") v = v.filter(col("name") === value)
      else v = v.filter(col("attrs").getItem(k) === value)
    }
    Some(v.select(col("name").as(as)))
  }

  /** Truncate the accumulated mutation lineage in-memory (localCheckpoint) —
    * plan depth back to 1 without parquet IO. For statement streams where
    * durability doesn't matter (session-local graphs); use [[compact]] to
    * land the state on disk. */
  def checkpointLocal(): PropertyGraph =
    PropertyGraph(vertices.localCheckpoint(), edges.localCheckpoint())

  /** Connected components over the (optionally rel-filtered) edge set,
    * treated as UNDIRECTED: every vertex appears exactly once with the
    * minimum node name reachable from it as its component representative;
    * isolated vertices are their own singletons. Delegates to
    * [[graft.llm.Dedup.clusters]] — bounded driver union-find when the
    * edge list fits (edges ≤ 2M), distributed min-label propagation
    * above, identical representatives either way — so the graph surface
    * and the dedup pipeline share ONE closure implementation. */
  def connectedComponents(rels: Seq[String] = Nil): DataFrame = {
    val es = (if (rels.isEmpty) edges
      else edges.filter(col("rel").isin(rels: _*)))
      .select(col("src").as("a"), col("dst").as("b"))
    val cl = graft.llm.Dedup.clusters(es).withColumnRenamed("doc_id", "node")
    vertices.select(col("name").as("node"))
      .join(cl, Seq("node"), "left")
      .select(col("node"), coalesce(col("rep"), col("node")).as("rep"))
  }

  /** PageRank in EXACT integer fixed-point arithmetic: ranks are scaled
    * by `scale` (initial rank = scale), a round is
    * `rank' = (15·scale) div 100 + (85·Σ contribs) div 100` with
    * `contrib = (rank·w) div Σw` over the source's out-edges — damping
    * 0.85 as integer multiply-then-divide. Unweighted (the default) sets
    * w = 1, so contrib = rank div outDegree, the textbook form. Integer
    * addition commutes exactly, so results are reproducible across
    * partitionings, runs, and engines, where float PageRank depends on
    * summation order. Dangling mass is dropped (the standard simplified
    * formulation — ranks need not sum to n·scale). `iters` is capped so
    * the plan is a fixed-depth join tree: one groupBy-on-dst shuffle per
    * round plus a broadcast-sized out-weight side; no driver-side
    * iteration state.
    *
    * `weight` (round-7 growth — the edge-importance variant every
    * interaction graph wants): a Column over the EDGE frame (src / dst /
    * rel / eattrs in scope — e.g.
    * `coalesce(element_at(eattrs, "w").cast("long"), 1)`), cast to long;
    * integral weights keep the fixed point exact. Edges with NULL or
    * non-positive weight are dropped (they would poison the integer
    * sums). Overflow headroom: rank·w stays in a long while
    * max-rank · max-weight < 2^63 — at the default scale that is weights
    * to ~10^12 on ~10^5-rank graphs. */
  def pageRank(iters: Int = 2, rels: Seq[String] = Nil,
               scale: Long = 1000000L,
               weight: Option[Column] = None): DataFrame = {
    require(iters >= 0 && iters <= 8, s"iters must be in 0..8, got $iters")
    val base = (if (rels.isEmpty) edgesN
      else edgesN.filter(col("rel").isin(rels: _*)))
    val es = base
      .select(col("src"), col("dst"),
        weight.map(_.cast("long")).getOrElse(lit(1L)).as("w"))
      .filter(col("w").isNotNull && col("w") > 0)
    val outW = es.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
    var ranks = vertices.select(col("name").as("node"),
      lit(scale).as("rank"))
    (0 until iters).foreach { _ =>
      val contribs = es
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(outW, Seq("src"))
        .select(col("dst").as("node"), expr("(rank * w) div wsum").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("cin"))
      ranks = vertices.select(col("name").as("node"))
        .join(contribs, Seq("node"), "left")
        .select(col("node"), coalesce(col("cin"), lit(0L)).as("cin"))
        // integral `div` (not `/`, which widens to double) keeps every
        // step exact — the whole point of the fixed-point formulation
        .select(col("node"),
          expr(s"${15L * scale / 100L}L + (85L * cin) div 100L").as("rank"))
    }
    ranks
  }

  /** Personalized PageRank (growth — the recommendation/similar-node
    * workhorse): [[pageRank]]'s exact integer fixed-point arithmetic with
    * ALL teleport mass at `source` — rank₀ = scale·[v = source], round =
    * `rank' = [v = source]·(15·scale) div 100 + (85·Σ contribs) div 100`.
    * Ranks measure proximity to the source through directed edges;
    * integer sums keep iterated ranks partition- and engine-
    * reproducible. Same fixed-depth plan discipline as pageRank. */
  def personalizedPageRank(source: String, iters: Int = 2,
                           rels: Seq[String] = Nil,
                           scale: Long = 1000000L): DataFrame = {
    require(iters >= 0 && iters <= 8, s"iters must be in 0..8, got $iters")
    val es = (if (rels.isEmpty) edges
      else edges.filter(col("rel").isin(rels: _*)))
      .select(col("src"), col("dst"))
    val outDeg = es.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
    val teleport = when(col("node") === source, lit(15L * scale / 100L))
      .otherwise(lit(0L))
    var ranks = vertices.select(col("name").as("node"),
      when(col("name") === source, lit(scale)).otherwise(lit(0L)).as("rank"))
    (0 until iters).foreach { _ =>
      val contribs = es
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(outDeg, Seq("src"))
        .select(col("dst").as("node"), expr("rank div odeg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("cin"))
      ranks = vertices.select(col("name").as("node"))
        .join(contribs, Seq("node"), "left")
        .select(col("node"), coalesce(col("cin"), lit(0L)).as("cin"))
        .select(col("node"),
          (teleport + expr("(85 * cin) div 100")).as("rank"))
    }
    ranks
  }

  /** Unweighted shortest-path distances from `source` by BFS frontier
    * expansion (growth — with [[connectedComponents]]/[[pageRank]], the
    * graph-analytics trio the reference's MATCH-only surface lacks):
    * returns (node, dist) for every node within `maxHops` of the source,
    * dist = fewest hops, source at 0. Undirected by default (a path
    * follows edges either way, like [[connectedComponents]]); `directed =
    * true` follows src→dst only.
    *
    * Pregel-shaped supersteps: hop h+1 candidates = frontier ⋈ edges (ONE
    * equi-join shuffle on the frontier, never vertices×edges), minus the
    * already-reached set (anti-join against ≤maxHops persisted layers).
    * Each layer is persisted WITH lineage (MEMORY_AND_DISK — recomputable
    * after executor loss, unlike a localCheckpoint pin) so the per-hop
    * emptiness probe and the next join never re-expand earlier frontiers.
    * The driver holds hop counters only, no node data; `maxHops ≤ 16`
    * caps plan depth the way `iters ≤ 8` does for pageRank. Early exit
    * when a frontier empties, so dense cores stop at the graph's actual
    * eccentricity, not the cap. */
  def bfsDistances(source: String, maxHops: Int, rels: Seq[String] = Nil,
                   directed: Boolean = false): DataFrame = {
    require(maxHops >= 0 && maxHops <= 16,
      s"maxHops must be in 0..16, got $maxHops")
    val base = (if (rels.isEmpty) edges
      else edges.filter(col("rel").isin(rels: _*)))
      .select(col("src").as("u"), col("dst").as("v"))
    val es = if (directed) base
      else base.unionByName(base.select(col("v").as("u"), col("u").as("v")))
    val storage = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val start = vertices.filter(col("name") === source)
      .select(col("name").as("node"), lit(0L).as("dist")).persist(storage)
    val layers = scala.collection.mutable.ArrayBuffer(start)
    var frontier = start
    var hop = 0L
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      val reached = layers.map(_.select(col("node"))).reduce(_ unionByName _)
      val next = frontier.join(es, col("node") === col("u"))
        .select(col("v").as("node")).distinct()
        .join(reached, Seq("node"), "left_anti")
        .select(col("node"), lit(hop).as("dist")).persist(storage)
      layers += next
      frontier = next
    }
    layers.reduce(_ unionByName _)
  }

  /** Per-node triangle counts (growth — completes the graph-analytics
    * quartet with [[connectedComponents]], [[pageRank]], [[bfsDistances]]):
    * (node, n_tri) for every vertex, n_tri = number of distinct undirected
    * triangles through it (0 included). Edge direction and rel type are
    * ignored (optionally filtered by `rels`); parallel edges and
    * self-loops are dropped first — triangles are over the simple graph.
    *
    * The node-iterator formulation every distributed engine uses: orient
    * each edge min(name)→max(name) and dedup (halves the edge list, kills
    * 2-cycles), build wedges by self-joining oriented edges on their
    * common LOWEST endpoint (each triangle generated exactly once, as its
    * lexicographically smallest wedge — no /3 correction or double
    * counting), then close each wedge against the oriented edge list.
    * Three equi-join shuffles total, wedge count bounded by
    * Σ_v C(deg(v),2) — the orientation caps the join fan-out at the
    * SMALLEST endpoint's degree, the standard high-degree-hub mitigation.
    */
  def triangleCounts(rels: Seq[String] = Nil): DataFrame = {
    val base = (if (rels.isEmpty) edges
      else edges.filter(col("rel").isin(rels: _*)))
    val e = base.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val wedges = e.select(col("u"), col("v").as("x"))
      .join(e.select(col("u"), col("v").as("y")), Seq("u"))
      .filter(col("x") < col("y"))
    val tris = wedges.join(
      e.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
    val perNode = tris
      .select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    vertices.select(col("name").as("node"))
      .join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** k-core decomposition by iterative degree peeling (growth — with
    * [[connectedComponents]] / [[pageRank]] / [[bfsDistances]] /
    * [[triangleCounts]], the community-structure member of the analytics
    * family): returns (node, deg) for every vertex of the k-core — the
    * maximal subgraph where every vertex has ≥ k neighbors WITHIN the
    * subgraph — with deg = its degree inside the core. Undirected simple
    * graph (orientation/rel/parallel edges/self-loops dropped first, like
    * [[triangleCounts]]); the empty frame when no k-core exists.
    *
    * Superstep shape: each round restricts the edge list to the current
    * vertex set (two semi-joins), recounts degrees (one partial-agg
    * shuffle on the node key), and drops nodes below k — the textbook
    * parallel peel, which converges to the same fixpoint as sequential
    * peeling. The surviving set only shrinks, so count equality IS set
    * equality and the driver loop (counters only, no node data) exits at
    * the first unchanged round; each round's survivors persist with
    * lineage (MEMORY_AND_DISK, recomputable after executor loss) and the
    * prior round is released, keeping plan depth at one round. Rounds to
    * fixpoint = the graph's peel depth — hub-and-spoke corpora collapse
    * in a handful; `maxRounds` caps pathological chains (a cap exit
    * returns the still-converging superset — size the cap above the
    * expected peel depth). */
  def kCore(k: Int, rels: Seq[String] = Nil, maxRounds: Int = 32,
            shrinkMinNodes: Long = 2000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1 && maxRounds <= 64,
      s"maxRounds must be in 1..64, got $maxRounds")
    val base = (if (rels.isEmpty) edges
      else edges.filter(col("rel").isin(rels: _*)))
    val e = base.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    // (round 16) persist the directional frame for the loop's lifetime:
    // it is read once per round, and un-persisted its lineage re-runs the
    // edge-list distinct (a full shuffle of the raw edge frame) EVERY
    // round — the dominant per-round cost measured at sf0.1. Lineage is
    // kept (MEMORY_AND_DISK), released before returning.
    // (round 17, guide §2.4) the frame persists PARTITIONED BY `a` — the
    // degree count's grouping key — so every round's groupBy(a) reuses the
    // cached layout instead of exchanging the (post-semi-join) edge rows
    // again: one build-time shuffle replaces one per round whenever the
    // survivor probe broadcasts (it preserves partitioning); when the
    // survivor set is too big to broadcast the round plans exactly as
    // before (join exchange dominates either way, no regression).
    var d = e.select(col("u").as("a"), col("v").as("b"))
      .unionByName(e.select(col("v").as("a"), col("u").as("b")))
      .repartition(col("a"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val storage = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var cur = d.select(col("a").as("node")).distinct().persist(storage)
    var curN = cur.count()
    // (round 16 batch 5) node count at the last edge-frame rebuild — the
    // adaptive-shrink trigger below (same measured-removal discipline as
    // kTruss's peel).
    var shrinkN = curN
    var lastDeg: DataFrame = null
    var rounds = 0
    var changed = true
    while (changed && rounds < maxRounds) {
      rounds += 1
      // (round 16) one probe pass over the EDGE frame, not two: deg(a)
      // only counts neighbors b ∈ cur, so the a-side membership test can
      // move AFTER aggregation — a semi join on the group-sized degree
      // frame instead of the edge-sized one. Groups with a ∉ cur
      // aggregate wastefully and are then dropped, but their edge rows
      // were exactly the ones the old a-side semi join had to probe
      // anyway — strictly fewer edge-frame passes per round at any scale.
      val deg = d
        .join(cur.select(col("node").as("b")), Seq("b"), "left_semi")
        .groupBy(col("a")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .join(cur.select(col("node").as("a")), Seq("a"), "left_semi")
        .persist(storage)
      val next = deg.select(col("a").as("node"))
      val nextN = next.count()
      // next ⊆ cur, so equal counts ⇒ equal sets ⇒ degrees this round
      // were computed against the final core itself
      changed = nextN != curN
      cur.unpersist()
      if (lastDeg != null) lastDeg.unpersist()
      lastDeg = deg
      cur = next
      curN = nextN
      // (round 16 batch 5) adaptive edge-frame shrink: every round scans
      // the FULL persisted edge frame even after the typical first-round
      // mass peel has dropped most nodes. When the candidate set has
      // fallen below 7/8 of its size at the last rebuild, rewrite the
      // frame to edges with BOTH endpoints surviving — exact (a dropped
      // endpoint can never re-enter: the set only shrinks, and rows with
      // a ∉ cur fed only discarded groups) — so every later round probes
      // the peeled graph, not the original. One extra pass over the
      // current frame per shrink, amortized by every remaining round;
      // skipped entirely when the loop is about to exit.
      // (round 17) gated by `shrinkMinNodes` — the same driver-held-size
      // ceiling discipline as kTruss's broadcastMaxEdges, in the other
      // direction: below it the full-frame rescans the shrink would save
      // are cheaper than the extra materializing pass it costs (measured
      // at sf0.1, where the shrink was the one attributable round-16
      // regression), while at data sizes where rescans dominate the
      // rewrite pays for itself within a round or two.
      if (changed && nextN * 8 <= shrinkN * 7 && shrinkN >= shrinkMinNodes) {
        val nd = d
          .join(cur.select(col("node").as("a")), Seq("a"), "left_semi")
          .join(cur.select(col("node").as("b")), Seq("b"), "left_semi")
          .persist(storage)
        nd.count() // materialize before releasing the frame it reads
        d.unpersist(blocking = false)
        d = nd
        shrinkN = nextN
      }
    }
    d.unpersist(blocking = false)
    lastDeg.select(col("a").as("node"), col("deg"))
  }

  /** k-truss decomposition (growth — [[kCore]]'s edge-level sibling, a
    * strictly stronger cohesion filter): the maximal subgraph where every
    * EDGE closes ≥ k−2 triangles within the subgraph. Returns
    * (u, v, support) for each surviving oriented edge (u < v), support =
    * its triangle count inside the truss; empty when no k-truss exists.
    *
    * Adaptive support-decrement peel (round-7 rewrite; the round-6
    * version re-ran the FULL wedge join every round): the oriented-wedge
    * triangle count runs once up front; then each round drops edges
    * below k−2 and picks the cheaper of two support updates, decided by
    * the MEASURED removal fraction (both counts are already on the
    * driver):
    *  - mass peel (removals > 1/8 of the edges — the typical first
    *    round, where every triangle-free edge goes at once): recount
    *    support with a full wedge join over the SURVIVOR graph, which
    *    just shrank by that large fraction;
    *  - trickle peel (the long tail of rounds): enumerate only the
    *    triangles INCIDENT to the dropped set — the dropped edge can sit
    *    at any of a canonical triangle's three positions, so three
    *    dropped ⋈ edge-list joins (dropped side explicitly broadcast —
    *    its size is known), deduped on (u,x,y) because a triangle may
    *    lose 2-3 edges in one round but is destroyed once — and
    *    decrement each destroyed triangle's surviving edges by 1; cost
    *    tracks |removed|·degree, not |edges|·degree.
    * By induction the support column always equals the triangle count
    * within the current subgraph, so both arms converge to the same
    * fixpoint as full recounting. Same driver-loop (counters only) /
    * persist-with-lineage / cap discipline as [[kCore]], with the cap
    * exit returning the still-converging superset. */
  def kTruss(k: Int, rels: Seq[String] = Nil, maxRounds: Int = 32,
             broadcastMaxEdges: Long = 2000000L): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(maxRounds >= 1 && maxRounds <= 64,
      s"maxRounds must be in 1..64, got $maxRounds")
    val base = (if (rels.isEmpty) edges
      else edges.filter(col("rel").isin(rels: _*)))
    val e0 = base.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
      // read three times by the initial support count — pay the distinct
      // shuffle once (released as soon as `cur` is materialized)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n0 = e0.count()
    val storage = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // full oriented-wedge support count. The join back to `e` is INNER:
    // a zero-support edge belongs to no triangle, so dropping it right
    // here destroys nothing and owes no decrements — materializing it
    // only to peel it next round (as a left-join-with-0 would) wastes a
    // whole round; no k≥3 truss can contain it.
    // (round 16) two-path join strategy, decided by the edge count the
    // driver already holds (the same documented ceiling discipline as
    // Dedup.broadcastVerifyMaxDocs): at or below `broadcastMaxEdges` the
    // wedge-build, wedge-close and support-attach joins all BROADCAST the
    // edge/support side, so wedges are generated AND closed scan-side —
    // the only exchange left is the tiny per-edge support aggregation.
    // Catalyst cannot pick this itself: `e` is a join+distinct subtree
    // with no reliable size estimate, so it planned sort-merge joins that
    // shuffled every enumerated wedge (~C(deg,2) per vertex — measured
    // 12M wedge rows / ~4 s on the sf0.1 BUYS graph for 23.6k triangles).
    // Above the ceiling: the shuffle plan, unchanged, at any scale.
    def fullSupport(e: DataFrame, nEdges: Long): DataFrame = {
      def b(df: DataFrame): DataFrame =
        if (nEdges <= broadcastMaxEdges) broadcast(df) else df
      val sup = e.select(col("u"), col("v").as("x"))
        .join(b(e.select(col("u"), col("v").as("y"))), Seq("u"))
        .filter(col("x") < col("y"))
        .join(b(e.select(col("u").as("x"), col("v").as("y"))), Seq("x", "y"))
        .select(explode(array(
            struct(col("u").as("a"), col("x").as("b")),
            struct(col("u").as("a"), col("y").as("b")),
            struct(col("x").as("a"), col("y").as("b")))).as("e"))
        .groupBy(col("e.a").as("a"), col("e.b").as("b"))
        .agg(count(lit(1)).as("support"))
      // sup has at most one row per edge, so the edge-count ceiling
      // bounds it too
      e.join(b(sup), col("u") === col("a") && col("v") === col("b"))
        .select(col("u"), col("v"), col("support"))
    }
    var cur = fullSupport(e0, n0).persist(storage)
    // ONE driver action per round (round-16; was two): materializing the
    // persisted frame and reading BOTH loop counters — total edges and
    // the below-threshold count that drives next round's peel — from the
    // same aggregation pass. On iterative jobs the per-job overhead is
    // the dominant small-scale cost (each action is a full job), so
    // halving the action count halves the fixed overhead; at 100× data
    // the same fusion just saves one redundant scan of the persisted
    // frame per round.
    def stats(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        sum(when(col("support") < k - 2, 1L).otherwise(0L))).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var (curN, nR) = stats(cur)
    e0.unpersist(blocking = false) // cur is materialized; e0's job is done
    var rounds = 0
    while (nR > 0 && rounds < maxRounds) {
      rounds += 1
      val removed = cur.filter(col("support") < k - 2)
        .select(col("u"), col("v")).persist(storage)
      val survivors = cur.filter(col("support") >= k - 2)
      val next = (if (nR * 8L > curN) {
          // mass peel: the survivor graph just shrank by >1/8 — a full
          // recount over it beats removal-incident joins whose probe
          // side would be most of the old graph
          fullSupport(survivors.select(col("u"), col("v")), curN - nR)
        } else {
          // trickle peel: touch only triangles incident to the dropped
          // set; nR is known-small here, so the three position joins
          // stay map-side under an explicit broadcast
          val rem = broadcast(removed)
          def as2(df: DataFrame, a: String, b: String): DataFrame =
            df.select(col("u").as(a), col("v").as(b))
          val allE = cur.select(col("u"), col("v"))
          // destroyed triangles (u < x < y): the removed edge at each of
          // the three canonical positions — (u,x), (u,y), (x,y)
          val t1 = as2(rem, "u", "x")
            .join(as2(allE, "u", "y"), Seq("u")).filter(col("x") < col("y"))
            .join(as2(allE, "x", "y"), Seq("x", "y"))
          val t2 = as2(rem, "u", "y")
            .join(as2(allE, "u", "x"), Seq("u")).filter(col("x") < col("y"))
            .join(as2(allE, "x", "y"), Seq("x", "y"))
          val t3 = as2(rem, "x", "y")
            .join(as2(allE, "u", "x"), Seq("x"))
            .join(as2(allE, "u", "y"), Seq("u", "y"))
          val destroyed = t1.select(col("u"), col("x"), col("y"))
            .unionByName(t2.select(col("u"), col("x"), col("y")))
            .unionByName(t3.select(col("u"), col("x"), col("y")))
            .distinct()
          val dec = destroyed.select(explode(array(
              struct(col("u").as("a"), col("x").as("b")),
              struct(col("u").as("a"), col("y").as("b")),
              struct(col("x").as("a"), col("y").as("b")))).as("e"))
            .select(col("e.a").as("a"), col("e.b").as("b"))
            .join(as2(rem, "a", "b"), Seq("a", "b"), "left_anti")
            .groupBy(col("a"), col("b")).agg(count(lit(1)).as("dec"))
          survivors
            .join(dec, col("u") === col("a") && col("v") === col("b"), "left")
            .select(col("u"), col("v"),
              (col("support") - coalesce(col("dec"), lit(0L))).as("support"))
        }).persist(storage)
      // materialize before releasing the prior round; the fused stats
      // pass re-counts rather than subtracts — a mass-peel recount
      // also drops the survivors whose support fell to zero — and
      // reads next round's peel size in the same job
      val s2 = stats(next)
      cur.unpersist(); removed.unpersist()
      cur = next
      curN = s2._1; nR = s2._2
    }
    cur
  }

  /** Weighted single-source shortest paths (growth — the weighted
    * companion of [[bfsDistances]]): (node, dist) with dist = minimum
    * total edge weight over paths of AT MOST `maxHops` edges from
    * `source` (nodes unreachable within the hop bound are absent).
    * Weights come from `weight`, evaluated against the edge frame
    * (src/dst/rel/eattrs in scope — e.g. `element_at(eattrs, "w")` with a
    * default for unweighted rels); integral weights keep distances
    * exact-deterministic across engines. Negative weights are fine
    * (Bellman-Ford, not Dijkstra) — with a hop bound there is no
    * negative-cycle divergence, the answer is simply min over ≤ maxHops
    * hop paths.
    *
    * Superstep shape, one SEMI-NAIVE relaxation round per hop (round 16):
    * candidates = frontier ⋈ edges — the frontier is the nodes whose
    * distance improved last round, never vertices×edges and never the
    * full reached set — unioned with the tagged old table into ONE
    * groupBy(node) exchange per round whose aggregation yields both the
    * new minimum and the old distance, so the next frontier's improved
    * flag costs no second join. The distance table is persisted with lineage
    * (MEMORY_AND_DISK, recomputable after executor loss) and the prior
    * round released, so plan depth stays at one round; the driver holds
    * loop counters only (the improvement count rides the round's
    * materializing action, and an empty frontier is the exact
    * Bellman-Ford fixpoint). `maxHops ≤ 16` caps plan depth like
    * [[bfsDistances]]. */
  def ssspDistances(source: String, maxHops: Int, weight: Column,
                    rels: Seq[String] = Nil,
                    directed: Boolean = false): DataFrame = {
    require(maxHops >= 0 && maxHops <= 16,
      s"maxHops must be in 0..16, got $maxHops")
    val base = (if (rels.isEmpty) edges
      else edges.filter(col("rel").isin(rels: _*)))
      .select(col("src").as("u"), col("dst").as("v"),
        weight.cast("long").as("w"))
    val es = if (directed) base
      else base.unionByName(base.select(col("v").as("u"), col("u").as("v"),
        col("w")))
    val storage = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // (round 16) SEMI-NAIVE relaxation — the discipline the recursive
    // CTEs already follow: each round relaxes only edges out of the
    // FRONTIER (nodes whose distance improved last round), not out of
    // every reached node. Standard Bellman-Ford induction: a node whose
    // distance did not change in round r−1 contributed its relaxations
    // in round r−1 already, so dropping it from round r's probe changes
    // nothing — dist after r rounds is still exactly the min over
    // ≤r-hop paths, and the fixpoint is unchanged. The frontier-incident
    // join shrinks with convergence instead of growing with reach (the
    // old full-reach join re-relaxed the whole edge list every round).
    // Convergence = an empty frontier (nothing improved — exact, no
    // witness arithmetic needed); the improvement count rides the same
    // action that materializes the round's table (one job per round).
    var dist = vertices.filter(col("name") === source)
      .select(col("name").as("node"), lit(0L).as("dist"),
        lit(true).as("imp")).persist(storage)
    var frontier = dist.select(col("node"), col("dist"))
    var nImp = 1L
    var hop = 0
    // one relaxation: candidates out of `front` unioned with the tagged
    // old table into ONE groupBy(node) aggregation that yields the new
    // minimum AND the pre-round distance (`graft_odist`, carried forward
    // by min() — at most one tagged row per node holds it, candidate rows
    // contribute NULL), so the improved flag costs no second join.
    def relax(cur: DataFrame, front: DataFrame): DataFrame = {
      val cand = front.join(es, col("node") === col("u"))
        .select(col("v").as("node"), (col("dist") + col("w")).as("dist"),
          lit(null).cast("long").as("graft_odist"))
      cur.unionByName(cand)
        .groupBy(col("node"))
        .agg(min(col("dist")).as("dist"),
          min(col("graft_odist")).as("graft_odist"))
    }
    // (round 17, guide §1.2) TWO relaxations per materialized round: the
    // driver pays one job + one persisted table per PAIR of hops instead
    // of per hop (halved loop actions; exchange count per relaxation is
    // unchanged at one). Exact by the relaxation-schedule argument: after
    // any schedule of r rounds that relaxes at least the improved-node
    // frontier each round, dist(v) is exactly min over ≤ r-hop paths —
    // chaining the second relaxation inside the same plan is the same
    // schedule, and the inner frontier (improved-in-relaxation-1) is the
    // exact semi-naive set. The pair's improved flag compares against the
    // PRE-PAIR distance, so the next pair's frontier is a superset of the
    // exact frontier (nodes improved only by the inner hop re-relax once —
    // redundant but monotone-idempotent, never wrong). An odd maxHops runs
    // its final hop as a single relaxation.
    while (hop < maxHops && nImp > 0) {
      val pair = (maxHops - hop) >= 2
      hop += (if (pair) 2 else 1)
      val tagged = dist.select(col("node"), col("dist"),
        col("dist").as("graft_odist"))
      val step1 = relax(tagged, frontier)
      val stepped =
        if (!pair) step1
        else relax(step1,
          step1.filter(col("graft_odist").isNull ||
              col("dist") < col("graft_odist"))
            .select(col("node"), col("dist")))
      val next = stepped
        .select(col("node"), col("dist"),
          (col("graft_odist").isNull || col("dist") < col("graft_odist"))
            .as("imp"))
        .persist(storage)
      // materialize BEFORE releasing the parent (next's lineage reads
      // dist) and read the loop counter from the same job
      val r = next.agg(sum(when(col("imp"), 1L).otherwise(0L))).head
      nImp = if (r.isNullAt(0)) 0L else r.getLong(0)
      dist.unpersist(blocking = false)
      dist = next
      frontier = next.filter(col("imp")).select(col("node"), col("dist"))
    }
    dist.select(col("node"), col("dist"))
  }

  /** Land the graph on parquet and re-read it — plan depth back to 1.
    * MERGE only appends, but DETACH DELETE and SET each stack a join
    * layer; run after long mutation streams, or to make a session graph
    * durable. Semantics unchanged. */
  def compact(dir: String): PropertyGraph = {
    val spark = vertices.sparkSession
    vertices.write.mode("overwrite").parquet(s"$dir/vertices")
    edges.write.mode("overwrite").parquet(s"$dir/edges")
    PropertyGraph(spark.read.parquet(s"$dir/vertices"),
      spark.read.parquet(s"$dir/edges"))
  }

  /** G4/G5/G6 MATCH: compile comma-separated triple chains into a join tree
    * and project the RETURN items — bound node names, or attribute values
    * (`return n.name`-style, reference client.py:1201-1219, whose RETURN
    * yields whole node dicts; here each addressed attribute is one output
    * column named `var_attr`).
    *
    * Edge direction (reference client.py:805-816): `-[:R]->` reads the edge
    * list as (src=left, dst=right), `<-[:R]-` flips it, and `-[:R]-` matches
    * either orientation (a union of both before the join — final RETURN
    * distinct dedups any self-loop double-match). */
  def query(cypher: String): DataFrame = query(Cypher.parse(cypher))

  /** [[query]] over an already-parsed statement. */
  def query(stmt: Cypher.Stmt): DataFrame = stmt match {
    case m: Cypher.Match => evalMatch(m)
    case w: Cypher.With => evalWith(w)
    case u: Cypher.Unwind => evalUnwind(u)
    case sp: Cypher.ShortestPathStmt => evalShortestPath(sp)
    case _ => throw new IllegalArgumentException(s"not a MATCH: $stmt")
  }

  /** UNWIND (round-10 growth — see [[Cypher.Unwind]]): the literal list
    * becomes a one-column frame piped into the tail like a WITH stage —
    * a MATCH tail re-binding the alias as a node variable anchors on the
    * listed identities (broadcast-sized by construction: the list is a
    * statement literal, so the pipe join is a broadcast probe into the
    * pattern at any graph scale). */
  private def evalUnwind(u: Cypher.Unwind): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    // a MATCH tail re-binding the alias as a NODE variable equi-joins
    // the list against STRING vertex identities — a LongType column
    // there would silently compare empty under Spark's implicit cast
    // (r10 advice), so numeric lists pipe as their string identities
    // when the tail anchors a pattern on them
    val rebindsAsNode = (u.next match {
      case m: Cypher.Match => m.chains ++ m.optional
      case w: Cypher.With => w.chains ++ w.optional
      case _ => Seq.empty
    }).exists(_.nodes.exists(_.variable.contains(u.alias)))
    val df =
      if (!u.values.forall(_.isInstanceOf[Long]))
        u.values.map(_.asInstanceOf[String]).toDF(u.alias)
      else if (rebindsAsNode)
        u.values.map(_.asInstanceOf[Long].toString).toDF(u.alias)
      else u.values.map(_.asInstanceOf[Long]).toDF(u.alias)
    pipeTail(df, Seq(u.alias), u.next)
  }

  /** WITH pipeline (growth — Cypher's multi-stage idiom, e.g.
    * `MATCH … WITH n, count(*) AS c WHERE c > 2 MATCH … RETURN …`).
    * Each stage compiles like a RETURN — the same pattern binder and
    * implicit-grouping aggregation [[evalMatch]] has — then its output
    * frame PIPES into the next segment: the segment binds its own join
    * tree and equi-joins the piped frame on the WITH variables its
    * patterns re-bind (shared names — the same variable-merge rule
    * chains already use). A WHERE between WITH and the next keyword
    * filters the stage's output columns — the graph HAVING. Scoping is
    * Neo4j's: WITH narrows the namespace to its items; downstream
    * references to anything else are rejected (project `n.attr` in the
    * WITH to use it later).
    *
    * 100 TB shape: a stage's aggregate output is group-sized — the
    * pipe join is a summary ⋈ pattern equi-join Catalyst plans like any
    * dimension join (broadcast when small), and stage frames are plain
    * DataFrames, so AQE sizes the exchanges per stage. Aggregation
    * ranges over DISTINCT bindings, as [[evalMatch]] documents. */
  private def evalWith(w: Cypher.With): DataFrame = {
    val stage = evalMatch(
      Cypher.Match(w.chains, w.items.map(_._1), w.wheres, Nil, None, w.optional))
    pipeFrom(stage, w)
  }

  /** Rename a stage's output to its AS aliases, apply the stage's
    * ORDER BY / LIMIT then the post-WITH WHERE (Neo4j's modifier order —
    * the top-k pipeline idiom truncates BEFORE the filter), and evaluate
    * the pipeline tail over the piped frame. ORDER BY + LIMIT plans
    * TakeOrderedAndProject — per-partition top-k + driver merge, no
    * global sort; asc pins nulls-last like the RETURN path. */
  private def pipeFrom(stage: DataFrame, w: Cypher.With): DataFrame = {
    val items = w.items
    val postWheres = w.postWheres
    val next = w.next
    val names = items.map { case (it, al) => al.getOrElse(outName(it)) }
    require(names.distinct.size == names.size,
      s"duplicate WITH output names: ${names.diff(names.distinct).distinct.mkString(", ")}")
    var piped = stage.toDF(names: _*)
    w.orderBy.foreach { case (n, _) =>
      require(names.contains(n),
        s"WITH ORDER BY references '$n' — in scope: ${names.mkString(", ")}") }
    if (w.orderBy.nonEmpty)
      piped = piped.orderBy(w.orderBy.map { case (n, desc) =>
        if (desc) col(n).desc else col(n).asc_nulls_last }: _*)
    w.limit.foreach(n => piped = piped.limit(n))
    // post-WITH WHERE: bare output columns only (attr == "" leaves, the
    // only kind the post-WITH parser builds); numeric literals compare
    // via try_cast-to-long, same coercion as pattern WHEREs
    def pCol(e: Cypher.WExpr): Column = e match {
      case Cypher.Where(v, "", op, value) =>
        require(names.contains(v),
          s"WHERE after WITH references '$v' — in scope: ${names.mkString(", ")}")
        val c = value match {
          case _: Long => col(v).try_cast("long"); case _ => col(v) }
        graft.core.Compare.cmp(c, op, value)
      case Cypher.WAnd(l, r) => pCol(l) && pCol(r)
      case Cypher.WOr(l, r) => pCol(l) || pCol(r)
      case Cypher.WNot(x) => !pCol(x)
      case other => throw new IllegalArgumentException(
        s"unsupported post-WITH predicate: $other")
    }
    postWheres.foreach(e => piped = piped.filter(pCol(e)))
    pipeTail(piped, names, next)
  }

  /** Dispatch a piped frame into the pipeline tail — shared by the WITH
    * stages and UNWIND (whose literal frame pipes identically). */
  private def pipeTail(piped: DataFrame, names: Seq[String],
                       next: Cypher.Stmt): DataFrame =
    next match {
      case w2: Cypher.With =>
        val seg = pipeSegment(piped, names,
          w2.chains, w2.optional, w2.wheres, w2.items.map(_._1))
        pipeFrom(seg, w2)
      case m: Cypher.Match =>
        val seg = pipeSegment(piped, names,
          m.chains, m.optional, m.wheres, m.returns)
        // ORDER BY / LIMIT over the final output columns, same contract
        // and nulls-last pinning as the plain RETURN path
        val retNames = m.returns.map(outName).toSet
        m.orderBy.foreach { case (r, _) =>
          require(retNames.contains(outName(r)),
            s"ORDER BY item ${outName(r)} must appear in RETURN") }
        val ordered =
          if (m.orderBy.isEmpty) seg
          else seg.orderBy(m.orderBy.map { case (r, desc) =>
            if (desc) col(outName(r)).desc
            else col(outName(r)).asc_nulls_last }: _*)
        m.limit.fold(ordered)(ordered.limit)
      // `UNWIND xs AS x` over a piped column (round-11): explode the
      // collected list back to rows — every other piped variable stays
      // in scope (Neo4j's rule). Scan-shaped at any scale: explode is a
      // per-row generator, no shuffle.
      case uc: Cypher.UnwindCol =>
        require(names.contains(uc.column),
          s"UNWIND references '${uc.column}' — in scope: ${names.mkString(", ")}")
        require(piped.schema(uc.column).dataType
          .isInstanceOf[org.apache.spark.sql.types.ArrayType],
          s"UNWIND in a pipeline expands a LIST column (a collect(…) " +
            s"output) — '${uc.column}' is not a list")
        require(uc.alias == uc.column || !names.contains(uc.alias),
          s"UNWIND alias '${uc.alias}' collides with a piped variable")
        val exploded = piped
          .withColumn(s"__unwind_${uc.alias}", explode(col(uc.column)))
          .drop(uc.column)
          .withColumnRenamed(s"__unwind_${uc.alias}", uc.alias)
        pipeTail(exploded, names.filterNot(_ == uc.column) :+ uc.alias, uc.next)
      case other => throw new IllegalArgumentException(
        s"unsupported pipeline tail: $other")
    }

  /** One pipeline segment: bind its patterns (if any) via [[evalMatch]],
    * equi-join the piped frame on the WITH variables the patterns
    * re-bind, then project/aggregate the requested items over the joined
    * bindings. Output columns are named by [[outName]], in item order. */
  private def pipeSegment(piped: DataFrame, pipedNames: Seq[String],
                          chains: Seq[Cypher.Chain], optional: Seq[Cypher.Chain],
                          wheres: Seq[Cypher.WExpr],
                          items: Seq[Cypher.RetItem]): DataFrame = {
    val aggs = items.collect { case a: Cypher.RetAgg => a }
    val plains = items.collect { case r: Cypher.Ret => r }
    require(!plains.exists(_.attr.contains("*")),
      "properties(...) is not available in a pipeline segment — " +
        "return it from a single-stage MATCH")
    val segBound: Set[String] = (chains ++ optional)
      .flatMap(c => c.nodes.flatMap(_.variable) ++ c.rels.flatMap(_.variable))
      .toSet
    def pipedOnly(r: Cypher.Ret): Boolean = !segBound(r.variable)
    val refs = plains ++ aggs.flatMap(_.arg)
    refs.filter(pipedOnly).foreach { r =>
      require(pipedNames.contains(r.variable),
        s"'${outName(r)}' is neither a WITH output (${pipedNames.mkString(", ")}) " +
          "nor bound by this segment's MATCH — project it in the WITH first")
    }
    // WHERE conjuncts splitting (round-10 growth — attribute passthrough):
    // a conjunct over piped variables filters the piped frame directly
    // (`WITH n MATCH … WHERE n.age > 30` no longer demands projecting age
    // in the WITH); a conjunct over segment-bound variables evaluates
    // inside the pattern as before. One conjunct may not mix the two.
    val (pipedWheres, boundWheres) = wheres.partition { e =>
      val ls = Cypher.leaves(e)
      val allPiped = ls.forall(l => !segBound(l.variable))
      require(allPiped || ls.forall(l => segBound(l.variable)),
        "a WHERE conjunct may not mix piped WITH variables with " +
          "segment-bound variables — split it into AND-ed conjuncts")
      allPiped
    }
    pipedWheres.flatMap(Cypher.leaves).foreach { l =>
      require(pipedNames.contains(l.variable),
        s"WHERE references '${l.variable}' — in scope: " +
          s"${(pipedNames ++ segBound.toSeq).distinct.mkString(", ")}")
    }
    // a piped bare NODE variable carries its identity; `v.attr` references
    // downstream (RETURN items, aggregate args, piped WHERE leaves)
    // recover the attribute with ONE left join against the vertices frame
    // per variable — group-sized piped frame ⋈ vertices, a dimension-join
    // shape Catalyst broadcasts when small. `v.name` is the identity
    // itself (no join).
    val attrNeeds: Seq[(String, String)] =
      (refs.collect { case r @ Cypher.Ret(v, Some(a))
           if pipedOnly(r) && a != "*" && a != "name" => (v, a) } ++
        pipedWheres.flatMap(Cypher.leaves).collect {
          case Cypher.Where(v, a, _, _) if a.nonEmpty && a != "name" => (v, a)
        }).distinct
    var pipedE = piped
    refs.collect { case r @ Cypher.Ret(v, Some("name")) if pipedOnly(r) =>
      v }.distinct.foreach { v =>
      if (!pipedE.columns.contains(s"${v}_name"))
        pipedE = pipedE.withColumn(s"${v}_name", col(v))
    }
    attrNeeds.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (v, pairs) =>
      val need = pairs.map(_._2).distinct
        .filterNot(a => pipedE.columns.contains(s"${v}_$a"))
      if (need.nonEmpty) {
        val vdf = vertices.select(
          col("name").as(v) +: need.map(a =>
            col("attrs").getItem(a).as(s"${v}_$a")): _*)
        pipedE = pipedE.join(vdf, Seq(v), "left")
      }
    }
    def pipedCol(e: Cypher.WExpr): Column = e match {
      case Cypher.Where(v, a, op, value) =>
        val target = if (a == "name" || a == "") col(v) else col(s"${v}_$a")
        val c = value match {
          case _: Long => target.try_cast("long"); case _ => target }
        graft.core.Compare.cmp(c, op, value)
      case Cypher.WAnd(l, r) => pipedCol(l) && pipedCol(r)
      case Cypher.WOr(l, r) => pipedCol(l) || pipedCol(r)
      case Cypher.WNot(x) => !pipedCol(x)
    }
    pipedWheres.foreach(e => pipedE = pipedE.filter(pipedCol(e)))
    // a numeric aggregate over a BARE variable is only meaningful for a
    // piped (numeric) column; over a segment-bound node variable it
    // would try_cast identity strings to NULL — same rejection as the
    // single-stage path (evalMatch)
    aggs.foreach { a =>
      require(a.fn == "count" || a.arg.exists(r =>
          r.attr.isDefined || pipedOnly(r)),
        s"${a.fn} over a pattern variable needs a var.attr argument")
    }
    // segment aggregation carries every NAMED variable into the binding
    // set, but an anonymous node has no name to carry — two bindings
    // differing only in the anonymous middle would collapse and count(*)
    // silently undercount (single-stage MATCH carries its __anon columns
    // and does not). Reject up front; the fix is to name the node.
    require(aggs.isEmpty || (chains ++ optional)
        .forall(_.nodes.forall(_.variable.isDefined)),
      "aggregation in a pipeline segment requires every pattern node to " +
        "be NAMED (anonymous nodes cannot join the binding set) — give " +
        "the intermediate node a variable")
    val joined =
      if (chains.isEmpty) pipedE // bare RETURN tail
      else {
        val shared = pipedNames.filter(segBound)
        require(shared.nonEmpty,
          "a pipeline MATCH segment must re-bind at least one WITH variable")
        // aggregation must range over the DISTINCT pattern BINDINGS, not
        // the distinct projected values — include every named variable
        // the segment binds, so two residents of one city stay two rows
        // under count(*) (anonymous endpoints have no name to carry and
        // collapse, a documented narrowing of the single-stage contract)
        val bindingItems =
          if (aggs.isEmpty) Nil
          else (chains ++ optional).flatMap(_.nodes.flatMap(_.variable))
            .distinct.map(v => Cypher.Ret(v, None))
        val segItems = (refs.filterNot(pipedOnly) ++ bindingItems ++
          shared.map(v => Cypher.Ret(v, None))).distinct
        val bound = evalMatch(
          Cypher.Match(chains, segItems, boundWheres, Nil, None, optional))
        // segment bindings are a distinct set, the piped frame is a
        // stage output (also a set) — the equi-join on the shared WITH
        // variables is the pipe
        pipedE.join(bound, shared)
      }
    if (aggs.isEmpty)
      joined.select(items.map(i => col(outName(i))): _*).distinct()
    else {
      val aggCols = aggs.map { a =>
        (a match {
          case Cypher.RetAgg("count", None) => count(lit(1))
          case Cypher.RetAgg("count", Some(r)) => count(col(outName(r)))
          // distinct values, SORTED — deterministic across partitionings
          // (set semantics like the rest of the surface); no numeric
          // coercion: the list keeps the raw string values
          case Cypher.RetAgg("collect", Some(r)) =>
            sort_array(collect_set(col(outName(r))))
          case Cypher.RetAgg(fn, Some(r)) =>
            val c = col(outName(r)).try_cast("long")
            fn match {
              case "sum" => sum(c); case "avg" => avg(c)
              case "min" => min(c); case "max" => max(c)
            }
          case Cypher.RetAgg(fn, None) =>
            throw new IllegalArgumentException(s"$fn needs an argument")
        }).as(outName(a))
      }
      val grouped =
        if (plains.isEmpty) joined.agg(aggCols.head, aggCols.tail: _*)
        else joined.groupBy(plains.map(r => col(outName(r))): _*)
          .agg(aggCols.head, aggCols.tail: _*)
      grouped.select(items.map(i => col(outName(i))): _*)
    }
  }

  /** `MATCH p = shortestPath((a)-[:R*m..n]->(b)) RETURN …`: BFS layers
    * from the uniquely-bound source ([[bfsDistances]] — one frontier join
    * per hop), band-filtered, label/attr-filtered on the target side.
    * The source anchor must bind exactly one vertex (a multi-source
    * shortest path is a different operator — run one statement per
    * source). */
  private def evalShortestPath(sp: Cypher.ShortestPathStmt): DataFrame = {
    val aPat = sp.chain.nodes.head
    val bPat = sp.chain.nodes.last
    val rel = sp.chain.rels.head
    require(aPat.label.nonEmpty || aPat.attrs.nonEmpty,
      "shortestPath needs an anchored source (label and/or attrs)")
    val srcNames = nodesFor(aPat, "name").get
      .limit(2).collect().map(_.getString(0)).toSeq
    require(srcNames.length == 1,
      s"shortestPath source must bind exactly one vertex, got " +
        s"${if (srcNames.isEmpty) "none" else "several"}")
    val dists = bfsDistances(srcNames.head, maxHops = rel.maxHops,
      rels = Seq(rel.typ), directed = rel.dir == Cypher.Out)
      .filter(col("dist") >= rel.minHops && col("dist") <= rel.maxHops)
    val targeted = nodesFor(bPat, "node")
      .map(t => dists.join(t, Seq("node"), "left_semi")).getOrElse(dists)
    val bVar = bPat.variable.getOrElse(
      throw new IllegalArgumentException("shortestPath target needs a variable"))
    val needsAttrs = sp.returns.exists {
      case Cypher.Ret(v, Some(a)) => v == bVar && a != "name"
      case _ => false
    }
    val withAttrs =
      if (!needsAttrs) targeted
      else targeted.join(
        vertices.select(col("name").as("node"), col("attrs")), Seq("node"), "left")
    withAttrs.select(sp.returns.map {
      case Cypher.Ret(v, Some("length")) if v == sp.pathVar =>
        col("dist").as(s"${sp.pathVar}_length")
      case Cypher.Ret(v, None) if v == bVar => col("node").as(v)
      case Cypher.Ret(v, Some("name")) if v == bVar => col("node").as(s"${v}_name")
      case Cypher.Ret(v, Some(a)) if v == bVar =>
        col("attrs").getItem(a).as(s"${v}_$a")
      case other => throw new IllegalArgumentException(
        s"shortestPath RETURN can address the target or length(path): $other")
    }: _*)
  }

  /** Mutating statements: MERGE appends the absent identities (as
    * [[merge]]), `MATCH … DETACH DELETE` drops the bound nodes plus ALL
    * their incident edges (two anti-joins against the matched name set —
    * at scale the deleted set is usually broadcast-sized and the cascade
    * stays map-side), `MATCH … SET` upserts one attribute per set item on
    * the bound nodes (map_filter + map_concat — scan-side map surgery, no
    * explode). Each statement references the previous vertices/edges plan
    * once; DELETE and SET each add a join layer, which a driver-local
    * graph folds away: each frame goes through the store's fold-back
    * rule ([[graft.core.Store.of]]), so a session graph stays one local
    * relation through every mutation ([[graft.core.LocalFold]]). Any
    * other graph keeps the layer; [[compact]]/[[checkpointLocal]] reset
    * its depth for long statement streams. */
  def execute(cypher: String): PropertyGraph = execute(Cypher.parse(cypher))

  /** [[execute]] over an already-parsed statement. */
  def execute(stmt: Cypher.Stmt): PropertyGraph = stmt match {
    case m: Cypher.Merge => merge(m)
    case Cypher.Delete(chains, wheres, vars) =>
      val bound = evalMatch(Cypher.Match(chains,
        vars.map(v => Cypher.Ret(v, None)), wheres))
      val del = vars.map(v => bound.select(col(v).as("name")))
        .reduce(_ unionByName _).distinct()
      PropertyGraph(Store.of(vertices.join(del, Seq("name"), "left_anti")).frame,
        Store.of(edgesN.join(del.select(col("name").as("src")), Seq("src"), "left_anti")
          .join(del.select(col("name").as("dst")), Seq("dst"), "left_anti")
          .select(col("src"), col("dst"), col("rel"), col("eattrs"))).frame)
    case Cypher.SetAttrs(chains, wheres, sets) =>
      sets.foreach { case (_, attr, _) =>
        require(attr != "name", "cannot SET the identity attribute 'name'") }
      val bound = evalMatch(Cypher.Match(chains,
        sets.map(_._1).distinct.map(v => Cypher.Ret(v, None)), wheres))
      var v2 = vertices
      sets.foreach { case (variable, attr, value) =>
        val hit = bound.select(col(variable).as("name")).distinct()
          .withColumn("__hit", lit(true))
        v2 = v2.join(hit, Seq("name"), "left")
          .select(col("name"), col("label"),
            when(col("__hit"),
              map_concat(
                map_filter(col("attrs"), (k, _) => k =!= attr),
                map(lit(attr), lit(value))))
              .otherwise(col("attrs")).as("attrs"))
      }
      PropertyGraph(Store.of(v2).frame, Store.of(edges).frame)
    case _ => throw new IllegalArgumentException(
      s"not a mutating statement: $stmt")
  }

  /** output-column naming, shared by the projection branches, the
    * aggregation aliases, ORDER BY targeting, and the WITH pipeline's
    * default stage names: var, var_attr, cnt for count(*),
    * fn_var[_attr] for the other aggregates. */
  private def outName(r: Cypher.RetItem): String = r match {
    case Cypher.Ret(v, None) => v
    case Cypher.Ret(v, Some(a)) => s"${v}_$a"
    case Cypher.RetAgg("count", None) => "cnt"
    case Cypher.RetAgg(fn, Some(arg)) => s"${fn}_${outName(arg)}"
    case Cypher.RetAgg(fn, None) => fn // unreachable (RetAgg requires)
  }

  private def evalMatch(stmt: Cypher.Match): DataFrame = stmt match {
    case Cypher.Match(chains, returns, wheres, orderBy, limitN, optChains) =>
      var anon = 0
      def varOf(p: Cypher.NodePat): String =
        p.variable.getOrElse { anon += 1; s"__anon$anon" }

      // edge variables: RETURN e.attr projects the bound edge's property
      // (carried out of the hop as column `e_attr`); `properties(e)`
      // attaches the whole map post-distinct via the stored (src, dst)
      // identity; a bare `e` has no printable identity — rejected.
      // OPTIONAL MATCH (growth): the optional group binds in its own join
      // tree, then LEFT-joins onto the mandatory bindings — unmatched rows
      // keep mandatory columns and NULL every optional-only variable.
      val allChains = chains ++ optChains
      // variables bound ONLY in the optional group: their attr joins (and
      // properties() map joins) must be LEFT joins or the NULLs of an
      // unmatched row would silently drop it
      val optOnlyVars: Set[String] =
        optChains.flatMap(c => c.nodes.flatMap(_.variable) ++
            c.rels.flatMap(_.variable)).toSet --
          chains.flatMap(_.nodes.flatMap(_.variable)).toSet
      // an edge variable binds exactly ONE relationship pattern: reusing
      // it would alias both hops' carry columns and silently turn them
      // into join keys (Neo4j rejects relationship-variable reuse too);
      // colliding with a node variable is the same hazard
      val relVarSeq = allChains.flatMap(_.rels.flatMap(_.variable))
      require(relVarSeq.distinct.size == relVarSeq.size,
        s"edge variable bound more than once: ${relVarSeq.diff(relVarSeq.distinct).distinct.mkString(", ")}")
      val nodeVarSet = allChains.flatMap(_.nodes.flatMap(_.variable)).toSet
      require(!relVarSeq.exists(nodeVarSet),
        s"edge variable collides with a node variable: ${relVarSeq.filter(nodeVarSet).mkString(", ")}")
      val edgeVars = relVarSeq.toSet
      val aggItems = returns.collect { case a: Cypher.RetAgg => a }
      // numeric aggregates over a bare node identity (a string) are a
      // type error in a pattern RETURN; the bare form is only meaningful
      // over a piped WITH column (pipeSegment's aggregation, not here).
      // collect is exempt both ways: collecting node IDENTITIES is the
      // natural producer for a pipeline UNWIND
      aggItems.foreach { a =>
        require(a.fn == "count" || a.fn == "collect" ||
          a.arg.exists(_.attr.isDefined),
          s"${a.fn} needs a var.attr argument") }
      val plainRets = returns.collect { case r: Cypher.Ret => r }
      (plainRets ++ aggItems.flatMap(_.arg)).foreach {
        case Cypher.Ret(v, None) if edgeVars(v) =>
          throw new IllegalArgumentException(
            s"edge variable '$v' supports $v.attr and properties($v) returns only")
        case _ => ()
      }
      if (aggItems.nonEmpty)
        require(!plainRets.exists(_.attr.contains("*")),
          "properties(...) cannot be grouped — aggregate RETURNs take " +
            "var / var.attr keys only")
      // WHERE conjuncts (growth — the reference grammar has no WHERE)
      // reference bound node or edge variables; edge-var predicates need
      // their attr carried out of the hop like edge-attr RETURNs do.
      // Optional-only variables are out of scope: a post-join predicate
      // over them would drop the very NULL rows OPTIONAL exists to keep
      // (Neo4j scopes such a WHERE to the optional pattern — spell the
      // constraint as an attr map in the optional pattern instead).
      val whereLeaves = wheres.flatMap(Cypher.leaves)
      whereLeaves.foreach { w =>
        require(nodeVarSet(w.variable) || edgeVars(w.variable),
          s"WHERE references unbound variable '${w.variable}'")
        require(!optOnlyVars(w.variable),
          s"WHERE cannot reference OPTIONAL MATCH variable '${w.variable}'")
      }
      // plain RETURN items plus aggregate arguments — every place that
      // resolves a var.attr to a carried/joined column ranges over both
      val retsAndArgs = plainRets ++ aggItems.flatMap(_.arg)
      val edgeAttrNeeds: Map[String, Seq[String]] = (retsAndArgs.collect {
        case Cypher.Ret(v, Some(a)) if edgeVars(v) && a != "*" => (v, a)
      } ++ whereLeaves.collect {
        case Cypher.Where(v, a, _, _) if edgeVars(v) => (v, a)
      }).groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
      // properties(e): carry the matched edge's STORED (src, dst) out of
      // the hop — the same row in either orientation of an undirected
      // match — and re-join eattrs on it after the distinct.
      val edgePropVars: Set[String] = returns.collect {
        case Cypher.Ret(v, Some("*")) if edgeVars(v) => v }.toSet
      // its post-distinct map join is keyed on the stored endpoints,
      // which an unmatched optional row NULLs — inner-join would drop the
      // row, left-join would fabricate a NULL map for a never-matched
      // edge; neither is right, so reject up front (e.attr projections on
      // optional edges work fine — they ride the carry columns)
      require(!edgePropVars.exists(optOnlyVars),
        s"properties() of an OPTIONAL MATCH edge variable is not supported")
      val relOf: Map[String, String] = chains.flatMap(_.rels)
        .flatMap(r => r.variable.map(_ -> r.typ)).toMap

      def bindGroup(group: Seq[Cypher.Chain]): DataFrame = {
      var acc: Option[DataFrame] = None
      def bind(df: DataFrame): Unit = acc = Some(acc match {
        case None => df
        case Some(prev) =>
          val shared = prev.columns.intersect(df.columns).toSeq
          // shared variables become join keys (reference client.py:978-1037's
          // variable-merge, as a plain equi-join); disjoint chains cross.
          if (shared.nonEmpty) prev.join(df, shared) else prev.crossJoin(df)
      })

      group.foreach { ch =>
        val vars = ch.nodes.map(varOf)
        if (ch.rels.isEmpty) {
          // single-node chain: label/attr scan
          val v = vars.head
          bind(nodesFor(ch.nodes.head, v).getOrElse(vertices.select(col("name").as(v))))
        } else ch.rels.zipWithIndex.foreach { case (rel, k) =>
          val (sv, dv) = (vars(k), vars(k + 1))
          // (a)-[:R]->(a) would alias both endpoints to ONE column name and
          // die downstream with an ambiguous reference — reject up front
          // (self-loops are still reachable via distinct vars + attrs).
          require(sv != dv,
            s"edge endpoints bind the same variable '$sv' — not supported")
          // edge property constraints filter the typed edge list scan-side
          // (MATCH ...-[:R {k: 'v'}]->...); on a *m..n band this applies
          // per hop — every traversed edge must carry the attrs
          var typed = edgesN.filter(col("rel") === rel.typ)
          rel.attrs.foreach { case (k, v) =>
            typed = typed.filter(col("eattrs").getItem(k) === v) }
          // RETURNed edge properties ride along as `<evar>_<attr>` columns;
          // properties(e) carries the stored endpoints as identity keys
          val carry = rel.variable.toSeq.flatMap { v =>
            edgeAttrNeeds.getOrElse(v, Nil)
              .map(a => col("eattrs").getItem(a).as(s"${v}_$a")) ++
              (if (edgePropVars(v))
                Seq(col("src").as(s"__esrc_$v"), col("dst").as(s"__edst_$v"))
              else Nil)
          }
          def oneHop(a: String, b: String): DataFrame = rel.dir match {
            case Cypher.Out =>
              typed.select(col("src").as(a) +: col("dst").as(b) +: carry: _*)
            case Cypher.In =>
              typed.select(col("dst").as(a) +: col("src").as(b) +: carry: _*)
            case Cypher.Both =>
              typed.select(col("src").as(a) +: col("dst").as(b) +: carry: _*)
                .unionByName(
                  typed.select(col("dst").as(a) +: col("src").as(b) +: carry: _*))
          }
          // variable-length `*m..n` (growth): endpoint reachability within
          // the hop band — union of the L-hop compositions, L in m..n, each
          // a chain of equi-joins through anonymous intermediates, distinct
          // endpoint pairs. Bounded by the parser's maxHops cap, so the plan
          // is at most a fixed small join tree — no iterative fixpoint, no
          // driver loop; Cypher trail semantics (edge-distinct paths) don't
          // apply because only ENDPOINTS are observable here.
          var hop =
            if (rel.minHops == 1 && rel.maxHops == 1) oneHop(sv, dv)
            else (rel.minHops to rel.maxHops).map { l =>
              val names = sv +: (1 until l).map(j => s"__vl${k}_$j") :+ dv
              (0 until l).map(j => oneHop(names(j), names(j + 1)))
                .reduce((a, b) => a.join(b, a.columns.intersect(b.columns).toSeq))
                .select(col(sv), col(dv))
            }.reduce(_ unionByName _).distinct()
          // endpoint label/attr constraints: broadcast semi-joins against the
          // (small) filtered vertex set — stays a map-side filter at scale.
          nodesFor(ch.nodes(k), sv).foreach(n => hop = hop.join(broadcast(n), sv))
          nodesFor(ch.nodes(k + 1), dv).foreach(n => hop = hop.join(broadcast(n), dv))
          bind(hop)
        }
      }
      acc.get
      }

      var out = bindGroup(chains)
      if (optChains.nonEmpty) {
        // the optional pattern matches INNER within its own group (all of
        // it must match, as in Cypher), then left-joins the whole group
        // onto the mandatory bindings on the shared variables
        val optDf = bindGroup(optChains)
        val shared = out.columns.intersect(optDf.columns).toSeq
        require(shared.nonEmpty,
          "OPTIONAL MATCH must share at least one variable with MATCH")
        out = out.join(optDf, shared, "left")
      }
      // attribute RETURNs and node-var WHERE conjuncts need the vertex row
      // back: join attrs on per-var name once per distinct variable
      // addressed with `.attr` (or filtered on a non-name attribute).
      val attrVars = (retsAndArgs.collect {
        case Cypher.Ret(v, Some(a)) if a != "name" && a != "*" && !edgeVars(v) => v
      } ++ whereLeaves.collect {
        case Cypher.Where(v, a, _, _) if !edgeVars(v) && a != "name" => v
      }).distinct
      attrVars.foreach { v =>
        // LEFT for optional-only vars: an unmatched row's NULL name must
        // keep the row (its attr projections come out NULL)
        out = out.join(
          vertices.select(col("name").as(v), col("attrs").as(s"__attrs_$v")),
          Seq(v), if (optOnlyVars(v)) "left" else "inner")
      }
      // WHERE: post-bind filters (Catalyst pushes an attr predicate through
      // the inner attrs-join into the vertices scan, so at scale this is a
      // scan-side filter on the vertex side, not a post-join sieve). A
      // numeric literal compares numerically via try_cast-to-long — NULL
      // for a missing or NON-numeric attr, so such rows drop (a plain
      // ANSI cast would throw mid-scan on the first non-numeric value).
      def whereColumn(e: Cypher.WExpr): org.apache.spark.sql.Column = e match {
        case w: Cypher.Where =>
          val target =
            if (edgeVars(w.variable)) col(s"${w.variable}_${w.attr}")
            else if (w.attr == "name") col(w.variable)
            else col(s"__attrs_${w.variable}").getItem(w.attr)
          val c = w.value match { case _: Long => target.try_cast("long"); case _ => target }
          graft.core.Compare.cmp(c, w.op, w.value)
        case Cypher.WAnd(l, r) => whereColumn(l) && whereColumn(r)
        // disjunctions/negations keep ANSI three-valued semantics: a NULL
        // branch (missing/non-numeric attr) neither satisfies nor, under
        // NOT, resurrects the row
        case Cypher.WOr(l, r) => whereColumn(l) || whereColumn(r)
        case Cypher.WNot(x) => !whereColumn(x)
      }
      wheres.foreach(w => out = out.filter(whereColumn(w)))
      val nodeMapVars = plainRets.collect {
        case Cypher.Ret(v, Some("*")) if !edgeVars(v) => v }.distinct
      val projected = if (aggItems.nonEmpty) {
        // aggregation path (growth): Cypher implicit grouping — plain
        // items are the keys; none → one global row. Aggregates range
        // over the DISTINCT pattern bindings: every bound variable column
        // (named and anonymous endpoints, carried edge attrs) minus the
        // MapType attr joins, plus the computed attr values keys/args
        // address — all functions of the identities, so including them
        // cannot split a binding row. The distinct is the same per-group
        // set semantics the plain RETURN has.
        def keyCol(r: Cypher.Ret): Option[(String, Column)] = r.attr match {
          case None => None                        // identity col exists
          case Some(_) if edgeVars(r.variable) => None // carried as v_a
          case Some("name") => Some(outName(r) -> col(r.variable).as(outName(r)))
          case Some(a) => Some(outName(r) ->
            col(s"__attrs_${r.variable}").getItem(a).as(outName(r)))
        }
        val identCols = out.columns.filterNot(_.startsWith("__attrs_")).toSeq
        val computed = retsAndArgs.flatMap(keyCol).distinctBy(_._1)
          .filterNot { case (n, _) => identCols.contains(n) }
        val base = out.select(identCols.map(col) ++ computed.map(_._2): _*)
          .distinct()
        val aggCols = aggItems.map { a =>
          (a match {
            case Cypher.RetAgg("count", None) => count(lit(1))
            case Cypher.RetAgg("count", Some(r)) => count(col(outName(r)))
            // sorted distinct list (round-11) — raw string values, no
            // numeric coercion; sorted for determinism
            case Cypher.RetAgg("collect", Some(r)) =>
              sort_array(collect_set(col(outName(r))))
            case Cypher.RetAgg(fn, Some(r)) =>
              // numeric coercion via try_cast (HashQL's rule): missing or
              // non-numeric attrs become NULL and drop from the aggregate
              val c = col(outName(r)).try_cast("long")
              fn match {
                case "sum" => sum(c); case "avg" => avg(c)
                case "min" => min(c); case "max" => max(c)
              }
            case Cypher.RetAgg(fn, None) =>
              throw new IllegalArgumentException(s"$fn needs an argument")
          }).as(outName(a))
        }
        val grouped =
          if (plainRets.isEmpty) base.agg(aggCols.head, aggCols.tail: _*)
          else base.groupBy(plainRets.map(r => col(outName(r))): _*)
            .agg(aggCols.head, aggCols.tail: _*)
        grouped.select(returns.map(r => col(outName(r))): _*)
      } else if (nodeMapVars.isEmpty && edgePropVars.isEmpty) {
        val cols = plainRets.map {
          case Cypher.Ret(v, None) => col(v)
          case Cypher.Ret(v, Some(a)) if edgeVars(v) => col(s"${v}_$a")
          case Cypher.Ret(v, Some("name")) => col(v).as(s"${v}_name")
          case Cypher.Ret(v, Some(a)) => col(s"__attrs_$v").getItem(a).as(s"${v}_$a")
        }
        out.select(cols: _*).distinct()
      } else {
        // `properties(v)` emits the whole attribute map (the reference's
        // RETURN of node dicts, client.py:1201-1219) as `v_properties`.
        // MapType bars set operations, so the RETURN's set semantics run
        // BEFORE the map is attached: distinct over the projected scalars
        // plus the map-vars' identities (node name / stored edge
        // endpoints), then join each map on. Net effect: whole-map items
        // dedup by identity — two DISTINCT nodes/edges that happen to
        // share an attr map stay two rows.
        val named = plainRets.flatMap {
          case Cypher.Ret(v, Some("*")) if edgeVars(v) =>
            Seq(s"__esrc_$v" -> col(s"__esrc_$v"), s"__edst_$v" -> col(s"__edst_$v"))
          case Cypher.Ret(v, Some("*")) => Seq(s"__key_$v" -> col(v).as(s"__key_$v"))
          case Cypher.Ret(v, None) => Seq(v -> col(v))
          case Cypher.Ret(v, Some(a)) if edgeVars(v) => Seq(s"${v}_$a" -> col(s"${v}_$a"))
          case Cypher.Ret(v, Some("name")) => Seq(s"${v}_name" -> col(v).as(s"${v}_name"))
          case Cypher.Ret(v, Some(a)) =>
            Seq(s"${v}_$a" -> col(s"__attrs_$v").getItem(a).as(s"${v}_$a"))
        }
        var d = out.select(named.distinctBy(_._1).map(_._2): _*).distinct()
        nodeMapVars.foreach { v =>
          // joined under a reserved internal name, aliased only in the final
          // select — a node attribute literally named 'properties' would
          // otherwise make `${v}_properties` ambiguous here (LEFT for an
          // optional-only var: the unmatched NULL identity keeps its row,
          // map comes out NULL)
          d = d.join(vertices.select(col("name").as(s"__key_$v"),
            col("attrs").as(s"__map_$v")), Seq(s"__key_$v"),
            if (optOnlyVars(v)) "left" else "inner")
        }
        edgePropVars.foreach { v =>
          // dropDuplicates guards against caller-supplied edge frames with
          // duplicate identity rows multiplying the output (merge-built
          // frames are unique by construction)
          d = d.join(edgesN.filter(col("rel") === relOf(v))
            .dropDuplicates("src", "dst")
            .select(col("src").as(s"__esrc_$v"), col("dst").as(s"__edst_$v"),
              col("eattrs").as(s"__emap_$v")),
            Seq(s"__esrc_$v", s"__edst_$v"))
        }
        d.select(plainRets.map {
          case Cypher.Ret(v, Some("*")) if edgeVars(v) =>
            col(s"__emap_$v").as(s"${v}_properties")
          case Cypher.Ret(v, Some("*")) => col(s"__map_$v").as(s"${v}_properties")
          case Cypher.Ret(v, None) => col(v)
          case Cypher.Ret(v, Some("name")) => col(s"${v}_name")
          case Cypher.Ret(v, Some(a)) => col(s"${v}_$a")
        }: _*)
      }
      // ORDER BY / LIMIT (growth, like HashQL's): sort keys address the
      // RETURN's OUTPUT columns by the same naming (var, var_attr, agg
      // aliases), so an item must appear in RETURN to be sortable.
      // ORDER BY + LIMIT plans TakeOrderedAndProject — per-partition
      // top-k + driver merge.
      val retNames = returns.map(outName).toSet
      orderBy.foreach { case (r, _) =>
        require(retNames.contains(outName(r)),
          s"ORDER BY item ${outName(r)} must appear in RETURN") }
      // asc pins NULLS LAST (DuckDB's default; Spark's asc is nulls-
      // first): attribute values are nullable — a node without the attr —
      // so a LIMIT over an attr sort key must keep the same rows as the
      // oracle. Desc defaults already agree on nulls-last.
      val ordered =
        if (orderBy.isEmpty) projected
        else projected.orderBy(orderBy.map { case (r, desc) =>
          if (desc) col(outName(r)).desc
          else col(outName(r)).asc_nulls_last }: _*)
      limitN.fold(ordered)(ordered.limit)
  }
}

object PropertyGraph {

  /** MERGE node identity: the `name` attribute when present (the
    * reference's own corpus always carries one — example.py:241-261);
    * otherwise the FULL attribute map is the identity — the reference's
    * general MERGE semantics (match-by-attributes, client.py:841-889) —
    * serialized canonically (label + sorted k=v pairs, delimiters escaped
    * so distinct maps can never collide into one identity) and
    * deterministically, so re-merging the same attrs lands on the same
    * node. Nodes with equal attrs but different labels stay distinct.
    * Attribute-LESS pattern nodes have no identity to merge on — error,
    * as before attr-map identity existed (two anonymous `(a:Person)`
    * nodes must not silently collapse into one vertex). */
  private[graph] def identityOf(label: Option[String], attrs: Map[String, String]): String = {
    require(attrs.nonEmpty,
      "MERGE node needs a 'name' attribute or a non-empty attribute map")
    def esc(s: String): String = s.flatMap {
      case '\\' => "\\\\"; case '=' => "\\="; case ',' => "\\,"
      case '{' => "\\{"; case '}' => "\\}"; case c => c.toString
    }
    attrs.getOrElse("name",
      esc(label.getOrElse("")) + attrs.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${esc(k)}=${esc(v)}" }.mkString("{", ",", "}"))
  }

  def empty(spark: SparkSession): PropertyGraph = {
    import spark.implicits._
    PropertyGraph(
      Seq.empty[(String, String, Map[String, String])].toDF("name", "label", "attrs"),
      Seq.empty[(String, String, String, Map[String, String])]
        .toDF("src", "dst", "rel", "eattrs"))
  }

  /** Build the t2 graph from the TPC-H-ish tables: Customer-IN->Nation,
    * Nation-IN->Region, Supplier-LOCATED->Nation. Each node carries its
    * natural attributes (the reference's node dicts hold the full attribute
    * map and RETURN can address them — client.py:1201-1219). */
  def fromTpch(customer: DataFrame, nation: DataFrame, region: DataFrame,
               supplier: DataFrame): PropertyGraph = {
    val v =
      customer.select(concat(lit("customer:"), col("c_custkey")).as("name"),
        lit("Customer").as("label"),
        // attrs are strings (the reference's node dicts hold strings);
        // c_nationkey rides along so numeric WHERE comparisons have a
        // castable attribute to range over (cypher_where)
        map(lit("c_name"), col("c_name"),
          lit("c_mktsegment"), col("c_mktsegment"),
          lit("c_nationkey"), col("c_nationkey").cast("string")).as("attrs"))
      .unionByName(nation.select(concat(lit("nation:"), col("n_name")).as("name"),
        lit("Nation").as("label"),
        map(lit("n_name"), col("n_name")).as("attrs")))
      .unionByName(region.select(concat(lit("region:"), col("r_name")).as("name"),
        lit("Region").as("label"),
        map(lit("r_name"), col("r_name")).as("attrs")))
      .unionByName(supplier.select(concat(lit("supplier:"), col("s_suppkey")).as("name"),
        lit("Supplier").as("label"),
        map(lit("s_name"), col("s_name")).as("attrs")))
    val natByKey = nation.select(col("n_nationkey"), concat(lit("nation:"), col("n_name")).as("nname"))
    val noAttrs = typedLit(Map.empty[String, String]).as("eattrs")
    val e =
      customer.join(natByKey, col("c_nationkey") === col("n_nationkey"))
        .select(concat(lit("customer:"), col("c_custkey")).as("src"),
          col("nname").as("dst"), lit("IN").as("rel"), noAttrs)
      .unionByName(
        nation.join(region, col("n_regionkey") === col("r_regionkey"))
          .select(concat(lit("nation:"), col("n_name")).as("src"),
            concat(lit("region:"), col("r_name")).as("dst"), lit("IN").as("rel"), noAttrs))
      .unionByName(
        supplier.join(natByKey, col("s_nationkey") === col("n_nationkey"))
          .select(concat(lit("supplier:"), col("s_suppkey")).as("src"),
            col("nname").as("dst"), lit("LOCATED").as("rel"), noAttrs))
    PropertyGraph(v, e)
  }
}
