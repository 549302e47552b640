package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.tools.Derived

/** Graph analytics beyond connected components: weighted PageRank over
  * the customer↔supplier purchase network (who buys from whom, how
  * much), the entity-centrality pass a marketplace/eval pipeline runs.
  *
  * The edge list is built once from lineitem ⋈ orders (edge weight =
  * number of lineitems between the pair) and SYMMETRIZED — the random
  * surfer walks both directions, so the bipartite graph has no dangling
  * mass and ranks are a proper distribution. Node ids are namespaced
  * ('c:'/'s:' prefixes) because customer and supplier keys share the
  * integer id space.
  *
  * Iteration shape at 100 TB: each round is ONE equi-join of the edge
  * list against the current rank vector (both hash-partitioned on the
  * node id — the partitioning is reused across rounds) plus one keyed
  * aggregation with map-side partials; the driver holds only the round
  * counter. Exactly the CC loop's posture (SCALE.md "Duplicate
  * clusters"), with a FIXED round count instead of a convergence test —
  * which is what makes the DuckDB oracle expressible as 5 unrolled CTE
  * stages (recursive CTEs cannot aggregate in the recursive term).
  *
  * Float discipline: both engines run the identical damping formula on
  * doubles and round ONLY the final rank (6 dp); per-node neighbor sums
  * are ~dozens of terms, so cross-engine summation-order noise is
  * O(1e-15) — far inside the rounding guard.
  */
object GraphOps {
  type Q = (SparkSession, String) => DataFrame

  val Damping = 0.85
  val Iters = 5

  /** Symmetrized weighted edges: (src, dst, w). Node ids are packed LONGS
    * (customer 2k, supplier 2k+1) rather than the output's 'c:'/'s:'
    * strings: the 5-round loop shuffles the edge+rank frames ten times,
    * and an 8-byte key hashes and compares several times cheaper than a
    * variable-length UTF8 string — the namespacing only needs to exist in
    * the final projection, so the hot loop never carries it.
    *
    * The edge list is a DERIVED TABLE shared by every graph op
    * (PageRank, degree distribution): built + checkpointed once per
    * (session, sfDir), exactly like the text pipeline's shingle index —
    * at 100 TB the materialized edge list is what a graph job reads. */
  private def purchaseEdges(s: SparkSession, d: String): DataFrame =
    Derived(s, d, "graph_edges") {
      val li = Tables.load(s, d, "lineitem").select("l_orderkey", "l_suppkey")
      val o = Tables.load(s, d, "orders").select("o_orderkey", "o_custkey")
      val cs = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy((col("o_custkey").cast("long") * 2).as("src"),
          (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
        .agg(count(lit(1)).cast("double").as("w"))
      // Layout-preserving checkpoint (r15): every consumer keys on src —
      // PageRank's per-round join, k-hop's frontier expansion, the degree
      // aggregation — so the edge list is shuffled into its src layout
      // ONCE here instead of once per consumer stage (a plain
      // localCheckpoint came back as UnknownPartitioning and was
      // re-exchanged in all 5 PageRank rounds).
      graft.tools.Layout.checkpointBy(
        cs.union(cs.select(col("dst").as("src"), col("src").as("dst"), col("w"))),
        col("src"))
    }

  /** Long node id → the graded output's namespaced string form. */
  private def namespaced(id: org.apache.spark.sql.Column) =
    concat(when(id % 2 === 0, lit("c:")).otherwise(lit("s:")),
      (id / 2).cast("long"))

  /** Core fixed-iteration weighted PageRank over any (src, dst, w) edge
    * frame — exposed so constructed-graph tests exercise THIS loop.
    *
    * Node universe is src ∪ dst, and each round LEFT-joins the received
    * mass onto it, so sinks and in-degree-0 nodes keep a rank row every
    * round (a first draft took nodes from src only and inner-joined —
    * on the directed edge 1→2 that returned an EMPTY frame by round 2).
    * Mass arriving at a sink is NOT redistributed — the same documented
    * deviation Spark GraphX's PageRank ships with — so on graphs with
    * sinks the ranks are un-normalized (ordering-valid, Σrank < 1); on
    * the graded symmetrized purchase graph every node has out-edges and
    * the results are exactly the normalized fixed point. */
  def pageRank(edges: DataFrame, iters: Int = Iters,
               damping: Double = Damping): DataFrame = {
    // an input that is ALREADY a materialized leaf (the memoized
    // purchase edge list graphPagerank passes) is reused as-is — the
    // unconditional re-checkpoint duplicated the full edge list in block
    // storage on every call, and unlike the memo's copy those blocks
    // were reclaimed only by driver-GC luck
    val e = edges.queryExecution.logical match {
      case _: org.apache.spark.sql.execution.LogicalRDD => edges
      case _ => edges.localCheckpoint(true)
    }
    // per-source total out-weight; edge transition prob = w / wout.
    // trans and nodes are the loop's STATIC frames: both are
    // layout-checkpointed (r15) on their join keys so the 5 rounds join
    // against them without re-exchanging or re-sorting — only the rank
    // vector and each round's received-mass aggregation still shuffle,
    // which is the "edges move once" posture a 100 TB graph needs.
    val trans = graft.tools.Layout.checkpointBy(
      e.join(e.groupBy(col("src").as("u")).agg(sum("w").as("wout")),
          col("src") === col("u"))
        .select(col("src"), col("dst"), (col("w") / col("wout")).as("p")),
      col("src"))
    val nodes = graft.tools.Layout.checkpointBy(
      e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id")))
        .distinct(),
      col("id"))
    val n = nodes.count()
    var pr = nodes.withColumn("rank", lit(1.0 / n))
    // NO per-round checkpoint: the round count is FIXED (no data-dependent
    // control flow to cut), so the whole recurrence stays one lazy plan —
    // 5 join+agg stages in a single job against the checkpointed edge
    // list, instead of 5 materialization jobs. (The CC loop checkpoints
    // each round because its convergence count is an action per round.)
    // pr has ONE consumer per round (the trans join); the nodes frame the
    // left join re-reads is a checkpointed constant, so the lazy plan
    // stays linear in `iters`.
    (1 to iters).foreach { _ =>
      val received = trans.join(pr, col("src") === col("id"))
        .groupBy(col("dst").as("id2"))
        .agg(sum(col("rank") * col("p")).as("in_mass"))
      pr = nodes.join(received, col("id") === col("id2"), "left")
        .select(col("id"),
          (lit((1.0 - damping) / n) +
            lit(damping) * coalesce(col("in_mass"), lit(0.0))).as("rank"))
    }
    pr
  }

  /** Graded entry: 5-round PageRank on the purchase network, final ranks
    * rounded 6 dp. Every node has in- and out-edges (symmetrized), so the
    * join never drops a node between rounds. */
  def graphPagerank(s: SparkSession, d: String): DataFrame =
    pageRank(purchaseEdges(s, d))
      .select(namespaced(col("id")).as("id"), round(col("rank"), 6).as("rank"))
      .orderBy("id")

  /** Degree distribution of the purchase graph, split by node side —
    * the first diagnostic run on any production graph (it decides
    * whether PageRank/CC need hub mitigation). Two keyed aggregations
    * (per-node degree, then histogram), both with map-side partials;
    * nothing is ever collected per-node. */
  def graphDegreeDist(s: SparkSession, d: String): DataFrame =
    purchaseEdges(s, d)
      .groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .groupBy(when(col("src") % 2 === 0, lit("customer"))
        .otherwise(lit("supplier")).as("side"), col("degree"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("side", "degree")

  val KhopHops = 2

  /** Semi-naive BFS over any (src, dst, …) edge frame: returns the
    * (seed, id) pairs reachable within `k` hops (the seed itself included
    * as hop 0). Exposed so constructed-graph tests exercise THIS loop.
    *
    * Each hop is one equi-join (frontier ⋈ edges, hash on the node id)
    * plus one anti-join against the visited set (hash on (seed, id)) —
    * the frontier-only expansion is what makes BFS feasible at scale: a
    * naive re-expansion of the WHOLE visited set each round does
    * O(hops × reached × degree) work, the frontier form only touches
    * newly-discovered nodes. localCheckpoint per hop truncates the
    * doubling anti-join/union lineage, same posture as the CC loop. */
  def khopReach(edges: DataFrame, seeds: DataFrame, k: Int): DataFrame = {
    // ONE eager checkpoint per hop, not three: only the frontier needs
    // materializing — it both truncates the doubling anti-join lineage
    // AND gives the next hop's edges-join a fresh leaf (joining the same
    // edges frame against a frontier derived from it would otherwise trip
    // the ambiguous-self-join analyzer check). The visited set is then a
    // LAZY union of already-materialized frontier RDDs — no recompute
    // risk and no extra jobs (round 7: 3 checkpoint jobs/hop → 1).
    var visited = seeds.select(col("seed"), col("seed").as("id"))
      .distinct().localCheckpoint(true)
    var frontier = visited
    (1 to k).foreach { _ =>
      val expanded = frontier.join(edges, frontier("id") === edges("src"))
        .select(frontier("seed"), edges("dst").as("id")).distinct()
      frontier = expanded.join(visited, Seq("seed", "id"), "left_anti")
        .localCheckpoint(true)
      visited = visited.union(frontier)
    }
    visited
  }

  /** Graded entry: per-seed count of distinct nodes within 2 hops on the
    * purchase graph. Seeds are every 100th customer (src % 200 == 0 on
    * packed ids ⇔ even ⇔ customer AND custkey % 100 == 0), so the seed
    * set scales with the data instead of being a fixed list. The DuckDB
    * twin is a genuine recursive CTE — the depth bound `d < 2` plus
    * UNION-dedup is what guarantees its termination. */
  def graphKhop(s: SparkSession, d: String): DataFrame = {
    val e = purchaseEdges(s, d)
    val seeds = e.where(col("src") % 200 === 0).select(col("src").as("seed"))
    khopReach(e, seeds, KhopHops)
      .where(col("id") =!= col("seed"))
      .groupBy(namespaced(col("seed")).as("seed"))
      .agg(count(lit(1)).as("n_reachable"))
      .orderBy("seed")
  }

  /** Basket-grain (ok, sorted distinct items) table — the probability
    * base [[basketAffinity]] reads THREE times in one call (the N
    * count, the pair explode, the per-item counts); memoized like
    * [[partPairs]] so the lineitem distinct shuffle is priced once per
    * (session, corpus) instead of per read. */
  private def distinctBasketItems(s: SparkSession, d: String): DataFrame = {
    // r15 note: Layout.checkpointBy(ok) was tried here and reverted — AQE
    // plans the pair self-join as a BROADCAST hash join (the distinct
    // basket-item frame is small), so there is no ok-keyed SMJ to
    // de-exchange, and the fixed-width repartition only added task
    // overhead (0.94 -> 1.74 s floor at sf0.1).
    // r16: the memo is now BASKET-grain — (ok, sorted distinct items) —
    // so the affinity serve generates pairs array-side (aggregate-then-
    // pair, the LlmTextOps.pairInter shape: basket width bounds the pair
    // fan-out) instead of self-joining the item table, and the basket
    // count is a count() of the checkpoint instead of a countDistinct
    // shuffle. distinct + groupBy(ok) share one exchange (same key
    // domain: ok ⊂ (ok, pk) clustering is not reusable, but the distinct
    // feeds the groupBy map-side) — the build stays one lineitem scan.
    Derived(s, d, "basket_items")(Tables.load(s, d, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      .groupBy("ok").agg(sort_array(collect_list(col("pk"))).as("items"))
      .localCheckpoint(true))
  }

  /** Distinct part-pair co-purchase counts (p1 < p2 canonical order) —
    * the market-basket edge list. Built by a self-join of lineitem on
    * l_orderkey: per-order item counts are small (~4), so the per-key
    * pair expansion is O(items²) with a tiny constant — the standard
    * itemset trick; a mega-basket guard (cap items per order) would slot
    * in front of the join at scale. Memoized + checkpointed per
    * (session, sfDir) like the purchase edge list: three graded ops read
    * it, and at 100 TB the pair table IS the materialized artifact. */
  private[graft] def partPairs(s: SparkSession, d: String): DataFrame =
    Derived(s, d, "basket_pairs") {
      // r16: aggregate-then-pair (the LlmTextOps.pairInter shape) — each
      // order's part list collects once (RAW lines, duplicates kept: the
      // graph family counts LINE pairs) and the i<j pairs are emitted
      // array-side, equal-part line pairs dropped (the old a.pk < b.pk
      // join condition) — instead of self-joining lineitem, which
      // scanned and shuffled the fact table twice. Order width bounds
      // the per-row fan-out (TPC-H: ≤ 7 lines).
      val li = Tables.load(s, d, "lineitem").select("l_orderkey", "l_partkey")
      val lists = li.groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_partkey"))).as("pks"))
        .filter(size(col("pks")) >= 2)
      val n = size(col("pks"))
      lists.select(explode(flatten(transform(col("pks"), (x, i) =>
          filter(transform(slice(col("pks"), i + lit(2), n - i - lit(1)), y =>
            struct(x.as("p1"), y.as("p2"))),
            p => p.getField("p1") < p.getField("p2"))))).as("p"))
        .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
        .agg(count(lit(1)).as("n_cooccur"))
        .localCheckpoint(true)
    }

  /** Top-100 co-purchased part pairs. Tiebreak (n desc, p1, p2) is a
    * TOTAL order, so the cut inside the long n=1 band is deterministic;
    * the sort runs as TakeOrderedAndProject (per-partition top-100 heaps,
    * only 100 rows per task cross the wire), never a full global sort. */
  def graphCopurchaseTopk(s: SparkSession, d: String): DataFrame =
    partPairs(s, d)
      .orderBy(col("n_cooccur").desc, col("p1"), col("p2")).limit(100)

  /** Triangle count over canonically-oriented (p1 < p2) edges. The
    * orientation means each triangle a<b<c is counted exactly once as
    * (a,b)+(b,c)+(a,c) — no /6 correction, no double joins. Exposed for
    * constructed-graph tests. */
  def triangleCount(orientedEdges: DataFrame): DataFrame = {
    val eb = orientedEdges.select("p1", "p2")
    eb.as("e1").join(eb.as("e2"), col("e1.p2") === col("e2.p1"))
      .join(eb.as("e3"),
        col("e1.p1") === col("e3.p1") && col("e2.p2") === col("e3.p2"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Graded entry: triangles in the co-purchase BACKBONE (pairs seen in
    * ≥2 baskets). The ≥2 support threshold is the point at scale: raw
    * pair edges on a random basket corpus are almost all noise with
    * count 1, and the wedge join (sum of squared degrees) over them
    * explodes; the backbone is orders of magnitude sparser, which is
    * what makes exact triangle counting feasible. At even larger scale
    * the next step is degree-ordered orientation (point high-degree
    * nodes at low-degree ones) — noted, not needed at this density. */
  def graphTriangles(s: SparkSession, d: String): DataFrame =
    triangleCount(partPairs(s, d).where(col("n_cooccur") >= 2))

  /** Connected components of the repeat-co-purchase graph (pairs bought
    * together in >= 2 orders — the same threshold the triangle count
    * uses; at threshold 1 the graph is one giant ball, at 2 it fragments
    * into the product communities a merchandiser actually reads). The
    * labeling is the pointer-jumping min-label kernel shared with the
    * dedup-cluster ops ([[LlmTextOps.connectedComponents]] — O(log n)
    * rounds, no driver collect); this key reports the component census
    * (id = min member, node and edge counts) rather than the per-node
    * labeling, which is what the graph family's summary ops report.
    * Scale: the census aggregations are two hash shuffles over the
    * (already thresholded, vastly sub-corpus) edge/label frames. */
  def graphComponents(s: SparkSession, d: String): DataFrame = {
    val edges = partPairs(s, d).where(col("n_cooccur") >= 2)
      .select(col("p1").as("a_id"), col("p2").as("b_id"))
    // label build memoized per (session, corpus) like the dedup family's
    // cc_labels (llm_dedup_clusters): the iterative O(log n)-round kernel
    // is the materialized artifact, priced once per corpus; the graded
    // key prices the census aggregations over it (round-10 — before
    // this, the graph key rebuilt the labels every call while the dedup
    // key served its memo, an inconsistency the bench numbers showed)
    val labels = Derived(s, d, "graph_cc_labels")(LlmTextOps.connectedComponents(edges))
    val sizes = labels.groupBy(col("comp").as("component_id"))
      .agg(count(lit(1)).as("n_nodes"))
    // every node came from an edge, so the inner joins are total
    val edgeComp = edges
      .join(labels.select(col("id").as("a_id"), col("comp").as("component_id")), "a_id")
      .groupBy("component_id").agg(count(lit(1)).as("n_edges"))
    sizes.join(edgeComp, Seq("component_id")).orderBy("component_id")
  }

  /** Jaccard neighbor-similarity link prediction over the repeat-co-
    * purchase backbone: for every NON-adjacent part pair with at least
    * one shared neighbor, |N(a)∩N(b)| / |N(a)∪N(b)| — the classic
    * "products that should be merchandised together but aren't yet"
    * score (and the standard common-neighbors baseline every link-
    * prediction paper starts from). Top-50 by (score, pair).
    *
    * Exactness: common/degree counts are integers; the one division is a
    * single mirrored IEEE op rounded half-up 6 dp, and the ranking
    * orders by the ROUNDED score + ids, so the cut is total.
    *
    * Scale: candidate generation is the same wedge join the triangle
    * count runs — quadratic in per-node degree on the THRESHOLDED
    * backbone, never on raw pairs; the anti-join that drops existing
    * edges and the degree joins are all equi-joins on node ids. At
    * higher densities the next step is the triangles key's documented
    * degree-ordered orientation; same posture here. */
  def graphJaccardNeighbors(s: SparkSession, d: String): DataFrame = {
    val e = partPairs(s, d).where(col("n_cooccur") >= 2).select("p1", "p2")
    // undirected adjacency (both directions) + degrees
    val adj = e.union(e.select(col("p2").as("p1"), col("p1").as("p2")))
    val deg = adj.groupBy(col("p1").as("node")).agg(count(lit(1)).as("deg"))
    val wedges = adj.as("x").join(adj.as("y"),
        col("x.p2") === col("y.p1") && col("x.p1") < col("y.p2"))
      .groupBy(col("x.p1").as("a_id"), col("y.p2").as("b_id"))
      .agg(count(lit(1)).as("common"))
    val cand = wedges.join(e,
        wedges("a_id") === e("p1") && wedges("b_id") === e("p2"), "left_anti")
    cand
      .join(deg.select(col("node").as("a_id"), col("deg").as("deg_a")), "a_id")
      .join(deg.select(col("node").as("b_id"), col("deg").as("deg_b")), "b_id")
      .select(col("a_id"), col("b_id"), col("common"), col("deg_a"), col("deg_b"),
        (floor(col("common").cast("double") /
          (col("deg_a") + col("deg_b") - col("common")).cast("double") * 1000000.0 + 0.5)
          / 1000000.0).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(50)
  }

  /** Market-basket association rules: top-25 part pairs by LIFT =
    * P(a,b) / (P(a)·P(b)) with confidence(a→b) alongside — the classic
    * the raw co-occurrence top-k ([[graphCopurchaseTopk]]) is only the
    * numerator of. Counts are DISTINCT-basket counts (a part appearing
    * on two lines of one order counts once — unlike the graph family's
    * line-pair semantics, which is the right weight for edges but not
    * for probabilities). lift and confidence are single mirrored
    * divisions of exact integer products (n_ab·N ≤ ~1e10, n_a·n_b ≤
    * ~1e8 at sf0.1 — int64-safe by orders of magnitude); ranking is by
    * the ROUNDED lift + ids, so the cut is total.
    * Scale: one distinct (basket, item) projection, a self-equi-join on
    * basket (bounded by basket width), two broadcast-size dimension
    * joins; N is a bounded scalar literal. */
  def basketAffinity(s: SparkSession, d: String): DataFrame = {
    val baskets = distinctBasketItems(s, d)
    // r16: N is the checkpoint's row count (one cheap job over the
    // basket-grain leaf) — the old countDistinct("ok") re-shuffled the
    // whole item table for the same scalar. Pairs are generated
    // array-side from each basket's sorted distinct items (i<j in sorted
    // order ≡ a.pk < b.pk, since items are distinct per basket), so the
    // self-join and its broadcast build disappear; per-item counts
    // explode from the same leaf.
    val n = baskets.count()
    val cnt = baskets.select(explode(col("items")).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("np"))
    val ni = size(col("items"))
    val pairs = baskets
      .select(explode(flatten(transform(col("items"), (x, i) =>
        transform(slice(col("items"), i + lit(2), ni - i - lit(1)), y =>
          struct(x.as("a_id"), y.as("b_id")))))).as("p"))
      .groupBy(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
    pairs
      .join(cnt.select(col("pk").as("a_id"), col("np").as("n_a")), "a_id")
      .join(cnt.select(col("pk").as("b_id"), col("np").as("n_b")), "b_id")
      .select(col("a_id"), col("b_id"), col("n_ab"), col("n_a"), col("n_b"),
        (floor((col("n_ab") * lit(n)).cast("double") /
          (col("n_a") * col("n_b")).cast("double") * 1000000.0 + 0.5) / 1000000.0).as("lift"),
        (floor(col("n_ab").cast("double") / col("n_a").cast("double") * 1000000.0 + 0.5)
          / 1000000.0).as("confidence"))
      .orderBy(col("lift").desc, col("a_id"), col("b_id"))
      .limit(25)
  }

  val queries: Map[String, Q] = Map(
    "basket_affinity" -> (basketAffinity _),
    "graph_jaccard_neighbors" -> (graphJaccardNeighbors _),
    "graph_pagerank" -> (graphPagerank _),
    "graph_degree_dist" -> (graphDegreeDist _),
    "graph_khop" -> (graphKhop _),
    "graph_copurchase_topk" -> (graphCopurchaseTopk _),
    "graph_triangles" -> (graphTriangles _),
    "graph_components" -> (graphComponents _))

  /** The identical formula with the 5 rounds unrolled as CTE stages. */
  val oracles: Map[String, String] = Map(
    // DISTINCT-basket counts; lift/confidence are single mirrored
    // divisions of exact integer products; order-by uses ROUNDED lift
    "basket_affinity" ->
      ("WITH dpk AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem), " +
        "nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM dpk), " +
        "cnt AS (SELECT pk, CAST(count(*) AS BIGINT) AS np FROM dpk GROUP BY 1), " +
        "pairs AS (SELECT a.pk AS a_id, b.pk AS b_id, CAST(count(*) AS BIGINT) AS n_ab " +
        "FROM dpk a JOIN dpk b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2 " +
        "HAVING count(*) >= 2) " +
        "SELECT a_id, b_id, n_ab, ca.np AS n_a, cb.np AS n_b, " +
        "floor(CAST(n_ab * nb.n AS DOUBLE) / CAST(ca.np * cb.np AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS lift, " +
        "floor(CAST(n_ab AS DOUBLE) / CAST(ca.np AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS confidence " +
        "FROM pairs JOIN cnt ca ON ca.pk = a_id JOIN cnt cb ON cb.pk = b_id CROSS JOIN nb " +
        "ORDER BY lift DESC, a_id, b_id LIMIT 25"),
    // integer wedge/degree counts; the one division mirrors the Spark
    // parenthesization, and the order-by uses the ROUNDED score
    "graph_jaccard_neighbors" ->
      ("WITH pp AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n " +
        "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
        "GROUP BY 1, 2), " +
        "e AS (SELECT p1, p2 FROM pp WHERE n >= 2), " +
        "adj AS (SELECT p1, p2 FROM e UNION ALL SELECT p2 AS p1, p1 AS p2 FROM e), " +
        "deg AS (SELECT p1 AS node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1), " +
        "wedges AS (SELECT x.p1 AS a_id, y.p2 AS b_id, CAST(count(*) AS BIGINT) AS common " +
        "FROM adj x JOIN adj y ON x.p2 = y.p1 AND x.p1 < y.p2 GROUP BY 1, 2), " +
        "cand AS (SELECT w.* FROM wedges w WHERE NOT EXISTS " +
        "(SELECT 1 FROM e WHERE e.p1 = w.a_id AND e.p2 = w.b_id)) " +
        "SELECT c.a_id, c.b_id, c.common, da.deg AS deg_a, db.deg AS deg_b, " +
        "floor(CAST(c.common AS DOUBLE) / CAST(da.deg + db.deg - c.common AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS jaccard " +
        "FROM cand c JOIN deg da ON da.node = c.a_id JOIN deg db ON db.node = c.b_id " +
        "ORDER BY jaccard DESC, a_id, b_id LIMIT 50"),
    "graph_pagerank" -> {
      val base =
        "WITH cs AS (SELECT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst, CAST(count(*) AS DOUBLE) AS w " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2), " +
          "e AS (SELECT src, dst, w FROM cs UNION ALL SELECT dst, src, w FROM cs), " +
          "t AS (SELECT e.src, e.dst, e.w / o.wout AS p FROM e JOIN (SELECT src AS u, sum(w) AS wout FROM e GROUP BY src) o ON e.src = o.u), " +
          "nodes AS (SELECT DISTINCT src AS id FROM t), " +
          "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes), " +
          "pr0 AS (SELECT id, 1.0 / n AS rank FROM nodes CROSS JOIN nn)"
      val steps = (1 to Iters).map { i =>
        s"pr$i AS (SELECT t.dst AS id, (1.0 - $Damping) / nn.n + $Damping * sum(pr${i - 1}.rank * t.p) AS rank " +
          s"FROM t JOIN pr${i - 1} ON t.src = pr${i - 1}.id CROSS JOIN nn GROUP BY t.dst, nn.n)"
      }.mkString(", ", ", ", " ")
      base + steps +
        s"SELECT id, round(rank, 6) AS rank FROM pr$Iters ORDER BY id"
    },
    "graph_degree_dist" ->
      ("WITH cs AS (SELECT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2), " +
        "e AS (SELECT src, dst FROM cs UNION ALL SELECT dst, src FROM cs), " +
        "deg AS (SELECT src, count(*) AS degree FROM e GROUP BY src) " +
        "SELECT CASE WHEN src LIKE 'c:%' THEN 'customer' ELSE 'supplier' END AS side, " +
        "degree, count(*) AS n_nodes FROM deg GROUP BY 1, 2 ORDER BY side, degree"),
    "graph_khop" ->
      (s"WITH RECURSIVE cs AS (SELECT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2), " +
        "e AS (SELECT src, dst FROM cs UNION ALL SELECT dst, src FROM cs), " +
        "seeds AS (SELECT DISTINCT 'c:' || o_custkey AS seed FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey WHERE o_custkey % 100 = 0), " +
        "reach AS (SELECT seed, seed AS id, 0 AS d FROM seeds " +
        "UNION SELECT r.seed, e.dst AS id, r.d + 1 AS d FROM reach r " +
        s"JOIN e ON e.src = r.id WHERE r.d < ${GraphOps.KhopHops}) " +
        "SELECT seed, count(DISTINCT id) AS n_reachable FROM reach " +
        "WHERE id <> seed GROUP BY seed ORDER BY seed"),
    "graph_copurchase_topk" ->
      ("SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_cooccur " +
        "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey " +
        "AND a.l_partkey < b.l_partkey " +
        "GROUP BY 1, 2 ORDER BY n_cooccur DESC, p1, p2 LIMIT 100"),
    "graph_triangles" ->
      ("WITH pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n " +
        "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey " +
        "AND a.l_partkey < b.l_partkey GROUP BY 1, 2), " +
        "eb AS (SELECT p1, p2 FROM pairs WHERE n >= 2) " +
        "SELECT count(*) AS n_triangles FROM eb e1 " +
        "JOIN eb e2 ON e1.p2 = e2.p1 " +
        "JOIN eb e3 ON e1.p1 = e3.p1 AND e2.p2 = e3.p2"),
    // transitive closure by recursive CTE (the llm_dedup_clusters
    // pattern): min over each node's reachable set = the component min,
    // identical to the Spark side's min-label fixed point
    "graph_components" ->
      ("WITH RECURSIVE pairs AS MATERIALIZED (SELECT a.l_partkey AS p1, b.l_partkey AS p2 " +
        "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey " +
        "AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2), " +
        "edges AS (SELECT p1 AS src, p2 AS dst FROM pairs UNION ALL SELECT p2, p1 FROM pairs), " +
        "reach AS (SELECT src AS id, src AS comp FROM edges " +
        "UNION SELECT e.src AS id, r.comp FROM edges e JOIN reach r ON e.dst = r.id), " +
        "labels AS (SELECT id, min(comp) AS component_id FROM reach GROUP BY id), " +
        "sizes AS (SELECT component_id, CAST(count(*) AS BIGINT) AS n_nodes FROM labels GROUP BY 1), " +
        "ec AS (SELECT l.component_id, CAST(count(*) AS BIGINT) AS n_edges " +
        "FROM pairs p JOIN labels l ON p.p1 = l.id GROUP BY 1) " +
        "SELECT component_id, n_nodes, n_edges FROM sizes JOIN ec USING (component_id) " +
        "ORDER BY component_id"))
}
