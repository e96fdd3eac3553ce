package graft.operators

import graft.Ckpt.CkptOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}

/** Graph analytics over relational co-occurrence (north-star §2.13).
  *
  * Parts are nodes, an edge connects two parts that appear in the same
  * order (the classic market-basket projection of the lineitem fact).
  * The derived graph is MATERIALIZED ONCE per corpus through the
  * snapshot store ([[cooccurrenceEdges]]) and every query reads the
  * stored weighted pair table — the build-once/read-many amortization
  * the reference gets from its Postgres occurrence fact table
  * (`db/occurrence.py:25-49`). The reference has no graph operators;
  * these cover the "relationships inside the corpus" analyses a
  * training-data pipeline runs (entity co-occurrence,
  * duplicate-cluster structure — see also Dedup.connectedComponents).
  */
object Graph extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // DERIVED-TABLE BUILD + ROUND-TRIP CHECK — materializes the
    // weighted co-occurrence edge table through the snapshot store
    // ([[cooccurrenceEdges]]: staged batch + atomic pointer swap) and
    // summarizes it FROM THE STORED READ-BACK, so the oracle's
    // from-scratch restatement hash-checks the whole
    // derive→store→read round trip. Every other graph query reads
    // this table instead of re-running the lineitem self-join — the
    // production amortization the reference gets from its Postgres
    // occurrence fact table (db/occurrence.py:25-49).
    "g0_edges" -> ((s, dir) => {
      cooccurrenceEdges(s, dir)
        .agg(count(lit(1)).as("n_edges"), sum(col("w")).as("w_total"),
          max(col("w")).as("w_max"))
    }),

    // Exact triangle counting with DEGREE-ORDERED ORIENTATION (the
    // MapReduce-era wedge-check algorithm: Schank's thesis /
    // Suri-Vassilvitskii WWW'11). Naive wedge enumeration explodes on
    // hub nodes (Σ deg² — one popular part in k orders yields k²
    // wedges); orienting every edge from its (degree, id)-smaller
    // endpoint bounds out-degree by O(√m), so the wedge join does
    // O(m^1.5) work spread evenly across hash-join tasks — the
    // standard scale-safe spelling. Every stage is an equi-join or
    // hash agg (plan-pinned: no nested loop); the deg table is tiny
    // relative to edges (|nodes| ≪ m) and broadcasts.
    //
    // Self-join inputs are RENAMED before joining (not aliased) — the
    // dataset-alias trap SimilaritySpec pinned for dedup_embedding_lsh:
    // `df.as("x")` self-joins can resolve both sides to one attribute
    // and silently degrade the equi-join to a nested loop.
    "g1_triangles" -> ((s, dir) => {
      import s.implicits._
      val (pairs, od, closing) = trianglePipelineFromPairs(
        cooccurrenceEdges(s, dir).select(col("u"), col("v")))
      val nTri = closing.count()
      val nEdges = pairs.count()
      Dedup.releaseCheckpoints(pairs)
      Dedup.releaseCheckpoints(od)
      Seq((nTri, nEdges)).toDF("n_triangles", "n_edges")
    }),

    // SAMPLED triangle count — DOULION (Tsourakakis et al., KDD'09):
    // keep each EDGE with probability p = 1/2 by a deterministic
    // per-edge coin, count triangles exactly on the sparsified graph,
    // scale by 1/p³ = 8. Unbiased (each triangle survives with
    // probability p³) with concentration bounds from the paper; the
    // scale answer to the exact capstone's growth — the committed 10×
    // probe (NOTES_r12) measured exact g1 at 8.5× per 10× while the
    // sparsified graph's wedge work drops by ~p² up front and the
    // dominant pair-materialization by p. p and the coin are
    // plan-constants, so DuckDB restates the whole computation —
    // ORACLE-checked, not just spec-pinned; GraphSpec additionally
    // pins unbiasedness (mean over salted coins ≈ exact) and the
    // p=1 coin degenerating to the exact count. The coin reduces u
    // mod 2³¹−1 before the Knuth multiply (the sampler-hash overflow
    // rule — ANSI-safe for any partkey).
    "g1_triangles_sampled" -> ((s, dir) => {
      import s.implicits._
      val (pairs, od, closing) = trianglePipelineFromPairs(
        cooccurrenceEdges(s, dir).select(col("u"), col("v")),
        Some(edgeCoin(0L)))
      val nTri = closing.count()
      val nEdges = pairs.count()
      Dedup.releaseCheckpoints(pairs)
      Dedup.releaseCheckpoints(od)
      Seq((nTri * 8L, nEdges)).toDF("n_triangles_est", "n_edges_sampled")
    }),

    // PageRank over the same co-occurrence graph (both directions of
    // each undirected edge), 10 power iterations, d = 0.85 — "which
    // parts sit at the center of the basket graph". Rows-only: no SQL
    // oracle can restate an iterative fixpoint, so GraphSpec pins the
    // ranks against an in-memory power iteration (≤ 1e-9) and the
    // rank-mass invariant; the decimal arithmetic inside [[pageRank]]
    // makes the output BIT-deterministic across runs, which the
    // driver's determinism sweep relies on.
    "g2_pagerank" -> ((s, dir) => {
      import s.implicits._
      val pairs = cooccurrenceEdges(s, dir).select(col("u"), col("v"))
      // pageRank partitions + checkpoints the bidirectional union
      // ONCE internally (the per-iteration read source), so no outer
      // checkpoint here — the union is two pruned scans of the stored
      // pair table, consumed exactly once by that repartition
      val edges = pairs.union(pairs.select(col("v"), col("u")))
        .toDF("src", "dst")
      val ranks = pageRank(edges)
      val top = ranks
        .orderBy(col("rank").desc, col("node").asc).limit(20)
        .select(col("node"), col("rank").cast("double").as("rank"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      Dedup.releaseCheckpoints(ranks)
      top.toDF("node", "rank")
    }),

    // BOUNDED + QUANTIZED pagerank twin — the oracle-checkable face
    // of g2 (the g3_kcore_bounded / g6 convention): 3 power rounds
    // with every rank in INTEGER micro-mass units (1e12 total mass,
    // floor division throughout), so the whole iteration UNROLLS into
    // SQL and DuckDB restates every division bit-for-bit — the driver
    // hash-checks the fixed plan of [[pageRankQ]] (edges partitioned
    // once, |nodes|-row sides broadcast) end-to-end every round,
    // pinning the g2 plan discipline to a driver-enforced hash. The
    // bounded-round budget is the same anytime lever production pulls
    // on huge graphs (rank bulk moves in the first rounds); the
    // quantization floor (1e12 units ≫ |nodes|) keeps per-node mass
    // resolution far above tie noise at any realistic node count.
    "g2_pagerank_bounded" -> ((s, dir) => {
      import s.implicits._
      val pairs = cooccurrenceEdges(s, dir).select(col("u"), col("v"))
      val edges = pairs.union(pairs.select(col("v"), col("u")))
        .toDF("src", "dst")
      val ranks = pageRankQ(edges, iters = 3)
      val top = ranks
        .orderBy(col("rank_q").desc, col("node").asc).limit(20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      Dedup.releaseCheckpoints(ranks)
      top.toDF("node", "rank_q")
    }),

    // K-CORE DECOMPOSITION — coreness of every node by the h-index
    // iteration (Lü, Zhou, Zhang, Stanley — Nature Communications
    // 2016, "The H-index of a network node"): start every node at its
    // degree, then repeatedly replace each node's value with the
    // H-index of its neighbors' values; the fixpoint is exactly the
    // coreness from the classic sequential peel (Batagelj-Zaversnik),
    // but every round is a pure join + per-node window + hash agg —
    // the distributable spelling. Integer state → BIT-deterministic
    // output. Rows-only: the until-convergence loop has no SQL
    // restatement; GraphSpec pins the fixpoint against a brute-force
    // sequential peel on the same graph plus closed-form cases
    // (clique, path, triangle-with-tail).
    "g3_kcore" -> ((s, dir) => {
      import s.implicits._
      val pairs = cooccurrenceEdges(s, dir).select(col("u"), col("v"))
      val edges = pairs.union(pairs.select(col("v"), col("u")))
        .toDF("src", "dst")
      val core = coreness(edges)
      val dist = core.groupBy(col("core"))
        .agg(count(lit(1)).as("n_nodes"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      Dedup.releaseCheckpoints(core)
      dist.toDF("core", "n_nodes")
    }),

    // BOUNDED-ROUNDS coreness twin — the scale answer to the exact
    // capstone's growth (4.6× per 10× measured, NOTES_r12): the
    // h-index iteration is monotone non-increasing from degree, so
    // STOPPING after R rounds yields a certified UPPER BOUND on
    // every node's coreness — the anytime property of the operator
    // (Lü et al.), which production uses on huge graphs: fix the
    // round budget, take the certified bound, refresh periodically.
    // On this DENSE basket graph the tail rounds are slow core decay
    // (degrees ~200 easing down to coreness ~80), so the 6-round
    // bound is loose on the core but already exact on the periphery
    // and on structures that converge fast (cliques, trees);
    // GraphSpec pins bound ≥ exact node-by-node, closed-form
    // exactness, and the measured mean tightness. Deterministic →
    // golden-hashed.
    "g3_kcore_bounded" -> ((s, dir) => {
      import s.implicits._
      val pairs = cooccurrenceEdges(s, dir).select(col("u"), col("v"))
      val edges = pairs.union(pairs.select(col("v"), col("u")))
        .toDF("src", "dst")
      val core = coreness(edges, maxRounds = 6, requireConverged = false)
      val dist = core.groupBy(col("core"))
        .agg(count(lit(1)).as("n_nodes"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      Dedup.releaseCheckpoints(core)
      dist.toDF("core_bound", "n_nodes")
    }),

    // NODE SIMILARITY by common-neighbor Jaccard (the link-prediction
    // / item-item co-occurrence primitive): for part pairs sharing at
    // least one basket neighbor, |N(u)∩N(v)| / |N(u)∪N(v)|, top 20.
    // Common-neighbor counting is inherently Σ deg² over wedge
    // CENTERS — a hub with k neighbors yields k² candidate pairs, the
    // structural blowup at scale. The standard mitigation is a HUB
    // CAP (as in production co-occurrence recommenders): only nodes
    // with deg ≤ 64 serve as wedge centers, bounding the join at
    // 64·m pairs; the documented bias (common neighbors routed only
    // through non-hub nodes) is part of the operator's definition and
    // the oracle restates it identically, so the whole thing is
    // hash-checked. Jaccard = one IEEE division of two exactly
    // converted longs → bit-identical across engines; top-20 ties
    // break on (u, v) so the LIMIT selection is deterministic.
    "g4_node_jaccard" -> ((s, dir) => {
      import s.implicits._
      // edges read straight from the stored pair table (each re-read
      // is a pruned parquet scan, no self-join to replay); only the
      // tiny degree table still checkpoints (3 consumers)
      val pairs = cooccurrenceEdges(s, dir).select(col("u"), col("v"))
      val edges = pairs.union(pairs.select(col("v"), col("u")))
        .toDF("src", "dst")
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .toDF("node", "d").ckpt(false)
      // adjacency restricted to small-degree wedge centers; the deg
      // table is |nodes| rows and broadcasts
      val adj = edges
        .join(broadcast(deg.where(col("d") <= hubCap)
          .select(col("node").as("src"))), "src")
      val common = adj.toDF("x", "a").join(adj.toDF("x", "b"), "x")
        .where(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
      val top = common
        .join(broadcast(deg.toDF("a", "da")), "a")
        .join(broadcast(deg.toDF("b", "db")), "b")
        .select(col("a").as("u"), col("b").as("v"), col("common"),
          (col("common").cast("double")
            / (col("da") + col("db") - col("common")).cast("double"))
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("u").asc, col("v").asc)
        .limit(20)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      Dedup.releaseCheckpoints(deg)
      top.toDF("u", "v", "common", "jaccard")
    }),

    // Frequent-pair mining with support + lift (A-Priori level 2 /
    // market basket, Agrawal-Srikant VLDB'94): which part pairs
    // co-occur in orders more than independence predicts. Pair
    // generation is the per-basket self-join (bounded by Σ basket² —
    // the same shape as g1's wedge build, NOT an all-pairs cross);
    // support pruning (c_ab ≥ minSupport) happens straight after the
    // pair count so low-support mass never reaches the lift join; the
    // per-item support table is |items| rows and broadcasts. Lift is
    // computed in STAGED integer arithmetic — lift_q =
    // (((nB·1e6) div c_a) · c_ab) div c_b — so the whole ranking
    // hash-checks against the SQL oracle with zero float drift, and
    // every intermediate is bounded by nB·1e6 (c_ab ≤ c_a caps the
    // product) — BIGINT-safe to ~9e12 baskets, the sampler-hash
    // overflow rule applied to lift (the naive nB·c_ab·1e6 spelling
    // overflows at multi-billion-basket · high-support scale).
    // Top-50 by (support, key) via TakeOrderedAndProject, never a
    // global sort.
    "g5_frequent_pairs" -> ((s, dir) => {
      val baskets = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .ckpt(false)
      // one scalar action: basket universe size (metadata-bounded)
      val nB = baskets.select(col("ok")).distinct().count()
      val itemSupp = baskets.groupBy(col("pk"))
        .agg(count(lit(1)).as("c_item"))
      // the pair-support table IS the stored edge weight (w = number
      // of co-baskets): the quadratic half reads from the
      // materialized graph with the support filter pushed to the
      // scan; only the linear item-support scan touches lineitem
      val pairSupp = cooccurrenceEdges(s, dir)
        .where(col("w") >= minPairSupport)
        .select(col("u"), col("v"), col("w").as("c_ab"))
      val out = pairSupp
        .join(broadcast(itemSupp.toDF("u", "c_a")), "u")
        .join(broadcast(itemSupp.toDF("v", "c_b")), "v")
        .select(col("u"), col("v"), col("c_ab"),
          expr(s"((($nB * 1000000L) div c_a) * c_ab) div c_b").as("lift_q"))
        .orderBy(col("c_ab").desc, col("u").asc, col("v").asc)
        .limit(50)
      val rows = out.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      Dedup.releaseCheckpoints(baskets)
      import s.implicits._
      rows.toDF("u", "v", "c_ab", "lift_q")
    }),

    // Community detection by synchronous label propagation (Raghavan
    // et al. 2007), BOUNDED at 5 rounds — the anytime production
    // spelling (LPA moves its bulk in the first few rounds; a fixed
    // round budget is the lever that keeps the cost linear at any
    // scale, the g3_kcore_bounded convention). Deterministic variant:
    // each node adopts the MINIMUM label among its neighbors' most
    // frequent labels, so the output is bit-stable and golden-
    // hashable (classic LPA breaks ties randomly and need not
    // converge; min-tie-break synchronous LPA is deterministic).
    // Per-round plan discipline = coreness's: edges hash-partitioned
    // by src ONCE, labels broadcast, so BOTH the (src, lbl) frequency
    // agg and the per-src arg-max run with their Exchange elided —
    // zero corpus shuffles per round (GraphSpec pins the brute-force
    // differential; the round state is rebased per round to dodge the
    // stats-inheritance blowup documented on [[coreness]]).
    "g6_label_prop" -> ((s, dir) => {
      import s.implicits._
      // community graph = co-occurrence pairs seen in ≥ 2 baskets
      // (minEdgeWeight): single-basket pairs are noise edges that fuse
      // the dense co-occurrence graph into one giant community; the
      // weight filter is part of the operator definition (restated in
      // the oracle) and also prunes the edge table ~30× before any
      // round runs — the standard support-threshold lever, now PUSHED
      // INTO THE STORED TABLE'S SCAN (w is a parquet column).
      val pairs = cooccurrenceEdges(s, dir)
        .where(col("w") >= minEdgeWeight)
        .select(col("u"), col("v"))
      val edges = pairs.union(pairs.select(col("v"), col("u")))
        .toDF("src", "dst")
      val labels = labelProp(edges, rounds = 5)
      val out = labels.groupBy(col("lbl"))
        .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      Dedup.releaseCheckpoints(labels)
      out.toDF("community", "n_nodes", "min_node")
    }),

    // NEGATIVE SAMPLING for pairwise training data (the word2vec /
    // recommender pattern): for every observed (basket, item)
    // positive, propose k pseudo-random negatives by a deterministic
    // hash draw, REJECT any candidate that is itself a positive of
    // the same basket (anti-join — at scale this is the only
    // collision check that matters; per-draw rejection probability =
    // basket size / |items|), and keep the first 2 surviving draws
    // per positive (row_number over ≤ 4 rows — a bounded window,
    // never corpus-serial). The draw is the sampler-overflow-safe
    // mix (reduce mod 2³¹−1 before the Knuth multiply), so DuckDB
    // restates every draw and the full sample hash-checks —
    // deterministic negatives also make training runs reproducible.
    "g8_negative_samples" -> ((s, dir) => {
      val pos = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val maxPk = pos.agg(max(col("pk"))).collect()(0).getLong(0) + 1
      val cand = pos
        .select(col("ok"), col("pk"), explode(expr("array(1, 2, 3, 4)")).as("j"))
        .withColumn("neg_pk", expr(
          s"""((((ok % 2147483647) * 1048573 + (pk % 2147483647) * 131 + j)
               % 2147483647) * 2654435761) % 2147483647 % $maxPk"""))
      val kept = cand
        .join(pos.toDF("ok", "neg_pk"), Seq("ok", "neg_pk"), "left_anti")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("ok"), col("pk")).orderBy(col("j").asc)
      kept.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 2)
        .select(col("ok"), col("pk"), col("neg_pk"), col("j"))
    }),

    // Bounded k-hop reachability (frontier BFS, 3 hops) from a seed
    // set over the same weight-filtered community graph — "what does
    // this brand's neighborhood look like" influence analysis. The
    // frontier discipline is the scale contract: each hop joins ONLY
    // the frontier against the edge table (hash equi-join) and
    // anti-joins the visited set, so per-hop work is O(frontier
    // degree mass), never O(nodes²); the hop budget is a plan
    // constant, so the whole walk UNROLLS into the SQL oracle (the
    // g6 convention) and hash-checks. Visited/frontier checkpoint per
    // hop (flat lineage, released before return).
    "g7_khop_reach" -> ((s, dir) => {
      import s.implicits._
      val pairs = cooccurrenceEdges(s, dir)
        .where(col("w") >= minEdgeWeight)
        .select(col("u"), col("v"))
      // edges hash-partitioned by src ONCE; the per-hop gather then
      // BROADCASTS the node-bounded frontier/visited sides (explicit
      // hints under maxBroadcastNodes — the coreness discipline), so
      // no hop re-shuffles or re-broadcasts the edge table whatever
      // the stored artifact's few-MB stats claim (the g2_pagerank
      // class). The rebase drops those inherited stats so even the
      // frontier distinct's planning sees honest sizes.
      val edgesCk = pairs.union(pairs.select(col("v"), col("u")))
        .toDF("src", "dst").repartition(col("src")).ckpt(false)
      // keep the checkpoint handle: releaseCheckpoints must see the
      // LogicalRDD that owns the blocks, not the rebased wrapper
      val edges = org.apache.spark.sql.GraftShims.rebase(edgesCk)
      val seeds = Tables.load(s, dir, "part")
        .where(col("p_brand") === "Brand#1")
        .select(col("p_partkey").as("node"))
      val nodes = edges.select(col("src").as("node")).distinct()
      val small = nodes.count() <= maxBroadcastNodes
      def hint(df: DataFrame): DataFrame = if (small) broadcast(df) else df
      var visited = nodes.join(seeds, "node").ckpt(false)
      var frontier = visited
      val hops = scala.collection.mutable.Buffer((0, frontier.count()))
      var h = 0
      while (h < 3) {
        h += 1
        val next = edges
          .join(hint(frontier.toDF("src")), "src")
          .select(col("dst").as("node")).distinct()
          .join(hint(visited), Seq("node"), "left_anti")
          .ckpt(false)
        hops += ((h, next.count()))
        // materialize the new visited set BEFORE releasing the old
        // one — localCheckpoint(false) is lazy, and the union reads
        // the old checkpoint's blocks when it first evaluates
        val nv = visited.union(next).ckpt(false)
        nv.count()
        val oldVisited = visited
        val oldFrontier = frontier
        visited = nv
        frontier = next
        Dedup.releaseCheckpoints(oldVisited)
        if (h > 1) Dedup.releaseCheckpoints(oldFrontier)
      }
      Dedup.releaseCheckpoints(visited)
      Dedup.releaseCheckpoints(frontier)
      Dedup.releaseCheckpoints(edgesCk)
      hops.toSeq.toDF("hop", "n_nodes")
    }),

    // BOUNDED WEIGHTED SHORTEST PATHS (min-plus relaxation — the
    // Bellman-Ford round, the other iterative semiring beside g2's
    // sum-product): edge length = 1,000,000 div w in exact integer
    // units (stronger co-occurrence = shorter distance), 3 relaxation
    // rounds from the Brand#1 seed set, dist'(v) = min(dist(v),
    // min_{(u,v)∈E} dist(u) + cost(u,v)). Everything is BIGINT
    // min-plus algebra, so the WHOLE iteration unrolls into the
    // DuckDB oracle (the g2_pagerank_bounded convention) and the
    // driver hash-checks the relaxation engine end-to-end — seeds,
    // three rounds, tie-broken 20 nearest non-seed nodes. Plan per
    // round: edges (hash-partitioned by src ONCE, checkpointed) join
    // the broadcast ball-bounded distance frame + one hash agg min —
    // zero corpus shuffles per round, the coreness/pageRank
    // discipline; PlanLint class rules apply (|dist| ≤ |nodes|). A
    // bounded round budget is the production lever on huge graphs:
    // the k-hop neighborhood's distances are EXACT (any ≤k-edge path
    // is relaxed), and k rounds of one-scan-plus-broadcast is the
    // shape that survives a 100 TB edge table.
    "g10_sssp_bounded" -> ((s, dir) => {
      import s.implicits._
      val weighted = cooccurrenceEdges(s, dir)
        .where(col("w") >= minEdgeWeight)
        .select(col("u"), col("v"), expr("1000000 div w").as("cost"))
      val seeds = Tables.load(s, dir, "part")
        .where(col("p_brand") === "Brand#1")
        .select(col("p_partkey").as("node"))
      val dist = ssspBounded(weighted, seeds, rounds = 3)
      val top = dist.where(col("dist") > 0)
        .orderBy(col("dist").asc, col("node").asc).limit(20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      Dedup.releaseCheckpoints(dist)
      top.toDF("node", "dist")
    }),

    // ENGINE-ITERATED reachability through Spark 4's RECURSIVE CTE
    // (Catalyst UnionLoop): the same BFS semantics as g7's
    // driver-loop, but the iteration lives INSIDE one logical plan —
    // the recursion the reference writes as a Python loop over SQL
    // statements, expressed as a single declarative statement. The
    // stored co-occurrence edges are oriented u < v, so the forward
    // walk is a DAG walk and the recursion terminates structurally;
    // the depth guard is a second, explicit bound. Spark's recursive
    // UNION ALL keeps only the PREVIOUS level in the working table, so
    // each level is DISTINCT-ed (level width ≤ |nodes|, never path
    // counts — on a dense co-occurrence graph path multiplicity is
    // exponential, node width is not) and min-depth is taken at the
    // end. The /*+ BROADCAST(r) */ hint pins the per-iteration join to
    // broadcasting the NODE-BOUNDED recursion side — without it the
    // 5 MB on-disk edge artifact's stats can nominate the corpus-scale
    // edge table as build side (the g2_pagerank class, here guarded in
    // the statement itself). DuckDB runs the identical statement over
    // the from-scratch edge derivation — full oracle row, so the
    // UnionLoop execution path is hash-checked every round.
    "g9_reach_recursive" -> ((s, dir) => {
      cooccurrenceEdges(s, dir).select(col("u"), col("v"))
        .createOrReplaceTempView("g9_co_edges")
      s.sql("""
        WITH RECURSIVE r(node, depth) AS (
          SELECT u AS node, 0 AS depth
          FROM (SELECT DISTINCT u FROM g9_co_edges ORDER BY u LIMIT 25)
          UNION ALL
          SELECT /*+ BROADCAST(r) */ DISTINCT e.v, r.depth + 1
          FROM r JOIN g9_co_edges e ON e.u = r.node
          WHERE r.depth < 3
        )
        SELECT node, MIN(depth) AS d FROM r GROUP BY node""")
    })
  )

  /** Synchronous min-tie-break label propagation over a BIDIRECTIONAL
    * edge table; returns (node, lbl) after `rounds` rounds. Caller
    * releases the returned frame's checkpoint.
    *
    * The per-round neighbor-label gather BROADCASTS the |nodes|-row
    * label table only while |nodes| ≤ [[maxBroadcastNodes]] — the
    * zero-corpus-shuffle-per-round plan holds exactly when the node
    * dimension is metadata-sized next to the edges. Above the
    * threshold (a corpus-sized node set would OOM executors long
    * before 100 TB) the gather falls back to a shuffled hash join:
    * one edge-table shuffle per round, the honest linear-in-edges
    * cost every distributed LPA pays at that scale (Raghavan 2007 on
    * Pregel-likes). The threshold check is one count on round 0's
    * label table — metadata next to the rounds themselves.
    */
  private[graft] def labelProp(edges: DataFrame, rounds: Int): DataFrame = {
    // see coreness: fresh-leaf rebase drops inherited Catalyst stats
    def rebase(df: DataFrame): DataFrame =
      org.apache.spark.sql.GraftShims.rebase(df)
    val ep = edges.repartition(col("src")).ckpt(false)
    var labelsCk = ep.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .ckpt(false)
    val smallNodeSet = labelsCk.count() <= maxBroadcastNodes
    var r = 0
    while (r < rounds) {
      r += 1
      val labels = rebase(labelsCk)
      // neighbor-label gather: broadcast join preserves ep's src
      // layout; both following aggs group by (a superset of) src, so
      // their exchanges are elided against that layout. Past the node
      // threshold, a shuffled hash join (see scaladoc).
      val gathered =
        if (smallNodeSet) ep.join(broadcast(labels.toDF("dst", "nlbl")), "dst")
        else ep.join(labels.toDF("dst", "nlbl"), "dst")
      val next = gathered
        .groupBy(col("src"), col("nlbl")).agg(count(lit(1)).as("cnt"))
        // arg-max with min tie-break: labels are non-negative ids, so
        // max(struct(cnt, -lbl)) picks highest count then lowest label
        .groupBy(col("src"))
        .agg(max(struct(col("cnt"), (-col("nlbl")).as("neg"))).as("m"))
        .select(col("src").as("node"), (-col("m.neg")).as("lbl"))
      val nextCk = next.ckpt(false)
      nextCk.count()
      Dedup.releaseCheckpoints(labelsCk)
      labelsCk = nextCk
    }
    Dedup.releaseCheckpoints(ep)
    labelsCk
  }

  /** Minimum pair support for `g5_frequent_pairs` — a plan constant
    * shared with the oracle SQL.
    */
  private[graft] val minPairSupport = 3

  /** Minimum co-occurrence weight for `g6_label_prop`'s community
    * graph — a plan constant shared with the oracle SQL.
    */
  private[graft] val minEdgeWeight = 2

  /** Max node count for which [[labelProp]] broadcasts the per-round
    * label table (8M nodes × ~16 B/row ≈ 128 MB — comfortably under
    * executor broadcast budgets); larger node sets shuffle instead.
    */
  private[graft] val maxBroadcastNodes = 8L << 20

  /** Bounded min-plus relaxation over a WEIGHTED undirected edge set
    * (u, v, cost BIGINT): `rounds` synchronous Bellman-Ford rounds
    * from `seeds` (restricted to graph nodes, dist 0), each round
    * dist'(v) = min(dist(v), min_{(u,v)} dist(u) + cost). Plan
    * discipline of the iterative class: the bidirectional edge table
    * is hash-partitioned by src ONCE and checkpointed; the per-round
    * distance frame (ball-bounded ≤ |nodes|) is rebased (inherited
    * stats dropped) and broadcast-hinted under [[maxBroadcastNodes]]
    * — zero corpus shuffles or edge re-broadcasts per round, walked
    * by PlanLintSpec with the other engines. Returns the (node, dist)
    * table after `rounds`; caller releases its checkpoint.
    */
  private[graft] def ssspBounded(weighted: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    val edgesCk = weighted
      .select(col("u").as("src"), col("v").as("dst"), col("cost"))
      .union(weighted.select(col("v").as("src"), col("u").as("dst"), col("cost")))
      .repartition(col("src")).ckpt(false)
    val edges = org.apache.spark.sql.GraftShims.rebase(edgesCk)
    val nodes = edges.select(col("src").as("node")).distinct()
    val small = nodes.count() <= maxBroadcastNodes
    def hint(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    var dist = nodes.join(seeds, "node")
      .select(col("node"), lit(0L).as("dist")).ckpt(false)
    dist.count()
    for (_ <- 1 to rounds) {
      val d0 = org.apache.spark.sql.GraftShims.rebase(dist)
      val relaxed = edges
        .join(hint(d0.select(col("node").as("src"), col("dist").as("d"))), "src")
        .select(col("dst").as("node"), (col("d") + col("cost")).as("dist"))
        .unionByName(d0)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .ckpt(false)
      relaxed.count()
      Dedup.releaseCheckpoints(dist)
      dist = relaxed
    }
    Dedup.releaseCheckpoints(edgesCk)
    dist
  }

  /** Fixed-iteration engines ([[pageRank]], [[pageRankQ]]) checkpoint
    * state every this-many fused rounds instead of every round. Each
    * blocking materialization is a straggler barrier — on a shared
    * host every barrier waits on the slowest task, so 10 barriers
    * amplify intermittent neighbor load ~10× (the BENCH_r14 g2
    * bimodality: 5 s plan, 43–65 s reps under load). 3 keeps the
    * inter-checkpoint lineage at ≤3 join/agg layers — shallow enough
    * for replay-on-failure and codegen — while cutting 10 barriers
    * to 4. Convergence-probed engines (coreness, CC) cannot fuse:
    * they need each round's changed-count to decide termination.
    */
  private[graft] val ckptEvery = 3

  /** Schema of the stored co-occurrence edge table: weighted distinct
    * pairs (u < v, w = number of baskets containing both), sharded by
    * `pmod(u, 16)` so the store has a partitionable layout.
    */
  private[graft] val edgeSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("u", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("w", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("shard", org.apache.spark.sql.types.IntegerType)))

  /** Where `dir`'s materialized co-occurrence edge table lives. The
    * key is a sha-256 of the corpus path PLUS the lineitem source's
    * (length, mtime) fingerprint — a regenerated corpus at the same
    * path gets a fresh artifact instead of silently serving stale
    * edges (the staleness failure mode a path-only key would have);
    * the fingerprint read is two filesystem metadata ops.
    */
  private[graft] def edgeArtifactRoot(s: SparkSession,
      dir: String): org.apache.hadoop.fs.Path = {
    import org.apache.hadoop.fs.Path
    val (len, mtime) = Tables.sourceFingerprint(s, s"$dir/lineitem.parquet")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$dir|$len|$mtime".getBytes("UTF-8"))
      .take(16).map(b => f"$b%02x").mkString
    new Path(new Path(System.getProperty("java.io.tmpdir"),
      "graft_graph_edges"), s"${new java.io.File(dir).getName}_${digest}_v1")
  }

  private val edgeCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** BUILD-ONCE, READ-MANY derived co-occurrence graph — the
    * amortization the reference gets by keeping its occurrence fact
    * table in Postgres instead of recomputing it per query
    * (reference `db/occurrence.py:25-49`): every graph query used to
    * re-derive the same lineitem self-join + distinct in-query; now
    * the weighted edge table (u < v, w = co-basket count) is written
    * ONCE per corpus through the repo's own [[graft.sinks.SnapshotStore]]
    * (replaceAll: staged batch + atomic pointer swap, fenced against
    * concurrent builders) and every g1–g8 query READS it. The stored
    * table is VALUE-TRANSPARENT — each consumer's oracle still
    * restates the raw derivation and hash-checks — and the `w` column
    * lets weight-filtered consumers (g5's support ≥ 3, g6/g7's
    * w ≥ 2) push their filter into the parquet scan. Concurrent
    * first-builders race through the store's commit fence: training
    * is deterministic, so the loser's
    * [[graft.sinks.SnapshotConcurrentWriteException]] is caught and
    * the winner's identical commit is read. The per-(session, root)
    * cache pins the resolved READ PLAN, not data — every query still
    * scans the stored parquet (16 shards, partition-pruned layout).
    */
  private[graft] def cooccurrenceEdges(s: SparkSession, dir: String): DataFrame = {
    val root = edgeArtifactRoot(s, dir)
    val store = new graft.sinks.SnapshotStore(s, root)
    val cacheKey = s"${System.identityHashCode(s)}#$root"
    if (store.currentVersion().isEmpty) {
      edgeCache.remove(cacheKey)
      val baskets = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val pairs = baskets.toDF("ok", "u").join(baskets.toDF("ok", "v"), "ok")
        .where(col("u") < col("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
        .withColumn("shard", pmod(col("u"), lit(16)).cast("int"))
      try graft.sinks.SnapshotMerge.replaceAll(s, root.toString, pairs, Seq("shard"))
      catch {
        // a concurrent builder won the pointer swap; its content is
        // identical by determinism — read the winner's commit
        case _: graft.sinks.SnapshotConcurrentWriteException => ()
      }
    }
    edgeCache.computeIfAbsent(cacheKey, _ =>
      graft.sinks.SnapshotMerge.read(s, root.toString, edgeSchema)
        .select(col("u"), col("v"), col("w")))
  }

  /** Wedge-center degree cap for [[queries]]' `g4_node_jaccard` — a
    * plan constant shared with the oracle SQL.
    */
  private[graft] val hubCap = 64

  /** Coreness (max k such that the node survives in the k-core) by
    * h-index iteration until fixpoint. Engineered so NO round shuffles
    * the edge table:
    *
    *  - edges are hash-partitioned by `src` ONCE up front; the
    *    per-round neighbor gather is then a BROADCAST join (the
    *    estimate table is |nodes| rows — metadata next to m), which
    *    preserves that layout, so the per-node window (row_number
    *    over a node's neighbor values) and the H-index hash agg both
    *    run with their Exchange ELIDED — per round the corpus-scale
    *    work is one partitioned scan + in-partition sort, zero
    *    corpus shuffles (vs. the naive spelling's shuffle-join +
    *    window exchange every round: measured 72 s → ~8 s at sf0.1).
    *  - FRONTIER recomputation: a node's H-index can only change if
    *    a NEIGHBOR's estimate changed last round, so each round
    *    recomputes only nodes adjacent to the previous round's
    *    changes (everyone, round 1). Real graphs converge their bulk
    *    in a few rounds; the long tail of rounds then touches a
    *    vanishing frontier instead of re-scoring every node.
    *
    * The fixpoint equals the sequential Batagelj-Zaversnik peel
    * (Lü et al. 2016); `maxRounds` is a safety rail and
    * non-convergence is an error, never a silently wrong answer.
    * Checkpoint-and-release per round (the connectedComponents
    * discipline) keeps lineage flat.
    *
    * Takes the BIDIRECTIONAL edge table; returns (node, core INT).
    * Caller releases the returned frame's checkpoint.
    */
  private[graft] def coreness(edges: DataFrame, maxRounds: Int = 512,
      requireConverged: Boolean = true,
      broadcastNodeCap: Long = maxBroadcastNodes): DataFrame = {
    // STATS-INHERITANCE TRAP (found live: 1 s rounds degrading to 51 s
    // by round 21 at sf0.1, driver pinned in BigInteger.multiply):
    // a checkpointed Dataset's LogicalRDD INHERITS the origin plan's
    // Catalyst sizeInBytes, and this loop's plan references the
    // estimate table twice (h side and keep side) — so the inherited
    // stat roughly SQUARES every round and the stats visitor ends up
    // doing ToomCook multiplications on million-bit integers. Rebasing
    // the round state through a fresh leaf (GraftShims.rebase — zero
    // execution cost on a materialized checkpoint) drops the inherited
    // stat (fresh leaf = constant default), keeping every round's
    // stats work O(plan size). Join strategies don't regress because
    // every join in the loop is explicitly broadcast-hinted.
    def rebase(df: DataFrame): DataFrame =
      org.apache.spark.sql.GraftShims.rebase(df)
    // CONVERGENCE-PROBE BATCHING (r16): the per-round breakdown at
    // sf0.1 showed ~0.57 s/round FLAT whether the frontier was 19k
    // nodes or 34 — the cost is per-round fixed overhead (broadcast
    // builds + the changed-count ACTION each round), not data. The
    // r15 "convergence-probed loops can't fuse" claim is beatable:
    // the h-index update is monotone and IDEMPOTENT at the fixpoint,
    // so probing `changed` only every [[probeEvery]] rounds stays
    // EXACT — the loop stops when a full pass changes nothing, it
    // just may run up to probeEvery−1 no-op passes past the true
    // fixpoint (each nearly free: the frontier is empty, so gathered
    // is empty and the pass degenerates to a state identity).
    // Between probes the per-round states stay LAZY checkpoints;
    // the probe's single action materializes the whole segment
    // (each round's blocks compute once and serve that round's
    // multiple downstream consumers from cache), and superseded
    // states release only after the probe materializes the newest.
    val probeEvery = 4
    // ONE-SCAN ROUND (r20 optimization pass): the r19 spelling
    // recomputed the frontier with a dedicated semi-join pass —
    // `touched` = distinct srcs with a changed neighbor (ep scan #1,
    // broadcast build #1), then `gathered` = ep ⋈ touched (scan #2,
    // build #2), then the value annotation (build #3) and the h left
    // join (build #4): per round 2 full edge scans + 4 broadcast
    // builds, measured 0.57–0.58 s/round FLAT whether the frontier
    // was 17k nodes or 34 — pure fixed overhead at bench scale, and
    // 2× the scan work at any scale. The round is now ONE pass: edges
    // are annotated with (neighbor value, neighbor chg) in a single
    // node-scale broadcast join, the touched flag is a sortless
    // unbounded window over the src partitioning (ep is sorted by src
    // ONCE at build; the broadcast join preserves streamed-side order
    // and partitioning, so the window's Sort AND Exchange both
    // elide), and only the flagged (frontier-adjacent) rows reach the
    // h-index rank sort — the frontier-bounded sort is unchanged.
    // Per round: 1 edge scan + 2 broadcast builds (annotation, h).
    //
    // WHY ep is a CACHE, not a localCheckpoint: a checkpoint's
    // LogicalRDD leaf DROPS the physical partitioning and ordering
    // (plain `Scan ExistingRDD` — verified in the executed plan), so
    // every round paid an Exchange + full Sort to re-establish the
    // src clustering the build already produced. An InMemoryRelation
    // keeps the cached plan's outputPartitioning AND outputOrdering
    // (and `canChangeCachedPlanOutputPartitioning` defaults to false,
    // so AQE cannot coalesce it away), so the per-round window/agg
    // run with Exchange and Sort both elided. ep is built ONCE and
    // read-only — no iterative lineage to truncate, which is the only
    // thing localCheckpoint bought here.
    val ep = edges.repartition(col("src"))
      .sortWithinPartitions(col("src")).persist(graft.Ckpt.level)
    var stateCk = ep.groupBy(col("src"))
      .agg(count(lit(1)).cast("int").as("c"))
      .toDF("node", "c")
      .withColumn("chg", lit(true))
      .ckpt(false)
    var changed = stateCk.count()
    // SIZE-GATED broadcast (r18, the g2_pagerank/labelProp discipline):
    // state/frontier sides are |nodes|-bounded — metadata next to the
    // edge table while the graph is dimension-scale, where the
    // explicit hint keeps every round shuffle-free. On a BILLION-node
    // graph an unconditional broadcast(state) is a driver/executor
    // memory bomb; past the cap the hints drop and the joins fall
    // back to shuffles against the src-partitioned edge table (the
    // src-keyed joins reuse ep's layout; the dst-keyed gather pays a
    // real exchange — the honest cost of node-scale state that no
    // longer fits one machine). `changed` at round 0 IS |nodes|.
    val small = changed <= broadcastNodeCap
    def hint(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    var round = 0
    var pending: List[DataFrame] = Nil
    // LAZY STATE CHAIN between probes (r20 optimization pass, second
    // cut): the previous spelling checkpointed `next` EVERY round,
    // whose materialization was a third per-round job (~60 ms + its
    // driver gap) on top of the two broadcast builds — measured 40
    // rounds × ~3 jobs at sf0.1 with ~50% of wall in driver-side
    // gaps between jobs. What actually needs per-round
    // materialization is only `h` (the edge-pipeline output): its
    // broadcast build runs the edge pass anyway, so checkpointing
    // h LAZILY rides that same job for free, and the node-scale
    // state chain (segment base ⋈ b(h₁) ⋈ … ⋈ b(h_k), all
    // frontier-bounded materialized blocks) stays LAZY until the
    // probe checkpoints it — per round: 2 jobs, zero extra passes.
    // Stats discipline: the chain is ≤ probeEvery joins over a
    // rebased fresh leaf, so inherited-stat growth is bounded per
    // segment instead of compounding across rounds.
    var state = rebase(stateCk)
    while (changed > 0 && round < maxRounds) {
      round += 1
      // ONE annotation pass (see the ep scaladoc above): every edge
      // picks up its neighbor's current value AND chg flag from one
      // node-scale broadcast. Round 1 starts all-chg, so no special
      // case: every src is touched.
      val ann = ep.join(hint(state.select(col("node").as("dst"),
          col("c").as("cn"), col("chg"))), "dst")
        .select(col("src"), col("cn"), col("chg"))
      // nodes that must re-score: those with ≥1 changed neighbor —
      // an unbounded max over the src partitioning. No orderBy, so
      // the window needs only clustering+sort by src, which ep's
      // build-time layout already provides: Sort and Exchange elide.
      val wAll = Window.partitionBy(col("src"))
      val flagged = ann
        .withColumn("touch", max(when(col("chg"), 1).otherwise(0)).over(wAll))
        .where(col("touch") === 1)
      // H-index per node: sort the neighbor values desc (ties in any
      // order — max of min(value, rank) is tie-order invariant), then
      // h = max(min(value_i, i)). Only the FLAGGED (frontier-adjacent)
      // rows reach this sort, and the agg runs with its Exchange
      // elided on ep's partitioning — zero corpus shuffles per round.
      // The LAZY checkpoint materializes inside h's own broadcast
      // build (the first consumer), truncating the edge pipeline out
      // of every later round's state chain — without it, round r's
      // chain would re-run all r−1 prior edge passes per broadcast.
      val w = Window.partitionBy(col("src")).orderBy(col("cn").desc)
      val h = flagged.withColumn("rn", row_number().over(w))
        .groupBy(col("src"))
        .agg(max(least(col("cn"), col("rn"))).cast("int").as("h"))
        .toDF("node", "h")
        .ckpt(false)
      // untouched nodes keep their value (left join + coalesce); the
      // monotone least() guards the theorem's non-increasing path.
      // h is frontier-bounded (≤ |nodes| rows of (node, int) — the
      // same node-scale class this loop already broadcasts twice per
      // round); unhinted, the default-stat LogicalRDD leaves pushed
      // this to a sort-merge join that shuffled BOTH node-scale
      // sides every round.
      if (round == 2 && sys.env.contains("GRAFT_KCORE_EXPLAIN"))
        println(h.queryExecution.executedPlan.toString())
      pending ::= h
      state = state.select(col("node"), col("c").as("c0"))
        .join(hint(h), Seq("node"), "left")
        .select(col("node"),
          least(col("c0"), coalesce(col("h"), col("c0"))).cast("int").as("c"),
          (coalesce(col("h"), col("c0")) < col("c0")).as("chg"))
      // ONE action per SEGMENT: checkpoints the chained state, counts
      // the newest frontier, and only then releases the superseded
      // segment base and the segment's h blocks.
      if (round % probeEvery == 0 || round == maxRounds) {
        val next = state.ckpt(false)
        changed = next.where(col("chg")).count()
        pending.foreach(Dedup.releaseCheckpoints)
        pending = List(stateCk)
        stateCk = next
        state = rebase(stateCk)
        if (sys.env.contains("GRAFT_KCORE_LOG"))
          println(s"[kcore] probe round $round changed=$changed " +
            s"t=${System.nanoTime() / 1000000}")
      }
    }
    require(!requireConverged || changed == 0,
      s"coreness did not converge in $maxRounds rounds")
    val out = stateCk.select(col("node"), col("c").as("core"))
      .ckpt(false)
    out.count()
    pending.foreach(Dedup.releaseCheckpoints)
    Dedup.releaseCheckpoints(stateCk)
    ep.unpersist(blocking = false)
    out
  }

  /** PageRank by power iteration over the undirected co-occurrence
    * graph, with every arithmetic op in DECIMAL(38,18) — decimal adds
    * are order-independent and decimal division/multiplication are
    * engine-deterministic, so two runs produce BIT-identical ranks
    * regardless of shuffle order (double sums would drift in the last
    * ulp per run; the text_lm_score / BM25 quantization precedent
    * applied to iterative state). Per iteration: one key join
    * (rank ⋈ degree), one shuffle join (edges ⋈ shares, on src), one
    * hash agg (sum of in-shares on dst), one left join back to the
    * node set (dangling-free here: every node of an undirected edge
    * has degree ≥ 1). BARRIER DISCIPLINE (r14 driver-box lesson): the
    * iteration count is FIXED, so there is no convergence probe to
    * run — rounds are FUSED, checkpointing (and blocking on) state
    * only every [[ckptEvery]] iterations instead of every round.
    * Each blocking materialization is a full straggler barrier: on a
    * busy host every barrier waits on the slowest task, and 10
    * barriers amplified intermittent neighbor load into 43–65 s reps
    * of a 5 s plan (BENCH_r14 bimodality). With fusing the lineage
    * between checkpoints stays ≤3 join/agg layers deep (shallow
    * enough for codegen and replay), inherited-stats discipline is
    * preserved because every fused segment still starts from a
    * rebased fresh leaf, and the barrier count drops 10 → 4.
    *
    * Returns the FULL rank table (node, rank DECIMAL(38,18));
    * [[queries]] takes the top 20. Caller must release `edges` via
    * [[Dedup.releaseCheckpoints]] after consuming the result — the
    * returned frame's final checkpoint is released here after landing
    * ranks via collect-free checkpoint chaining (the last round's
    * frame IS the result; the caller's consumption materializes
    * nothing new).
    */
  private[graft] def pageRank(edges: DataFrame, d: BigDecimal = BigDecimal("0.85"),
      iters: Int = 10): DataFrame = {
    // see coreness: fresh-leaf rebase drops inherited Catalyst stats —
    // without it the per-round checkpoint's inherited sizeInBytes
    // compounds across iterations (the stats-inheritance trap)
    def rebase(df: DataFrame): DataFrame =
      org.apache.spark.sql.GraftShims.rebase(df)
    // Decimal-typing care: Spark's precision-loss rules collapse the
    // scale of wide÷wide to 6 (s = max(6, 38 - intDigits)), which
    // would quantize ranks of a big graph to dust. Divisors and the
    // damping factor therefore stay NARROW — deg as decimal(10,0)
    // keeps (38,18)/(10,0) at scale 18, damp as decimal(3,2) keeps
    // the product at scale 16 — and every result is cast back to
    // (38,18) so the loop's type is a fixpoint.
    val dec = "decimal(38,18)"
    // PLAN DISCIPLINE (the coreness/labelProp contract, applied here
    // after a measured 5× regression): the materialized edge table is
    // a few MB of compressed parquet, so Catalyst's size estimate of
    // an edge frame derived from it can dip UNDER the broadcast
    // threshold and flip the per-iteration join to broadcasting the
    // CORPUS-scale edge side every round (observed live at sf0.1:
    // 7.3 s → 37.2 s when g2 moved from the lineitem self-join, whose
    // huge estimate kept the join a shuffle, to the stored artifact).
    // A stats-dependent plan is not a plan — the join sides are
    // therefore pinned explicitly: edges hash-partitioned by `src`
    // ONCE up front, and the |nodes|-row shares/contrib tables
    // broadcast-hinted (falling back to shuffled joins past
    // [[maxBroadcastNodes]], the labelProp threshold), so every
    // iteration runs zero corpus-side broadcasts and zero edge
    // re-shuffles no matter what the artifact's on-disk size makes
    // the estimator believe. PlanLintSpec walks the executed rounds
    // and fails on any broadcast bigger than the node set.
    // CACHE, not checkpoint (r20, the coreness lesson): a
    // localCheckpoint's LogicalRDD drops the physical partitioning,
    // so the per-round agg re-shuffled edge-scale rows the build had
    // already clustered; an InMemoryRelation keeps outputPartitioning
    // (AQE can't change cached-plan partitioning by default), so the
    // src-keyed agg below runs with its Exchange elided.
    val ep = edges.repartition(col("src")).persist(graft.Ckpt.level)
    val deg = ep.groupBy(col("src"))
      .agg(count(lit(1)).cast("decimal(10,0)").as("deg"))
      .ckpt(false)
    val nodes = deg.select(col("src").as("node"), col("deg"))
    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty graph")
    val small = n <= maxBroadcastNodes
    def hint(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val damp = lit(d.underlying()).cast("decimal(3,2)")
    val one = lit(1).cast("decimal(2,0)")
    val nLit = lit(n).cast("decimal(12,0)")
    val teleport = ((one - damp) / nLit).cast(dec)
    var rank = nodes
      .select(col("node"), col("deg"), (one / nLit).cast(dec).as("rank"))
      .ckpt(false)
    rank.count()
    // lastCk tracks the live checkpoint whose blocks back the current
    // (possibly fused, un-materialized) `rank` lineage; released only
    // after the NEXT checkpoint has materialized
    var lastCk = rank
    for (i <- 1 to iters) {
      // rebase only at segment starts: on a materialized checkpoint it
      // is free and drops inherited stats; mid-segment frames inherit
      // the fresh leaf's conservative estimate, so joins stay shuffled
      val r0 = if (rank eq lastCk) rebase(rank) else rank
      val shares = r0.select(col("node"),
        (col("rank") / col("deg")).cast(dec).as("share"))
      // GATHER DIRECTION (r20): the edge table is bidirectional, so
      // in_share(v) = Σ share over v's neighbors can be grouped on
      // EITHER endpoint — the sums range over the same multiset and
      // decimal addition is order-independent, so the two spellings
      // are bit-identical. In the broadcast regime, keying the share
      // lookup on dst and grouping on src keeps BOTH the join and the
      // agg on ep's cached src layout: zero edge-scale exchanges per
      // iteration (measured 0.53 → 0.32 s/iter at sf0.1). Past
      // [[maxBroadcastNodes]] the shuffled join would have to
      // re-shuffle edges by dst AND back by src — there the r19
      // spelling (join on src preserving ep's layout, one honest
      // dst-keyed agg exchange) pays one edge exchange instead of
      // two, so it stands.
      val contrib =
        if (small)
          ep.join(broadcast(shares.select(col("node").as("dst"),
              col("share"))), "dst")
            .groupBy(col("src")).agg(sum(col("share")).cast(dec).as("in_share"))
            .select(col("src").as("dst"), col("in_share"))
        else
          ep.join(shares, ep("src") === shares("node"))
            .groupBy(col("dst")).agg(sum(col("share")).cast(dec).as("in_share"))
      var next = nodes.join(hint(contrib), nodes("node") === contrib("dst"), "left")
        .select(nodes("node"), nodes("deg"),
          (teleport + damp * coalesce(col("in_share"), lit(0).cast(dec)))
            .cast(dec).as("rank"))
      if (i % ckptEvery == 0 || i == iters) {
        next = next.ckpt(false)
        next.count()
        Dedup.releaseCheckpoints(lastCk)
        lastCk = next
      }
      rank = next
    }
    Dedup.releaseCheckpoints(deg)
    ep.unpersist(blocking = false)
    rank.select(col("node"), col("rank"))
  }

  /** Bounded-round pagerank with all state in INTEGER micro-mass
    * units: total mass 1e12, r₀ = mass div n, per round
    * share = rank div deg, rank' = (15·mass) div (100·n)
    * + (85·Σ in-shares) div 100 — floor division everywhere, so the
    * whole computation is BIGINT-exact, engine-independent, and
    * restatable in the SQL oracle (g5's staged-integer-lift
    * convention applied to iterative state; every intermediate is
    * ≤ 85·1e12, Long-safe). Same fixed plan as [[pageRank]]: edges
    * partitioned by src once, |nodes|-row sides broadcast-hinted
    * under [[maxBroadcastNodes]]. Floor-division mass leakage (≤ 1
    * unit per node per division) biases all ranks uniformly down by
    * < n/1e12 of total mass — ranking-irrelevant while n ≪ 1e12, and
    * in any case part of the operator's definition, restated
    * identically by the oracle. Returns (node, rank_q BIGINT);
    * caller releases the returned frame's checkpoint.
    */
  private[graft] def pageRankQ(edges: DataFrame, iters: Int): DataFrame = {
    def rebase(df: DataFrame): DataFrame =
      org.apache.spark.sql.GraftShims.rebase(df)
    // cache (not checkpoint) to keep the src partitioning visible —
    // see [[pageRank]]'s ep note
    val ep = edges.repartition(col("src")).persist(graft.Ckpt.level)
    val deg = ep.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .ckpt(false)
    val nodes = deg.select(col("src").as("node"), col("deg"))
    val n = nodes.count()
    require(n > 0, "pageRankQ needs a non-empty graph")
    val small = n <= maxBroadcastNodes
    def hint(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val mass = 1000000000000L
    val teleportQ = (15L * mass) / (100L * n)
    var rank = nodes
      .select(col("node"), col("deg"), lit(mass / n).as("rank_q"))
      .ckpt(false)
    rank.count()
    // fused-barrier discipline: see [[pageRank]] / [[ckptEvery]]
    var lastCk = rank
    for (i <- 1 to iters) {
      val r0 = if (rank eq lastCk) rebase(rank) else rank
      val shares = r0.select(col("node"),
        expr("rank_q div deg").as("share"))
      // gather keyed on dst + grouped on src in the broadcast regime
      // (bit-identical: integer sums over the same neighbor multiset;
      // see [[pageRank]]'s gather-direction note)
      val contrib =
        if (small)
          ep.join(broadcast(shares.select(col("node").as("dst"),
              col("share"))), "dst")
            .groupBy(col("src")).agg(sum(col("share")).as("in_share"))
            .select(col("src").as("dst"), col("in_share"))
        else
          ep.join(shares, ep("src") === shares("node"))
            .groupBy(col("dst")).agg(sum(col("share")).as("in_share"))
      if (i == 2 && sys.env.contains("GRAFT_KCORE_EXPLAIN"))
        println(contrib.queryExecution.executedPlan.toString())
      var next = nodes.join(hint(contrib), nodes("node") === contrib("dst"), "left")
        .select(nodes("node"), nodes("deg"),
          (lit(teleportQ) +
            expr("(85 * coalesce(in_share, CAST(0 AS BIGINT))) div 100"))
            .as("rank_q"))
      if (i % ckptEvery == 0 || i == iters) {
        next = next.ckpt(false)
        next.count()
        Dedup.releaseCheckpoints(lastCk)
        lastCk = next
      }
      rank = next
    }
    Dedup.releaseCheckpoints(deg)
    ep.unpersist(blocking = false)
    rank.select(col("node"), col("rank_q"))
  }

  /** The DOULION edge coin: deterministic uniform draw per (u, v)
    * edge, salted so the estimator's unbiasedness is testable across
    * independent coins. Keep-probability 1/2 (draw < 5e8 of 1e9
    * buckets). The two endpoints MIX through a combined key
    * (k = (u·1048573 + v + salt) mod 2³¹−1) BEFORE the Knuth multiply
    * — a coin linear in per-endpoint hashes is provably 3-cycle
    * dependent (draw(ab)+draw(bc)−draw(ac) collapses to a function of
    * b alone), which skews triangle survival away from p³: the first
    * spelling of this coin measured 1.8× bias on the sf0.001 graph.
    * Every intermediate fits a Long for ANY partkey (the sampler-hash
    * overflow rule). SQL twin spelled in the oracle.
    */
  private[graft] def edgeCoin(salt: Long): org.apache.spark.sql.Column = {
    val m = 2147483647L
    val k = pmod(pmod(col("u"), lit(m)) * 1048573L
      + pmod(col("v"), lit(m)) + lit(salt), lit(m))
    pmod(k * 2654435761L, lit(1000000000L)) < 500000000L
  }

  /** Exact triangle count over the coin-sparsified graph, scaled by
    * 1/p³ = 8 — returns (estimate, sampled edge count), releasing the
    * pipeline's checkpoints before returning.
    */
  private[graft] def sampledTriangles(li: DataFrame, salt: Long): (Long, Long) = {
    val (pairs, od, closing) = trianglePipeline(li, Some(edgeCoin(salt)))
    val nTri = closing.count()
    val nEdges = pairs.count()
    Dedup.releaseCheckpoints(pairs)
    Dedup.releaseCheckpoints(od)
    (nTri * 8L, nEdges)
  }

  /** The triangle dataflow over an (ok, pk) incidence relation:
    * returns (edge set, oriented edges, closing semi join). The edge
    * set and oriented-edge table are localCheckpoints — they feed
    * multiple consumers (degrees, orientation, the closing check, the
    * edge count), and without a checkpoint Spark replays the
    * lineitem self-join once per consumer (8× in the measured plan).
    * Both are already MATERIALIZED on return (the pipeline runs
    * `od.count()` itself, for the Bloom prefilter's edge count); the
    * closing frame stays lazy. The CALLER must
    * [[Dedup.releaseCheckpoints]] both checkpointed frames once done
    * with them (the connectedComponents pattern).
    */
  private[graft] def trianglePipeline(li: DataFrame,
      edgeKeep: Option[org.apache.spark.sql.Column] = None)
      : (DataFrame, DataFrame, DataFrame) =
    trianglePipelineFromPairs(
      li.toDF("ok", "u").join(li.toDF("ok", "v"), "ok")
        .where(col("u") < col("v"))
        .select(col("u"), col("v")).distinct(),
      edgeKeep)

  /** [[trianglePipeline]] against an ALREADY-DERIVED distinct edge
    * set (u < v) — the entry the catalog queries use now that the
    * co-occurrence graph is materialized once ([[cooccurrenceEdges]]);
    * the (ok, pk)-incidence overload above derives the pairs in-query
    * (specs, ad-hoc graphs). Same contract: edge set and oriented
    * edges come back materialized, and the caller releases both.
    */
  private[graft] def trianglePipelineFromPairs(allPairs: DataFrame,
      edgeKeep: Option[org.apache.spark.sql.Column] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    // optional edge sparsifier (DOULION) — applied AFTER distinct so
    // the coin decides each EDGE once, which the 1/p³ estimator needs
    val pairs = edgeKeep.map(allPairs.where(_)).getOrElse(allPairs)
      .ckpt(false)
    // EDGE-SCALE frames re-rooted on fresh leaves (zero-cost on the
    // checkpoints): a stored-artifact origin's few-MB inherited stats
    // must never nominate pairs/od as a BROADCAST side of the wedge
    // or closing joins (the g2_pagerank class — at toy estimates the
    // flip is fast, at corpus scale it's a 2.39M-row broadcast per
    // consumer); the node-scale deg table broadcasts EXPLICITLY
    // instead (|nodes| ≪ m on any co-occurrence graph — the g4/g5
    // convention).
    val pairsR = org.apache.spark.sql.GraftShims.rebase(pairs)
    // deg checkpointed ONCE (r20 optimization pass): the two broadcast
    // builds below each re-ran the full union+agg pass over the edge
    // table (two parallel ~1.1 s 16-task jobs at sf0.1); materializing
    // deg first makes both builds block reads.
    val deg = pairsR.select(col("u").as("node"))
      .union(pairsR.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
      .ckpt(false)
    val uFirst = (col("du") < col("dv")) ||
      (col("du") === col("dv") && col("u") < col("v"))
    val od = pairsR
      .join(broadcast(deg.toDF("u", "du")), "u")
      .join(broadcast(deg.toDF("v", "dv")), "v")
      .select(when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"),
        when(uFirst, col("dv")).otherwise(col("du")).as("dd"))
      .ckpt(false)
    val odR = org.apache.spark.sql.GraftShims.rebase(od)
    // materialize od (pairs and deg ride the same action), then drop
    // deg's blocks — od is the only thing downstream reads
    val nEdges = od.count()
    Dedup.releaseCheckpoints(deg)
    // wedges (v, w) from a common src, ordered by (deg, id) so each
    // candidate triangle is generated exactly once; a (v, w) pair
    // reached from DIFFERENT srcs is a different triangle, so the
    // closing check is a LEFT SEMI join (keeps left multiplicity,
    // never multiplies on the right).
    val wedges = odR.toDF("src", "v", "dv2")
      .join(odR.toDF("src", "w", "dw2"), "src")
      .where(col("dv2") < col("dw2") ||
        (col("dv2") === col("dw2") && col("v") < col("w")))
      .select(col("v"), col("w"))
    // BLOOM PRE-FILTER on the wedge exchange (opt guide §3.2): the
    // wedge set is O(m^1.5) and dominated the stage timeline — at
    // sf0.1 the semi join shuffled a 345 MB wedge write + 357 MB read
    // while the closing edges are 2.4M rows. A Bloom filter over
    // od's (src, dst) — built in one pass over the materialized od
    // blocks, bitwise-OR so insertion-order invariant — drops
    // non-closing wedges BEFORE the exchange; false positives only
    // add a little shuffle and are removed by the unchanged semi
    // join, so the result is identical (no false negatives). The
    // filter is embedded as a plan literal, so it is GATED on edge
    // count: past [[bloomMaxEdges]] the literal would be tens of MB
    // (a billion-edge graph needs GBs) and the plain semi join is
    // the honest plan — at that scale the runtime-filter machinery
    // with real stats is the production lever, not a plan constant.
    val closing0 =
      if (nEdges > 0 && nEdges <= bloomMaxEdges) {
        val bf = odR.stat.bloomFilter(
          xxhash64(col("src"), col("dst")), nEdges, 0.03)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        val mightClose = org.apache.spark.sql.GraftShims.column(
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
            org.apache.spark.sql.catalyst.expressions.Literal(
              bos.toByteArray,
              org.apache.spark.sql.types.BinaryType),
            org.apache.spark.sql.GraftShims.expression(
              xxhash64(col("v"), col("w")))))
        wedges.where(mightClose)
      } else wedges
    val closing = closing0
      .join(odR.select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"), "left_semi")
    (pairs, od, closing)
  }

  /** Edge-count cap for embedding the triangle-closing Bloom filter
    * as a plan literal (~7.3 bits/edge at fpp 0.03 → ≤ ~7 MB at the
    * cap). Past it the closing semi join runs unfiltered.
    */
  private[graft] val bloomMaxEdges = 8000000L

  def oracle: Map[String, String] = Map(
    // from-scratch restatement of the stored edge table's derivation;
    // matching the Spark side's stored read-back proves the
    // derive→store→read round trip is value-transparent
    "g0_edges" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         p AS (SELECT x.pk AS u, y.pk AS v, count(*) AS w
           FROM b x JOIN b y ON x.ok = y.ok AND x.pk < y.pk
           GROUP BY 1, 2)
         SELECT count(*) AS n_edges, CAST(sum(w) AS BIGINT) AS w_total,
           max(w) AS w_max FROM p""",
    "g1_triangles" ->
      """WITH pairs AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         deg AS (SELECT node, count(*) AS d
           FROM (SELECT u AS node FROM pairs
                 UNION ALL SELECT v AS node FROM pairs) t
           GROUP BY node),
         o AS (SELECT
             CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v)
                  THEN u ELSE v END AS src,
             CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v)
                  THEN v ELSE u END AS dst
           FROM pairs JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
         od AS (SELECT src, dst, d AS dd FROM o JOIN deg ON node = dst),
         wed AS (SELECT o1.dst AS v, o2.dst AS w2 FROM od o1 JOIN od o2
               ON o1.src = o2.src
               AND ((o1.dd < o2.dd) OR (o1.dd = o2.dd AND o1.dst < o2.dst)))
         SELECT count(*) AS n_triangles,
           (SELECT count(*) FROM pairs) AS n_edges
         FROM wed JOIN o ON wed.v = o.src AND wed.w2 = o.dst""",
    // identical dataflow over the coin-sparsified edge set; the coin,
    // p, and the 1/p³ scale are plan constants so DuckDB restates the
    // whole estimator
    "g1_triangles_sampled" ->
      """WITH pairs AS (SELECT u, v FROM (
             SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
             FROM lineitem a JOIN lineitem b
               ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
           WHERE ((((u % 2147483647) * 1048573 + (v % 2147483647))
                   % 2147483647) * 2654435761) % 1000000000 < 500000000),
         deg AS (SELECT node, count(*) AS d
           FROM (SELECT u AS node FROM pairs
                 UNION ALL SELECT v AS node FROM pairs) t
           GROUP BY node),
         o AS (SELECT
             CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v)
                  THEN u ELSE v END AS src,
             CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v)
                  THEN v ELSE u END AS dst
           FROM pairs JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
         od AS (SELECT src, dst, d AS dd FROM o JOIN deg ON node = dst),
         wed AS (SELECT o1.dst AS v, o2.dst AS w2 FROM od o1 JOIN od o2
               ON o1.src = o2.src
               AND ((o1.dd < o2.dd) OR (o1.dd = o2.dd AND o1.dst < o2.dst)))
         SELECT count(*) * 8 AS n_triangles_est,
           (SELECT count(*) FROM pairs) AS n_edges_sampled
         FROM wed JOIN o ON wed.v = o.src AND wed.w2 = o.dst""",
    // the round budget (3), the 1e12 integer mass, and floor division
    // are all plan constants, so the bounded quantized power iteration
    // UNROLLS into SQL (the g3_kcore_bounded convention) and the full
    // top-20 ranking hash-checks — a driver-enforced pin on the fixed
    // pagerank plan
    "g2_pagerank_bounded" -> {
      val rounds = (1 to 3).map { k =>
        s"""s$k AS (SELECT node, rank_q // deg AS share FROM r${k - 1}),
         c$k AS (SELECT e.dst, CAST(sum(s.share) AS BIGINT) AS in_share
           FROM edges e JOIN s$k s ON e.src = s.node GROUP BY e.dst),
         r$k AS (SELECT d.node, d.deg,
             CAST(tp.t + (85 * coalesce(c.in_share, 0)) // 100 AS BIGINT)
               AS rank_q
           FROM deg d LEFT JOIN c$k c ON d.node = c.dst CROSS JOIN tp)"""
      }.mkString(",\n         ")
      s"""WITH pairs AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         edges AS (SELECT u AS src, v AS dst FROM pairs
                   UNION ALL SELECT v AS src, u AS dst FROM pairs),
         deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
         nn AS (SELECT count(*) AS n FROM deg),
         tp AS (SELECT (15 * 1000000000000) // (100 * n) AS t FROM nn),
         r0 AS (SELECT node, deg,
             CAST(1000000000000 // nn.n AS BIGINT) AS rank_q
           FROM deg CROSS JOIN nn),
         $rounds
         SELECT node, rank_q FROM r3
         ORDER BY rank_q DESC, node ASC LIMIT 20"""
    },

    // the hub cap (deg <= 64) is part of the operator definition, so
    // the oracle restates it and the whole estimator hash-checks
    "g4_node_jaccard" ->
      """WITH pairs AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         edges AS (SELECT u AS src, v AS dst FROM pairs
                   UNION ALL SELECT v AS src, u AS dst FROM pairs),
         deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
         adj AS (SELECT e.src AS x, e.dst AS y FROM edges e
                 JOIN deg ON deg.node = e.src WHERE deg.d <= 64),
         cmn AS (SELECT a1.y AS a, a2.y AS b, count(*) AS common
           FROM adj a1 JOIN adj a2 ON a1.x = a2.x AND a1.y < a2.y
           GROUP BY a1.y, a2.y)
         SELECT a AS u, b AS v, common,
           CAST(common AS DOUBLE)
             / CAST(da.d + db.d - common AS DOUBLE) AS jaccard
         FROM cmn JOIN deg da ON da.node = a JOIN deg db ON db.node = b
         ORDER BY jaccard DESC, u ASC, v ASC LIMIT 20""",

    // min-support 3 and the STAGED integer lift quantization are plan
    // constants restated here, so the full ranking hash-checks
    "g5_frequent_pairs" ->
      """WITH baskets AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         nb AS (SELECT count(DISTINCT ok) AS n FROM baskets),
         item AS (SELECT pk, count(*) AS c_item FROM baskets GROUP BY pk),
         pair AS (SELECT a.pk AS u, b.pk AS v, count(*) AS c_ab
           FROM baskets a JOIN baskets b
             ON a.ok = b.ok AND a.pk < b.pk
           GROUP BY a.pk, b.pk HAVING count(*) >= 3)
         SELECT u, v, c_ab,
           (((nb.n * 1000000) // ia.c_item) * c_ab) // ib.c_item AS lift_q
         FROM pair
         JOIN item ia ON ia.pk = u JOIN item ib ON ib.pk = v
         CROSS JOIN nb
         ORDER BY c_ab DESC, u ASC, v ASC LIMIT 50""",

    // the round budget (5) is part of the operator definition, so the
    // whole bounded iteration UNROLLS into SQL — min-tie-break argmax
    // per round via QUALIFY row_number
    "g6_label_prop" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         pairs AS (SELECT a.pk AS u, bb.pk AS v
           FROM b a JOIN b bb ON a.ok = bb.ok AND a.pk < bb.pk
           GROUP BY a.pk, bb.pk HAVING count(*) >= 2),
         edges AS (SELECT u AS src, v AS dst FROM pairs
                   UNION ALL SELECT v AS src, u AS dst FROM pairs),
         l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
         l1 AS (SELECT src AS node, nlbl AS lbl FROM (
             SELECT e.src, l.lbl AS nlbl, count(*) AS cnt FROM edges e
             JOIN l0 l ON e.dst = l.node GROUP BY e.src, l.lbl) t
           QUALIFY row_number() OVER (
             PARTITION BY src ORDER BY cnt DESC, nlbl ASC) = 1),
         l2 AS (SELECT src AS node, nlbl AS lbl FROM (
             SELECT e.src, l.lbl AS nlbl, count(*) AS cnt FROM edges e
             JOIN l1 l ON e.dst = l.node GROUP BY e.src, l.lbl) t
           QUALIFY row_number() OVER (
             PARTITION BY src ORDER BY cnt DESC, nlbl ASC) = 1),
         l3 AS (SELECT src AS node, nlbl AS lbl FROM (
             SELECT e.src, l.lbl AS nlbl, count(*) AS cnt FROM edges e
             JOIN l2 l ON e.dst = l.node GROUP BY e.src, l.lbl) t
           QUALIFY row_number() OVER (
             PARTITION BY src ORDER BY cnt DESC, nlbl ASC) = 1),
         l4 AS (SELECT src AS node, nlbl AS lbl FROM (
             SELECT e.src, l.lbl AS nlbl, count(*) AS cnt FROM edges e
             JOIN l3 l ON e.dst = l.node GROUP BY e.src, l.lbl) t
           QUALIFY row_number() OVER (
             PARTITION BY src ORDER BY cnt DESC, nlbl ASC) = 1),
         l5 AS (SELECT src AS node, nlbl AS lbl FROM (
             SELECT e.src, l.lbl AS nlbl, count(*) AS cnt FROM edges e
             JOIN l4 l ON e.dst = l.node GROUP BY e.src, l.lbl) t
           QUALIFY row_number() OVER (
             PARTITION BY src ORDER BY cnt DESC, nlbl ASC) = 1)
         SELECT lbl AS community, count(*) AS n_nodes,
           min(node) AS min_node
         FROM l5 GROUP BY lbl""",

    // the round budget (6) is a plan constant, so the bounded h-index
    // iteration unrolls (the g6 convention) and the whole certified
    // upper-bound distribution hash-checks. All-integer state and a
    // tie-order-invariant h-index (max(least(cn, rn)) gives the same
    // value under ANY tie order in the rank window) make the unroll
    // engine-exact; the frontier optimization in the Scala loop is
    // pure work-saving (an unchanged-neighbor node cannot change), so
    // full recomputation per round restates it value-identically.
    "g3_kcore_bounded" -> {
      val rounds = (1 to 6).map { k =>
        s"""h$k AS (SELECT src, max(least(cn, rn)) AS h FROM (
             SELECT e.src, c.c AS cn,
               row_number() OVER (PARTITION BY e.src ORDER BY c.c DESC) AS rn
             FROM edges e JOIN c${k - 1} c ON e.dst = c.node) t$k
           GROUP BY src),
         c$k AS (SELECT c.node,
             CAST(least(c.c, coalesce(h.h, c.c)) AS INT) AS c
           FROM c${k - 1} c LEFT JOIN h$k h ON h.src = c.node)"""
      }.mkString(",\n         ")
      s"""WITH pairs AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         edges AS (SELECT u AS src, v AS dst FROM pairs
                   UNION ALL SELECT v AS src, u AS dst FROM pairs),
         c0 AS (SELECT src AS node, CAST(count(*) AS INT) AS c
                FROM edges GROUP BY src),
         $rounds
         SELECT c AS core_bound, count(*) AS n_nodes FROM c6 GROUP BY c"""
    },

    // every draw restated (same overflow-safe mix); the kept-first-2
    // rule via QUALIFY over the bounded per-positive window
    "g8_negative_samples" ->
      """WITH pos AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         mx AS (SELECT max(pk) + 1 AS m FROM pos),
         cand AS (SELECT ok, pk, j,
             ((((ok % 2147483647) * 1048573 + (pk % 2147483647) * 131 + j)
               % 2147483647) * 2654435761) % 2147483647 % mx.m AS neg_pk
           FROM pos CROSS JOIN mx
           CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS j) js),
         kept AS (SELECT c.ok, c.pk, c.neg_pk, c.j FROM cand c
           WHERE NOT EXISTS (SELECT 1 FROM pos p
                             WHERE p.ok = c.ok AND p.pk = c.neg_pk))
         SELECT ok, pk, neg_pk, j FROM kept
         QUALIFY row_number() OVER (PARTITION BY ok, pk ORDER BY j ASC) <= 2""",

    // the hop budget (3) is a plan constant, so the frontier walk
    // unrolls (the g6 convention) and the whole reach profile
    // hash-checks
    "g7_khop_reach" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         pairs AS (SELECT a.pk AS u, bb.pk AS v
           FROM b a JOIN b bb ON a.ok = bb.ok AND a.pk < bb.pk
           GROUP BY a.pk, bb.pk HAVING count(*) >= 2),
         edges AS (SELECT u AS src, v AS dst FROM pairs
                   UNION ALL SELECT v AS src, u AS dst FROM pairs),
         f0 AS (SELECT DISTINCT src AS node FROM edges
           WHERE src IN (SELECT p_partkey FROM part
                         WHERE p_brand = 'Brand#1')),
         f1 AS (SELECT DISTINCT e.dst AS node FROM edges e
           JOIN f0 ON e.src = f0.node
           WHERE e.dst NOT IN (SELECT node FROM f0)),
         v1 AS (SELECT node FROM f0 UNION SELECT node FROM f1),
         f2 AS (SELECT DISTINCT e.dst AS node FROM edges e
           JOIN f1 ON e.src = f1.node
           WHERE e.dst NOT IN (SELECT node FROM v1)),
         v2 AS (SELECT node FROM v1 UNION SELECT node FROM f2),
         f3 AS (SELECT DISTINCT e.dst AS node FROM edges e
           JOIN f2 ON e.src = f2.node
           WHERE e.dst NOT IN (SELECT node FROM v2))
         SELECT 0 AS hop, count(*) AS n_nodes FROM f0
         UNION ALL SELECT 1 AS hop, count(*) AS n_nodes FROM f1
         UNION ALL SELECT 2 AS hop, count(*) AS n_nodes FROM f2
         UNION ALL SELECT 3 AS hop, count(*) AS n_nodes FROM f3""",
    // the min-plus relaxation unrolled: integer costs, three rounds,
    // 20 nearest non-seed nodes — the whole engine re-executed
    "g10_sssp_bounded" -> {
      val rounds = (1 to 3).map { k =>
        s"""d$k AS (SELECT node, min(dist) AS dist FROM (
             SELECT node, dist FROM d${k - 1}
             UNION ALL
             SELECT e.dst AS node, d.dist + e.cost AS dist
             FROM edges e JOIN d${k - 1} d ON e.src = d.node) t
           GROUP BY node)"""
      }.mkString(",\n         ")
      s"""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         wp AS (SELECT a.pk AS u, bb.pk AS v,
             CAST(1000000 // count(*) AS BIGINT) AS cost
           FROM b a JOIN b bb ON a.ok = bb.ok AND a.pk < bb.pk
           GROUP BY a.pk, bb.pk HAVING count(*) >= 2),
         edges AS (SELECT u AS src, v AS dst, cost FROM wp
                   UNION ALL SELECT v AS src, u AS dst, cost FROM wp),
         d0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
           FROM edges
           WHERE src IN (SELECT p_partkey FROM part
                         WHERE p_brand = 'Brand#1')),
         $rounds
         SELECT node, dist FROM d3
         WHERE dist > 0 ORDER BY dist ASC, node ASC LIMIT 20"""
    },

    // the IDENTICAL recursive statement (DuckDB's recursive UNION ALL
    // has the same previous-level working-table semantics Spark's
    // UnionLoop implements) over the from-scratch edge derivation
    "g9_reach_recursive" ->
      """WITH RECURSIVE b AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         e AS (SELECT a.pk AS u, bb.pk AS v
           FROM b a JOIN b bb ON a.ok = bb.ok AND a.pk < bb.pk
           GROUP BY 1, 2),
         r(node, depth) AS (
           SELECT u AS node, 0 AS depth
           FROM (SELECT DISTINCT u FROM e ORDER BY u LIMIT 25)
           UNION ALL
           SELECT DISTINCT e.v, r.depth + 1
           FROM r JOIN e ON e.u = r.node
           WHERE r.depth < 3
         )
         SELECT node, MIN(depth) AS d FROM r GROUP BY node"""
  )
}
