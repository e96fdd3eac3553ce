package graft

import org.apache.spark.sql.functions._

class GraphSpec extends SparkFunSuite {
  import spark.implicits._

  test("g1_triangles equals brute-force adjacency-set intersection") {
    // ground truth: collect the (small) sf0.001 edge set and count
    // per-edge common neighbours; each triangle is counted once per
    // edge → divide by 3.
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val edges = li.toDF("ok", "u").join(li.toDF("ok", "v"), "ok")
      .where(col("u") < col("v")).select(col("u"), col("v")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (u, v) =>
      adj(u) = adj(u) + v; adj(v) = adj(v) + u
    }
    val tripleCounted = edges.map { case (u, v) => (adj(u) & adj(v)).size.toLong }.sum
    assert(tripleCounted % 3 == 0)
    val want = tripleCounted / 3

    val q = SparkEntry.queries("g1_triangles")(spark, sfDir)
    val row = q.collect().head
    assert(row.getAs[Long]("n_triangles") == want,
      s"got ${row.getAs[Long]("n_triangles")} want $want")
    assert(row.getAs[Long]("n_edges") == edges.length.toLong)

    // the scale contract: every stage of the closing plan is an
    // equi-join / hash agg — never a nested-loop or cartesian product
    // (the query's returned frame is a materialized LocalRelation, so
    // pin the shape on the lazy pipeline)
    val (pairs, od, closing) = operators.Graph.trianglePipeline(
      li.toDF("ok", "pk"))
    val plan = closing.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"data-scale product leaked into the plan:\n$plan")
    operators.Dedup.releaseCheckpoints(pairs)
    operators.Dedup.releaseCheckpoints(od)
  }

  test("g1_triangles_sampled: unbiased across coins, exact under a p=1 coin") {
    import graft.operators.Graph
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val exact = SparkEntry.queries("g1_triangles")(spark, sfDir)
      .collect()(0).getLong(0)
    // a coin that keeps everything degenerates to the exact count ×8/8:
    // the estimator applied to the full graph must reproduce exact
    val (fullEst, _) = {
      val (pairs, od, closing) =
        Graph.trianglePipeline(li, Some(lit(true)))
      val t = closing.count(); val e = pairs.count()
      graft.operators.Dedup.releaseCheckpoints(pairs)
      graft.operators.Dedup.releaseCheckpoints(od)
      (t, e)
    }
    assert(fullEst == exact)
    // unbiasedness: the mean estimate over independent salted coins
    // must land near the exact count (DOULION's E[T̂] = T; measured
    // single-coin deviations on this graph are within ±5%, so a ±15%
    // band on the 5-coin mean is loose — yet a biased coin fails it
    // decisively: the endpoint-linear coin this replaced measured
    // 1.8× high, and a 1/p² scale lands at 0.5×)
    val ests = (0 until 5).map(i => Graph.sampledTriangles(li, salt = i * 7919L)._1)
    val mean = ests.sum.toDouble / ests.length
    assert(math.abs(mean - exact) <= 0.15 * exact,
      s"mean estimate $mean vs exact $exact (samples: $ests)")
    assert(ests.distinct.length > 1, "salted coins must differ")
    // and the catalog query (salt 0) is one of those draws
    val cat = SparkEntry.queries("g1_triangles_sampled")(spark, sfDir)
      .collect()(0)
    assert(cat.getLong(0) == ests(0))
  }

  test("g2_pagerank matches in-memory power iteration; mass conserved") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val und = li.toDF("ok", "u").join(li.toDF("ok", "v"), "ok")
      .where(col("u") < col("v")).select(col("u"), col("v")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = und.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = adj.size
    var r = adj.keys.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 10) {
      val in = scala.collection.mutable.Map.empty[Long, Double]
        .withDefaultValue(0.0)
      adj.foreach { case (u, outs) =>
        val share = r(u) / outs.size
        outs.foreach(v => in(v) += share)
      }
      r = adj.keys.map(k => k -> (0.15 / n + 0.85 * in(k))).toMap
    }

    val edgesDf = und.toSeq.toDF("u", "v")
    val edges = edgesDf.select(col("u").as("src"), col("v").as("dst"))
      .union(edgesDf.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint(false)
    val ranks = operators.Graph.pageRank(edges)
    val got = ranks.collect()
      .map(row => row.getLong(0) -> row.getDecimal(1).doubleValue()).toMap
    operators.Dedup.releaseCheckpoints(ranks)
    operators.Dedup.releaseCheckpoints(edges)

    assert(got.keySet == r.keySet)
    // decimal pipeline vs double reference: agreement far below any
    // ranking-relevant difference
    r.foreach { case (k, want) =>
      assert(math.abs(got(k) - want) < 1e-9, s"node $k: ${got(k)} vs $want")
    }
    // no dangling nodes in an undirected graph -> rank mass conserved
    assert(math.abs(got.values.sum - 1.0) < 1e-6)

    // and the query's top-20 agrees with the reference (set-compare
    // plus descending order — double-vs-decimal noise below 1e-9 must
    // not flip the assertion on near-ties)
    val top = SparkEntry.queries("g2_pagerank")(spark, sfDir).collect()
      .map(row => (row.getLong(0), row.getDouble(1)))
    assert(top.length == 20)
    assert(top.map(_._2).toSeq == top.map(_._2).sorted.reverse.toSeq)
    val wantTop = r.toSeq.sortBy { case (k, v) => (-v, k) }.take(20)
    assert(math.abs(top.head._2 - wantTop.head._2) < 1e-9)
    val borderGap = math.abs(wantTop.last._2 - top.last._2)
    assert(top.map(_._1).toSet == wantTop.map(_._1).toSet || borderGap < 1e-9,
      s"top-20 sets differ beyond boundary noise")
  }

  /** Sequential Batagelj-Zaversnik peel: repeatedly remove a
    * minimum-degree node; its coreness is the running max of the
    * degrees at removal time. The h-index iteration must reach the
    * same fixpoint.
    */
  private def brutePeel(und: Seq[(Long, Long)]): Map[Long, Int] = {
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    und.foreach { case (u, v) => adj(u) += v; adj(v) += u }
    val core = scala.collection.mutable.Map.empty[Long, Int]
    var k = 0
    while (adj.nonEmpty) {
      val (node, nbrs) = adj.minBy { case (n, ns) => (ns.size, n) }
      k = math.max(k, nbrs.size)
      core(node) = k
      adj.remove(node)
      nbrs.foreach(v => if (adj.contains(v)) adj(v) -= node)
    }
    core.toMap
  }

  test("g3_kcore: h-index fixpoint equals sequential peel; closed forms hold") {
    import graft.operators.Graph
    // closed forms: K5 clique -> all coreness 4; a 6-path -> all 1;
    // a triangle with a pendant tail -> {2,2,2,1}
    val k5 = (for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)).toSeq
    val path = (1L to 5L).map(i => (i, i + 1))
    val triTail = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    for ((g, want) <- Seq(
        k5 -> k5.flatMap(e => Seq(e._1, e._2)).distinct.map(_ -> 4).toMap,
        path -> (1L to 6L).map(_ -> 1).toMap,
        triTail -> Map(1L -> 2, 2L -> 2, 3L -> 2, 4L -> 1))) {
      val df = g.toDF("u", "v")
      val edges = df.select(col("u").as("src"), col("v").as("dst"))
        .union(df.select(col("v").as("src"), col("u").as("dst")))
        .localCheckpoint(false)
      val core = Graph.coreness(edges)
      val got = core.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      operators.Dedup.releaseCheckpoints(core)
      operators.Dedup.releaseCheckpoints(edges)
      assert(got == want, s"graph $g: got $got want $want")
      assert(got == brutePeel(g), "peel reference disagrees on closed form")
    }

    // the real co-occurrence graph: fixpoint == peel, node by node
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val und = li.toDF("ok", "u").join(li.toDF("ok", "v"), "ok")
      .where(col("u") < col("v")).select(col("u"), col("v")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = brutePeel(und)
    val df = und.toDF("u", "v")
    val edges = df.select(col("u").as("src"), col("v").as("dst"))
      .union(df.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint(false)
    val core = Graph.coreness(edges)
    val got = core.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    operators.Dedup.releaseCheckpoints(core)
    operators.Dedup.releaseCheckpoints(edges)
    assert(got == want)

    // and the catalog query's distribution is the peel's distribution
    val dist = SparkEntry.queries("g3_kcore")(spark, sfDir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val wantDist = want.values.groupBy(identity).map { case (c, vs) =>
      c -> vs.size.toLong }
    assert(dist == wantDist)
  }

  test("g3_kcore_bounded: certified upper bound, exact where converged") {
    import graft.operators.Graph
    // closed forms converge within the 6-round budget → exact
    val k5 = (for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)).toSeq
    val df = k5.toDF("u", "v")
    val edges = df.select(col("u").as("src"), col("v").as("dst"))
      .union(df.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint(false)
    val bounded = Graph.coreness(edges, maxRounds = 6, requireConverged = false)
    val got = bounded.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    operators.Dedup.releaseCheckpoints(bounded)
    operators.Dedup.releaseCheckpoints(edges)
    assert(got.values.forall(_ == 4))

    // the real graph: bound >= exact coreness node-by-node, and the
    // bulk is already exact at 6 rounds
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val und = li.toDF("ok", "u").join(li.toDF("ok", "v"), "ok")
      .where(col("u") < col("v")).select(col("u"), col("v")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exact = brutePeel(und)
    val d2 = und.toDF("u", "v")
    val e2 = d2.select(col("u").as("src"), col("v").as("dst"))
      .union(d2.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint(false)
    val b2 = Graph.coreness(e2, maxRounds = 6, requireConverged = false)
    val bound = b2.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    operators.Dedup.releaseCheckpoints(b2)
    operators.Dedup.releaseCheckpoints(e2)
    assert(bound.keySet == exact.keySet)
    bound.foreach { case (n, b) =>
      assert(b >= exact(n), s"node $n: bound $b below exact ${exact(n)}")
    }
    // tightness: on this dense fixture the 6-round bound is loose on
    // the slow-decaying core but must stay within 2.5× of exact on
    // average (measured ~1.9× at sf0.001; deterministic, so the
    // margin it shows today it keeps)
    val meanRatio = bound.map { case (n, b) =>
      b.toDouble / exact(n) }.sum / bound.size
    assert(meanRatio < 2.5, s"mean bound/exact ratio $meanRatio")

    // and the catalog twin emits the distribution of the same bounds
    val dist = SparkEntry.queries("g3_kcore_bounded")(spark, sfDir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val wantDist = bound.values.groupBy(identity).map { case (c, vs) =>
      c -> vs.size.toLong }
    assert(dist == wantDist)
  }

  test("g4_node_jaccard: capped common-neighbor counts match brute force") {
    import graft.operators.Graph
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val und = li.toDF("ok", "u").join(li.toDF("ok", "v"), "ok")
      .where(col("u") < col("v")).select(col("u"), col("v")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    und.foreach { case (u, v) => adj(u) += v; adj(v) += u }
    // brute force with the same hub cap: common neighbors routed only
    // through centers with deg <= hubCap
    val commons = scala.collection.mutable.Map.empty[(Long, Long), Long]
      .withDefaultValue(0L)
    adj.foreach { case (x, nbrs) =>
      if (nbrs.size <= Graph.hubCap) {
        val ns = nbrs.toSeq.sorted
        for (i <- ns.indices; j <- (i + 1) until ns.length)
          commons((ns(i), ns(j))) += 1
      }
    }
    val want = commons.toSeq.map { case ((a, b), c) =>
      val j = c.toDouble / (adj(a).size + adj(b).size - c).toDouble
      (a, b, c, j)
    }.sortBy { case (a, b, _, j) => (-j, a, b) }.take(20)

    val got = SparkEntry.queries("g4_node_jaccard")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == want.length)
    (got zip want).foreach { case (g, w) =>
      assert(g == w, s"mismatch: got $g want $w")
    }
  }

  test("g5_frequent_pairs: support + integer lift match brute force") {
    // ground truth in plain Scala integer arithmetic over the small
    // sf0.001 basket set — the same staged formula the query and the
    // oracle restate
    val baskets = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = baskets.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val nB = byOrder.size.toLong
    val itemSupp = baskets.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairCounts = scala.collection.mutable.Map.empty[(Long, Long), Long]
      .withDefaultValue(0L)
    byOrder.values.foreach { pks =>
      for (i <- pks.indices; j <- (i + 1) until pks.length
           if pks(i) != pks(j)) {
        val k = (pks(i), pks(j))
        pairCounts(k) = pairCounts(k) + 1
      }
    }
    val want = pairCounts.toSeq
      .filter(_._2 >= operators.Graph.minPairSupport)
      .map { case ((u, v), cAb) =>
        val lift = ((nB * 1000000L) / itemSupp(u)) * cAb / itemSupp(v)
        (u, v, cAb, lift)
      }
      .sortBy { case (u, v, c, _) => (-c, u, v) }.take(50)

    val got = SparkEntry.queries("g5_frequent_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == want.length,
      s"row count: got ${got.length} want ${want.length}")
    (got zip want).foreach { case (g, w) =>
      assert(g == w, s"mismatch: got $g want $w")
    }
    // lift sanity: a pair can never have more support than either item
    got.foreach { case (u, v, cAb, _) =>
      assert(cAb <= itemSupp(u) && cAb <= itemSupp(v))
    }
  }

  test("g6_label_prop: 5 synchronous min-tie-break rounds match brute force") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val edgeList = li.toDF("ok", "u").join(li.toDF("ok", "v"), "ok")
      .where(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
      .where(col("w") >= operators.Graph.minEdgeWeight)
      .select(col("u"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, Vector[Long]]
      .withDefaultValue(Vector.empty)
    edgeList.foreach { case (u, v) =>
      adj(u) = adj(u) :+ v; adj(v) = adj(v) :+ u
    }
    var lbl: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 5) {
      val cur = lbl
      lbl = adj.keys.map { n =>
        val freq = adj(n).groupBy(cur).view.mapValues(_.size).toMap
        val best = freq.values.max
        n -> freq.collect { case (l, c) if c == best => l }.min
      }.toMap
    }
    val want = lbl.groupBy(_._2).view
      .mapValues(m => (m.size.toLong, m.keys.min)).toMap

    val got = SparkEntry.queries("g6_label_prop")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want, s"communities differ: got ${got.size} want ${want.size}")
    // structural sanity: communities partition the node set
    assert(got.values.map(_._1).sum == adj.size.toLong)
  }

  test("g7_khop_reach: frontier BFS matches brute-force hop partition") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val edgeList = li.toDF("ok", "u").join(li.toDF("ok", "v"), "ok")
      .where(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
      .where(col("w") >= operators.Graph.minEdgeWeight)
      .select(col("u"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edgeList.foreach { case (u, v) =>
      adj(u) = adj(u) + v; adj(v) = adj(v) + u
    }
    val seeds = Tables.load(spark, sfDir, "part")
      .where(col("p_brand") === "Brand#1").select(col("p_partkey"))
      .collect().map(_.getLong(0)).toSet
    var frontier = adj.keySet.toSet & seeds
    var visited = frontier
    val want = scala.collection.mutable.Buffer(0 -> frontier.size.toLong)
    for (h <- 1 to 3) {
      val next = frontier.flatMap(adj) -- visited
      want += h -> next.size.toLong
      visited ++= next
      frontier = next
    }
    val got = SparkEntry.queries("g7_khop_reach")(spark, sfDir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1).toSeq
    assert(got == want.toSeq, s"hop profile: got $got want ${want.toSeq}")
    // monotone containment sanity: every reached node is in the graph
    assert(visited.subsetOf(adj.keySet))
  }

  test("pageRankQ fused checkpoints are iteration-count-exact across boundaries") {
    // The r15 barrier fusion checkpoints every ckptEvery (3) rounds
    // plus the final round. iters = 4 exercises the boundary cases a
    // divisible count hides: a mid-segment checkpoint (i=3), a fused
    // continuation off a fresh checkpoint (i=4 == iters), and the
    // old-checkpoint release between them. pageRankQ is BIGINT-exact,
    // so the distributed result must equal a sequential in-memory
    // reimplementation unit-for-unit at every iters in 1..4 — any
    // off-by-one in the fusion (skipped round, double-applied round,
    // stale state) shifts integer mass and fails strict equality.
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (4L, 5L))
    val edges = und.toDF("u", "v")
      .select(col("u").as("src"), col("v").as("dst"))
      .union(und.toDF("u", "v").select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint(true)
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    val n = adj.size
    val mass = 1000000000000L
    val teleport = (15L * mass) / (100L * n)
    for (iters <- 1 to 4) {
      var rank: Map[Long, Long] = adj.keys.map(_ -> mass / n).toMap
      for (_ <- 1 to iters) {
        val shares = rank.map { case (u, r) => u -> r / adj(u).size }
        val in = adj.keys.map { v =>
          v -> adj(v).map(shares).sum
        }.toMap
        rank = adj.keys.map(v => v -> (teleport + (85L * in(v)) / 100L)).toMap
      }
      val got = operators.Graph.pageRankQ(edges, iters = iters)
      val gotMap = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      operators.Dedup.releaseCheckpoints(got)
      assert(gotMap == rank, s"iters=$iters: $gotMap vs $rank")
    }
    operators.Dedup.releaseCheckpoints(edges)
  }

  test("g10_sssp_bounded: 3-round min-plus relaxation matches brute Bellman-Ford") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val weighted = li.toDF("ok", "u").join(li.toDF("ok", "v"), "ok")
      .where(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
      .where(col("w") >= operators.Graph.minEdgeWeight)
      .collect().map(r => (r.getLong(0), r.getLong(1), 1000000L / r.getLong(2)))
    val edges = weighted.flatMap { case (u, v, c) => Seq((u, v, c), (v, u, c)) }
    val graphNodes = edges.map(_._1).toSet
    val seeds = Tables.load(spark, sfDir, "part")
      .where(col("p_brand") === "Brand#1").select(col("p_partkey"))
      .collect().map(_.getLong(0)).toSet & graphNodes
    // synchronous rounds: every relaxation reads the PREVIOUS round's
    // distances — the exact semantics the distributed join implements
    var dist: Map[Long, Long] = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to 3) {
      val nd = scala.collection.mutable.Map(dist.toSeq: _*)
      edges.foreach { case (s, d, c) =>
        dist.get(s).foreach { ds =>
          if (!nd.contains(d) || ds + c < nd(d)) nd(d) = ds + c
        }
      }
      dist = nd.toMap
    }
    val want = dist.toSeq.filter(_._2 > 0L)
      .sortBy { case (n, d) => (d, n) }.take(20)
    val got = SparkEntry.queries("g10_sssp_bounded")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want, s"sssp: got $got want $want")
    assert(got.nonEmpty, "no non-seed node reached — relaxation unexercised")
  }

  test("g8_negative_samples: negatives are never same-basket positives; <=2 each") {
    val pos = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = SparkEntry.queries("g8_negative_samples")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.nonEmpty)
    // the rejection contract: a kept negative is NOT a positive of
    // its basket (in particular never the positive item itself)
    got.foreach { case (ok, _, neg, _) =>
      assert(!pos.contains((ok, neg)), s"negative ($ok, $neg) is a positive")
    }
    // at most 2 negatives per positive, first-j-wins
    val perPos = got.groupBy(g => (g._1, g._2))
    perPos.values.foreach { rows =>
      assert(rows.length <= 2)
      assert(rows.map(_._4).distinct.length == rows.length)
    }
    // coverage: the 4-draw budget leaves almost every positive with 2
    val full = perPos.values.count(_.length == 2)
    assert(full.toDouble / perPos.size > 0.95,
      s"only $full/${perPos.size} positives got both negatives")
  }

  test("co-occurrence edge artifact builds once, re-reads, and " +
      "invalidates on source change") {
    import operators.Graph
    // build-once/read-many on the real corpus: the first call commits
    // v1 through the snapshot store, the second call must NOT commit
    // again (same version), and the stored values must equal the
    // direct derivation
    val r1 = Graph.cooccurrenceEdges(spark, sfDir)
    val store = new sinks.SnapshotStore(spark, Graph.edgeArtifactRoot(spark, sfDir))
    val v1 = store.currentVersion()
    assert(v1.isDefined, "first call must commit the edge table")
    Graph.cooccurrenceEdges(spark, sfDir)
    assert(store.currentVersion() == v1,
      "second call must read the existing artifact, not rebuild")
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val want = li.toDF("ok", "u").join(li.toDF("ok", "v"), "ok")
      .where(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = r1.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"stored edges diverge: missing=${want.diff(got).size} " +
      s"extra=${got.diff(want).size}")

    // staleness defense: a REGENERATED corpus at the same path (new
    // length/mtime) must key to a DIFFERENT artifact root — a
    // path-only key would silently serve the old graph
    val tmp = tempDir("edge_fp").toString
    Seq((1L, 1L), (1L, 2L)).toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val root1 = Graph.edgeArtifactRoot(spark, tmp)
    val e1 = Graph.cooccurrenceEdges(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(e1 == Set((1L, 2L, 1L)))
    Thread.sleep(1100) // ensure a distinct mtime at 1s fs resolution
    Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 2L), (2L, 3L))
      .toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val root2 = Graph.edgeArtifactRoot(spark, tmp)
    assert(root1 != root2, "fingerprint must move with the source data")
    val e2 = Graph.cooccurrenceEdges(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(e2 == Set((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 2L)),
      s"rebuilt edges wrong: $e2")
    // no later run reuses this temp corpus's artifacts
    Seq(root1, root2).foreach(r =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r.toUri.getPath)))
  }

  test("g9 recursion keeps its broadcast hint on the recursion side") {
    // the scaladoc claims /*+ BROADCAST(r) */ pins the per-iteration
    // join against the stored artifact's small-stats flip (the
    // g2_pagerank class). Hints on recursive refs are NOT obviously
    // supported — pin that the resolved hint survives into the
    // UnionLoop's inner join plan, attached to the UnionLoopRef side,
    // so a Spark upgrade or query edit that silently drops it fails
    // here instead of regressing at scale.
    val df = operators.Graph.queries("g9_reach_recursive")(spark, sfDir)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("UnionLoop"), "recursion no longer plans a UnionLoop")
    val joinLine = plan.split("\n").find(l =>
      l.contains("Join Inner") && l.contains("node#"))
    assert(joinLine.exists(_.contains("leftHint=(strategy=broadcast)")),
      s"recursion-side broadcast hint dropped: ${joinLine.getOrElse("<no join>")}")
  }

  test("labelProp resolves disjoint cliques to their min-id communities") {
    import spark.implicits._
    // two disjoint triangles {1,2,3} and {10,11,12}: synchronous
    // min-tie-break LPA converges each to the all-min label
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    val labels = operators.Graph.labelProp(edges, rounds = 5)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    operators.Dedup.releaseCheckpoints(labels)
    assert(Set(1L, 2L, 3L).map(got) == Set(1L))
    assert(Set(10L, 11L, 12L).map(got) == Set(10L))
  }
}
