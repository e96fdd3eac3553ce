package graft

import org.apache.spark.sql.functions._

/** Pins the non-oracle ANN op: IVF results are a subset of valid
  * neighbors and overlap well with brute-force top-k.
  */
class SimilaritySpec extends SparkFunSuite {

  test("ivf results are valid and overlap brute-force top-k") {
    val brute = SparkEntry.queries("ann_cosine_topk")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SparkEntry.queries("ann_ivf")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty)
    // approximate search trades recall for partition pruning; on
    // 500 vecs × 16 centroids it must still find a fair share
    val overlap = ivf.intersect(brute).size.toDouble / brute.size
    assert(overlap >= 0.2, s"IVF overlap with brute force too low: $overlap")
    // each query returns at most 5 ranked neighbors, none are self
    val perQ = SparkEntry.queries("ann_ivf")(spark, sfDir)
      .groupBy(col("q_id")).count().collect()
    assert(perQ.forall(_.getLong(1) <= 5))
    assert(!ivf.exists { case (q, v) => q == v })
  }

  test("blocked top-pairs equals brute force, with no cartesian in the plan") {
    val blocked = SparkEntry.queries("sim_top_pairs_blocked")(spark, sfDir)
    val brute = SparkEntry.queries("sim_top_pairs")(spark, sfDir)
    // exact equality, ranks and rounded cosines included — the block
    // decomposition covers every unordered pair exactly once
    assert(blocked.collect().toSeq == brute.collect().toSeq)
    // the scale claim: an equi-join on block-pair keys, never a
    // nested-loop product over the corpus
    val plan = blocked.queryExecution.executedPlan.toString()
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"blocked top-pairs must not plan a cartesian:\n$plan")
    // ...whereas the eval-only brute-force variant does (the reason
    // sim_top_pairs_blocked exists)
    assert(brute.queryExecution.executedPlan.toString()
      .contains("BroadcastNestedLoopJoin"))
  }

  test("multi-probe recall dominates single-probe recall") {
    val brute = SparkEntry.queries("ann_cosine_topk")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = SparkEntry.queries("ann_ivf")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = SparkEntry.queries("ann_ivf_multiprobe")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rs = single.intersect(brute).size.toDouble / brute.size
    val rm = multi.intersect(brute).size.toDouble / brute.size
    assert(rm >= rs, f"multiprobe recall $rm%.2f must dominate single-probe $rs%.2f")
    assert(rm > rs || rm >= 0.9,
      "4 probes over 16 buckets should strictly improve (or already be near-exhaustive)")
  }

  test("Lloyd training strictly reduces quantization error") {
    import graft.operators.Similarity
    val e = Similarity.preparedEmbeddings(spark, sfDir)
    val base = e.select(col("vec_id").as("__aid"), col("vd"), col("nrm"))
    // quantization error = avg over vectors of (1 - cos to nearest centroid)
    def err(cents: org.apache.spark.sql.DataFrame): Double =
      base.crossJoin(broadcast(cents))
        .withColumn("c_cos",
          Similarity.dot(col("vd"), col("c_vd")) / (col("nrm") * col("c_nrm")))
        .groupBy(col("__aid")).agg(max(col("c_cos")).as("best"))
        .agg(avg(lit(1.0) - col("best")))
        .collect()(0).getDouble(0)
    val seed = Similarity.seedCodebook(e, 16)
    val trained = Similarity.ivfTrain(e, k = 16, iters = 3)
    assert(trained.count() == 16, "codebook must not shrink")
    val (e0, e1) = (err(seed), err(trained))
    assert(e1 < e0, f"training must reduce quantization error: seed $e0%.4f -> trained $e1%.4f")
    // and the trained index still answers queries
    val out = SparkEntry.queries("ann_ivf_trained")(spark, sfDir)
    assert(out.count() > 0)
  }

  test("ivfTrain refuses a k outside 1..IvfMaxK before any job runs") {
    import graft.operators.Similarity
    val e = Similarity.preparedEmbeddings(spark, sfDir)
    Seq(0, -1, Similarity.IvfMaxK + 1).foreach { k =>
      val (err, jobs) = org.apache.spark.JobCounter.jobsDuring(spark.sparkContext)(
        intercept[IllegalArgumentException](Similarity.ivfTrain(e, k, iters = 1)))
      assert(err.getMessage.contains(s"k = $k"))
      assert(jobs == 0, s"k = $k ran $jobs job(s) before the refusal")
    }
  }

  test("seeding and training survive sparse, non-contiguous vec_ids") {
    import graft.operators.Similarity
    // same corpus, ids remapped so NO id falls below k: a `vec_id < k`
    // seed would come back empty
    val e = Similarity.preparedEmbeddings(spark, sfDir)
      .withColumn("vec_id", col("vec_id") * 1000L + 70007L)
    val seed = Similarity.seedCodebook(e, 16)
    assert(seed.count() == 16, "rank-based seed must yield k centroids on sparse ids")
    assert(seed.agg(min(col("c_id"))).collect()(0).getLong(0) == 70007L)
    val trained = Similarity.ivfTrain(e, k = 16, iters = 1)
    assert(trained.count() == 16, "training must not shrink a sparse-id codebook")
  }

  test("vec_sum matches the posexplode formulation, skips nulls, throws on ragged dims") {
    import spark.implicits._
    import graft.functions.VectorSum.vec_sum
    val df = Seq(
      (0L, Some(Seq(1.0, 2.0, 3.0))),
      (0L, Some(Seq(10.0, 20.0, 30.0))),
      (0L, None), // SQL SUM semantics: null rows don't contribute
      (1L, Some(Seq(0.5, -0.5, 0.0))),
      (2L, None) // all-null group sums to NULL
    ).toDF("g", "v")
    val got = df.groupBy($"g").agg(vec_sum($"v").as("s"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Double](1))).toMap
    assert(got(0L).get == Seq(11.0, 22.0, 33.0))
    assert(got(1L).get == Seq(0.5, -0.5, 0.0))
    assert(got(2L).isEmpty, "group with no non-null vectors must sum to NULL")
    // same answer as the explode+per-dimension-sum reference shape
    val ref = df.select($"g", posexplode($"v").as(Seq("pos", "x")))
      .groupBy($"g", $"pos").agg(sum($"x").as("s"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    got(0L).get.zipWithIndex.foreach { case (x, i) => assert(x == ref((0L, i))) }
    // ragged dimensions are a bug in the caller — loud failure, not truncation
    val ragged = Seq((0L, Seq(1.0, 2.0)), (0L, Seq(1.0))).toDF("g", "v")
    val ex = intercept[Exception] {
      ragged.groupBy($"g").agg(vec_sum($"v")).collect()
    }
    assert(ex.getMessage != null)
  }

  test("cosine of identical vectors is 1") {
    import graft.operators.Similarity
    val e = Tables.load(spark, sfDir, "embeddings").limit(10)
    val c = e.select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .collect().map(_.getDouble(0))
    assert(c.forall(v => math.abs(v - 1.0) < 1e-9))
  }

  test("vec_standardize: every dimension lands on mean 0, variance 1") {
    val z = SparkEntry.queries("vec_standardize")(spark, sfDir)
      .groupBy(col("pos"))
      .agg(avg(col("z")).as("m"), avg(col("z") * col("z")).as("v"),
        count(lit(1)).as("n"))
      .collect()
    assert(z.length == 64)
    z.foreach { r =>
      assert(math.abs(r.getDouble(1)) < 1e-6,
        s"dim ${r.getLong(0)} mean ${r.getDouble(1)} not ~0")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-3,
        s"dim ${r.getLong(0)} var ${r.getDouble(2)} not ~1")
      assert(r.getLong(3) == 500L)
    }
  }

  test("dedup_embedding_lsh: full planted recall, exact precision, no corpus cartesian") {
    val out = SparkEntry.queries("dedup_embedding_lsh")(spark, sfDir)
    val rows = out.collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall: every planted (id, id+1000000) pair must collide in some
    // band — at cos ≈ 0.999996 the analytic miss probability is ~2e-15
    // per pair, and the fixed-seed planes make the outcome
    // deterministic besides.
    val planted = Tables.load(spark, sfDir, "embeddings")
      .where(col("vec_id") < 40).select(col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(0) + 1000000L)).toSet
    assert(planted.size == 40)
    assert(planted.subsetOf(pairs),
      s"missed planted pairs: ${planted.diff(pairs)}")
    // precision is exact by construction (the verify join recomputes
    // true cosine): nothing below the threshold survives
    rows.foreach(r => assert(r.getDouble(2) >= 0.998, r.toString))
    // plan shape: the only nested-loop joins are against the 128-row
    // broadcast plane table (signature computation); candidate
    // generation and verification are equi-joins. The corpus never
    // enters a cartesian with itself.
    // (AQE's toString repeats the pre-adaptive plan under an
    // "== Initial Plan ==" header — count operators in the final
    // section only)
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct"), s"cartesian leaked:\n$plan")
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2, s"expected only plane-table cross joins, got $bnlj:\n$plan")
  }

  test("vec_pq: codes bounded, reconstruction beats chance, twins share codes") {
    val rows = SparkEntry.queries("vec_pq")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val codes = r.getString(1).split("-").map(_.toLong).toSeq
      assert(codes.length == 8, s"vec ${r.getLong(0)}: ${codes.length} codes")
      assert(codes.forall(c => c >= 0L && c < 16L))
    }
    // reconstruction from 8 bytes must carry real signal: random
    // 64-dim directions have cosine ~N(0, 1/8) (|cos| < 0.27 w.h.p.),
    // so a mean recon cosine this high cannot come from chance codes
    val recon = rows.map(_.getDouble(2))
    assert(recon.sum / recon.length > 0.5,
      s"mean recon cosine ${recon.sum / recon.length}")
    // a near-identical twin (±0.5% jitter) must encode to the same
    // codes — PQ cells are far coarser than the jitter
    val dir = tempDir("pq_twin_").toString
    val e = Tables.load(spark, sfDir, "embeddings")
    e.unionByName(
      e.where(col("vec_id") === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          expr("transform(embedding, (x, i) -> cast(x * (1.0D + " +
            "(pmod(hash(vec_id, i), 1000) - 500) / 100000.0D) as float))")
            .as("embedding"),
          col("label")))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val twin = SparkEntry.queries("vec_pq")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(twin(1000000L) == twin(0L),
      s"twin codes ${twin(1000000L)} != original ${twin(0L)}")
  }

  test("ann_pq_search: ADC ranking carries real signal vs exact top-k") {
    val adc = SparkEntry.queries("ann_pq_search")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(adc.nonEmpty)
    val exact = SparkEntry.queries("ann_cosine_topk")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // true cosines, computed locally over the small corpus
    val vecs = Tables.load(spark, sfDir, "embeddings").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val adcMean = adc.map { case (q, v) => cos(vecs(q), vecs(v)) }.sum / adc.length
    val exactMean = exact.toSeq.map { case (q, v) => cos(vecs(q), vecs(v)) }.sum / exact.size
    // random 64-dim pairs have cosine ~N(0, 1/8): a mean this far
    // above zero cannot come from chance code collisions, and ADC
    // from 8-byte codes must retain a real fraction of the exact
    // ranking's quality (measured ~0.73 at sf0.01, ~chance would be 0)
    assert(adcMean > 0.1, s"ADC picks' mean true cosine $adcMean is noise")
    assert(adcMean >= 0.4 * exactMean,
      s"ADC mean $adcMean too far below exact top-k mean $exactMean")
    // and the sets genuinely overlap
    val overlap = adc.count(exact.contains).toDouble / adc.length
    assert(overlap >= 0.1, s"ADC/exact overlap $overlap")
  }

  test("ann_pq_serve: row-identical to ann_pq_search, artifact reused not retrained") {
    import graft.operators.Similarity
    val root = Similarity.pqArtifactRoot(spark, sfDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(root, true) // force a cold first call
    val serve1 = SparkEntry.queries("ann_pq_serve")(spark, sfDir).collect()
      .map(_.toSeq).toSet
    val search = SparkEntry.queries("ann_pq_search")(spark, sfDir).collect()
      .map(_.toSeq).toSet
    // same deterministic training -> serving from the stored codes
    // must reproduce the in-query-training capstone row for row
    assert(serve1 == search)
    assert(serve1.nonEmpty)
    // second call must REUSE the published artifact: the codebook
    // dir's modification time cannot change (a retrain republishes
    // via rename-swap, which replaces the directory entry)
    val cbDir = new org.apache.hadoop.fs.Path(root, "codebook")
    val m1 = fs.getFileStatus(cbDir).getModificationTime
    val serve2 = SparkEntry.queries("ann_pq_serve")(spark, sfDir).collect()
      .map(_.toSeq).toSet
    assert(serve2 == serve1)
    assert(fs.getFileStatus(cbDir).getModificationTime == m1,
      "second serve call republished the artifact instead of reusing it")
  }

  test("ann_ivf_serve: row-identical to ann_ivf_pq, both quantizers served") {
    import graft.operators.Similarity
    val root = Similarity.pqArtifactRoot(spark, sfDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(root, true) // force a cold first call
    val serve1 = SparkEntry.queries("ann_ivf_serve")(spark, sfDir).collect()
      .map(_.toSeq).toSet
    val inQuery = SparkEntry.queries("ann_ivf_pq")(spark, sfDir).collect()
      .map(_.toSeq).toSet
    // both quantizers train deterministically -> serving from the
    // stored coarse table + codes must reproduce the in-query
    // capstone row for row
    assert(serve1 == inQuery)
    assert(serve1.nonEmpty)
    // second call must REUSE the published artifacts (no Lloyd at
    // serve time): neither the coarse dir nor the codebook dir may be
    // republished (rename-swap would replace the directory entries)
    val coDir = new org.apache.hadoop.fs.Path(root, "coarse")
    val cbDir = new org.apache.hadoop.fs.Path(root, "codebook")
    val m1 = (fs.getFileStatus(coDir).getModificationTime,
      fs.getFileStatus(cbDir).getModificationTime)
    val serve2 = SparkEntry.queries("ann_ivf_serve")(spark, sfDir).collect()
      .map(_.toSeq).toSet
    assert(serve2 == serve1)
    assert((fs.getFileStatus(coDir).getModificationTime,
      fs.getFileStatus(cbDir).getModificationTime) == m1,
      "second serve call republished an artifact instead of reusing it")
  }

  test("ann_ivf_pq: results lie in probed buckets and keep ADC-class signal") {
    import graft.operators.Similarity
    val out = SparkEntry.queries("ann_ivf_pq")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    // bucket containment: each query's results come only from its
    // nprobe=4 nearest coarse buckets (the pruning contract)
    val full = Similarity.preparedEmbeddings(spark, sfDir)
    val coarse = Similarity.ivfTrain(full, k = 16, iters = 3)
    val probed = Similarity.assignToCentroid(
        full.where(col("vec_id") < 8)
          .select(col("vec_id").as("__aid"), col("vd"), col("nrm")),
        coarse, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    out.foreach { case (q, v, b) =>
      assert(probed.contains((q, b)), s"query $q result $v from unprobed bucket $b")
    }
    // pruned ADC must still beat noise: mean true cosine of picks
    // well above the N(0, 1/8) floor
    val vecs = Tables.load(spark, sfDir, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val mean = out.map { case (q, v, _) => cos(vecs(q), vecs(v)) }.sum / out.length
    assert(mean > 0.1, s"IVF-PQ picks' mean true cosine $mean is noise")
  }

  test("dedup_semantic: planted copies dedup to their origin inside one cluster") {
    val rows = SparkEntry.queries("dedup_semantic")(spark, sfDir).collect()
    val byId = rows.map(r => r.getLong(0) ->
      (r.getLong(1), r.getInt(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    val nOrig = Tables.load(spark, sfDir, "embeddings").count()
    assert(byId.size == nOrig + 40, "corpus + 40 planted copies")
    // every planted copy is dropped, and to its origin: the only
    // cos > 0.99 pairs in the fixture are (origin, origin+1000000),
    // so min(id_a) is exactly the origin
    (0L until 40L).foreach { id =>
      val (cCopy, keep, dupOf) = byId(id + 1000000L)
      assert(keep == 0 && dupOf == id,
        s"copy of $id: keep=$keep dup_of=$dupOf")
      // k-means must put the near-identical pair in the SAME cluster
      // (this is what makes within-cluster pairing sufficient)
      assert(cCopy == byId(id)._1, s"origin/copy of $id split across clusters")
    }
    // zero false drops: natural members never reach cos > 0.99
    byId.foreach { case (id, (_, keep, _)) =>
      if (id < 1000000L) assert(keep == 1, s"false drop of natural $id")
    }
  }

  test("ann_ivf_q / ann_pq_adc_q match an independent in-memory integer reimplementation") {
    // The quantized twins' whole value is exactness: every stage is
    // BIGINT algebra with deterministic tie-breaks, so a sequential
    // Scala reimplementation must reproduce the distributed result
    // TUPLE-FOR-TUPLE (ids, ranks, AND distances) — no tolerance.
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong).toArray)
      .sortBy(_._1)
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val cents = emb.take(16)

    // --- IVF: argmin-L2 assignment, in-bucket exact ranking ---
    val bucket = emb.map { case (id, q) =>
      id -> cents.map { case (cid, cq) => (l2(q, cq), cid) }.min._2
    }.toMap
    val qmap = emb.toMap
    val wantIvf = (for {
      (qid, _) <- emb.filter(_._1 < 8)
      cands = emb.filter { case (id, _) => id != qid && bucket(id) == bucket(qid) }
      ranked = cands.map { case (id, q) => (l2(q, qmap(qid)), id) }.sorted.take(5)
      ((d2, id), i) <- ranked.zipWithIndex
    } yield (qid, id, i + 1, d2)).toSet
    val gotIvf = SparkEntry.queries("ann_ivf_q")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(gotIvf == wantIvf,
      s"ann_ivf_q diverged: extra=${gotIvf -- wantIvf} missing=${wantIvf -- gotIvf}")

    // --- multiprobe IVF: 4-bucket union per probe ---
    val wantMp = (for {
      (qid, qv) <- emb.filter(_._1 < 8)
      buckets = cents.map { case (cid, cq) => (l2(qv, cq), cid) }
        .sorted.take(4).map(_._2).toSet
      cands = emb.filter { case (id, _) => id != qid && buckets(bucket(id)) }
      ranked = cands.map { case (id, q) => (l2(q, qv), id) }.sorted.take(5)
      ((d2, id), i) <- ranked.zipWithIndex
    } yield (qid, id, i + 1, d2)).toSet
    val gotMp = SparkEntry.queries("ann_ivf_mp_q")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(gotMp == wantMp,
      s"ann_ivf_mp_q diverged: extra=${gotMp -- wantMp} missing=${wantMp -- gotMp}")
    // widening candidates can only improve the top-5: per probe, the
    // multiprobe worst kept distance never exceeds single-probe's
    val worst = (s: Set[(Long, Long, Int, Long)]) =>
      s.groupBy(_._1).view.mapValues(_.map(_._4).max).toMap
    val (wMp, wIvf) = (worst(gotMp), worst(gotIvf))
    wIvf.foreach { case (q, d) => assert(wMp(q) <= d,
      s"probe $q: multiprobe worst ${wMp(q)} > single-probe worst $d") }

    // --- trained IVF: 2 sequential Lloyd iterations, then search ---
    def assign(cs: Seq[(Long, Array[Long])]): Map[Long, Long] =
      emb.map { case (id, q) =>
        id -> cs.map { case (cid, cq) => (l2(q, cq), cid) }.min._2
      }.toMap
    var cs: Seq[(Long, Array[Long])] = cents.toSeq
    for (_ <- 1 to 2) {
      val asg = assign(cs)
      val byC = emb.groupBy { case (id, _) => asg(id) }
      cs = cs.map { case (cid, cq) =>
        cid -> byC.get(cid).map { members =>
          val dim = cq.length
          Array.tabulate(dim) { d =>
            val sum = members.map(_._2(d).toDouble).sum
            math.floor(sum / members.length).toLong
          }
        }.getOrElse(cq)
      }
    }
    val asgF = assign(cs)
    val wantTr = (for {
      (qid, _) <- emb.filter(_._1 < 8)
      cands = emb.filter { case (id, _) => id != qid && asgF(id) == asgF(qid) }
      ranked = cands.map { case (id, q) => (l2(q, qmap(qid)), id) }.sorted.take(5)
      ((d2, id), i) <- ranked.zipWithIndex
    } yield (qid, id, i + 1, d2)).toSet
    val gotTr = SparkEntry.queries("ann_ivf_trained_q")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(gotTr == wantTr,
      s"ann_ivf_trained_q diverged: extra=${gotTr -- wantTr} missing=${wantTr -- gotTr}")
    // training must actually move the search result on this corpus —
    // identical output would mean the Lloyd loop silently no-opped
    assert(gotTr != gotIvf, "trained twin returned the untrained result")

    // --- PQ/ADC: encode per subspace, ADC table scan ---
    def sub(q: Array[Long], m: Int): Array[Long] = q.slice(m * 8, m * 8 + 8)
    val cw = (0 until 8).map(m =>
      m -> cents.zipWithIndex.map { case ((_, q), code) => code -> sub(q, m) }).toMap
    val codes = emb.map { case (id, q) =>
      id -> (0 until 8).map(m =>
        cw(m).map { case (code, w) => (l2(sub(q, m), w), code) }.min._2).toArray
    }.toMap
    val wantAdc = (for {
      (qid, qv) <- emb.filter(_._1 < 8)
      dt = (0 until 8).map(m => cw(m).map { case (code, w) =>
        code -> l2(sub(qv, m), w) }.toMap)
      cands = emb.filter(_._1 != qid).map { case (id, _) =>
        ((0 until 8).map(m => dt(m)(codes(id)(m))).sum, id) }
      ((d, id), i) <- cands.sorted.take(5).zipWithIndex
    } yield (qid, id, i + 1, d)).toSet
    val gotAdc = SparkEntry.queries("ann_pq_adc_q")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(gotAdc == wantAdc,
      s"ann_pq_adc_q diverged: extra=${gotAdc -- wantAdc} missing=${wantAdc -- gotAdc}")

    // --- IVF-PQ: residuals vs coarse centroid, own-bucket ADC ---
    val cmap = cents.toMap
    val resMap = emb.map { case (id, q) =>
      val cq = cmap(bucket(id))
      id -> q.indices.map(i => q(i) - cq(i)).toArray
    }.toMap
    def rsub(id: Long, m: Int): Array[Long] = resMap(id).slice(m * 8, m * 8 + 8)
    // residual codewords seed from the 16 smallest NON-coarse ids
    // (ranks 17..32): coarse seeds are their own nearest centroid, so
    // their residuals are all-zero and would degenerate the codebook
    val pqSeeds = emb.slice(16, 32)
    val rcw = (0 until 8).map(m =>
      m -> pqSeeds.zipWithIndex.map { case ((sid, _), code) => code -> rsub(sid, m) }).toMap
    val rcodes = emb.map { case (id, _) =>
      id -> (0 until 8).map(m =>
        rcw(m).map { case (code, w) => (l2(rsub(id, m), w), code) }.min._2).toArray
    }.toMap
    val wantIvfPq = (for {
      (qid, _) <- emb.filter(_._1 < 8)
      dtq = (0 until 8).map(m => rcw(m).map { case (code, w) =>
        code -> l2(rsub(qid, m), w) }.toMap)
      cands = emb.filter { case (id, _) => id != qid && bucket(id) == bucket(qid) }
        .map { case (id, _) => ((0 until 8).map(m => dtq(m)(rcodes(id)(m))).sum, id) }
      ((d, id), i) <- cands.sorted.take(5).zipWithIndex
    } yield (qid, id, i + 1, d)).toSet
    val gotIvfPq = SparkEntry.queries("ann_ivf_pq_q")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(gotIvfPq == wantIvfPq,
      s"ann_ivf_pq_q diverged: extra=${gotIvfPq -- wantIvfPq} missing=${wantIvfPq -- gotIvfPq}")
    // Non-degeneracy pins (ADVICE r15): with coarse-seed codewords
    // every residual codeword was the zero vector, all codes
    // tie-broke to 0, and the ADC distance was constant per probe —
    // the composition hashed green while exercising nothing. The
    // non-coarse seeding must yield (a) nonzero codewords, (b) more
    // than one distinct code in use, and (c) more than one distinct
    // ADC distance among the results, with at least one nonzero.
    assert(rcw.values.flatten.exists(_._2.exists(_ != 0L)),
      "residual PQ codewords are all zero — codebook degenerate")
    assert(rcodes.values.flatMap(_.toSeq).toSet.size > 1,
      "all residual PQ codes identical — encoding unexercised")
    val adcDists = gotIvfPq.map(_._4)
    assert(adcDists.size > 1 && adcDists.exists(_ > 0L),
      s"ADC distances degenerate: $adcDists")

    // Mechanism pin: the quantized buckets carry real geometry — the
    // IVF twin's neighbors overlap the float-cosine brute-force
    // top-5 (they are different metrics, but on this corpus a bucket
    // search that found nothing in common would mean dead plumbing).
    val brute = SparkEntry.queries("ann_cosine_topk")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ov = gotIvf.map(t => (t._1, t._2)).intersect(brute).size.toDouble / brute.size
    assert(ov > 0.0, "quantized IVF shares nothing with brute force — dead plumbing?")
  }

  test("pqArtifactRoot folds the embeddings fingerprint (regenerated corpus busts the key)") {
    import spark.implicits._
    import graft.operators.Similarity
    // a REGENERATED corpus at the same path (new length/mtime) must
    // key to a DIFFERENT artifact root — a path-only key would
    // silently serve the previous corpus's codebook/codes/coarse
    // table (the edgeArtifactRoot staleness defense, applied to the
    // served-PQ index)
    val tmp = tempDir("pq_fp").toString
    Seq((1L, Seq(0.1f, 0.2f))).toDF("vec_id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val r1 = Similarity.pqArtifactRoot(spark, tmp)
    Thread.sleep(1100) // ensure a distinct mtime at 1s fs resolution
    Seq((1L, Seq(0.1f, 0.2f)), (2L, Seq(0.3f, 0.4f))).toDF("vec_id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val r2 = Similarity.pqArtifactRoot(spark, tmp)
    assert(r1 != r2, "fingerprint must move with the source data")
  }
}
