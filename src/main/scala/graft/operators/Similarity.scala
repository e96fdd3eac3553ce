package graft.operators

import graft.Ckpt.CkptOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryModule, Tables}

/** Similarity search over the `embeddings` table (`vec_id`,
  * `embedding: array<float>`, `label`) — north-star ANN operators.
  *
  * Cosine is computed with a left-to-right double fold
  * (`aggregate(zip_with(...))`, codegen'd — no UDF) so the IEEE result
  * is bit-identical to the DuckDB oracle's `list_reduce` fold: both
  * evaluate ((x1 + x2) + x3)…, both cast floats to double before
  * multiplying, and sqrt/divide are correctly-rounded IEEE ops.
  *
  * Scale paths:
  *  - brute-force top-k: queries × corpus broadcast product, ranked
  *    per query with TakeOrdered-style windows — right when the query
  *    set is small and broadcastable (the common serving shape);
  *  - IVF: corpus bucketed by nearest centroid once (narrow,
  *    broadcast codebook), probes search only their centroid's bucket
  *    — the partition-pruned shape that survives 100 TB because the
  *    per-query work is corpus/K, and buckets can be written as
  *    hive-partitioned parquet for pruning on read.
  */
object Similarity extends QueryModule {

  /** Double-precision dot product of two array<double> columns —
    * native codegen'd kernel, same left-to-right IEEE fold as the HOF
    * formulation (see [[graft.functions.DotProduct]]).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot_d(a, b)

  /** Euclidean norm of a float-array column, in double. */
  def norm(v: Column): Column =
    sqrt(aggregate(
      transform(v, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))

  def cosine(a: Column, b: Column): Column =
    dot(transform(a, _.cast("double")), transform(b, _.cast("double"))) /
      (norm(a) * norm(b))

  /** Embeddings with the float vector widened to array<double> and the
    * norm precomputed ONCE PER ROW — pair-wise ops after a join must
    * not recompute per-row quantities per pair (at n² pairs that turns
    * an O(n·d) prep into O(n²·d) waste).
    */
  private def embeddings(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .withColumn("vd", transform(col("embedding"), _.cast("double")))
      .withColumn("nrm", norm(col("embedding")))

  /** Public handle on the prepared (widened + norm'd) embeddings for
    * callers composing their own ANN/training plans.
    */
  def preparedEmbeddings(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)

  // ---- Product-quantization internals (vec_pq / ann_pq_search) ----
  // Fixed geometry for the 64-dim testdata: m=8 subspaces × 8 dims,
  // k=16 centroids per subspace, 2 batched-Lloyd iterations.
  private val PqM = 8; private val PqSub = 8
  private val PqK = 16; private val PqIters = 2

  private def subNorm(c: Column): Column =
    sqrt(aggregate(transform(c, x => x * x), lit(0.0), (a, x) => a + x))

  /** Each vector exploded into its m subvectors:
    * (vec_id, s, svd, snrm).
    */
  private def pqSliced(e: DataFrame): DataFrame =
    e.select(col("vec_id"), explode(expr(
        s"""transform(sequence(0, ${PqM - 1}),
              si -> struct(si AS s, slice(vd, si * $PqSub + 1, $PqSub) AS svd))"""))
        .as("x"))
      .select(col("vec_id"), col("x.s").as("s"), col("x.svd").as("svd"))
      .withColumn("snrm", subNorm(col("svd")))

  /** The m·k-row PQ codebook (s, c_id, c_vd, c_nrm), trained with all
    * M subspaces in ONE batched Lloyd loop: each iteration is a
    * single assignment pass of the (vector, subspace) rows against
    * the whole broadcast codebook keyed by s, plus one grouped
    * centroid update — one data pass per iteration for all M
    * codebooks (M separate ivfTrain runs measured 4.8 s vs 2.1 s at
    * sf0.1). Seeds are rank-based (the k smallest vec_ids) so sparse
    * ids still yield exactly k·m centroids; a centroid that loses all
    * members keeps its position (the codebook never shrinks, same
    * contract as ivfTrain).
    */
  private def pqCodebook(e: DataFrame, sliced: DataFrame): DataFrame = {
    val seedIds = e.orderBy(col("vec_id")).limit(PqK)
      .select(col("vec_id").as("c_id"))
    // LOCALIZED codebook rounds (r20 optimization pass): the m·k-row
    // codebook was eagerly checkpointed per Lloyd iteration — a
    // blocking job PLUS a broadcast-build job per consumer, in a
    // query family that is per-job-overhead bound (49 single-task
    // jobs in ann_ivf_pq at sf0.1). Collecting the SAME pipeline's
    // ≤ m·k rows into a LocalRelation costs the same single job and
    // makes every later broadcast(codebook) free (LocalTableScan —
    // no job, no exchange); every arithmetic op stays in Catalyst,
    // so the values are bit-identical to the checkpointed spelling.
    var codebook = localized(sliced.join(broadcast(seedIds),
        col("vec_id") === col("c_id"))
      .select(col("s"), col("c_id"), col("svd").as("c_vd"),
        col("snrm").as("c_nrm")))
    for (_ <- 1 to PqIters) {
      val assigned = sliced.join(broadcast(codebook), Seq("s"))
        .withColumn("c_cos",
          dot(col("svd"), col("c_vd")) / (col("snrm") * col("c_nrm")))
        .groupBy(col("vec_id"), col("s"))
        .agg(max(struct(col("c_cos"), (-col("c_id")).as("neg_id"),
          col("svd"))).as("best"))
      val means = assigned
        .groupBy(col("s"), (-col("best.neg_id")).as("c_id"))
        .agg(graft.functions.VectorSum.vec_sum(col("best.svd")).as("sum_vd"),
          count(lit(1)).as("cnt"))
        .select(col("s"), col("c_id"),
          transform(col("sum_vd"), x => x / col("cnt")).as("new_vd"))
      codebook = localized(codebook.join(means, Seq("s", "c_id"), "left")
        .select(col("s"), col("c_id"),
          coalesce(col("new_vd"), col("c_vd")).as("c_vd"))
        .withColumn("c_nrm", subNorm(col("c_vd"))))
    }
    codebook
  }

  /** Collect a K-BOUNDED frame (codebooks: ≤ m·k rows by
    * construction — PqM·PqK fixed, ivfTrain's k checked against
    * [[IvfMaxK]] at entry) into a LocalRelation-backed frame with identical
    * rows: consumers broadcast it without a build job and iterative
    * lineage resets to a leaf without a checkpoint barrier. The
    * collect is the same single job the eager checkpoint cost.
    */
  private def localized(df: DataFrame): DataFrame = {
    val rows = df.collect()
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Nearest centroid per (vector, subspace):
    * (vec_id, s, code, c_vd, c_nrm) — a partial-aggregating argmax
    * against the broadcast codebook, never a per-vector sort.
    */
  private def pqAssign(sliced: DataFrame, codebook: DataFrame): DataFrame =
    sliced.join(broadcast(codebook), Seq("s"))
      .withColumn("c_cos",
        dot(col("svd"), col("c_vd")) / (col("snrm") * col("c_nrm")))
      .groupBy(col("vec_id"), col("s"))
      .agg(max(struct(col("c_cos"), (-col("c_id")).as("neg_id"),
        col("c_vd"), col("c_nrm"))).as("best"))
      .select(col("vec_id"), col("s"), (-col("best.neg_id")).as("code"),
        col("best.c_vd").as("c_vd"), col("best.c_nrm").as("c_nrm"))

  /** ADC scoring shared by ann_pq_search / ann_ivf_pq: per-query
    * partial-dot lookup tables against the codebook (one m·k-row
    * table per query, broadcast), joined to the corpus CODES and
    * summed per (query, vector); the approximate cosine normalizes
    * by the reconstruction norm √(Σ|c|²). `codes` must carry
    * (vec_id, s, code, c_nrm2) plus any extra pass-through columns
    * (ann_ivf_pq rides its bucket through). The table join renames
    * its key columns (t_*) — dataset-alias refs on same-lineage
    * frames resolve both sides to one attribute (the self-join trap
    * dedup_embedding_lsh documents), and the rename is immune.
    * Returns top-`topK` per query by approximate cosine, self
    * excluded.
    */
  private def adcScore(e: DataFrame, sliced: DataFrame, codebook: DataFrame,
      codes: DataFrame, nQueries: Int, topK: Int,
      extraCols: Seq[String] = Nil): DataFrame = {
    val table = sliced.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("t_qid"), col("s").as("t_s"),
        col("svd").as("q_svd"))
      .join(broadcast(codebook), col("t_s") === col("s"))
      .select(col("t_qid"), col("t_s"), col("c_id").as("t_cid"),
        dot(col("q_svd"), col("c_vd")).as("pdot"))
    val qn = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("nrm").as("q_nrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("acos").desc, col("vec_id").asc)
    val joinCond =
      if (codes.columns.contains("q_id"))
        col("q_id") === col("t_qid") && col("s") === col("t_s") &&
          col("code") === col("t_cid")
      else col("s") === col("t_s") && col("code") === col("t_cid")
    codes.join(broadcast(table), joinCond)
      .groupBy((Seq("t_qid", "vec_id") ++ extraCols).map(col): _*)
      .agg(sum(col("pdot")).as("adot"), sum(col("c_nrm2")).as("rn2"))
      .withColumnRenamed("t_qid", "q_id")
      .join(broadcast(qn), "q_id")
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("acos", col("adot") / (col("q_nrm") * sqrt(col("rn2"))))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= topK)
      .select((Seq("q_id", "vec_id") ++ extraCols).map(col)
        ++ Seq(col("rk"), round(col("acos"), 6).as("acos_r")): _*)
  }

  /** Served-PQ artifacts: the trained codebook and the corpus codes as
    * STORED tables, published once per corpus via the AtomicDir
    * rename-swap and reused by every subsequent query — the production
    * split the in-query-training capstones (`ann_pq_search`,
    * `ann_ivf_trained`, `ann_ivf_pq`) deliberately do not amortize.
    * Training is deterministic (rank-seeded Lloyd), so a concurrent
    * re-train publishes byte-identical content and last-wins is safe.
    * The artifact key hashes the corpus dir path, so distinct corpora
    * (including test temp dirs) never share an index. Returns the
    * (codebook, codes) frames READ FROM STORAGE — at serve time no
    * float corpus vector is touched and no Lloyd iteration runs;
    * at 100 TB the codes table is the only per-corpus scan and is
    * 32× smaller than the vectors.
    */
  /** Where `dir`'s served-PQ artifacts live. The key carries a format
    * version (bust on any training/geometry change) and a sha-256 of
    * the full corpus path — content-strength, so distinct corpora
    * never share an index (a 32-bit `String.hashCode` could collide
    * two paths and silently serve one corpus's index for the other) —
    * PLUS the embeddings source's (length, mtime) fingerprint (the
    * edgeArtifactRoot convention): a REGENERATED corpus at the same
    * path gets a fresh index instead of silently serving the previous
    * corpus's codebook/codes/coarse table.
    */
  private[graft] def pqArtifactRoot(s: SparkSession,
      dir: String): org.apache.hadoop.fs.Path = {
    val (len, mtime) =
      graft.Tables.sourceFingerprint(s, s"$dir/embeddings.parquet")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$dir|$len|$mtime".getBytes("UTF-8"))
      .take(16).map(b => f"$b%02x").mkString
    val key = s"${new java.io.File(dir).getName}_${digest}_v2"
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(
        System.getProperty("java.io.tmpdir"), "graft_pq_index"), key)
  }

  /** Per-(session, corpus) handles on the stored artifacts — a
    * serving process pins the codebook (128 rows, `.persist()`) and
    * the codes READ PLAN in memory rather than re-resolving parquet
    * metadata per query; the codes DATA still scans from storage
    * (the 32×-compressed asset — pinning it too is the production
    * codes-in-RAM layout, left to the deployment). Every call still
    * re-checks artifact existence (two metadata ops), so a vacuumed /
    * rebuilt artifact invalidates the handle instead of serving stale
    * paths.
    */
  private val serveCache =
    new java.util.concurrent.ConcurrentHashMap[String, (DataFrame, DataFrame, DataFrame)]()

  /** Returns (pq codebook, corpus codes + coarse bucket, coarse
    * centroids) read from storage — the FULL FAISS IVF-PQ serving
    * layout: BOTH quantizers are stored artifacts, so neither the PQ
    * codebook's Lloyd loops nor the coarse quantizer's ever run at
    * serve time. The codes table carries each vector's coarse bucket
    * (assigned once at build), so served IVF-PQ needs only a probe
    * assignment of the 8 query vectors against the 16-row stored
    * coarse table plus the bucket-pruned ADC scan.
    */
  private def pqServeArtifacts(s: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.hadoop.fs.Path
    import graft.sinks.AtomicDir
    val root = pqArtifactRoot(s, dir)
    val fs = AtomicDir.fileSystem(s, root)
    val cbDir = new Path(root, "codebook")
    val cdDir = new Path(root, "codes")
    val coDir = new Path(root, "coarse")
    val dirs = Seq(cbDir, cdDir, coDir)
    val cacheKey = s"${System.identityHashCode(s)}#$root"
    if (!dirs.forall(fs.exists)) {
      // UNPERSIST the stale handles, not just drop them: a persisted
      // frame stays registered in Spark's CacheManager keyed by its
      // analyzed plan, and a fresh read.parquet over the SAME path
      // plan-matches that stale entry — the rebuilt artifact would
      // then serve from (partially) cached blocks whose backing files
      // the rebuild just replaced (FILE_NOT_EXIST on recompute).
      val stale = serveCache.remove(cacheKey)
      if (stale != null) {
        stale._1.unpersist(true)
        stale._3.unpersist(true)
      }
      dirs.foreach(AtomicDir.recover(fs, _))
      if (!dirs.forall(fs.exists)) {
        val full = embeddings(s, dir)
        val e = full.select(col("vec_id"), col("vd"))
        val sliced = pqSliced(e)
        val codebook = pqCodebook(e, sliced)
        val coarse = ivfTrain(full, k = 16, iters = 3)
        val buckets = assignToCentroid(
          full.select(col("vec_id").as("__aid"), col("vd"), col("nrm")), coarse)
          .select(col("__aid").as("vec_id"), col("c_id").as("bucket"))
        val codes = pqAssign(sliced, codebook)
          .select(col("vec_id"), col("s"), col("code"),
            (col("c_nrm") * col("c_nrm")).as("c_nrm2"))
          .join(buckets, "vec_id")
        codebook.write.mode("overwrite")
          .parquet(AtomicDir.stagingPath(cbDir).toString)
        codes.write.mode("overwrite")
          .parquet(AtomicDir.stagingPath(cdDir).toString)
        coarse.write.mode("overwrite")
          .parquet(AtomicDir.stagingPath(coDir).toString)
        dirs.foreach(AtomicDir.commit(fs, _))
      }
    }
    serveCache.computeIfAbsent(cacheKey, _ =>
      (s.read.parquet(cbDir.toString).persist(),
        s.read.parquet(cdDir.toString),
        s.read.parquet(coDir.toString).persist()))
  }

  /** Corpus plus planted near-duplicates — the shared ground truth of
    * the near-dup queries (the natural corpus's top pairs sit in the
    * random-cosine noise floor, so recall is only measurable against
    * plants): every vec_id < 40 gains a copy at id+1000000 with
    * deterministic ±0.5% per-dim jitter (cos ≈ 0.999996). The jitter
    * hashes the ORIGINAL vec_id (the select's input attribute), fixed
    * across runs.
    */
  private def withPlantedDups(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).select(col("vec_id"), col("vd"), col("nrm"))
    val planted = embeddings(s, dir).where(col("vec_id") < 40)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("vd"), (x, i) =>
          x * (lit(1.0) +
            (pmod(hash(col("vec_id"), i), lit(1000)).cast("double") - 500.0)
              / 100000.0)).as("vd"))
      .withColumn("nrm", sqrt(aggregate(
        transform(col("vd"), x => x * x), lit(0.0), (a, x) => a + x)))
    e.unionByName(planted)
  }

  /** Embeddings quantized to BIGINT micro-units: q[i] =
    * floor(double(x)·1e6 + 0.5). Float→double widening is exact and
    * floor/multiply are the same IEEE ops in Spark and DuckDB, so
    * both engines derive bit-identical integer vectors — the
    * foundation that lets the ann_*_q twins hash-pin centroid
    * assignment and ADC ranking (integer argmins have no ulp
    * ambiguity for an oracle to disagree on).
    */
  private def quantizedEmb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(1000000.0) + lit(0.5))).as("q"))

  /** Exact squared-L2 between two BIGINT-array columns — the native
    * codegen kernel ([[graft.functions.L2Quant]]; the HOF
    * `aggregate(zip_with(...))` spelling is value-identical but
    * interprets its lambdas and allocates a diff array per evaluated
    * pair — measured 5.6× slower on the assignment stage at 50k
    * vectors).
    */
  private def l2q(a: Column, b: Column): Column =
    graft.functions.L2Quant.l2_q(a, b)

  /** Quantized IVF search against a given BIGINT codebook: exact
    * argmin-L2 assignment (min(struct) — the (d2, c_id) lexicographic
    * min IS the tie-break, as a partial hash agg, no per-vector sort
    * window over the n×k frame), then probes (vec_id < 8) search
    * their bucket and rank by exact integer L2. Shared by the
    * ann_ivf_q / ann_ivf_trained_q oracle twins.
    */
  private def ivfSearchQ(v: DataFrame, cents: DataFrame,
      nprobe: Int = 1): DataFrame = {
    val assigned = v.crossJoin(broadcast(cents))
      .withColumn("cd2", l2q(col("q"), col("cq")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("cd2"), col("c_id"), col("q"))).as("best"))
      .select(col("vec_id"), col("best.c_id").as("c_id"), col("best.q").as("q"))
    val probes0 = v.where(col("vec_id") < 8)
    // nprobe > 1: the probe side (tiny) ranks its centroids and
    // searches its nprobe nearest buckets; each corpus vector still
    // lives in exactly one bucket, so no result duplicates
    val wp = Window.partitionBy(col("q_id"))
      .orderBy(col("pd2").asc, col("c_id").asc)
    val probes = probes0.crossJoin(broadcast(cents))
      .select(col("vec_id").as("q_id"), col("q").as("pq"), col("c_id"),
        l2q(col("q"), col("cq")).as("pd2"))
      .withColumn("prk", row_number().over(wp))
      .where(col("prk") <= nprobe)
      .select(col("q_id"), col("pq"), col("c_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("d2").asc, col("vec_id").asc)
    assigned.join(broadcast(probes), "c_id")
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("d2", l2q(col("q"), col("pq")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 5)
      .select(col("q_id"), col("vec_id"), col("rk"), col("d2"))
  }

  /** Deterministic seed codebook: the `k` smallest vec_ids, RANK
    * based (TakeOrdered on the id, k rows to the driver) — a sparse
    * or non-contiguous id space still yields exactly k centroids,
    * where a `vec_id < k` predicate would silently shrink the
    * codebook.
    */
  def seedCodebook(e: DataFrame, k: Int): DataFrame =
    e.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("c_id"), col("vd").as("c_vd"), col("nrm").as("c_nrm"))

  /** Assign each row (keyed `__aid`, vectors `vd`/`nrm`) to its
    * `nprobe` nearest centroids by cosine: broadcast the k-row
    * codebook, keep the top ranks. `nprobe = 1` is plain assignment
    * (corpus side); probes pass `nprobe > 1` to search several
    * buckets — the standard IVF recall/latency knob (per-query work
    * scales with nprobe/k of the corpus, still never all of it).
    *
    * The `nprobe = 1` case — the side that carries the WHOLE corpus,
    * and runs once per Lloyd iteration in [[ivfTrain]] — is a plain
    * argmax, so it runs as a partial-aggregating hash `max(struct)`
    * (same tie-break: highest cosine, then lowest centroid id) instead
    * of a sort-based `row_number` window; no per-`__aid` sort of the
    * n×k assignment rows ever forms. `nprobe > 1` (the tiny probe
    * side) keeps the window.
    */
  def assignToCentroid(df: DataFrame, cents: DataFrame, nprobe: Int = 1): DataFrame = {
    val scored = df.crossJoin(broadcast(cents))
      .withColumn("c_cos",
        dot(col("vd"), col("c_vd")) / (col("nrm") * col("c_nrm")))
    if (nprobe == 1)
      scored
        .groupBy(col("__aid"))
        .agg(max(struct(col("c_cos"), (-col("c_id")).as("neg_id"),
          col("vd"), col("nrm"))).as("best"))
        .select(col("__aid"), col("best.vd").as("vd"),
          col("best.nrm").as("nrm"), (-col("best.neg_id")).as("c_id"))
    else {
      val w = Window.partitionBy(col("__aid")).orderBy(col("c_cos").desc, col("c_id").asc)
      scored
        .withColumn("__rk", row_number().over(w))
        .where(col("__rk") <= nprobe)
        .drop("c_vd", "c_nrm", "c_cos", "__rk")
    }
  }

  /** Signed-random-projection (SimHash-for-vectors) hyperplanes for
    * cosine LSH: `bands · bitsPerBand` unit-free Gaussian directions,
    * deterministic from the fixed seed so every run (and both sides of
    * a spec) sees the same bucketing. Each row carries its band id and
    * the bit's weight `w = 1 << bit`, so a band signature assembles as
    * a plain conditional SUM — no shift-by-column expression needed.
    */
  def srpPlanes(s: SparkSession, dim: Int, bands: Int, bitsPerBand: Int): DataFrame = {
    val rnd = new scala.util.Random(20260813L)
    val rows = for {
      band <- 0 until bands
      bit <- 0 until bitsPerBand
    } yield (band, 1L << bit, Seq.fill(dim)(rnd.nextGaussian()))
    import s.implicits._
    rows.toDF("band", "w", "hv")
  }

  /** Per-(row, band) SRP signature: the sign pattern of `bands ·
    * bitsPerBand` hyperplane projections, packed into one long per
    * band. Two vectors at cosine angle θ agree on each bit with
    * probability 1 − θ/π (Charikar, STOC 2002), so near-identical
    * vectors collide in some band with probability ≈ 1 while random
    * pairs (θ ≈ π/2) collide with probability bands · 2^−bits. Cost:
    * one broadcast of the plane table and one hash agg keyed on
    * (id, band) — linear in the corpus, map-side combinable, never a
    * pair join.
    */
  def srpSignatures(df: DataFrame, planes: DataFrame): DataFrame =
    df.crossJoin(broadcast(planes))
      .groupBy(col("vec_id"), col("band"))
      .agg(sum(when(dot(col("vd"), col("hv")) >= 0, col("w")).otherwise(0L))
        .as("sig"))

  /** The IVF search stage shared by the ann_ivf* queries: assign the
    * corpus (1 bucket each) and the probe vectors (`nprobe` buckets),
    * join on bucket, rank by cosine per query, keep the top 5.
    */
  def ivfSearch(e: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    val base = e.select(col("vec_id").as("__aid"), col("vd"), col("nrm"))
    val corpus = assignToCentroid(base, cents)
      .select(col("__aid").as("vec_id"), col("vd"), col("nrm"), col("c_id"))
    val probes = assignToCentroid(base.where(col("__aid") < 8), cents, nprobe)
      .select(col("__aid").as("q_id"), col("vd").as("q_vd"),
        col("nrm").as("q_nrm"), col("c_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    corpus.join(broadcast(probes), "c_id")
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("vd"), col("q_vd")) / (col("nrm") * col("q_nrm")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 5)
      .select(col("q_id"), col("vec_id"), col("rk"),
        round(col("cos"), 6).as("cos_r"))
  }

  /** Largest codebook [[ivfTrain]] collects to the driver. */
  val IvfMaxK = 4096

  /** Spherical k-means via `iters` Lloyd iterations, all distributed:
    * assignment is [[assignToCentroid]]; the update sums member
    * vectors with the native [[graft.functions.VectorSum]] partial
    * aggregate (one running array per centroid per partition — the
    * shuffle carries k partial vectors per partition, NOT n×dim
    * exploded rows) and divides by the member count. A centroid that
    * loses all members keeps its previous position (left join +
    * coalesce) so the codebook never shrinks.
    *
    * The codebook is collected to the driver once per iteration, so
    * `k` is refused outside 1..[[IvfMaxK]] (4096 centroids: 2 MB of
    * doubles per iteration at 64 dims, ~25 MB at 768) before any job
    * runs.
    */
  def ivfTrain(e: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k >= 1 && k <= IvfMaxK,
      s"ivfTrain: k = $k centroids is outside 1..$IvfMaxK (the codebook is collected to the driver)")
    val base = e.select(col("vec_id").as("__aid"), col("vd"), col("nrm"))
    // localized (see [[pqCodebook]]): the k-row codebook collects to a
    // LocalRelation each iteration — same single job the eager
    // checkpoint cost, but every broadcast of it afterwards is free
    // (no build job) and lineage resets without a barrier. Values
    // bit-identical: the whole update stays in Catalyst.
    var cents = localized(seedCodebook(e, k))
    for (_ <- 1 to iters) {
      val means = assignToCentroid(base, cents)
        .groupBy(col("c_id"))
        .agg(graft.functions.VectorSum.vec_sum(col("vd")).as("sum_vd"),
          count(lit(1)).as("cnt"))
        .select(col("c_id"),
          transform(col("sum_vd"), x => x / col("cnt")).as("new_vd"))
      cents = localized(cents.join(means, Seq("c_id"), "left")
        .select(col("c_id"),
          coalesce(col("new_vd"), col("c_vd")).as("c_vd"))
        .withColumn("c_nrm", sqrt(aggregate(
          transform(col("c_vd"), x => x * x), lit(0.0), (acc, x) => acc + x))))
    }
    cents
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force cosine top-5 for 8 fixed query vectors (oracle-
    // checked). The query side broadcasts; ranking is per-query.
    "ann_cosine_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val q = e.where(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("vd").as("q_vd"), col("nrm").as("q_nrm"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      e.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("cos", dot(col("vd"), col("q_vd")) / (col("nrm") * col("q_nrm")))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 5)
        .select(col("q_id"), col("vec_id"), col("rk"),
          round(col("cos"), 6).as("cos_r"))
    }),

    // IVF-style ANN: 16 fixed centroids (vec_id < 16 as codebook);
    // vectors assigned to nearest centroid; probes search only their
    // bucket. Rows-only; SimilaritySpec pins recall vs brute force.
    "ann_ivf" -> ((s, dir) => {
      val e = embeddings(s, dir)
      ivfSearch(e, seedCodebook(e, 16), nprobe = 1)
    }),

    // Multi-probe IVF: probes search their 4 nearest centroid buckets
    // instead of 1 — recall rises toward brute force while per-query
    // work stays nprobe/k of the corpus (each corpus vector still
    // lives in exactly one bucket, so no result duplicates). Rows-only;
    // SimilaritySpec pins recall(multiprobe) ≥ recall(single-probe).
    "ann_ivf_multiprobe" -> ((s, dir) => {
      val e = embeddings(s, dir)
      ivfSearch(e, seedCodebook(e, 16), nprobe = 4)
    }),

    // Integer-quantized IVF twin — the full-oracle pin for the IVF
    // family (the md5-sketch-twin technique applied to ANN): every
    // embedding element is quantized to BIGINT micro-units
    // (floor(x·1e6 + 0.5)) and BOTH stages of the search — the
    // argmin-L2 centroid assignment AND the in-bucket ranking — run
    // in exact integer arithmetic that the DuckDB oracle re-executes
    // verbatim, so bucket membership, candidate sets, and the final
    // top-5 per probe are hash-pinned every round (no float-ulp
    // ranking ambiguity anywhere). Same plan shape as ann_ivf: one
    // broadcast of the 16-row codebook, a partial-agg argmin over the
    // corpus, and a bucket equi-join — linear in the corpus, never
    // all-pairs. L2 in micro-units is Long-safe with huge margin:
    // |x| < 0.6 ⇒ per-element diff² ≤ 1.5e12, ×64 dims ≤ 1e14 ≪ 2⁶³.
    "ann_ivf_q" -> ((s, dir) => {
      val v = quantizedEmb(s, dir)
      ivfSearchQ(v, v.orderBy(col("vec_id")).limit(16)
        .select(col("vec_id").as("c_id"), col("q").as("cq")))
    }),

    // Integer-quantized MULTIPROBE twin — the recall/latency knob of
    // the IVF family as a full oracle row: probes rank all k
    // centroids by exact integer L2 and search their 4 nearest
    // buckets (per-query work = nprobe/k of the corpus, still never
    // all of it; corpus vectors live in exactly one bucket so the
    // union has no duplicates). DuckDB re-executes the probe ranking
    // and the widened bucket scan, hash-pinning exactly where recall
    // comes from as nprobe grows.
    "ann_ivf_mp_q" -> ((s, dir) => {
      val v = quantizedEmb(s, dir)
      ivfSearchQ(v, v.orderBy(col("vec_id")).limit(16)
        .select(col("vec_id").as("c_id"), col("q").as("cq")), nprobe = 4)
    }),

    // Integer-quantized TRAINED IVF twin — the full-oracle pin for
    // the Lloyd TRAINING loop itself (ann_ivf_trained's k-means runs
    // in floats, so only goldens could pin it; this twin runs 2 Lloyd
    // iterations in arithmetic BOTH engines reproduce bit-for-bit and
    // DuckDB re-executes the whole loop as unrolled CTEs). Assignment
    // is exact BIGINT argmin-L2; the centroid update is
    // floor(Σq[i] / count) — the sums are integer-valued doubles
    // < 2⁵³, so the distributed partial-agg addition (VectorSum) is
    // EXACT in any order, and floor-of-quotient is one correctly-
    // rounded IEEE division in both engines: the updated codebook is
    // identical integers on both sides, every round. Plan per
    // iteration = one broadcast of the k-row codebook + one corpus
    // hash agg (the ivfTrain shape); DuckDB's restatement pins seed,
    // both updates (empty-centroid carry included), final bucket
    // assignment, and the in-bucket top-5.
    "ann_ivf_trained_q" -> ((s, dir) => {
      val v = quantizedEmb(s, dir)
      var cents = v.orderBy(col("vec_id")).limit(16)
        .select(col("vec_id").as("c_id"), col("q").as("cq"))
      for (_ <- 1 to 2) {
        val assigned = v.crossJoin(broadcast(cents))
          .withColumn("cd2", l2q(col("q"), col("cq")))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("cd2"), col("c_id"), col("q"))).as("best"))
          .select(col("best.c_id").as("c_id"), col("best.q").as("q"))
        val means = assigned.groupBy(col("c_id"))
          .agg(graft.functions.VectorSum.vec_sum(
              transform(col("q"), _.cast("double"))).as("sum_q"),
            count(lit(1)).as("cnt"))
          .select(col("c_id"),
            transform(col("sum_q"),
              x => floor(x / col("cnt")).cast("long")).as("new_cq"))
        cents = cents.join(means, Seq("c_id"), "left")
          .select(col("c_id"), coalesce(col("new_cq"), col("cq")).as("cq"))
          .ckpt(true) // k-row codebook: keep iteration plans flat
      }
      ivfSearchQ(v, cents)
    }),

    // Integer-quantized PQ + ADC twin — the full-oracle pin for the
    // product-quantization family. 64 dims split into M=8 subspaces
    // of 8; per subspace the 16 seed codewords are the smallest
    // vec_ids' sub-vectors (code = rank by vec_id). Encoding (argmin
    // integer L2 per (vector, subspace)) and the probe-side ADC scan
    // (distance TABLE of probe↔codeword sub-distances, candidate
    // distance = Σ_m table[m][code_m]) are both exact BIGINT algebra
    // the oracle restates, hash-pinning codes, tables, and the ADC
    // top-5. The plan is the real serve shape: codes are a narrow
    // (vec_id, m, code) frame (the inverted file payload), the
    // 8-probe × 8×16-cell distance table broadcasts, and the scan is
    // one equi-join + hash agg — per-probe work is O(corpus·M) table
    // lookups, never a d-dim float op per candidate.
    "ann_pq_adc_q" -> ((s, dir) => {
      val v = quantizedEmb(s, dir)
      val sub = v.select(col("vec_id"), col("q"),
          explode(sequence(lit(0), lit(7))).as("m"))
        .select(col("vec_id"), col("m"),
          slice(col("q"), col("m") * 8 + 1, lit(8)).as("s"))
      val wCode = Window.partitionBy(col("m")).orderBy(col("vec_id"))
      val cb = v.orderBy(col("vec_id")).limit(16)
        .select(col("vec_id"), col("q"),
          explode(sequence(lit(0), lit(7))).as("m"))
        .select(col("vec_id"), col("m"),
          slice(col("q"), col("m") * 8 + 1, lit(8)).as("cw"))
        .withColumn("code", row_number().over(wCode) - 1)
        .select(col("m"), col("code"), col("cw"))
      val enc = sub.join(broadcast(cb), "m")
        .withColumn("cd2", l2q(col("s"), col("cw")))
        .groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("cd2"), col("code"))).as("best"))
        .select(col("vec_id"), col("m"), col("best.code").as("code"))
      val dt = sub.where(col("vec_id") < 8).join(broadcast(cb), "m")
        .select(col("vec_id").as("q_id"), col("m"), col("code"),
          l2q(col("s"), col("cw")).as("d"))
      val adc = enc.join(broadcast(dt), Seq("m", "code"))
        .where(col("vec_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("d")).as("adc_d2"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("adc_d2").asc, col("vec_id").asc)
      adc.withColumn("rk", row_number().over(w))
        .where(col("rk") <= 5)
        .select(col("q_id"), col("vec_id"), col("rk"), col("adc_d2"))
    }),

    // Integer-quantized IVF-PQ composition twin — the full-oracle pin
    // for the coarse-quantizer + product-quantizer-on-RESIDUALS stack
    // (the FAISS IVFPQ layout ann_ivf_pq implements in floats):
    // coarse argmin-L2 assignment, residual r = q − centroid (exact
    // BIGINT subtraction), PQ codes on residual subspaces, and the
    // probe-side ADC scan restricted to the probe's bucket with the
    // distance table built against the probe's OWN-bucket residual.
    // Every stage is integer algebra DuckDB re-executes, so the
    // composition — not just its parts — is hash-pinned. The toy
    // codebook (16 coarse / 16 PQ codes over 500 vectors) makes ADC
    // ties at distance 0 common; the (adc, vec_id) tie-break keeps
    // the result total-ordered, which is exactly why the twin can be
    // an oracle row while the float original cannot.
    "ann_ivf_pq_q" -> ((s, dir) => {
      val v = quantizedEmb(s, dir)
      val coarse = v.orderBy(col("vec_id")).limit(16)
        .select(col("vec_id").as("c_id"), col("q").as("cq"))
      val a = v.crossJoin(broadcast(coarse))
        .withColumn("cd2", l2q(col("q"), col("cq")))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("cd2"), col("c_id"), col("q"), col("cq"))).as("best"))
        .select(col("vec_id"), col("best.c_id").as("c_id"),
          zip_with(col("best.q"), col("best.cq"), (x, y) => x - y).as("res"))
      val sub = a.select(col("vec_id"), col("c_id"), col("res"),
          explode(sequence(lit(0), lit(7))).as("m"))
        .select(col("vec_id"), col("c_id"), col("m"),
          slice(col("res"), col("m") * 8 + 1, lit(8)).as("s"))
      // PQ codewords come from vec_id ranks 17..32 — spelled as a
      // row_number window over the 32 smallest ids, the LITERAL
      // Spark transliteration of the DuckDB twin's LIMIT 16 OFFSET
      // 16, so the two selections derive from one definition and
      // cannot silently diverge (ADVICE r16; the previous anti-join
      // against coarse matched the oracle only while coarse happened
      // to be exactly ranks 1..16). The ranks are non-coarse BECAUSE
      // coarse is ranks 1..16: a coarse seed's nearest centroid is
      // itself, so its residual is exactly zero — seeding the
      // residual codebook from coarse seeds would make every codeword
      // the zero vector and the whole residual-PQ stage vacuous (all
      // codes 0, constant ADC). Non-coarse seeds carry real nonzero
      // residuals (SimilaritySpec pins non-degeneracy, which also
      // catches any future coarse change that overlaps these ranks).
      val wCode = Window.partitionBy(col("m")).orderBy(col("vec_id"))
      val seedIds = v.orderBy(col("vec_id")).limit(32)
        .withColumn("rk", row_number().over(Window.orderBy(col("vec_id"))))
        .where(col("rk") > 16)
        .select(col("vec_id").as("seed_id"))
      val cb = sub.join(broadcast(seedIds), col("vec_id") === col("seed_id"))
        .withColumn("code", row_number().over(wCode) - 1)
        .select(col("m"), col("code"), col("s").as("cw"))
      val enc = sub.join(broadcast(cb), "m")
        .withColumn("cd2", l2q(col("s"), col("cw")))
        .groupBy(col("vec_id"), col("c_id"), col("m"))
        .agg(min(struct(col("cd2"), col("code"))).as("best"))
        .select(col("vec_id"), col("c_id"), col("m"), col("best.code").as("code"))
      val dt = sub.where(col("vec_id") < 8).join(broadcast(cb), "m")
        .select(col("vec_id").as("q_id"), col("c_id"), col("m"), col("code"),
          l2q(col("s"), col("cw")).as("d"))
      val adc = enc.join(broadcast(dt), Seq("c_id", "m", "code"))
        .where(col("vec_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("d")).as("adc_d2"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("adc_d2").asc, col("vec_id").asc)
      adc.withColumn("rk", row_number().over(w))
        .where(col("rk") <= 5)
        .select(col("q_id"), col("vec_id"), col("rk"), col("adc_d2"))
    }),

    // IVF with a TRAINED codebook: 3 Lloyd iterations of spherical
    // k-means run as DataFrame ops — assignment is a broadcast
    // argmax-cosine (the data side never moves), the centroid update
    // is a per-dimension hash aggregate, and only the k-row codebook
    // ever collects. This is the shape that trains on 100 TB: per
    // iteration one broadcast join + one partial-aggregating groupBy,
    // no iteration state on the driver beyond the codebook itself.
    // Rows-only; SimilaritySpec pins that training strictly reduces
    // quantization error vs the untrained seed codebook.
    "ann_ivf_trained" -> ((s, dir) => {
      val e = embeddings(s, dir)
      ivfSearch(e, ivfTrain(e, k = 16, iters = 3), nprobe = 1)
    }),

    // Embedding-cosine near-dup: the 20 most-similar pairs in the
    // corpus (oracle-checked; the corpus has no planted near-dup
    // embeddings, so top-k is the meaningful shape, not a threshold).
    // EVAL-ONLY ground truth: the theta join is a
    // BroadcastNestedLoopJoin — O(n²) through one executor's loop.
    // The production shape is sim_top_pairs_blocked below (identical
    // output, distributed equi-join).
    "sim_top_pairs" -> ((s, dir) => {
      val a = embeddings(s, dir)
        .select(col("vec_id").as("id_a"), col("vd").as("va"), col("nrm").as("na"))
      val b = embeddings(s, dir)
        .select(col("vec_id").as("id_b"), col("vd").as("vb"), col("nrm").as("nb"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .orderBy(col("cos").desc, col("id_a").asc, col("id_b").asc)
        .limit(20)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_r"))
    }),

    // Scale-safe EXACT top-pairs: block-partitioned self-join. Each
    // vector lands in one of P hash blocks; every unordered block pair
    // (i ≤ j) becomes an equi-join key, with block-i rows replicated
    // to keys (i, j≥i) on the left and block-j rows to keys (i≤j, j)
    // on the right — every vector pair is joined EXACTLY once, so the
    // result provably equals the brute-force oracle (same oracle SQL).
    // Unlike the theta join this is a shuffled hash join on (pi, pj):
    // no cartesian / BroadcastNestedLoopJoin in the plan, the O(n²)
    // compute spreads over P(P+1)/2 ≈ 136 independent partitions, and
    // per-task memory is bounded by 2n/P rows. (LSH/IVF candidate
    // pruning — ann_ivf, dedup_minhash_lsh — is the sublinear path
    // when approximation is acceptable; on this corpus the top pairs
    // sit in the random-similarity noise floor, where sound LSH
    // pruning is impossible, so the exact path must stay exhaustive.)
    // The top-20 runs as TakeOrderedAndProject directly on the
    // narrow (id_a, id_b, cos) pair stream: a bounded HEAP per join
    // partition feeding a 20·numPartitions driver merge — no sort of
    // the n² pair set ever materializes, and the wide vector columns
    // are projected away before the heap. (An earlier variant ran a
    // per-block-pair row_number window first; that forced a sort-based
    // window over every pair WITH the vectors still attached —
    // measured 7× slower than brute force at 6k vectors. TakeOrdered
    // already IS the partial-top-k-then-merge that window tried to
    // hand-build.) The join carries a shuffle_hash hint: with only
    // P(P+1)/2 distinct keys and huge per-key groups, sort-merge-join
    // pays a per-key sort + group buffering that dominates the whole
    // query (measured 3× at 20k vectors); a shuffled hash join builds
    // one small per-partition map and streams the probe side through
    // codegen. NOTES_r4.md has the crossover measurements.
    "sim_top_pairs_blocked" -> ((s, dir) => {
      val e0 = embeddings(s, dir)
      // Block count derived from corpus size: above the floor, ~1250
      // rows per block keeps per-task pair work ≈ 1.5M comparisons
      // whatever n is — P grows linearly with n, block-pair count
      // quadratically, so per-task memory and runtime stay flat as
      // the corpus scales (a literal P would let per-task work grow
      // as n²/P²). The floor of 16 (136 block pairs) keeps small
      // corpora parallel: deriving P purely from n collapsed a 2k-row
      // corpus to 3 tasks, measured 2.5× slower than the floored
      // plan. The count is one columnar scan of vec_id, noise next to
      // the n²/P pair stage; a warehouse deployment reads n from
      // table stats.
      val P = math.max(16, math.ceil(e0.count() / 1250.0).toInt)
      val e = e0
        .withColumn("blk", pmod(xxhash64(col("vec_id")), lit(P)).cast("int"))
      val left = e.withColumn("pj", explode(sequence(col("blk"), lit(P - 1))))
        .select(col("blk").as("pi"), col("pj"),
          col("vec_id").as("ida"), col("vd").as("va"), col("nrm").as("na"))
      val right = e.withColumn("pi", explode(sequence(lit(0), col("blk"))))
        .select(col("pi"), col("blk").as("pj"),
          col("vec_id").as("idb"), col("vd").as("vb"), col("nrm").as("nb"))
      left.hint("shuffle_hash").join(right, Seq("pi", "pj"))
        .where(col("pi") =!= col("pj") || col("ida") < col("idb"))
        .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .select(least(col("ida"), col("idb")).as("id_a"),
          greatest(col("ida"), col("idb")).as("id_b"), col("cos"))
        .orderBy(col("cos").desc, col("id_a").asc, col("id_b").asc)
        .limit(20)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_r"))
    }),

    // Int8 scalar quantization of the embedding column — the 4×
    // compression pass run before shipping vectors to an ANN index or
    // a feature store. Per-row min/max scale, q = floor((x-mn)/(mx-mn)
    // *255 + 0.5); qsum is the exact integer checksum of the
    // quantized vector (sums of ≤255·dim integers are exact in any
    // order, so the oracle hash cannot drift). Pure zero-shuffle
    // projection — embarrassingly parallel at any scale. A degenerate
    // constant vector (mx = mn) quantizes to all zeros.
    "vec_quantize_int8" -> ((s, dir) => {
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("vd"))
        .select(col("vec_id"),
          array_min(col("vd")).as("mn"), array_max(col("vd")).as("mx"),
          col("vd"))
        .select(col("vec_id"), col("mn"), col("mx"),
          aggregate(
            transform(col("vd"), x =>
              when(col("mx") === col("mn"), lit(0.0))
                .otherwise(floor((x - col("mn")) / (col("mx") - col("mn"))
                  * 255 + 0.5))),
            lit(0.0), (a, x) => a + x).cast("bigint").as("qsum"))
    }),

    // RANGE search beside the top-k: every corpus vector within
    // cosine ≥ 0.3 of each probe (the "all sufficiently similar"
    // query — dedup against a reference set, recall-complete retrieval
    // — where top-k would truncate and a too-generous k would pad).
    // Same broadcast-probe shape as ann_cosine_topk, minus the window:
    // a pure filter, so the corpus streams once and NO per-query rank
    // state exists at any scale.
    "ann_range_search" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val probes = e.where(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("vd").as("q_vd"),
          col("nrm").as("q_nrm"))
      e.crossJoin(broadcast(probes))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("cos",
          dot(col("vd"), col("q_vd")) / (col("nrm") * col("q_nrm")))
        .where(col("cos") >= 0.3)
        .select(col("q_id"), col("vec_id"), round(col("cos"), 6).as("cos_r"))
    }),

    // Per-DIMENSION z-score standardization (corpus feature scaling —
    // the pass before scalar quantization or a distance index, so one
    // high-variance dimension can't dominate). Per-dim sums go through
    // DECIMAL(38,6) — order-independent, and exactly reproducible
    // across engines because both resolve rounding ties the same way:
    // ties at scale 6 ARE possible (x = j/2^7 with odd j has
    // x·10⁶ = j·7812.5 exactly), but Spark's HALF_UP decimal cast and
    // DuckDB's std::round both break ties away from zero, so the
    // quantization agrees everywhere. (A half-EVEN engine path would
    // break this invariant — do not wave such a change through on a
    // no-ties argument.) Shape: posexplode → 64-group partial-agg (map-side
    // combinable) → broadcast the 64-row stats back — two linear
    // passes, no wide shuffle, any corpus size.
    "vec_standardize" -> ((s, dir) => {
      val d = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "xf")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          col("xf").cast("double").as("x"))
      val stats = d.groupBy(col("pos")).agg(
        sum(col("x").cast("decimal(38,6)")).cast("double").as("sx"),
        sum((col("x") * col("x")).cast("decimal(38,6)")).cast("double").as("sxx"),
        count(lit(1)).as("n"))
      d.join(broadcast(stats), "pos")
        .select(col("vec_id"), col("pos"),
          ((col("x") - col("sx") / col("n")) /
            sqrt(col("sxx") / col("n")
              - (col("sx") / col("n")) * (col("sx") / col("n")))).as("z"))
    }),

    // EMBEDDING-SPACE OUTLIER MINING (data pruning / mislabel
    // detection): distance of every vector to its LABEL CENTROID, keep
    // the farthest 5% per label — the curation pass that surfaces
    // mislabeled or off-distribution examples before training. Numeric
    // discipline = the vec_standardize contract: per-(label,pos) sums
    // through order-free DECIMAL(38,12), centroid as one double
    // division, per-element squared deviation cast back to decimal so
    // the 64-term per-vector sum is order-independent and the
    // top-5% rank is EXACT decimal ordering (ties broken by vec_id).
    // Shape at 100 TB: posexplode → (label,pos) partial agg (≤ 10·64
    // groups = metadata) → broadcast centroids back → one more
    // map-side-combinable agg per vector → per-label rank. The rank
    // window shuffles by label; with few labels and huge corpora the
    // scale path is the range-sharded rank of agg_percentile_scaled —
    // documented, not needed at probe sizes.
    "emb_centroid_outlier" -> ((s, dir) => {
      val u = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "xf")))
        .select(col("vec_id"), col("label"),
          col("pos").cast("long").as("pos"), col("xf").cast("double").as("x"))
      val cent = u.groupBy(col("label"), col("pos")).agg(
        sum(col("x").cast("decimal(38,12)")).cast("double").as("sx"),
        count(lit(1)).as("n"))
      val d2 = u.join(broadcast(cent), Seq("label", "pos"))
        .withColumn("dd", col("x") - col("sx") / col("n"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sum((col("dd") * col("dd")).cast("decimal(38,12)")).as("d2"))
      val w = Window.partitionBy(col("label"))
        .orderBy(col("d2").desc, col("vec_id").asc)
      d2.withColumn("rk", row_number().over(w))
        .withColumn("nl", count(lit(1)).over(Window.partitionBy(col("label"))))
        .where(col("rk") <= ceil(col("nl") * 0.05))
        .select(col("label"), col("vec_id"), col("rk"),
          round(sqrt(col("d2").cast("double")), 9).as("dist"))
    }),

    // k-NN LABEL CLASSIFICATION over the embedding column (embedding
    // quality eval / label-propagation seed): for a deterministic
    // probe subset (vec_id ≡ 0 mod 10), take the 5 nearest OTHER
    // vectors by exact cosine and majority-vote their labels (ties →
    // smallest label). The per-probe hit flag against the true label
    // is the standard "does the embedding space respect the labels"
    // probe run before committing to an ANN-based curation step.
    // Brute-force exact baseline by design — same broadcast-probe
    // shape as ann_cosine_topk (corpus streams ONCE past the
    // broadcast probe set; rank state is per-probe top-5, never
    // corpus-sized); the documented sub-linear twin is the IVF route
    // (ann_ivf_serve) when the probe set itself becomes corpus-scale.
    "emb_knn_classify" -> ((s, dir) => {
      val el = embeddings(s, dir)
      val q = el.where(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("vd").as("q_vd"), col("nrm").as("q_nrm"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      val nn = el.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("cos", dot(col("vd"), col("q_vd")) / (col("nrm") * col("q_nrm")))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 5)
      nn.groupBy(col("q_id"), col("q_label"), col("label"))
        .agg(count(lit(1)).as("votes"))
        .withColumn("vr", row_number().over(Window.partitionBy(col("q_id"))
          .orderBy(col("votes").desc, col("label").asc)))
        .where(col("vr") === 1)
        .select(col("q_id"), col("q_label").as("true_label"),
          col("label").as("pred_label"),
          (col("label") === col("q_label")).cast("int").as("hit"))
    }),

    // Embedding-cosine NEAR-DUP via SRP-LSH — the sublinear scale path
    // beside the exact twins (sim_top_pairs_blocked): candidate pairs
    // come from band-signature collisions (an equi-join on
    // (band, sig), never an all-pairs product), then an exact cosine
    // verify keeps only true near-dups. The natural corpus has no
    // planted near-dup embeddings (its top pairs sit in the random
    // noise floor, where sound LSH pruning is impossible — see
    // sim_top_pairs), so this query PLANTS them: every vec_id < 40
    // gains a copy at id+1000000 with deterministic ±0.5% per-dim
    // jitter (cos ≈ 0.999996). With 8 bands × 16 bits the per-pair
    // miss probability is (1 − (1 − θ/π)^16)^8 ≈ 2e−15 at that angle,
    // while a random pair collides in any band with p ≈ 8·2^−16 — the
    // verify join then discards those few collisions exactly. Rows-only
    // (LSH candidate generation is not SQL-expressible);
    // SimilaritySpec pins exact recall of all 40 planted pairs, zero
    // sub-threshold survivors, and the plan shape (the only
    // nested-loop join is against the 128-row plane table).
    // At 100 TB: signatures are one broadcast + one map-side-combined
    // hash agg; the collision join's bucket sizes are governed by
    // bits-per-band, the standard precision knob. dim=64 matches the
    // testdata embedding schema; production callers pass their own.
    "dedup_embedding_lsh" -> ((s, dir) => {
      val all = withPlantedDups(s, dir)
      val sigs = srpSignatures(all.select(col("vec_id"), col("vd")),
        srpPlanes(s, dim = 64, bands = 8, bitsPerBand = 16))
      // rename BEFORE the self-join: dataset-alias column refs on a
      // self-join resolve both sides to the same attribute (Spark's
      // trivially-true-condition trap), which silently degrades the
      // equi-join to a nested loop — the spec pins the plan against it
      val lhs = sigs.select(col("band"), col("sig"), col("vec_id").as("id_a"))
      val rhs = sigs.select(col("band"), col("sig"), col("vec_id").as("id_b"))
      val cands = lhs.join(rhs, Seq("band", "sig"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
        .distinct()
      cands
        .join(all.select(col("vec_id").as("id_a"), col("vd").as("va"),
          col("nrm").as("na")), "id_a")
        .join(all.select(col("vec_id").as("id_b"), col("vd").as("vb"),
          col("nrm").as("nb")), "id_b")
        .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .where(col("cos") >= 0.998)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_r"))
    }),

    // PRODUCT QUANTIZATION (Jégou et al., "Product Quantization for
    // Nearest Neighbor Search", TPAMI 2011): the 64-dim vector splits
    // into 8 subvectors of 8 dims; each subspace gets its own 16-entry
    // codebook (spherical k-means — the same Lloyd machinery as IVF,
    // run per subspace), and a vector encodes as 8 one-byte centroid
    // ids — 32× compression (256 B of floats → 8 B), the standard
    // memory answer for billion-vector ANN (codes live in RAM, floats
    // on disk; IVF above prunes candidates, PQ compresses them).
    // Output: codes + reconstruction cosine against the original
    // (decode = concatenate the chosen centroids). All stages
    // distributed — and all M subspaces train in ONE batched Lloyd
    // loop: the (vector, subspace) rows assign against the whole
    // 128-row broadcast codebook keyed by s, and one grouped update
    // refreshes every subspace's centroids together, so an iteration
    // costs ONE pass over the data for all M codebooks (M separate
    // ivfTrain runs would pay M× the passes and M× the per-round
    // scheduling — measured 4.8 s vs ~1 s at sf0.1). Rows-only (Lloyd
    // is not SQL-expressible); SimilaritySpec pins code bounds,
    // reconstruction quality over the random-direction noise floor,
    // and that a jittered twin encodes identically.
    "vec_pq" -> ((s, dir) => {
      val e = embeddings(s, dir).select(col("vec_id"), col("vd"))
      val sliced = pqSliced(e)
      val codebook = pqCodebook(e, sliced)
      val enc = pqAssign(sliced, codebook)
        .groupBy(col("vec_id"))
        .agg(sort_array(collect_list(struct(col("s"),
          col("code"), col("c_vd").as("rec")))).as("parts"))
        .select(col("vec_id"),
          expr("transform(parts, p -> p.code)").as("codes"),
          flatten(expr("transform(parts, p -> p.rec)")).as("rvd"))
      // Output contract: declared query outputs carry only scalar
      // columns (the driver's canonical-sort cannot order arrays), so
      // the 8 code bytes serialize as a dash-joined string — see the
      // CatalogContractSpec guard that pins this rule for the whole
      // catalog.
      enc.join(e, "vec_id")
        .withColumn("recon_cos",
          dot(col("rvd"), col("vd")) / (subNorm(col("rvd")) * subNorm(col("vd"))))
        .select(col("vec_id"), concat_ws("-", col("codes")).as("codes"),
          round(col("recon_cos"), 6).as("recon_r"))
    }),

    // ADC SEARCH over PQ codes (the asymmetric-distance half of the
    // PQ paper): queries stay full-precision; the CORPUS is scanned
    // as 8-byte codes only. Per query, one m·k lookup table of
    // partial dot products against the codebook broadcasts (8 queries
    // × 128 rows here); the approximate cosine of any corpus vector
    // is then Σ_s table[s, code_s] over its codes, normalized by the
    // reconstruction norm √(Σ_s |c|²) — NO float vector of the corpus
    // is ever touched at query time, which is the whole point at
    // billion-vector scale (codes in RAM, floats on cold storage;
    // compose with IVF to prune which codes are scanned). Top-5 per
    // query by approximate cosine, exact same ranking shape as
    // ann_cosine_topk. The FIXTURE trains the codebook and encodes
    // the corpus in-query (most of its bench time); production
    // amortizes both as stored artifacts — ann_ivf_trained has the
    // same caveat — leaving only the 1 ms table build and the code
    // scan at query time. Rows-only; SimilaritySpec pins that ADC's
    // top-5 carries real signal (mean TRUE cosine of the picks far
    // above the noise floor and within a factor of brute force) and
    // overlaps the exact top-k.
    "ann_pq_search" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val sliced = pqSliced(e.select(col("vec_id"), col("vd")))
      val codebook = pqCodebook(e, sliced)
      val codes = pqAssign(sliced, codebook)
        .select(col("vec_id"), col("s"), col("code"),
          (col("c_nrm") * col("c_nrm")).as("c_nrm2"))
      adcScore(e, sliced, codebook, codes, nQueries = 8, topK = 5)
    }),

    // IVF-PQ — the composition both halves exist for (the
    // billion-vector serving architecture: FAISS's IVFPQ): coarse
    // IVF centroids prune WHICH vectors are considered (each query
    // scans its nprobe=4 nearest buckets, ~nprobe/k of the corpus),
    // and ADC over PQ codes scores the survivors without touching
    // their float vectors. The per-query cost is (corpus/k)·nprobe
    // code-table lookups — both knobs (k, nprobe) and the code size
    // are the standard recall/latency/memory dials. Everything
    // reuses the catalog's parts: ivfTrain coarse codebook,
    // assignToCentroid bucketing, pqCodebook/pqAssign codes, the
    // ADC table join of ann_pq_search restricted by bucket equality.
    // Same in-query-training caveat as its parents — this is the
    // BUILD-path fixture; the served spelling with both quantizers
    // stored is ann_ivf_serve below. Rows-only;
    // SimilaritySpec pins bucket containment (every result lies in a
    // probed bucket) and that pruning retains ADC-class signal.
    "ann_ivf_pq" -> ((s, dir) => {
      val e = embeddings(s, dir).select(col("vec_id"), col("vd"))
      // coarse quantizer: 16 full-dim centroids; corpus bucketed once
      val full = embeddings(s, dir)
      val coarse = ivfTrain(full, k = 16, iters = 3)
      val buckets = assignToCentroid(
        full.select(col("vec_id").as("__aid"), col("vd"), col("nrm")), coarse)
        .select(col("__aid").as("vec_id"), col("c_id").as("bucket"))
      // fine quantizer: PQ codes for every corpus vector
      val sliced = pqSliced(e)
      val codebook = pqCodebook(e, sliced)
      val codes = pqAssign(sliced, codebook)
        .select(col("vec_id"), col("s"), col("code"),
          (col("c_nrm") * col("c_nrm")).as("c_nrm2"))
        .join(buckets, "vec_id")
      // probes: nprobe nearest coarse buckets per query
      val probes = assignToCentroid(
        full.where(col("vec_id") < 8)
          .select(col("vec_id").as("__aid"), col("vd"), col("nrm")),
        coarse, nprobe = 4)
        .select(col("__aid").as("q_id"), col("c_id").as("bucket"))
      // pruned scoring: only codes in a query's probed buckets reach
      // the shared ADC scorer (the q_id column restricts the table
      // join per query; bucket rides through to the output)
      val pruned = codes.join(broadcast(probes), Seq("bucket"))
      adcScore(full, sliced, codebook, pruned, nQueries = 8, topK = 5,
        extraCols = Seq("bucket"))
        .select(col("q_id"), col("vec_id"), col("bucket"), col("rk"),
          col("acos_r"))
    }),

    // SERVED PQ search — the production split of ann_pq_search: the
    // codebook and corpus codes come from STORED artifacts
    // ([[pqServeArtifacts]]: trained once per corpus, AtomicDir
    // rename-swap publish, reused by every later query), so serve
    // time is only (a) the 8-query lookup-table build against the
    // broadcast stored codebook and (b) the scan of the stored codes
    // table — no Lloyd iteration, no float corpus vector touched.
    // Output is row-identical to ann_pq_search (same deterministic
    // training; SimilaritySpec pins the equality and that a second
    // call reuses the artifact without retraining). At scale the
    // codes table is the 32×-compressed only-scanned asset — exactly
    // the FAISS serving layout.
    "ann_pq_serve" -> ((s, dir) => {
      val (codebook, codes, _) = pqServeArtifacts(s, dir)
      // the query set prunes BEFORE slicing: only the 8 probe vectors
      // are ever widened/sliced at serve time (adcScore's internal
      // nQueries filter is then a no-op subset), so serve cost is the
      // stored-codes scan + the 8-query table join, independent of
      // corpus float width. The bucket column (the IVF half of the
      // stored layout) is dropped — pure-PQ serve scans ALL codes.
      val q = embeddings(s, dir).where(col("vec_id") < 8)
      val sliced = pqSliced(q.select(col("vec_id"), col("vd")))
      adcScore(q, sliced, codebook, codes.drop("bucket"), nQueries = 8, topK = 5)
    }),

    // SERVED IVF-PQ — the full FAISS serving architecture with BOTH
    // quantizers stored ([[pqServeArtifacts]]): the coarse centroids
    // AND the PQ codebook/codes (each code row carrying its coarse
    // bucket, assigned once at build) are read from the published
    // artifact, so serve time is (a) one 8-row probe assignment
    // against the 16-row stored coarse table, (b) the bucket-pruned
    // scan of the stored codes (~nprobe/k of the corpus), and (c) the
    // ADC table join — ZERO Lloyd iterations, zero corpus float
    // vectors touched. Output is row-identical to ann_ivf_pq (same
    // deterministic training; SimilaritySpec pins the equality and
    // that a second call reuses the artifact without republishing).
    // This clears the in-query-training caveat both ann_ivf_trained
    // and ann_ivf_pq document: those remain the build-path fixtures,
    // this is the query-path spelling production runs.
    "ann_ivf_serve" -> ((s, dir) => {
      val (codebook, codes, coarse) = pqServeArtifacts(s, dir)
      val q = embeddings(s, dir).where(col("vec_id") < 8)
      val probes = assignToCentroid(
        q.select(col("vec_id").as("__aid"), col("vd"), col("nrm")),
        coarse, nprobe = 4)
        .select(col("__aid").as("q_id"), col("c_id").as("bucket"))
      val pruned = codes.join(broadcast(probes), Seq("bucket"))
      val sliced = pqSliced(q.select(col("vec_id"), col("vd")))
      adcScore(q, sliced, codebook, pruned, nQueries = 8, topK = 5,
        extraCols = Seq("bucket"))
        .select(col("q_id"), col("vec_id"), col("bucket"), col("rk"),
          col("acos_r"))
    }),

    // SEMANTIC dedup (after SemDeDup, Abbas et al. 2023,
    // arXiv:2303.09540): k-means clusters LOCALIZE the quadratic —
    // exact pairwise cosine runs only WITHIN a cluster (expected
    // (n/k)² pair work per cluster instead of n² global; production
    // picks k ∝ corpus/target-cluster-size so per-cluster work stays
    // bounded as the corpus grows), then near-identical members
    // (cos > 0.99) drop, each naming its lowest-id similar partner
    // as dup_of. PAIRWISE semantics (faithful to the published
    // algorithm): similarity is not transitive, so in a chain
    // a<b<c with a~b, b~c, a≁c the named dup_of (b for c) is itself
    // dropped — following dup_of transitively lands on the chain
    // minimum; consumers that need a SURVIVING representative per
    // group should use dedup_cluster's transitive closure instead.
    // Unlike the
    // LSH spelling above this also yields the cluster structure
    // itself (the codebook a curriculum/mixing stage reuses), and its
    // misses are governed by cluster assignment rather than banding
    // probability. Same planted ground truth as dedup_embedding_lsh.
    // Rows-only (Lloyd training is not SQL-expressible);
    // SimilaritySpec pins planted recall, zero false drops, and
    // origin/copy cluster agreement.
    "dedup_semantic" -> ((s, dir) => {
      val all = withPlantedDups(s, dir)
      val cents = ivfTrain(all, k = 16, iters = 3)
      val assigned = assignToCentroid(
        all.select(col("vec_id").as("__aid"), col("vd"), col("nrm")), cents)
        .select(col("__aid").as("vec_id"), col("vd"), col("nrm"), col("c_id"))
      val lhs = assigned.select(col("c_id"), col("vec_id").as("id_a"),
        col("vd").as("va"), col("nrm").as("na"))
      val rhs = assigned.select(col("c_id"), col("vec_id").as("id_b"),
        col("vd").as("vb"), col("nrm").as("nb"))
      val dups = lhs.join(rhs, Seq("c_id"))
        .where(col("id_a") < col("id_b"))
        .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .where(col("cos") > 0.99)
        .groupBy(col("id_b").as("vec_id"))
        .agg(min(col("id_a")).as("dup_of"))
      assigned.select(col("vec_id"), col("c_id"))
        .join(dups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("c_id"),
          col("dup_of").isNull.cast("int").as("keep"), col("dup_of"))
    }),

    // PCA PROJECTION — the dimensionality-reduction pass before an ANN
    // index or scalar quantizer (e.g. 64 → 4 dims for coarse routing).
    // ONE distributed pass computes n, per-dim sums, and the
    // upper-triangle second-moment matrix: each row explodes to its
    // d(d+1)/2 moment cells, the hash agg map-side-combines them, so
    // the shuffle carries ~d²/2 partials per partition — never the
    // corpus (the n·d² multiply work is inherent to covariance). Sums
    // go through DECIMAL(38,12), so the covariance matrix is
    // order-independent and bit-reproducible run to run; the 64×64
    // eigensolve is a deterministic driver-side cyclic Jacobi
    // (metadata-sized, like IVF's codebook collect), eigenvectors
    // sign-canonicalized. The projection back over the corpus is a
    // zero-shuffle codegen'd projection (dot kernel, sequential IEEE
    // fold — deterministic). Rows-only: no SQL oracle can spell the
    // eigensolve; MLlibCrossSpec pins the subspace against
    // ml.feature.PCA and the eigen equations brute-force.
    "vec_pca" -> ((s, dir) => {
      val p = 4
      val e = embeddings(s, dir).select(col("vec_id"), col("label"), col("vd"))
      // The n·d²/2 multiply work runs as tight per-partition double
      // accumulation (`mapPartitions` — the genuine per-partition
      // imperative case: a relational spelling explodes d²/2
      // interpreted-HOF cells per row and measured 13× slower at
      // sf0.1 — 7.6 s vs 0.6 s), then
      // each partition emits its Gram in CHUNKS of ≤ 2²² rows,
      // quantized to integer 1e-12 units, and a metadata-sized exact
      // DECIMAL(38,0) agg combines the partials. The chunking bounds
      // every quantized partial: a unit-scale cell sum over ≤ 4.2M
      // rows is ≤ 4.2e6, so ×1e12 stays far inside Long — an UNBOUNDED
      // per-partition sum would silently saturate Long past ~9.2M
      // rows/partition, corrupting the covariance at exactly the
      // corpus sizes this targets. Determinism: the layout is PINNED
      // by an explicit 64-way hash repartition on vec_id (independent
      // of spark.sql.shuffle.partitions), chunk boundaries fall at
      // fixed iterator offsets, and the cross-chunk combine is exact
      // integer addition — order-free; bit-reproducibility therefore
      // holds for a fixed corpus regardless of session shuffle config.
      // The hash exchange also spreads a small parquet's single input
      // split so no one task owns the whole corpus pass.
      import s.implicits._
      val chunkRows = 1 << 22
      val cells = e.repartition(64, col("vec_id")).select(col("vd"))
        .as[Seq[Double]]
        .mapPartitions { it =>
          var acc: Array[Double] = null
          var diag: Array[Double] = null
          var d = 0
          val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, Long, Long)]
          var inChunk = 0
          // every cell row carries its chunk's row count, so each
          // (i, j) group's summed count is the total corpus n — the
          // same invariant the single-flush spelling had per partition
          def flush(): Unit = if (acc != null && inChunk > 0) {
            var i0 = 0
            while (i0 < d) {
              var j0 = i0
              while (j0 < d) {
                val idx = i0 * d - i0 * (i0 - 1) / 2 + (j0 - i0)
                out += ((i0, j0, math.rint(acc(idx) * 1e12).toLong,
                  if (i0 == j0) math.rint(diag(i0) * 1e12).toLong else 0L,
                  inChunk.toLong))
                acc(idx) = 0.0
                j0 += 1
              }
              diag(i0) = 0.0
              i0 += 1
            }
            inChunk = 0
          }
          it.foreach { v =>
            if (acc == null) {
              d = v.length
              acc = new Array[Double](d * (d + 1) / 2)
              diag = new Array[Double](d)
            }
            val a = v.toArray
            var i = 0; var idx = 0
            while (i < d) {
              val xi = a(i)
              diag(i) += xi
              var j = i
              while (j < d) { acc(idx) += xi * a(j); idx += 1; j += 1 }
              i += 1
            }
            inChunk += 1
            if (inChunk >= chunkRows) flush()
          }
          flush()
          out.iterator
        }
        .toDF("i", "j", "qxx", "qx", "pn")
        .groupBy(col("i"), col("j"))
        .agg(sum(col("qxx").cast("decimal(38,0)")).as("sxx"),
          sum(col("qx").cast("decimal(38,0)")).as("sx"),
          sum(col("pn")).as("cnt"))
        .collect()
      val dim = cells.iterator.map(_.getInt(0)).max + 1
      val n = cells.head.getLong(4).toDouble
      val mu = new Array[Double](dim)
      val cov = Array.ofDim[Double](dim, dim)
      def toD(r: org.apache.spark.sql.Row, k: Int): Double =
        r.getDecimal(k).doubleValue() / 1e12
      cells.foreach { r =>
        if (r.getInt(0) == r.getInt(1)) mu(r.getInt(0)) = toD(r, 3) / n
      }
      cells.foreach { r =>
        val (i, j) = (r.getInt(0), r.getInt(1))
        val c = toD(r, 2) / n - mu(i) * mu(j)
        cov(i)(j) = c; cov(j)(i) = c
      }
      val (evals, vecs) = Jacobi.eigSym(cov)
      val top = vecs.take(p)
      val offs = top.map { v =>
        var s = 0.0; var i = 0
        while (i < dim) { s += mu(i) * v(i); i += 1 }; s
      }
      val projected = (0 until p).foldLeft(e) { (df, k) =>
        df.withColumn(s"pc${k + 1}",
          dot(col("vd"), lit(top(k))) - lit(offs(k)))
      }
      projected.select(col("vec_id") +: col("label") +:
        (1 to p).map(k => col(s"pc$k")): _*)
    })
  )

  private val duckCosine =
    """WITH e AS (
         SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
         FROM embeddings),
       n AS (
         SELECT vec_id, v,
           sqrt(list_reduce([x * x for x in v], (a, b) -> a + b)) AS nrm
         FROM e)"""

  def oracle: Map[String, String] = Map(
    "vec_quantize_int8" ->
      """WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS vd
                    FROM embeddings),
         m AS (SELECT vec_id, vd, list_min(vd) AS mn, list_max(vd) AS mx FROM v)
         SELECT vec_id, mn, mx,
           CAST(list_sum([CASE WHEN mx = mn THEN 0.0
                ELSE floor((x - mn) / (mx - mn) * 255 + 0.5) END
                for x in vd]) AS BIGINT) AS qsum
         FROM m""",
    "vec_standardize" ->
      """WITH u AS (
           SELECT vec_id, unnest(embedding) AS xf,
             generate_subscripts(embedding, 1) AS sub
           FROM embeddings),
         d AS (SELECT vec_id, CAST(sub - 1 AS BIGINT) AS pos,
                 CAST(xf AS DOUBLE) AS x FROM u),
         s AS (SELECT pos,
                 CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
                 COUNT(*) AS n
               FROM d GROUP BY pos)
         SELECT d.vec_id, d.pos,
           (d.x - s.sx / s.n) /
             sqrt(s.sxx / s.n - (s.sx / s.n) * (s.sx / s.n)) AS z
         FROM d JOIN s USING (pos)""",
    // same decimal-moment discipline as vec_standardize: centroid from
    // order-free decimal sums, per-element squared deviation back to
    // decimal so the 64-term sum and the top-5% rank are exact
    "emb_centroid_outlier" ->
      """WITH u AS (
           SELECT vec_id, label,
             CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings),
         c AS (
           SELECT label, pos,
             CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
             COUNT(*) AS n
           FROM u GROUP BY 1, 2),
         d AS (
           SELECT u.vec_id, u.label,
             SUM(CAST((u.x - c.sx / c.n) * (u.x - c.sx / c.n)
                 AS DECIMAL(38,12))) AS d2
           FROM u JOIN c USING (label, pos) GROUP BY 1, 2),
         r AS (
           SELECT label, vec_id, d2,
             ROW_NUMBER() OVER (PARTITION BY label
               ORDER BY d2 DESC, vec_id ASC) AS rk,
             COUNT(*) OVER (PARTITION BY label) AS nl
           FROM d)
         SELECT label, vec_id, rk,
           round(sqrt(CAST(d2 AS DOUBLE)), 9) AS dist
         FROM r WHERE rk <= CAST(ceil(nl * 0.05) AS BIGINT)""",
    // cosine spelled as the same sequential list_reduce fold the Spark
    // dot uses (the ann_cosine_topk contract), so ranks agree exactly
    "emb_knn_classify" ->
      """WITH e AS (
           SELECT vec_id, label,
             [CAST(x AS DOUBLE) for x in embedding] AS v
           FROM embeddings),
         n AS (
           SELECT vec_id, label, v,
             sqrt(list_reduce([x * x for x in v], (a, b) -> a + b)) AS nrm
           FROM e),
         nn AS (
           SELECT q.vec_id AS q_id, q.label AS q_label,
             d.vec_id AS vec_id, d.label AS label,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
               list_reduce([q.v[i] * d.v[i] for i in range(1, len(q.v) + 1)],
                           (a, b) -> a + b) / (q.nrm * d.nrm) DESC,
               d.vec_id ASC) AS rk
           FROM n q JOIN n d
             ON q.vec_id % 10 = 0 AND d.vec_id <> q.vec_id),
         votes AS (
           SELECT q_id, q_label, label, COUNT(*) AS votes
           FROM nn WHERE rk <= 5 GROUP BY 1, 2, 3),
         best AS (
           SELECT q_id, q_label, label, votes,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY votes DESC, label ASC) AS vr
           FROM votes)
         SELECT q_id, q_label AS true_label, label AS pred_label,
           CAST(label = q_label AS INT) AS hit
         FROM best WHERE vr = 1""",
    "ann_range_search" -> (duckCosine +
      """
         SELECT q_id, vec_id, round(c, 6) AS cos_r FROM (
           SELECT q.vec_id AS q_id, d.vec_id AS vec_id,
             list_reduce([q.v[i] * d.v[i] for i in range(1, len(q.v) + 1)],
                         (a, b) -> a + b) / (q.nrm * d.nrm) AS c
           FROM n q JOIN n d ON q.vec_id < 8 AND d.vec_id != q.vec_id) t
         WHERE c >= 0.3"""),
    "ann_cosine_topk" -> (duckCosine +
      """
         SELECT q_id, vec_id, rk, round(c, 6) AS cos_r FROM (
           SELECT q.vec_id AS q_id, v.vec_id AS vec_id,
             list_reduce([q.v[i] * v.v[i] for i in range(1, len(q.v) + 1)],
                         (a, b) -> a + b) / (q.nrm * v.nrm) AS c,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
               list_reduce([q.v[i] * v.v[i] for i in range(1, len(q.v) + 1)],
                           (a, b) -> a + b) / (q.nrm * v.nrm) DESC,
               v.vec_id ASC) AS rk
           FROM n q JOIN n v ON q.vec_id < 8 AND v.vec_id <> q.vec_id) t
         WHERE rk <= 5"""),
    // exact-integer restatement of the quantized IVF search: DuckDB
    // re-executes quantization, argmin-L2 assignment, and in-bucket
    // ranking — bucket membership and top-5 are hash-pinned
    "ann_ivf_q" ->
      """WITH v AS (
           SELECT vec_id,
             [CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
              for x in embedding] AS q
           FROM embeddings),
         c AS (SELECT vec_id AS c_id, q AS cq FROM v ORDER BY vec_id LIMIT 16),
         a AS (
           SELECT vec_id, q, c_id FROM (
             SELECT v.vec_id, v.q, c.c_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_reduce([(v.q[i]-c.cq[i])*(v.q[i]-c.cq[i])
                              for i in range(1, len(v.q)+1)], (x,y)->x+y) ASC,
                 c.c_id ASC) AS rk
             FROM v CROSS JOIN c) t WHERE rk = 1)
         SELECT q_id, vec_id, rk, d2 FROM (
           SELECT p.vec_id AS q_id, d.vec_id,
             list_reduce([(p.q[i]-d.q[i])*(p.q[i]-d.q[i])
                          for i in range(1, len(p.q)+1)], (x,y)->x+y) AS d2,
             ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
               list_reduce([(p.q[i]-d.q[i])*(p.q[i]-d.q[i])
                            for i in range(1, len(p.q)+1)], (x,y)->x+y) ASC,
               d.vec_id ASC) AS rk
           FROM a p JOIN a d
             ON p.vec_id < 8 AND d.c_id = p.c_id AND d.vec_id <> p.vec_id) t
         WHERE rk <= 5""",
    // probe-side centroid ranking + 4-bucket union re-executed
    "ann_ivf_mp_q" ->
      """WITH v AS (
           SELECT vec_id,
             [CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
              for x in embedding] AS q
           FROM embeddings),
         c AS (SELECT vec_id AS c_id, q AS cq FROM v ORDER BY vec_id LIMIT 16),
         a AS (
           SELECT vec_id, q, c_id FROM (
             SELECT v.vec_id, v.q, c.c_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_reduce([(v.q[k]-c.cq[k])*(v.q[k]-c.cq[k])
                              for k in range(1, len(v.q)+1)], (x,y)->x+y) ASC,
                 c.c_id ASC) AS rk
             FROM v CROSS JOIN c) t WHERE rk = 1),
         p AS (
           SELECT q_id, pq, c_id FROM (
             SELECT v.vec_id AS q_id, v.q AS pq, c.c_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_reduce([(v.q[k]-c.cq[k])*(v.q[k]-c.cq[k])
                              for k in range(1, len(v.q)+1)], (x,y)->x+y) ASC,
                 c.c_id ASC) AS prk
             FROM v CROSS JOIN c WHERE v.vec_id < 8) t WHERE prk <= 4)
         SELECT q_id, vec_id, rk, d2 FROM (
           SELECT p.q_id, d.vec_id,
             list_reduce([(p.pq[k]-d.q[k])*(p.pq[k]-d.q[k])
                          for k in range(1, len(p.pq)+1)], (x,y)->x+y) AS d2,
             ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
               list_reduce([(p.pq[k]-d.q[k])*(p.pq[k]-d.q[k])
                            for k in range(1, len(p.pq)+1)], (x,y)->x+y) ASC,
               d.vec_id ASC) AS rk
           FROM p JOIN a d ON d.c_id = p.c_id AND d.vec_id <> p.q_id) t
         WHERE rk <= 5""",
    // the full Lloyd loop re-executed by the oracle: quantization,
    // seed codebook, two argmin/update iterations (empty-centroid
    // carry via LEFT JOIN + coalesce), final assignment, bucket top-5
    "ann_ivf_trained_q" ->
      (s"""WITH v AS (
           SELECT vec_id,
             [CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
              for x in embedding] AS q
           FROM embeddings),
         c0 AS (SELECT vec_id AS c_id, q AS cq FROM v ORDER BY vec_id LIMIT 16),
         ${trainedIterSql(1, 0)},
         ${trainedIterSql(2, 1)},
         af AS (
           SELECT vec_id, q, c_id FROM (
             SELECT v.vec_id, v.q, c.c_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_reduce([(v.q[k]-c.cq[k])*(v.q[k]-c.cq[k])
                              for k in range(1, len(v.q)+1)], (x,y)->x+y) ASC,
                 c.c_id ASC) AS rk
             FROM v CROSS JOIN c2 c) t WHERE rk = 1)
         SELECT q_id, vec_id, rk, d2 FROM (
           SELECT p.vec_id AS q_id, d.vec_id,
             list_reduce([(p.q[k]-d.q[k])*(p.q[k]-d.q[k])
                          for k in range(1, len(p.q)+1)], (x,y)->x+y) AS d2,
             ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
               list_reduce([(p.q[k]-d.q[k])*(p.q[k]-d.q[k])
                            for k in range(1, len(p.q)+1)], (x,y)->x+y) ASC,
               d.vec_id ASC) AS rk
           FROM af p JOIN af d
             ON p.vec_id < 8 AND d.c_id = p.c_id AND d.vec_id <> p.vec_id) t
         WHERE rk <= 5"""),
    // the IVFPQ composition re-executed by the oracle: coarse
    // assignment, exact residuals, residual PQ codes, own-bucket ADC
    "ann_ivf_pq_q" ->
      """WITH v AS (
           SELECT vec_id,
             [CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
              for x in embedding] AS q
           FROM embeddings),
         c AS (SELECT vec_id AS c_id, q AS cq FROM v ORDER BY vec_id LIMIT 16),
         a AS (
           SELECT vec_id, c_id,
             [q[k] - cq[k] for k in range(1, len(q)+1)] AS res
           FROM (
             SELECT v.vec_id, v.q, c.c_id, c.cq,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_reduce([(v.q[k]-c.cq[k])*(v.q[k]-c.cq[k])
                              for k in range(1, len(v.q)+1)], (x,y)->x+y) ASC,
                 c.c_id ASC) AS rk
             FROM v CROSS JOIN c c) t WHERE rk = 1),
         ms AS (SELECT unnest(range(0, 8)) AS m),
         sub AS (SELECT vec_id, c_id, m, res[(m*8+1):(m*8+8)] AS s
                 FROM a CROSS JOIN ms),
         cb AS (
           -- residual-PQ codewords from NON-coarse seeds (ranks 17..32
           -- by vec_id): coarse seeds have zero residuals, which would
           -- degenerate every codeword to the zero vector
           SELECT m, ROW_NUMBER() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS code,
             s AS cw
           FROM sub
           WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16 OFFSET 16)),
         enc AS (
           SELECT vec_id, c_id, m, code FROM (
             SELECT sub.vec_id, sub.c_id, sub.m, cb.code,
               ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.m
                 ORDER BY list_reduce([(sub.s[i]-cb.cw[i])*(sub.s[i]-cb.cw[i])
                                       for i in range(1, 9)], (x,y)->x+y) ASC,
                          cb.code ASC) AS rk
             FROM sub JOIN cb USING (m)) t WHERE rk = 1),
         dt AS (
           SELECT sub.vec_id AS q_id, sub.c_id, sub.m, cb.code,
             list_reduce([(sub.s[i]-cb.cw[i])*(sub.s[i]-cb.cw[i])
                          for i in range(1, 9)], (x,y)->x+y) AS d
           FROM sub JOIN cb USING (m) WHERE sub.vec_id < 8),
         adc AS (
           SELECT dt.q_id, enc.vec_id, CAST(SUM(dt.d) AS BIGINT) AS adc_d2
           FROM enc JOIN dt
             ON enc.m = dt.m AND enc.code = dt.code AND enc.c_id = dt.c_id
           WHERE enc.vec_id <> dt.q_id
           GROUP BY 1, 2)
         SELECT q_id, vec_id, rk, adc_d2 FROM (
           SELECT q_id, vec_id, adc_d2,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY adc_d2 ASC, vec_id ASC) AS rk
           FROM adc) t WHERE rk <= 5""",
    // exact-integer restatement of PQ encode + ADC scan: codes,
    // distance tables, and the ADC top-5 all re-derived by the oracle
    "ann_pq_adc_q" ->
      """WITH v AS (
           SELECT vec_id,
             [CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
              for x in embedding] AS q
           FROM embeddings),
         ms AS (SELECT unnest(range(0, 8)) AS m),
         sub AS (
           SELECT vec_id, m, q[(m*8+1):(m*8+8)] AS s
           FROM v CROSS JOIN ms),
         cb AS (
           SELECT m, ROW_NUMBER() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS code,
             s AS cw
           FROM sub WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16)),
         enc AS (
           SELECT vec_id, m, code FROM (
             SELECT sub.vec_id, sub.m, cb.code,
               ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.m
                 ORDER BY list_reduce([(sub.s[i]-cb.cw[i])*(sub.s[i]-cb.cw[i])
                                       for i in range(1, 9)], (x,y)->x+y) ASC,
                          cb.code ASC) AS rk
             FROM sub JOIN cb USING (m)) t WHERE rk = 1),
         dt AS (
           SELECT sub.vec_id AS q_id, sub.m, cb.code,
             list_reduce([(sub.s[i]-cb.cw[i])*(sub.s[i]-cb.cw[i])
                          for i in range(1, 9)], (x,y)->x+y) AS d
           FROM sub JOIN cb USING (m) WHERE sub.vec_id < 8),
         adc AS (
           SELECT dt.q_id, enc.vec_id, CAST(SUM(dt.d) AS BIGINT) AS adc_d2
           FROM enc JOIN dt USING (m, code)
           WHERE enc.vec_id <> dt.q_id
           GROUP BY 1, 2)
         SELECT q_id, vec_id, rk, adc_d2 FROM (
           SELECT q_id, vec_id, adc_d2,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY adc_d2 ASC, vec_id ASC) AS rk
           FROM adc) t WHERE rk <= 5""",
    "sim_top_pairs" -> (duckCosine + topPairsSql),
    // identical result by construction — same brute-force oracle
    "sim_top_pairs_blocked" -> (duckCosine + topPairsSql)
  )

  /** One unrolled Lloyd iteration of the `ann_ivf_trained_q` oracle:
    * assign (a{i}) against codebook c{j}, per-(centroid, dim) update
    * u{i} as floor(sum/count) — the same integer-valued-double
    * arithmetic the Spark side uses — and next codebook c{i} with
    * empty centroids carrying their previous position.
    */
  private def trainedIterSql(i: Int, j: Int): String =
    s"""a$i AS (
           SELECT vec_id, q, c_id FROM (
             SELECT v.vec_id, v.q, c.c_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_reduce([(v.q[k]-c.cq[k])*(v.q[k]-c.cq[k])
                              for k in range(1, len(v.q)+1)], (x,y)->x+y) ASC,
                 c.c_id ASC) AS rk
             FROM v CROSS JOIN c$j c) t WHERE rk = 1),
         u$i AS (
           SELECT c_id, pos,
             CAST(floor(CAST(SUM(q[pos]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
           FROM a$i, (SELECT unnest(range(1, 65)) AS pos) ps
           GROUP BY c_id, pos),
         c$i AS (
           SELECT c.c_id, coalesce(n.cq, c.cq) AS cq
           FROM c$j c LEFT JOIN (
             SELECT c_id, list(cv ORDER BY pos) AS cq FROM u$i GROUP BY c_id) n
           USING (c_id))"""

  private def topPairsSql: String =
    """
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_reduce([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)],
                             (x, y) -> x + y) / (a.nrm * b.nrm), 6) AS cos_r
         FROM n a JOIN n b ON a.vec_id < b.vec_id
         ORDER BY list_reduce([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)],
                              (x, y) -> x + y) / (a.nrm * b.nrm) DESC,
                  a.vec_id ASC, b.vec_id ASC
         LIMIT 20"""
}

/** Deterministic cyclic-Jacobi eigensolver for small symmetric
  * matrices (the driver-side step of [[Similarity]]'s `vec_pca` —
  * d×d with d = embedding dim, metadata-sized). Fixed sweep order,
  * fixed thresholds, no randomness: identical input bits give
  * identical eigenpairs, which the determinism sweep relies on.
  * Returns (eigenvalues, eigenvectors) sorted by eigenvalue
  * descending (index ascending on ties), each eigenvector
  * sign-canonicalized so its largest-|component| entry (first on
  * ties) is positive.
  */
private[graft] object Jacobi {
  def eigSym(m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = Array.tabulate(d, d)((i, j) => m(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def offDiag(): Double = {
      var s = 0.0
      var i = 0
      while (i < d) {
        var j = i + 1
        while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      s
    }
    var sweep = 0
    while (offDiag() > 1e-22 && sweep < 64) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => (-a(i)(i), i))
    val evals = order.map(i => a(i)(i)).toArray
    val vecs = order.map { i =>
      val col = Array.tabulate(d)(k => v(k)(i))
      var best = 0
      var k = 1
      while (k < d) {
        if (math.abs(col(k)) > math.abs(col(best))) best = k
        k += 1
      }
      if (col(best) < 0) col.map(x => -x) else col
    }.toArray
    (evals, vecs)
  }
}
