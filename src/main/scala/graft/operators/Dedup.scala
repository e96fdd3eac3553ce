package graft.operators

import graft.Ckpt.CkptOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryModule, Scratch, Tables}

/** Deduplication operators over the `documents` table — the
  * training-data-pipeline extensions (BASELINE.json north star). The
  * reference's only dedup is exact key-set membership (SURVEY.md §2.8
  * E2/A7); a 100 TB corpus needs the full ladder:
  *
  *  - exact: hash-groupBy on a content fingerprint — one shuffle,
  *    map-side combinable, linear;
  *  - near-dup MinHash + LSH banding: per-doc signatures (narrow),
  *    explode to (band, bucket) keys, shuffle on bucket, pairs only
  *    within buckets — candidate generation is O(docs × bands), never
  *    O(docs²); exact shingle-Jaccard then verifies candidates;
  *  - SimHash: 64-bit signature + banded bucket keys, same shape;
  *  - shingle-Jaccard inside tight blocks: the oracle-checkable
  *    ground-truth variant (DuckDB can express it with list ops).
  *
  * Word UNIGRAM sets are non-discriminative on this corpus (shared
  * small vocabulary → almost every pair has token-Jaccard ≥ 0.5), so
  * all near-dup measures use word 3-shingles, which separate the
  * planted near-duplicates (~28 pairs ≥ 0.8) from the noise floor.
  *
  * Signatures use xxhash64 with per-seed salt columns — deterministic
  * across runs and cluster layouts (no RNG, no partition dependence).
  */
object Dedup extends QueryModule {

  /** Word 3-shingles of a text column — native codegen'd kernel (one
    * tokenize pass per row; see [[graft.functions.WordShingles]]).
    */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.WordShingles.word_shingles(text, n)

  /** Candidate pairs via LSH banding over MinHash signatures
    * ([[graft.functions.MinHashSig]] — one codegen'd pass per doc):
    * equal (band, hash-of-band-slice) → candidate. `bands` must divide
    * `k`. The self-join keys on (band, bucket) — at scale this is a
    * shuffle on bucket ids whose fan-out is bounded by bucket
    * occupancy, never an all-pairs product.
    */
  def minhashCandidates(docs: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val buckets = docs
      .select(col("doc_id"),
        graft.functions.MinHashSig.minhash_sig(shingles(col("text")), k).as("sig"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(array_join(slice(col("sig"), b * rows + 1, lit(rows)), ","))))
          .as(Seq("band", "bucket")))
    buckets.as("l").join(buckets.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact Jaccard over word-3-shingle sets (codegen'd). */
  def shingleJaccard(a: Column, b: Column): Column =
    shingleSetJaccard(array_distinct(shingles(a)), array_distinct(shingles(b)))

  /** Jaccard over two precomputed distinct-shingle arrays. Prefer this
    * after a join: shingling inside the pair expression would redo the
    * split/slice work for every pair instead of once per row.
    */
  def shingleSetJaccard(sa: Column, sb: Column): Column =
    size(array_intersect(sa, sb)).cast("double") /
      size(array_union(sa, sb)).cast("double")

  /** 64-bit SimHash per document (majority vote of token-hash bits,
    * weights 1) plus four 16-bit band keys for bucketed indexing.
    * The signature is one codegen'd pass per row
    * ([[graft.functions.SimHashSig]] — the HOF spelling re-walked the
    * token hashes 64 times interpreted; same output bits).
    */
  def simhashSignatures(docs: DataFrame): DataFrame =
    docs
      .withColumn("sig", graft.functions.SimHashSig.simhash_sig(
        array_distinct(split(col("text"), " "))))
      .select(col("doc_id"), col("sig"),
        expr("int(shiftrightunsigned(sig,  0) & 65535)").as("band0"),
        expr("int(shiftrightunsigned(sig, 16) & 65535)").as("band1"),
        expr("int(shiftrightunsigned(sig, 32) & 65535)").as("band2"),
        expr("int(shiftrightunsigned(sig, 48) & 65535)").as("band3"))

  /** Candidate pairs from the banded SimHash index, exact-verified to
    * Hamming distance ≤ `maxHamming`. Complete (no false negatives)
    * for `maxHamming` < number of bands, by pigeonhole.
    */
  def simhashPairs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    // posexplode, not a 4-way union: one signature computation per
    // row, and both join legs share an identical shuffle subtree so
    // ReuseExchange materializes the banded index ONCE
    val byBand = sigs.select(col("doc_id"), col("sig"),
      posexplode(array(col("band0"), col("band1"), col("band2"), col("band3")))
        .as(Seq("band", "bucket")))
    byBand.as("l").join(byBand.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        col("l.sig").as("sig_a"), col("r.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .where(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // STREAMING NEAR-DUP FILTER — the production crawl-dedup shape: a
    // stream of incoming documents is filtered against an ACCUMULATED
    // LSH bucket store (kept docs' md5-lane MinHash band keys) with an
    // EXACT-VERIFY stage (r18): a new doc drops only when a colliding
    // kept doc ALSO clears true shingle-Jaccard ≥ 0.8 — an LSH false
    // positive (bucket collision without real similarity) SURVIVES
    // instead of being silently discarded, which at crawl scale is
    // the difference between a dedup filter and a lossy sieve. Three
    // mtime-paced waves (doc_id % 3, one file per micro-batch);
    // foreachBatch computes the batch's band keys ([[md5Bands]] — the
    // SAME banding as the batch twin dedup_minhash_md5), joins them
    // against the store for CANDIDATE (new, kept) pairs — bounded by
    // bucket occupancy, never corpus² — exact-verifies each against
    // the kept doc's stored shingle set (the dedup_minhash_md5 verify
    // join, composed into the stream), then appends the survivors'
    // keys + shingles as batchId-named parquet dirs (overwrite + the
    // prior read EXCLUDING the current batch id ⇒ a retried batch is
    // idempotent even after a partial failure — ADVICE r17; the
    // fenced snapshot store is the production spelling,
    // upsertStream). Within-wave docs ALSO dedup against each other
    // (r19 — the reference's within-run set-dedup,
    // `cmdline.py:289-296`): among a wave's cross-survivors, a
    // verified colliding pair keeps the SMALLER doc_id
    // (pair-min-wins). The whole run stays restatable: the DuckDB
    // oracle unrolls the three waves as CTE rounds (the BPE-unroll
    // technique) — cross(w) = wave-w docs with NO verified candidate
    // among kept(<w), kept(w) = cross(w) minus its verified
    // smaller-id-collision losers. State is kept-doc-sized (keys +
    // shingle sets), never corpus²; the ≥3-words guard keeps both
    // engines in the regime where the twin banding provably agrees.
    "strm_neardup" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .where(size(split(col("text"), " ")) >= 3)
        .select(col("doc_id"), col("text"))
      streamNearDupKept(s, docs)
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(3)).cast("long").as("wave"))
        .ckpt(true)
    }),

    // Exact dedup by content fingerprint: keep the smallest doc_id per
    // fingerprint (deterministic survivor), report group size.
    "dedup_exact" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    }),

    // MinHash(32) + LSH(8 bands × 4 rows) candidates, verified with
    // exact shingle-Jaccard ≥ 0.8. Rows-only check (not expressible in
    // DuckDB); DedupSpec pins recall vs brute force on sf0.001.
    "dedup_minhash_lsh" -> ((s, dir) => {
      // spread: the MinHash/shingle kernels otherwise run on the
      // single scan task of the one-file export (opt guide §2.5)
      val docs = Tables.spread(Tables.load(s, dir, "documents"), col("doc_id"))
      val cands = minhashCandidates(docs, k = 32, bands = 8)
      // shingle sets computed once per doc (narrow), joined to pairs
      val byId = docs.select(col("doc_id"),
        array_distinct(shingles(col("text"))).as("sh"))
      cands
        .join(byId.as("da"), col("doc_a") === col("da.doc_id"))
        .join(byId.as("db"), col("doc_b") === col("db.doc_id"))
        .withColumn("jacc", shingleSetJaccard(col("da.sh"), col("db.sh")))
        .where(col("jacc") >= 0.8)
        .select(col("doc_a"), col("doc_b"), round(col("jacc"), 6).as("jacc"))
    }),

    // FULL-ORACLE MinHash+LSH twin: the same pipeline shape as
    // dedup_minhash_lsh (signature → band buckets → candidate
    // equi-join → exact-Jaccard verify) but with every hash spelled
    // as md5 over the seed-salted shingle, so DuckDB reproduces the
    // ENTIRE run — signatures, band collisions, candidate set and
    // verified pairs — bit-for-bit and the driver hash-checks it.
    // k = 16 seeds, 4 bands × 4 rows. The production path stays the
    // codegen'd xxhash64 kernel (one tokenize pass per row, 32
    // hashes); this twin trades one md5 per (shingle, seed) for an
    // engine-independent restatement, pinning the banding algebra
    // the kernel implements to a driver-enforced hash every round.
    // Scale shape is identical to the production query: the self-join
    // keys on (band, key) — bounded by bucket occupancy, never
    // all-pairs — and the verify join touches candidates only.
    "dedup_minhash_md5" -> ((s, dir) => {
      val docs = Tables.spread(Tables.load(s, dir, "documents"), col("doc_id"))
      val sh = docs.select(col("doc_id"),
        array_distinct(shingles(col("text"))).as("sh"))
      // 16 string minima per doc, derived from FOUR md5s per shingle
      // (seeds 0..3), each split into four 8-hex-char (32-bit) lanes —
      // one hash invocation feeds four minhash lanes (a 32-bit lane's
      // min over hundreds of shingles collides only ~2^-32 per
      // unrelated pair). Spelled explode → 4 codegen'd md5 projections
      // → ONE hash aggregate with 16 min()s, NOT array higher-order
      // functions: HOF lambdas evaluate interpreted per element per
      // lane (16 re-walks of the shingle array, measured 3× slower),
      // while this shape is whole-stage codegen end-to-end with
      // map-side partial mins, the same one-shuffle scale shape as any
      // sketch build. Lowercase-hex substrings compare identically
      // under Spark's binary ordering and DuckDB's default collation.
      val bnd = md5Bands(sh)
      val cand = bnd.as("l").join(bnd.as("r"),
          col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
            col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
        .distinct()
      cand
        .join(sh.as("da"), col("doc_a") === col("da.doc_id"))
        .join(sh.as("db"), col("doc_b") === col("db.doc_id"))
        .withColumn("jacc", shingleSetJaccard(col("da.sh"), col("db.sh")))
        .where(col("jacc") >= 0.8)
        .select(col("doc_a"), col("doc_b"), round(col("jacc"), 6).as("jacc"))
    }),

    // SimHash signatures + 16-bit banded bucket keys (the near-dup
    // index a 100 TB pipeline would persist; near-Hamming pairs share
    // a band bucket). Rows-only; semantics pinned in DedupSpec. The
    // query stage over this index is dedup_simhash_pairs below.
    "dedup_simhash" -> ((s, dir) => simhashSignatures(
      Tables.spread(Tables.load(s, dir, "documents"), col("doc_id")))),

    // FULL-ORACLE SimHash twin: a 32-bit signature whose bit b is the
    // majority vote over distinct tokens of bit b of md5(token) —
    // integer arithmetic end-to-end (hex-digit lookup, shift, mask,
    // signed vote sum, power-of-two reassembly), so DuckDB restates
    // the whole computation and the driver hash-checks the signature
    // AND its four 8-bit band keys. Pins the majority-vote/banding
    // algebra of the production 64-bit codegen kernel (dedup_simhash
    // above) to an engine-independent oracle. The ×32 bit explode is
    // the price of SQL-expressibility — linear in tokens, one shuffle
    // on (doc, bit); the production kernel does the same vote in one
    // codegen pass per row.
    "dedup_simhash_md5" -> ((s, dir) => {
      val docs = Tables.spread(Tables.load(s, dir, "documents"), col("doc_id"))
      val toks = docs.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      val bits = toks
        .select(col("doc_id"), md5(col("tok")).as("h"))
        .select(col("doc_id"), posexplode(expr(
          """transform(sequence(0, 31), p ->
             shiftright(instr('0123456789abcdef', substr(h, 1 + p div 4, 1)) - 1,
                        3 - p % 4) & 1)"""))
          .as(Seq("p", "bit")))
      bits
        .groupBy(col("doc_id"), col("p"))
        .agg(sum(col("bit") * 2 - 1).as("s"))
        .groupBy(col("doc_id"))
        .agg(sum(when(col("s") >= 0, expr("shiftleft(1L, p)")).otherwise(lit(0L)))
          .as("sig32"))
        .select(col("doc_id"), col("sig32"),
          expr("shiftright(sig32,  0) & 255").as("band0"),
          expr("shiftright(sig32,  8) & 255").as("band1"),
          expr("shiftright(sig32, 16) & 255").as("band2"),
          expr("shiftright(sig32, 24) & 255").as("band3"))
    }),

    // The SimHash index exercised AS an index: band-bucket self-join
    // generates candidates (two signatures within Hamming distance 3
    // of each other differ in ≤ 3 of 64 bits, so by pigeonhole at
    // least one of the four 16-bit bands is IDENTICAL — the equi-join
    // is guaranteed to surface every such pair), then an exact
    // popcount verify keeps pairs with bit_count(sig_a ^ sig_b) ≤ 3.
    // Candidates are bounded by band-bucket occupancy, never all
    // pairs — the same scale shape as minhash LSH. Rows-only;
    // DedupSpec pins exact agreement with a brute-force Hamming scan.
    "dedup_simhash_pairs" -> ((s, dir) =>
      simhashPairs(simhashSignatures(
        Tables.spread(Tables.load(s, dir, "documents"), col("doc_id"))), maxHamming = 3)),

    // Oracle-checkable shingle-Jaccard inside tight blocks (same lang,
    // source, length bucket): ground truth for near-dup detection.
    // EVAL-ONLY at scale: block keys have fixed cardinality, so block
    // population grows linearly with the corpus and the within-block
    // pair count quadratically. The production-exact path is
    // dedup_jaccard_prefix below (identical output, candidate set
    // bounded by shared prefix tokens instead of block size);
    // DedupSpec pins their equality.
    "dedup_jaccard_block" -> ((s, dir) => jaccardBlock(Tables.load(s, dir, "documents"))),

    // EXACT near-dup join at scale: prefix filtering (the AllPairs /
    // PPJoin family). Under any global token order, two shingle sets
    // with Jaccard ≥ t MUST share a token within each set's first
    // |sh| − ⌈t·|sh|⌉ + 1 tokens — so an equi-join on prefix tokens
    // (an inverted-index / postings join) generates a candidate
    // superset, and exact Jaccard verification of candidates yields
    // precisely the dedup_jaccard_block result (same oracle SQL; the
    // same-block restriction rides along as extra join keys). The
    // global order is xxhash64 of the shingle — pseudo-random, so
    // prefixes land on rare tokens as often as common ones, and fully
    // deterministic across runs and cluster layouts. Candidates are
    // bounded by postings-list co-occurrence, not block population —
    // the shape that survives a corpus 100× larger. The prefix is one
    // token longer than the tight bound (floor instead of ceil):
    // extra candidates are harmless, a too-short prefix is not.
    "dedup_jaccard_prefix" -> ((s, dir) => jaccardPrefix(Tables.load(s, dir, "documents"))),

    // INCREMENTAL near-dup detection — the daily-crawl-increment
    // shape: only pairs involving a NEW document (top-10% of doc_id,
    // standing in for the latest arrival batch) are emitted; pairs
    // wholly inside the existing corpus were found by previous
    // increments and are never re-derived. The candidate join is
    // delta-prefixes ⋈ corpus-prefixes, so per-increment work is
    // bounded by the DELTA's postings, not the corpus — at 100 TB the
    // corpus-side prefix index is a stored artifact appended once per
    // increment (recomputed in-query here), and each day's dedup cost
    // is O(|delta| · postings), independent of total corpus size.
    "dedup_incremental" -> ((s, dir) =>
      jaccardIncremental(Tables.load(s, dir, "documents"))),

    // Asymmetric CONTAINMENT dedup: find corpus documents holding
    // ≥ 60% of a seed document's shingles — the sub-document
    // duplication check a symmetric Jaccard threshold misses (a long
    // page quoting a short seed nearly whole has high containment but
    // low Jaccard; the standard screen for eval-set leakage and
    // near-copies of known documents). Seed sets are small by
    // definition, so the corpus streams once past a BROADCAST of the
    // seed shingle sets — no shuffle of the corpus at any scale, but
    // the scan is exactly LINEAR in the corpus (every doc intersects
    // every seed). SMALL-SEED / EVAL spelling: the default
    // `dedup_containment` below is the prefix-postings plan (identical
    // output — DedupSpec pins row equality — and sub-linear because
    // only docs sharing a rare seed-prefix token are ever verified;
    // measured 0.68 s vs 5.2 s at sf0.1 and 3.4× cheaper at 10×).
    // Keep this twin for seed sets of a few hundred where broadcast
    // latency beats building the postings index.
    "dedup_containment_broadcast" -> ((s, dir) => {
      val d = Tables.spread(Tables.load(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"),
        array_distinct(shingles(col("text"))).as("sh"))
      val seeds = d.where(col("doc_id") < 50)
        .select(col("doc_id").as("seed_id"), col("sh").as("seed_sh"))
      d.crossJoin(broadcast(seeds))
        .where(col("doc_id") =!= col("seed_id"))
        .withColumn("cont",
          size(array_intersect(col("seed_sh"), col("sh"))).cast("double")
            / size(col("seed_sh")))
        .where(col("cont") >= 0.6)
        .select(col("seed_id"), col("doc_id"), round(col("cont"), 6).as("cont_r"))
    }),

    // DEFAULT containment spelling — the postings-join plan (the
    // scale shape: sub-linear, measured 3.4× cheaper at 10× than the
    // linear broadcast twin above, identical output by DedupSpec).
    // Pigeonhole: a doc containing ≥ t of
    // seed A misses at most |A| − ⌈t·|A|⌉ = ⌊(1−t)·|A|⌋ of A's
    // shingles, so under ANY fixed global token order it must share
    // one of A's first ⌊(1−t)·|A|⌋+1 tokens — a lossless candidate
    // set. Seed prefixes are df-ordered (rarest first, as in
    // [[jaccardPairsGlobal]]) so postings collide on rare content;
    // the corpus side posts ALL its shingles because containment is
    // asymmetric — the shared token may sit anywhere in the
    // containing doc, only the SEED side gets a prefix. Candidates
    // then verify with the exact intersect. Shuffle-join shapes
    // throughout; neither side is ever collected or broadcast.
    "dedup_containment" -> ((s, dir) => {
      val t = 0.6
      val d = Tables.spread(Tables.load(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"),
        array_distinct(shingles(col("text"))).as("sh"))
      val grams = d.select(col("doc_id"), explode(col("sh")).as("g"))
      val dfTbl = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      val seedPrefix = grams.where(col("doc_id") < 50)
        .join(dfTbl, "g")
        .select(col("doc_id").as("seed_id"),
          struct(col("df"), xxhash64(col("g")).as("h"), col("g")).as("tok"))
        .groupBy(col("seed_id"))
        .agg(sort_array(collect_list(col("tok"))).as("ordered"),
          count(lit(1)).as("sz"))
        .withColumn("plen",
          least(col("sz"), floor(col("sz") * (1 - t)) + 1).cast("int"))
        .select(col("seed_id"),
          explode(expr("transform(slice(ordered, 1, plen), x -> x.g)")).as("g"))
      val cands = grams.join(seedPrefix, "g")
        .where(col("doc_id") =!= col("seed_id"))
        .select(col("seed_id"), col("doc_id")).distinct()
      cands
        .join(d.select(col("doc_id").as("seed_id"), col("sh").as("seed_sh")), "seed_id")
        .join(d, "doc_id")
        .withColumn("cont",
          size(array_intersect(col("seed_sh"), col("sh"))).cast("double")
            / size(col("seed_sh")))
        .where(col("cont") >= t)
        .select(col("seed_id"), col("doc_id"), round(col("cont"), 6).as("cont_r"))
    }),

    // The top of the dedup ladder: near-dup PAIRS → duplicate CLUSTERS
    // → one canonical survivor per cluster. Edges are exact global
    // Jaccard ≥ 0.8 (prefix-filtered, no false negatives), components
    // by alternating large-star/small-star (O(log² n) rounds — see
    // [[connectedComponents]]), survivor = component minimum. Without
    // this step a near-dup A≈B, B≈C with A!≈C keeps A and C (pairwise
    // dedup is not transitive); the oracle pins transitivity via a
    // recursive CTE over the same edge set.
    "dedup_cluster" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val cc = connectedComponents(jaccardPairsGlobal(docs, 0.8))
      val labeled = docs.select(col("doc_id"))
        .join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      labeled
        .withColumn("n_members",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("cluster_id"))))
        .withColumn("keep", (col("doc_id") === col("cluster_id")).cast("int"))
    }),

    // ENTITY RESOLUTION capstone — the full record-linkage pipeline
    // composed from this round's pieces: (1) candidate pairs from the
    // (brand, head-noun) BLOCKED Jaro-Winkler join (the codegen
    // kernel; never corpus²), (2) an ER-grade match threshold
    // (jw_q ≥ 0.9, quantized — ulp-proof), (3) transitive closure via
    // large-star/small-star connected components (O(log² n) rounds),
    // (4) every record labeled with its resolved entity and the
    // entity-size profile reported. The oracle restates the blocking,
    // the kernel (DuckDB's jaro_winkler_similarity — classic Winkler,
    // probed), and the closure (recursive CTE), so the END-TO-END
    // pipeline hash-checks, not just its stages.
    "er_entity_resolution" -> ((s, dir) =>
      erLabeled(Tables.load(s, dir, "part"))
        .groupBy(col("entity_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_entities"))),

    // CANONICAL SELECTION per duplicate cluster — production dedup
    // keeps the BEST member of each near-dup cluster (longest here;
    // quality score in a real pipeline), not the arbitrary smallest
    // id. Same exact clustering as dedup_cluster; the canonical pick
    // is a partial-aggregating max(struct(n_chars, −doc_id)) per
    // cluster — an arg-max hash agg, never a per-cluster sort — and
    // one join back. Oracle restates the clustering with the
    // recursive-CTE reachability and the pick with a window arg-max.
    "dedup_canonical" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val cc = connectedComponents(jaccardPairsGlobal(docs, 0.8))
      val labeled = docs.select(col("doc_id"), col("n_chars"))
        .join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chars"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      val canon = labeled.groupBy(col("cluster_id"))
        .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg_id")))
          .as("best"))
        .select(col("cluster_id"), (-col("best.neg_id")).as("canonical_id"))
      labeled.join(canon, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
          (col("doc_id") === col("canonical_id")).cast("int").as("keep"))
    }),

    // Duplicated-SPAN coverage — the scale approximation of exact
    // substring dedup (Lee et al., "Deduplicating Training Data Makes
    // Language Models Better", arXiv:2107.06499, dedups repeated
    // ≥50-token substrings via a suffix array; a suffix array is not
    // a distributed-join shape, so pipelines approximate it with
    // fixed-length n-gram spans): a word 5-gram occurring in MORE
    // THAN one distinct document marks its 5 token positions as
    // duplicated; per document, report total tokens, duplicated-gram
    // occurrences, and the size of the UNION of covered positions
    // (overlapping spans merged by counting distinct positions — no
    // interval arithmetic needed). Downstream, docs with high
    // n_cov_tokens/n_tokens get their spans cut or are dropped.
    // Scale: grams shuffle on the high-cardinality gram string for
    // the df count; the duplicated subset joins back on the same key;
    // coverage is one more hash agg on (doc_id, position). Explode
    // factor is n=8 on the coverage side only (duplicated grams, a
    // corpus-repetition-bounded subset), never the whole corpus.
    "dedup_span_coverage" -> ((s, dir) => {
      val n = 5
      // spread: the gram explode otherwise runs on the single scan
      // task of the one-file export (opt guide §2.5)
      val docs = Tables.spread(Tables.load(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
      // sequence(1, k) with k < 1 would generate a DESCENDING ramp,
      // so short docs guard to an empty gram array explicitly
      val grams = docs.select(col("doc_id"),
        explode(expr(
          s"""if(size(tk) < $n, array(),
                transform(sequence(1, size(tk) - ${n - 1}),
                  i -> struct(i AS pos, concat_ws(' ', slice(tk, i, $n)) AS gram)))"""))
          .as("g"))
        .select(col("doc_id"), col("g.pos").as("pos"), col("g.gram").as("gram"))
      val dupGrams = grams.groupBy(col("gram"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .where(col("nd") > 1)
        .select(col("gram"))
      val dup = grams.join(dupGrams, "gram")
      val perDoc = dup.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_dup_grams"))
      val cov = dup
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + (n - 1))).as("tp"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("tp")).as("n_cov_tokens"))
      docs.select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
        .join(perDoc, Seq("doc_id"), "left")
        .join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
          coalesce(col("n_cov_tokens"), lit(0L)).as("n_cov_tokens"))
    })
  )

  /** The md5-lane MinHash BAND KEYS of a (doc_id, sh) frame — the
    * oracle-computable twin banding (see `dedup_minhash_md5`'s
    * scaladoc for the lane spelling and why it is codegen'd
    * projections + one hash aggregate, not HOFs). 4 bands × 4 lanes
    * of 32-bit md5 substrings; output (doc_id, band, key). Shared by
    * the batch twin and the streaming near-dup filter
    * (`strm_neardup`) so the two bandings can never drift.
    */
  def md5Bands(sh: DataFrame): DataFrame = {
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("t"))
      .select(col("doc_id") +: (0 to 3).map(s0 =>
        md5(concat(lit(s"$s0:"), col("t"))).as(s"h$s0")): _*)
    val laneAggs = (0 to 15).map(k =>
      min(expr(s"substr(h${k / 4}, ${1 + (k % 4) * 8}, 8)")).as(s"m$k"))
    val mins = ex.groupBy(col("doc_id"))
      .agg(laneAggs.head, laneAggs.tail: _*)
    mins.select(col("doc_id"), posexplode(array(
      (0 to 3).map(b => concat(
        col(s"m${b * 4}"), col(s"m${b * 4 + 1}"),
        col(s"m${b * 4 + 2}"), col(s"m${b * 4 + 3}"))): _*))
      .as(Seq("band", "key")))
  }

  /** The streaming near-dup ingest pipeline behind `strm_neardup`,
    * factored so specs can plant adversarial corpora: stages `docs`
    * as three mtime-paced waves (`doc_id % 3`), drains them through
    * an AvailableNow foreachBatch filter against the accumulated
    * store, and returns the kept (doc_id) frame. Drop rules per batch:
    * LSH candidates (band-key collision with a kept doc) are
    * EXACT-VERIFIED — true shingle Jaccard against the colliding kept
    * doc must clear `threshold` — so an LSH false positive survives;
    * then the batch dedupes AGAINST ITSELF (same band/verify algebra
    * over its cross-survivors, keep-first by doc_id — r19).
    * The store holds, per batch id, the kept docs' (band, key,
    * doc_id) triples and their (doc_id, sh) shingle sets; a batch's
    * prior read enumerates ONLY strictly-smaller batch ids, so a
    * foreachBatch retry after a partial failure never reads its own
    * attempt's partial write (ADVICE r17) and every per-batch output
    * is an idempotent overwrite.
    */
  def streamNearDupKept(s: SparkSession, docs: DataFrame,
      threshold: Double = 0.8): DataFrame = Scratch.frame("graft_strmnd_") { root =>
    val drop = root.resolve("waves"); java.nio.file.Files.createDirectories(drop)
    val store = root.resolve("store").toString
    val shst = root.resolve("shst").toString
    val kept = root.resolve("kept").toString
    val t0 = System.currentTimeMillis()
    (0 to 2).foreach(w => graft.streaming.EventStreams.stageWave(
      docs.where(pmod(col("doc_id"), lit(3)) === w),
      root, drop, s"w$w.parquet", t0 - (2 - w) * 60000L))
    // prior batch dirs STRICTLY BELOW `id`: a retry of batch id must
    // not glob in its own failed attempt's partial store write
    def priorDirs(base: String, id: Long): Seq[String] = {
      val d = new java.io.File(base)
      if (!d.isDirectory) Nil
      else d.listFiles().toSeq.map(_.getName)
        .filter(n => n.startsWith("b") && n.drop(1).nonEmpty &&
          n.drop(1).forall(_.isDigit) && n.drop(1).toLong < id)
        .sorted.map(n => s"$base/$n")
    }
    // the shingle store is hash-BUCKETED by kept doc id (16 `kb=`
    // partition dirs per batch), so a batch's verify stage reads
    // only the buckets its CANDIDATES' kept ids hash into — at a
    // large kept corpus the per-batch verify scan is bounded by
    // candidate bucket spread, not corpus size (r18, gap #1 of the
    // mid-round list)
    val kbOf = (c: org.apache.spark.sql.Column) =>
      pmod(xxhash64(c), lit(16)).cast("int")
    val fb = (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
        id: Long) => {
      val sh = batch.select(col("doc_id"),
        array_distinct(shingles(col("text"))).as("sh")).ckpt(false)
      val bnd = md5Bands(sh).ckpt(false)
      val priorKeys = priorDirs(store, id) match {
        case Nil => s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("band",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("key",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType))))
        case ds => s.read.parquet(ds: _*)
      }
      // candidates: bucket-collision pairs (new doc, kept doc) —
      // bounded by bucket occupancy, never all-pairs. ckpt'd: the
      // bucket collect AND the verify join both consume it.
      val cands = bnd.join(
          priorKeys.select(col("band"), col("key"), col("doc_id").as("kept_id")),
          Seq("band", "key"))
        .select(col("doc_id"), col("kept_id")).distinct().ckpt(false)
      // the candidate kept ids' hash buckets — ≤16 small values, the
      // driver-side prune list for the shingle-store read
      val buckets = cands.select(kbOf(col("kept_id")).as("kb"))
        .distinct().collect().map(_.getInt(0)).toSeq
      // exact verify (the dedup_minhash_md5 verify join): drop only
      // candidates whose TRUE shingle Jaccard clears the threshold.
      // No candidates ⇒ no verify scan at all.
      val dropIds =
        if (buckets.isEmpty) cands.select(col("doc_id")).limit(0)
        else {
          // explicit schema: a kept-empty prior batch wrote no
          // partition dirs, and inference over only-_SUCCESS dirs
          // throws; a declared schema reads them as empty instead
          val shSchema = sh.schema.add("kb",
            org.apache.spark.sql.types.IntegerType)
          val priorSh = priorDirs(shst, id)
            .map(d => s.read.option("basePath", d).schema(shSchema).parquet(d))
            .reduce(_.unionByName(_))
            .where(col("kb").isin(buckets: _*)) // partition-dir prune
          cands
            .join(sh, Seq("doc_id"))
            .join(priorSh.select(col("doc_id").as("kept_id"), col("sh").as("kept_sh")),
              Seq("kept_id"))
            .where(shingleSetJaccard(col("sh"), col("kept_sh")) >= threshold)
            .select(col("doc_id")).distinct()
        }
      val crossKept = batch.select(col("doc_id"))
        .join(dropIds, Seq("doc_id"), "left_anti").ckpt(false)
      // INTRA-BATCH dedup (r19): two near-duplicates arriving in
      // the SAME micro-batch used to both survive (the store holds
      // prior batches only) — the reference's within-run set-dedup
      // (`cmdline.py:289-296`) says they must not. Same band/verify
      // algebra, restricted to the batch's cross-surviving docs,
      // keep-first by doc_id: a doc drops when a verified colliding
      // partner with a SMALLER id cross-survived the same batch.
      // Pair-min-wins, not sequential-greedy: in a chain A~B~C
      // (A<B<C, A≁C) both B and C drop — B loses to A, C to B
      // (B cross-survived; its own intra drop doesn't resurrect C).
      // Bounded by intra-batch bucket occupancy, never batch².
      val bndK = bnd.join(crossKept, Seq("doc_id"))
      val intraPairs = bndK.as("l").join(bndK.as("r"),
          col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
            col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("keep_id"), col("r.doc_id").as("doc_id"))
        .distinct()
      val intraDrop = intraPairs
        .join(sh, Seq("doc_id"))
        .join(sh.select(col("doc_id").as("keep_id"), col("sh").as("keep_sh")),
          Seq("keep_id"))
        .where(shingleSetJaccard(col("sh"), col("keep_sh")) >= threshold)
        .select(col("doc_id")).distinct()
      val keptIds = crossKept.join(intraDrop, Seq("doc_id"), "left_anti")
        .ckpt(false)
      bnd.join(keptIds, Seq("doc_id"))
        .select(col("band"), col("key"), col("doc_id")).distinct()
        .write.mode("overwrite").parquet(s"$store/b$id")
      sh.join(keptIds, Seq("doc_id"))
        .withColumn("kb", kbOf(col("doc_id")))
        .write.mode("overwrite").partitionBy("kb").parquet(s"$shst/b$id")
      keptIds.write.mode("overwrite").parquet(s"$kept/b$id")
      releaseCheckpoints(sh); releaseCheckpoints(bnd)
      releaseCheckpoints(cands); releaseCheckpoints(crossKept)
      releaseCheckpoints(keptIds)
      ()
    }
    val q = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(drop.toString)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", root.resolve("cp").toString)
      .foreachBatch(fb)
      .start()
    q.awaitTermination()
    s.read.parquet(s"$kept/*").ckpt(true)
  }

  /** The entity-resolution labeling stage — every `part` record with
    * its resolved `entity_id`: (brand, head-noun) blocked candidate
    * pairs, Jaro-Winkler ≥ 0.9 (quantized to integer micro-units so
    * the match set is ulp-proof against the oracle), transitive
    * closure via [[connectedComponents]]. Shared by the
    * `er_entity_resolution` catalog row (which profiles entity sizes
    * on top) and [[graft.CcScaleProbe]] (which restricts the labels
    * to the 1× replica for the 100× invariance check) so the two can
    * never drift apart.
    */
  def erLabeled(parts: DataFrame): DataFrame = {
    // spread: the blocked pairs + JaroWinkler kernel otherwise run in
    // the single-task scan stage of the one-file export (§2.5); input
    // must be a scan frame (all callers pass the raw part table)
    val p = Tables.spread(parts, col("p_partkey"))
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        element_at(split(col("p_name"), " "), -1).as("noun"))
    val a = p.select(col("p_partkey").as("doc_a"), col("p_name").as("nm1"),
      col("p_brand").as("br"), col("noun"))
    val b = p.select(col("p_partkey").as("doc_b"), col("p_name").as("nm2"),
      col("p_brand").as("br"), col("noun"))
    val jw = graft.functions.JaroWinkler.jaro_winkler(col("nm1"), col("nm2"))
    val pairs = a.join(b, Seq("br", "noun"))
      .where(col("doc_a") < col("doc_b"))
      .withColumn("jw_q", round(jw * 1e6).cast("long"))
      .where(col("jw_q") >= 900000L)
      .select(col("doc_a"), col("doc_b"))
    val cc = connectedComponents(pairs)
    p.select(col("p_partkey").as("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("entity_id"))
  }

  /** EXACT global near-dup pairs at Jaccard ≥ `t` — prefix filtering
    * with the AllPairs size band, no blocking keys. Same lossless
    * candidate argument as [[jaccardPrefix]] (two sets with J ≥ t must
    * share a token within each one's first |sh| − ⌈t·|sh|⌉ + 1 tokens
    * under any global token order), plus the size filter J ≥ t ⇒
    * t·|a| ≤ |b| ≤ |a|/t, which prunes candidates before the verify
    * join and changes nothing about the result. Candidates are bounded
    * by postings-list co-occurrence on pseudo-random (hashed) prefix
    * tokens — the all-pairs-exact shape that survives 100 TB, where a
    * blocked variant would either miss cross-block pairs or blow up
    * inside hot blocks.
    */
  def jaccardPairsGlobal(docs: DataFrame, t: Double): DataFrame = {
    // materialized once: the shingle table feeds three consumers (df
    // counts, prefix ordering, verify arrays) — without the checkpoint
    // each would re-tokenize the corpus. The checkpoint blocks stay
    // reachable through the returned plan's leaves; the consumer
    // releases them once the edge set is materialized
    // ([[connectedComponents]] does, via [[releaseCheckpoints]]) — a
    // long-lived session must not accumulate dead shingle tables.
    val d = Tables.spread(docs, col("doc_id")).select(col("doc_id"),
      array_distinct(shingles(col("text"))).as("sh"))
      .ckpt
    val byId = d.select(col("doc_id"), col("sh"), size(col("sh")).as("sz"))
    // Global token order = ASCENDING document frequency (hash, then the
    // gram itself as total-order tiebreaks) — the AllPairs/PPJoin
    // ordering. Prefixes then hold each doc's RAREST shingles, so the
    // postings join only collides docs sharing rare content; a
    // pseudo-random order fills prefixes with corpus-common shingles
    // and candidates blow up with corpus size (measured 86k candidates
    // for 256 true pairs at sf0.1 → 330 candidates under this order).
    // Both extra passes are linear: one groupBy on gram for df, one
    // groupBy on doc to re-sort — the same shuffle sizes the candidate
    // join already pays.
    val grams = d.select(col("doc_id"), explode(col("sh")).as("g"))
    val dfTbl = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val prefixes = grams.join(dfTbl, "g")
      .select(col("doc_id"),
        struct(col("df"), xxhash64(col("g")).as("h"), col("g")).as("tok"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("tok"))).as("ordered"),
        count(lit(1)).as("sz"))
      // one longer than the tight bound (floor instead of ceil):
      // extra candidates are harmless, a too-short prefix is not
      .withColumn("plen",
        least(col("sz"), col("sz") - floor(col("sz") * t) + 1).cast("int"))
      .select(col("doc_id"), col("sz"),
        explode(slice(col("ordered"), lit(1), col("plen"))).as("tok"))
    val cands = prefixes.as("a").join(prefixes.as("b"),
        col("a.tok") === col("b.tok") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.sz") * t <= col("b.sz") && col("b.sz") * t <= col("a.sz"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cands
      .join(byId.as("da"), col("doc_a") === col("da.doc_id"))
      .join(byId.as("db"), col("doc_b") === col("db.doc_id"))
      .withColumn("jacc", shingleSetJaccard(col("da.sh"), col("db.sh")))
      .where(col("jacc") >= t)
      .select(col("doc_a"), col("doc_b"))
  }

  /** Connected components over an undirected edge list, by alternating
    * large-star / small-star contractions (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", ACM SoCC 2014). Converges in
    * O(log² n) rounds; each round is two hash-aggregate shuffles keyed
    * on node id, and the edge count never exceeds the input edge count
    * — the published scale shape for clustering a 100 TB near-dup
    * graph (label propagation would need diameter rounds; GraphX
    * keeps peer RDD state this DataFrame loop avoids).
    *
    * `localCheckpoint` truncates lineage each round so the plan stays
    * O(1) deep; the convergence probe is one count+checksum aggregate
    * per round (a scalar action, never a data collect). Returns
    * (doc_id, cluster_id = component minimum) for every NON-ROOT node
    * that appears in `pairs` — component roots (the minima themselves)
    * never appear as `u` at convergence and are omitted, so callers
    * must left-join and coalesce, which also gives singletons their
    * own id (an inner join would silently drop one node per cluster).
    *
    * Block-manager hygiene (VERDICT r10 #3): each round's checkpoint
    * is unpersisted as soon as the next round materializes, and the
    * INPUT's checkpoint leaves (e.g. [[jaccardPairsGlobal]]'s shingle
    * table) are released once the initial edge set lands — CC takes
    * ownership of `pairs`; callers must not reuse a checkpointed input
    * afterwards. The result itself is written to a session-temp
    * parquet and re-read, so at return NO block from this computation
    * remains persisted: a shared long-lived session can run clustering
    * in a loop without dead blocks accruing (previously every
    * invocation stranded one RDD per round until JVM GC). At 100 TB
    * the mapping lands on durable storage anyway — it is the artifact
    * every downstream dedup join consumes.
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 30): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      sym.join(m, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .where(col("u") =!= col("v"))
      val m = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      val viaNbr = dir.join(m, "u")
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val viaSelf = m.select(col("u"), col("m").as("v"))
      viaNbr.union(viaSelf).where(col("u") =!= col("v")).distinct()
    }
    def stat(e: DataFrame): (Long, Long) = {
      // bit_xor: order-independent edge-set fingerprint that cannot
      // overflow under ANSI mode (sum of 64-bit hashes would).
      // Convergence compares (count, fingerprint) across rounds: a
      // false "converged" needs two DIFFERENT equal-count edge sets
      // with colliding xor-of-xxhash64 — probability ~2^-64 per
      // round, the same class of risk as any content-hash equality
      // check in the engine (dedup_exact's md5, the driver's oracle
      // hash), accepted on the same grounds.
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // lazy checkpoints: the convergence probe is the action that
    // materializes each round's edge set, so a round costs ONE job
    // (eager checkpoint + separate probe would cost two)
    var e = pairs.select(col("doc_a").cast("long").as("u"),
        col("doc_b").cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct().ckpt(false)
    var last = stat(e)
    // the probe materialized e's blocks; whatever the input plan had
    // checkpointed (shingle table) is now dead weight
    releaseCheckpoints(pairs)
    val spark = pairs.sparkSession
    if (last._1 == 0L) {
      releaseCheckpoints(e)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cluster_id",
            org.apache.spark.sql.types.LongType))))
    }
    var round = 0
    var converged = false
    while (!converged) {
      round += 1
      if (round > maxRounds)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxRounds rounds")
      // fresh-leaf rebase before the round's joins: the checkpoint
      // inherits its origin plan's sizeInBytes, which either compounds
      // round over round (largeStar references sym twice) or — off a
      // small stored-artifact origin — underestimates a corpus-scale
      // edge set into a broadcast side (the g2_pagerank class). Both
      // star joins are honest node-keyed shuffles at scale; the fresh
      // leaf's conservative default keeps them that way. Zero cost on
      // the materialized checkpoint; `e` stays the release handle.
      val next = smallStar(largeStar(
        org.apache.spark.sql.GraftShims.rebase(e))).ckpt(false)
      val s = stat(next)
      releaseCheckpoints(e)
      converged = s == last
      last = s
      e = next
    }
    // at convergence the graph is a union of stars: every non-root
    // node carries exactly one edge to its component minimum
    val result = e.groupBy(col("u")).agg(min(col("v")).as("cluster_id"))
      .select(col("u").as("doc_id"), col("cluster_id"))
    // land the mapping off the block manager so the final round's
    // checkpoint can be released too (see scaladoc)
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-").toString
    result.write.mode("overwrite").parquet(dir)
    // consumers read this dir lazily for the rest of the session, so
    // it can only be reclaimed at JVM exit. Registered AFTER the write:
    // forceDeleteOnExit registers only the files present when called,
    // and a dir still holding files at exit is silently kept (measured:
    // one graft-cc- dir left in /tmp per call when registered first)
    org.apache.commons.io.FileUtils.forceDeleteOnExit(new java.io.File(dir))
    releaseCheckpoints(e)
    spark.read.parquet(dir)
  }

  /** Unpersist every checkpointed RDD reachable from `df`'s plan
    * leaves. A `Dataset.localCheckpoint` roots the plan at a
    * `LogicalRDD` holding the persisted RDD; unpersisting makes the
    * leaf non-recomputable, so this must only run after the last
    * action that reads it. No-op on plans with no checkpoint leaves.
    */
  def releaseCheckpoints(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Block keys + distinct shingle sets shared by the block and prefix
    * variants.
    */
  private def blocked(docs: DataFrame): DataFrame =
    // spread: the shingle kernel otherwise runs on the single scan
    // task of the one-file export (§2.5); callers pass a scan frame
    Tables.spread(docs, col("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"),
        expr("n_chars div 100").as("len_bucket"),
        array_distinct(shingles(col("text"))).as("sh"))

  /** Ground-truth all-pairs Jaccard within tight blocks (eval-only at
    * scale — see the `dedup_jaccard_block` query comment).
    */
  def jaccardBlock(docs: DataFrame): DataFrame = {
    val d = blocked(docs)
    d.as("a").join(d.as("b"),
        col("a.lang") === col("b.lang") &&
          col("a.source") === col("b.source") &&
          col("a.len_bucket") === col("b.len_bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .withColumn("jacc", shingleSetJaccard(col("a.sh"), col("b.sh")))
      .where(col("jacc") >= 0.5)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        round(col("jacc"), 6).as("jacc"))
  }

  /** Prefix-filtered exact Jaccard — identical output to
    * [[jaccardBlock]] with candidates bounded by postings
    * co-occurrence (see the `dedup_jaccard_prefix` query comment).
    */
  def jaccardPrefix(docs: DataFrame): DataFrame = {
    val d = blocked(docs)
    val byId = d.select(col("doc_id"), col("sh"))
    val prefixes = d
      .withColumn("h", array_sort(transform(col("sh"), t => xxhash64(t))))
      .withColumn("plen",
        least(size(col("h")), size(col("h")) - (size(col("h")) / 2).cast("int") + 1))
      .select(col("doc_id"), col("lang"), col("source"), col("len_bucket"),
        explode(slice(col("h"), lit(1), col("plen"))).as("tok"))
    val cands = prefixes.as("a").join(prefixes.as("b"),
        col("a.tok") === col("b.tok") &&
          col("a.lang") === col("b.lang") &&
          col("a.source") === col("b.source") &&
          col("a.len_bucket") === col("b.len_bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cands
      .join(byId.as("da"), col("doc_a") === col("da.doc_id"))
      .join(byId.as("db"), col("doc_b") === col("db.doc_id"))
      .withColumn("jacc", shingleSetJaccard(col("da.sh"), col("db.sh")))
      .where(col("jacc") >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(col("jacc"), 6).as("jacc"))
  }

  /** Delta-vs-corpus prefix-filtered exact Jaccard (t = 0.5, no
    * blocking): every pair with Jaccard ≥ t whose LARGER doc_id is in
    * the delta (ids are arrival-ordered, so the smaller side was
    * already present when the larger arrived — `prior_id`/`new_id`).
    * The [[jaccardPairsGlobal]] machinery with an asymmetric candidate
    * join: only the DELTA's prefixes probe the corpus postings, so
    * per-increment candidates are bounded by delta postings
    * co-occurrence under the df-ordered AllPairs prefix (rare tokens
    * first; the hash order measured 4.1 s at sf0.1, this order 2.7 s —
    * the two linear df passes buy a candidate set near the true pairs)
    * plus the size band t·|a| ≤ |b| ≤ |a|/t. The 0.9·max(doc_id)
    * threshold is one scalar, broadcast — never collected.
    *
    * Incremental-order caveat (production): the prefix bound needs
    * BOTH sides ordered by the SAME global token order. Here both
    * derive from the current corpus's df; a deployment with a stored
    * corpus-side prefix index must freeze the order at index-build
    * time (df of the indexed snapshot, new tokens appended by hash) —
    * re-deriving df per increment would silently shift base docs'
    * prefixes and void the pigeonhole guarantee.
    */
  def jaccardIncremental(docs: DataFrame): DataFrame = {
    val t = 0.5
    val d = Tables.spread(docs, col("doc_id")).select(col("doc_id"),
      array_distinct(shingles(col("text"))).as("sh"))
    val byId = d.select(col("doc_id"), col("sh"))
    val thr = d.agg((max(col("doc_id")).cast("double") * 0.9).as("thr"))
    val grams = d.select(col("doc_id"), explode(col("sh")).as("g"))
    val dfTbl = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val prefixes = grams.join(dfTbl, "g")
      .select(col("doc_id"),
        struct(col("df"), xxhash64(col("g")).as("h"), col("g")).as("tok"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("tok"))).as("ordered"),
        count(lit(1)).as("sz"))
      .withColumn("plen",
        least(col("sz"), col("sz") - floor(col("sz") * t) + 1).cast("int"))
      .select(col("doc_id"), col("sz"),
        explode(slice(col("ordered"), lit(1), col("plen"))).as("tok"))
    val deltaPrefixes = prefixes.crossJoin(broadcast(thr))
      .where(col("doc_id") > col("thr")).drop("thr")
    prefixes.as("a").join(deltaPrefixes.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
          col("a.sz") * t <= col("b.sz") && col("b.sz") * t <= col("a.sz"))
      .select(col("a.doc_id").as("prior_id"), col("b.doc_id").as("new_id"))
      .distinct()
      .join(byId.as("da"), col("prior_id") === col("da.doc_id"))
      .join(byId.as("db"), col("new_id") === col("db.doc_id"))
      .withColumn("jacc", shingleSetJaccard(col("da.sh"), col("db.sh")))
      .where(col("jacc") >= t)
      .select(col("prior_id"), col("new_id"), round(col("jacc"), 6).as("jacc"))
  }

  def oracle: Map[String, String] = Map(
    // the three waves unrolled as CTE rounds WITH the exact-verify
    // stage (r18) AND the intra-wave stage (r19): cross(w) = wave-w
    // docs with no verified bucket-collision against kept(<w);
    // intra(w) = cross(w) docs with a verified colliding SMALLER-id
    // partner in cross(w) (pair-min-wins); kept(w) = cross(w) minus
    // intra(w). Banding = the dedup_minhash_md5 twin spelling
    // verbatim, verify = its verify join per wave.
    "strm_neardup" ->
      """WITH docs3 AS (
           SELECT doc_id, text FROM documents
           WHERE len(string_split(text, ' ')) >= 3),
         dd AS (
           SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
                          for i in range(1, greatest(len(tk) - 1, 2))]) AS sh
           FROM (SELECT *, string_split(text, ' ') AS tk FROM docs3)),
         hh AS (
           SELECT doc_id,
             [[md5('0:' || t), md5('1:' || t),
               md5('2:' || t), md5('3:' || t)] for t in sh] AS hs
           FROM dd),
         sig AS (
           SELECT doc_id,
             [list_aggregate([substr(h[k // 4 + 1], 1 + (k % 4) * 8, 8)
                              for h in hs], 'min')
              for k in range(0, 16)] AS sig
           FROM hh),
         bnd AS (
           SELECT doc_id, b AS band,
             array_to_string(sig[b*4+1:b*4+4], '') AS key
           FROM sig, (SELECT unnest(range(0, 4)) AS b)),
         k0c AS (SELECT doc_id FROM docs3 WHERE doc_id % 3 = 0),
         i0 AS (
           SELECT DISTINCT r.doc_id AS new_id
           FROM bnd l JOIN bnd r
             ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
           JOIN dd x ON x.doc_id = r.doc_id
           JOIN dd y ON y.doc_id = l.doc_id
           WHERE l.doc_id IN (SELECT doc_id FROM k0c)
             AND r.doc_id IN (SELECT doc_id FROM k0c)
             AND CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                 len(list_distinct(list_concat(x.sh, y.sh))) >= 0.8),
         k0 AS (SELECT doc_id FROM k0c
                WHERE doc_id NOT IN (SELECT new_id FROM i0)),
         c1 AS (
           SELECT DISTINCT n.doc_id AS new_id, p.doc_id AS kept_id
           FROM bnd n JOIN bnd p ON n.band = p.band AND n.key = p.key
           WHERE n.doc_id % 3 = 1
             AND p.doc_id IN (SELECT doc_id FROM k0)),
         d1 AS (
           SELECT DISTINCT c1.new_id FROM c1
           JOIN dd x ON x.doc_id = c1.new_id
           JOIN dd y ON y.doc_id = c1.kept_id
           WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                 len(list_distinct(list_concat(x.sh, y.sh))) >= 0.8),
         k1c AS (
           SELECT doc_id FROM docs3 WHERE doc_id % 3 = 1
             AND doc_id NOT IN (SELECT new_id FROM d1)),
         i1 AS (
           SELECT DISTINCT r.doc_id AS new_id
           FROM bnd l JOIN bnd r
             ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
           JOIN dd x ON x.doc_id = r.doc_id
           JOIN dd y ON y.doc_id = l.doc_id
           WHERE l.doc_id IN (SELECT doc_id FROM k1c)
             AND r.doc_id IN (SELECT doc_id FROM k1c)
             AND CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                 len(list_distinct(list_concat(x.sh, y.sh))) >= 0.8),
         k1 AS (SELECT doc_id FROM k1c
                WHERE doc_id NOT IN (SELECT new_id FROM i1)),
         c2 AS (
           SELECT DISTINCT n.doc_id AS new_id, p.doc_id AS kept_id
           FROM bnd n JOIN bnd p ON n.band = p.band AND n.key = p.key
           WHERE n.doc_id % 3 = 2
             AND p.doc_id IN (SELECT doc_id FROM k0
                              UNION ALL SELECT doc_id FROM k1)),
         d2 AS (
           SELECT DISTINCT c2.new_id FROM c2
           JOIN dd x ON x.doc_id = c2.new_id
           JOIN dd y ON y.doc_id = c2.kept_id
           WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                 len(list_distinct(list_concat(x.sh, y.sh))) >= 0.8),
         k2c AS (
           SELECT doc_id FROM docs3 WHERE doc_id % 3 = 2
             AND doc_id NOT IN (SELECT new_id FROM d2)),
         i2 AS (
           SELECT DISTINCT r.doc_id AS new_id
           FROM bnd l JOIN bnd r
             ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
           JOIN dd x ON x.doc_id = r.doc_id
           JOIN dd y ON y.doc_id = l.doc_id
           WHERE l.doc_id IN (SELECT doc_id FROM k2c)
             AND r.doc_id IN (SELECT doc_id FROM k2c)
             AND CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                 len(list_distinct(list_concat(x.sh, y.sh))) >= 0.8),
         k2 AS (SELECT doc_id FROM k2c
                WHERE doc_id NOT IN (SELECT new_id FROM i2))
         SELECT doc_id, doc_id % 3 AS wave FROM k0
         UNION ALL SELECT doc_id, doc_id % 3 FROM k1
         UNION ALL SELECT doc_id, doc_id % 3 FROM k2""",
    "dedup_exact" ->
      """SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
         FROM documents GROUP BY md5(text)""",
    "dedup_jaccard_block" -> jaccardBlockSql,
    // identical result by construction — same brute-force oracle
    "dedup_jaccard_prefix" -> jaccardBlockSql,
    // the full MinHash+LSH pipeline restated: md5-based signatures
    // (4 md5s per shingle split into 16 8-hex lanes, mirroring the
    // Spark side), 4 band keys, bucket-collision candidates,
    // exact-Jaccard verify
    "dedup_minhash_md5" ->
      """WITH dd AS (
           SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
                          for i in range(1, greatest(len(tk) - 1, 2))]) AS sh
           FROM (SELECT *, string_split(text, ' ') AS tk FROM documents)),
         hh AS (
           SELECT doc_id, sh,
             [[md5('0:' || t), md5('1:' || t),
               md5('2:' || t), md5('3:' || t)] for t in sh] AS hs
           FROM dd),
         sig AS (
           SELECT doc_id, sh,
             [list_aggregate([substr(h[k // 4 + 1], 1 + (k % 4) * 8, 8)
                              for h in hs], 'min')
              for k in range(0, 16)] AS sig
           FROM hh),
         bnd AS (
           SELECT doc_id, b AS band,
             array_to_string(sig[b*4+1:b*4+4], '') AS key
           FROM sig, (SELECT unnest(range(0, 4)) AS b)),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bnd a JOIN bnd b
             ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
         SELECT c.doc_a, c.doc_b,
           round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                 len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jacc
         FROM cand c JOIN dd x ON x.doc_id = c.doc_a
                     JOIN dd y ON y.doc_id = c.doc_b
         WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
               len(list_distinct(list_concat(x.sh, y.sh))) >= 0.8""",
    // the 32-bit majority-vote signature restated bit-for-bit
    "dedup_simhash_md5" ->
      """WITH toks AS (
           SELECT DISTINCT doc_id, tok
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents)),
         bits AS (
           SELECT doc_id, p,
             ((strpos('0123456789abcdef', substr(md5(tok), 1 + p // 4, 1)) - 1)
               >> (3 - p % 4)) & 1 AS bit
           FROM toks, (SELECT unnest(range(0, 32)) AS p)),
         maj AS (
           SELECT doc_id, p, SUM(2 * bit - 1) AS s FROM bits GROUP BY doc_id, p),
         sig AS (
           SELECT doc_id,
             CAST(SUM(CASE WHEN s >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS sig32
           FROM maj GROUP BY doc_id)
         SELECT doc_id, sig32,
           (sig32 >>  0) & 255 AS band0,
           (sig32 >>  8) & 255 AS band1,
           (sig32 >> 16) & 255 AS band2,
           (sig32 >> 24) & 255 AS band3
         FROM sig""",
    // brute delta × corpus restatement: every qualifying pair whose
    // larger id clears the 0.9·max threshold
    "dedup_incremental" ->
      """WITH dd AS (
           SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
                          for i in range(1, greatest(len(tk) - 1, 2))]) AS sh
           FROM (SELECT *, string_split(text, ' ') AS tk FROM documents)),
         mx AS (SELECT 0.9 * MAX(doc_id) AS thr FROM documents)
         SELECT a.doc_id AS prior_id, b.doc_id AS new_id,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jacc
         FROM dd a JOIN dd b ON a.doc_id < b.doc_id, mx
         WHERE b.doc_id > mx.thr
           AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
               len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5""",
    "dedup_containment_broadcast" -> containmentSql,
    // identical result by construction — the prefix-postings candidate
    // set is lossless, so the same brute-force oracle applies
    "dedup_containment" -> containmentSql,
    // brute all-pairs edges (with the lossless size band so the oracle
    // doesn't intersect every list pair) + recursive-CTE reachability:
    // the obviously-correct restatement of prefix filter + star
    // contraction. LEAST(u, MIN(v)) is the component minimum because
    // reach holds every ordered pair within a component.
    "dedup_cluster" ->
      """WITH RECURSIVE dd AS (
           SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
                          for i in range(1, greatest(len(tk) - 1, 2))]) AS sh
           FROM (SELECT *, string_split(text, ' ') AS tk FROM documents)),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM dd a JOIN dd b ON a.doc_id < b.doc_id
            AND len(a.sh) * 0.8 <= len(b.sh) AND len(b.sh) * 0.8 <= len(a.sh)
           WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         edges AS (
           SELECT doc_a AS u, doc_b AS v FROM pairs
           UNION
           SELECT doc_b, doc_a FROM pairs),
         reach(u, v) AS (
           SELECT u, v FROM edges
           UNION
           SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         comp AS (
           SELECT u AS doc_id, least(u, MIN(v)) AS cluster_id
           FROM reach GROUP BY u)
         SELECT d.doc_id,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
           COUNT(*) OVER (PARTITION BY COALESCE(c.cluster_id, d.doc_id))
             AS n_members,
           CAST(d.doc_id = COALESCE(c.cluster_id, d.doc_id) AS INT) AS keep
         FROM documents d LEFT JOIN comp c USING (doc_id)""",
    // blocking + kernel + transitive closure all restated — the full
    // ER pipeline hash-checks end-to-end
    "er_entity_resolution" ->
      """WITH RECURSIVE p AS (
           SELECT p_partkey AS k, p_name AS nm, p_brand AS br,
                  string_split(p_name, ' ')[-1] AS noun
           FROM part),
         prs AS (SELECT a.k AS u, b.k AS v
           FROM p a JOIN p b
             ON a.br = b.br AND a.noun = b.noun AND a.k < b.k
           WHERE CAST(round(jaro_winkler_similarity(a.nm, b.nm) * 1e6)
                      AS BIGINT) >= 900000),
         edges AS (SELECT u, v FROM prs UNION SELECT v, u FROM prs),
         reach(u, v) AS (
           SELECT u, v FROM edges
           UNION
           SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         comp AS (SELECT u AS k, least(u, MIN(v)) AS ent
                  FROM reach GROUP BY u),
         lab AS (SELECT p.k, COALESCE(c.ent, p.k) AS ent
                 FROM p LEFT JOIN comp c ON c.k = p.k),
         sizes AS (SELECT ent, count(*) AS sz FROM lab GROUP BY ent)
         SELECT sz, count(*) AS n_entities FROM sizes GROUP BY sz""",
    // same recursive-CTE clustering; the canonical pick restated as a
    // window arg-max (longest, tie smallest doc_id)
    "dedup_canonical" ->
      """WITH RECURSIVE dd AS (
           SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
                          for i in range(1, greatest(len(tk) - 1, 2))]) AS sh
           FROM (SELECT *, string_split(text, ' ') AS tk FROM documents)),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM dd a JOIN dd b ON a.doc_id < b.doc_id
            AND len(a.sh) * 0.8 <= len(b.sh) AND len(b.sh) * 0.8 <= len(a.sh)
           WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         edges AS (
           SELECT doc_a AS u, doc_b AS v FROM pairs
           UNION
           SELECT doc_b, doc_a FROM pairs),
         reach(u, v) AS (
           SELECT u, v FROM edges
           UNION
           SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         comp AS (
           SELECT u AS doc_id, least(u, MIN(v)) AS cluster_id
           FROM reach GROUP BY u),
         lab AS (
           SELECT d.doc_id, d.n_chars,
             COALESCE(c.cluster_id, d.doc_id) AS cluster_id
           FROM documents d LEFT JOIN comp c USING (doc_id)),
         canon AS (
           SELECT cluster_id, doc_id AS canonical_id FROM (
             SELECT cluster_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, doc_id ASC) AS rn
             FROM lab) t
           WHERE rn = 1)
         SELECT l.doc_id, l.cluster_id, c.canonical_id,
           CAST(l.doc_id = c.canonical_id AS INT) AS keep
         FROM lab l JOIN canon c USING (cluster_id)""",
    // zipped unnests enumerate (pos, gram); slice bounds mirror the
    // Spark guard (len < 5 → empty comprehension → no rows)
    "dedup_span_coverage" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         g AS (SELECT doc_id,
                 unnest(range(1, greatest(len(tk) - 3, 1))) AS pos,
                 unnest([array_to_string(tk[i:i+4], ' ')
                         for i in range(1, greatest(len(tk) - 3, 1))]) AS gram
               FROM t),
         df AS (SELECT gram FROM g GROUP BY gram
                HAVING COUNT(DISTINCT doc_id) > 1),
         dup AS (SELECT g.doc_id, g.pos FROM g JOIN df USING (gram)),
         nd AS (SELECT doc_id, COUNT(*) AS n_dup FROM dup GROUP BY 1),
         cov AS (SELECT doc_id, COUNT(DISTINCT tp) AS n_cov
                 FROM (SELECT doc_id, unnest(range(pos, pos + 5)) AS tp
                       FROM dup) GROUP BY 1)
         SELECT t.doc_id, len(t.tk) AS n_tokens,
           COALESCE(nd.n_dup, 0) AS n_dup_grams,
           COALESCE(cov.n_cov, 0) AS n_cov_tokens
         FROM t LEFT JOIN nd USING (doc_id) LEFT JOIN cov USING (doc_id)"""
  )

  private def containmentSql: String =
      """WITH dd AS (
           SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
                          for i in range(1, greatest(len(tk) - 1, 2))]) AS sh
           FROM (SELECT *, string_split(text, ' ') AS tk FROM documents))
         SELECT s.doc_id AS seed_id, d.doc_id,
           round(CAST(len(list_intersect(s.sh, d.sh)) AS DOUBLE)
                 / len(s.sh), 6) AS cont_r
         FROM dd s JOIN dd d
           ON s.doc_id < 50 AND d.doc_id != s.doc_id
         WHERE CAST(len(list_intersect(s.sh, d.sh)) AS DOUBLE)
               / len(s.sh) >= 0.6"""

  private def jaccardBlockSql: String =
      """WITH d AS (
           SELECT doc_id, lang, source, n_chars // 100 AS len_bucket,
             list_distinct([array_to_string(tk[i:i+2], ' ')
                            for i in range(1, greatest(len(tk) - 1, 2))]) AS sh
           FROM (SELECT *, string_split(text, ' ') AS tk FROM documents))
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jacc
         FROM d a JOIN d b
           ON a.lang = b.lang AND a.source = b.source
          AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
               len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5"""
}
