package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sinks.{SnapshotMerge, SnapshotStore}

/** Pins for the manifest-level STATS pruning layer: the sidecar's
  * [min, max] bands must let `readRange` skip partitions a value
  * predicate cannot touch, skipping must NEVER change results (a
  * missing or stale sidecar only widens the scan), bands refresh on
  * merge, and sidecars die with their batches under vacuum.
  */
class SnapshotStatsSpec extends SparkFunSuite {
  import spark.implicits._

  /** 300 rows, pk = id / 100 — each partition holds a DISJOINT value
    * band: pk=0 -> v in [0,99], pk=1 -> [100,199], pk=2 -> [200,299].
    */
  private def rows = (0L until 300L).map(i => (i, i.toDouble, i / 100L))
    .toDF("id", "v", "pk")

  private def store(dir: String) = new SnapshotStore(spark, new Path(dir))

  test("readRange prunes to the partitions whose band intersects, rows exact") {
    val dir = tmp("stats_prune_")
    SnapshotMerge.upsertUpdate(spark, dir, rows, Seq("id"), Seq("pk"),
      statsCols = Seq("v"))
    val st = store(dir)
    val entries = st.current().get._2
    assert(entries.keySet == Set("pk=0", "pk=1", "pk=2"))
    // metadata decision: only pk=1's band [100,199] intersects [120,180]
    assert(st.pruneSlicesByStats(entries.toSeq, "v", 120.0, 180.0).map(_._1).toSet ==
      Set("pk=1"))
    // boundary inclusivity: hi == a band's min keeps that partition
    assert(st.pruneSlicesByStats(entries.toSeq, "v", 50.0, 100.0).map(_._1).toSet ==
      Set("pk=0", "pk=1"))
    val got = st.readRange(rows.schema, "v", 120.0, 180.0)
      .select(col("id")).collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (120L to 180L))
  }

  test("bands refresh on merge; residual filter keeps widened bands correct") {
    val dir = tmp("stats_refresh_")
    SnapshotMerge.upsertUpdate(spark, dir, rows, Seq("id"), Seq("pk"),
      statsCols = Seq("v"))
    // update one pk=0 row to v=500: pk=0's NEW band [0,500] now
    // intersects [120,180] (band widening), but only true matches
    // survive the residual filter
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((7L, 500.0, 0L)).toDF("id", "v", "pk"),
      Seq("id"), Seq("pk"), statsCols = Seq("v"))
    val st = store(dir)
    val entries = st.current().get._2
    assert(st.pruneSlicesByStats(entries.toSeq, "v", 120.0, 180.0).map(_._1).toSet ==
      Set("pk=0", "pk=1"))
    val got = st.readRange(rows.schema, "v", 120.0, 180.0)
      .select(col("id")).collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (120L to 180L), "widened band must not add rows")
    // the moved row is findable through its new band
    assert(st.readRange(rows.schema, "v", 499.0, 501.0)
      .select(col("id")).collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("a missing sidecar disables pruning but never correctness") {
    val dir = tmp("stats_missing_")
    SnapshotMerge.upsertUpdate(spark, dir, rows, Seq("id"), Seq("pk"),
      statsCols = Seq("v"))
    val st = store(dir)
    val entries = st.current().get._2
    val batch = entries.values.head
    st.fs.delete(new Path(new Path(st.root, "stats"), batch), false)
    assert(st.readBatchStats(batch).isEmpty)
    assert(st.pruneSlicesByStats(entries.toSeq, "v", 120.0, 180.0).map(_._1).toSet ==
      entries.keySet, "no sidecar -> nothing prunable")
    val got = st.readRange(rows.schema, "v", 120.0, 180.0)
      .select(col("id")).collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (120L to 180L))
  }

  test("opting out writes no sidecar; all-null stats column records no band") {
    val dir = tmp("stats_optout_")
    SnapshotMerge.upsertUpdate(spark, dir, rows, Seq("id"), Seq("pk"))
    val st = store(dir)
    assert(st.readBatchStats(st.current().get._2.values.head).isEmpty)
    // all-NULL column: no line recorded -> unprunable, not a skip
    val dir2 = tmp("stats_null_")
    val withNulls = rows.withColumn("v",
      when(col("pk") === 0L, lit(null).cast("double")).otherwise(col("v")))
    SnapshotMerge.upsertUpdate(spark, dir2, withNulls, Seq("id"), Seq("pk"),
      statsCols = Seq("v"))
    val st2 = store(dir2)
    val e2 = st2.current().get._2
    val bands = st2.readBatchStats(e2.values.head)
    assert(!bands.getOrElse("pk=0", Map.empty).contains("v"))
    assert(bands("pk=1").contains("v"))
    // pk=0 (all-null v) is unprunable; its rows can't match anyway
    assert(st2.pruneSlicesByStats(e2.toSeq, "v", 120.0, 180.0).map(_._1).toSet ==
      Set("pk=0", "pk=1"))
    assert(st2.readRange(withNulls.schema, "v", 120.0, 180.0)
      .count() == 61L)
  }

  test("vacuum collects sidecars with their batches; compaction refreshes stats") {
    val dir = tmp("stats_vacuum_")
    SnapshotMerge.upsertUpdate(spark, dir, rows, Seq("id"), Seq("pk"),
      statsCols = Seq("v"))
    // churn pk=0 several times so early batches fall out of retention
    (1 to 3).foreach { i =>
      SnapshotMerge.upsertUpdate(spark, dir,
        Seq((5L, 5.0 + i, 0L)).toDF("id", "v", "pk"),
        Seq("id"), Seq("pk"), statsCols = Seq("v"))
    }
    val st = store(dir)
    val statsPath = new Path(st.root, "stats")
    def sidecars: Set[String] =
      st.fs.listStatus(statsPath).map(_.getPath.getName).toSet
    def liveBatches: Set[String] =
      st.current().get._2.values.toSet
    // every sidecar's batch is either live or within the retention
    // window — no sidecar outlives vacuum's batch sweep
    val dataBatches = st.fs.listStatus(new Path(st.root, "data"))
      .map(_.getPath.getName).toSet
    assert(sidecars.subsetOf(dataBatches),
      s"orphan sidecars: ${sidecars -- dataBatches}")
    assert(liveBatches.subsetOf(sidecars),
      "every live batch written with statsCols keeps its sidecar")
    // full compaction with stats keeps pruning working on the folded batch
    st.compact(rows.schema, Seq("pk"), statsCols = Seq("v"))
    val entries = st.current().get._2
    assert(entries.values.toSet.size == 1, "compacted to one batch")
    assert(st.pruneSlicesByStats(entries.toSeq, "v", 120.0, 180.0).map(_._1).toSet ==
      Set("pk=1"))
  }

  test("clustered compaction makes file bands selective; reads stay exact") {
    val dir = tmp("stats_cluster_")
    // SHUFFLED values within one partition: before clustering, every
    // file's band covers ~the full range and file pruning is useless
    val shuffled = (0L until 1000L).map(i => (i, ((i * 617) % 1000).toDouble, 0L))
      .toDF("id", "v", "pk")
    SnapshotMerge.upsertUpdate(spark, dir, shuffled, Seq("id"), Seq("pk"),
      statsCols = Seq("v"))
    val st = store(dir)
    st.compactClustered(shuffled.schema, Seq("pk"), Seq("v"), maxRecordsPerFile = 100L)
    val batch = st.current().get._2.values.head
    val fileBands = st.readBatchFileStats(batch).get
    assert(fileBands.size >= 10, s"expected ~10 files, got ${fileBands.size}")
    // clustering makes bands near-disjoint: the files whose band
    // intersects a 10%-wide range hold at most ~2 file-widths of rows
    val lo = 300.0; val hi = 399.0
    val touched = fileBands.filter(_._2.get("v").forall {
      case (mn, mx) => mx >= lo && mn <= hi })
    assert(touched.size <= 3,
      s"clustered bands should localize the range, touched ${touched.size} of ${fileBands.size}")
    val got = st.readRangeFiles(shuffled.schema, "v", lo, hi)
      .select(col("v")).collect().map(_.getDouble(0)).sorted
    assert(got.toSeq == (300L to 399L).map(_.toDouble))
    // and the file sidecar survives vacuum while the batch is live
    assert(st.fs.exists(new Path(new Path(st.root, "stats"), s"$batch.files")))
  }

  test("z-order beats linear clustering on 2-D boxes; box reads stay exact") {
    // 128×128 value grid (x = i mod 128, y = i div 128), shuffled into
    // the store, then rewritten two ways at 256 rows/file (64 files):
    // linear clustering on x leaves every file's y-band spanning the
    // full range; the morton interleave bounds BOTH bands per file.
    val grid = (0L until 16384L)
      .map(i => ((i * 2654435761L) % 16384L))  // permuted write order
      .map(i => (i, (i % 128L).toDouble, (i / 128L).toDouble, 0L))
      .toDF("id", "x", "y", "pk")
    val box = Seq(("x", 32.0, 47.0), ("y", 32.0, 47.0))
    val wantIds = (0L until 16384L).filter(i =>
      (i % 128) >= 32 && (i % 128) <= 47 && (i / 128) >= 32 && (i / 128) <= 47)

    def filesTouched(dir: String): Int = {
      val st = store(dir)
      st.boxFilePaths(box).map(_._2.size).sum
    }

    val linDir = tmp("stats_zlin_")
    SnapshotMerge.upsertUpdate(spark, linDir, grid, Seq("id"), Seq("pk"),
      statsCols = Seq("x", "y"))
    store(linDir).compactClustered(grid.schema, Seq("pk"), Seq("x"),
      maxRecordsPerFile = 64L)
    // compactClustered records stats for the cluster column only; the
    // box prune on y then keeps every file via the missing-band rule,
    // so the linear count reflects x-pruning alone — the comparison
    // z-order must beat
    val linTouched = filesTouched(linDir)

    val zDir = tmp("stats_zord_")
    SnapshotMerge.upsertUpdate(spark, zDir, grid, Seq("id"), Seq("pk"),
      statsCols = Seq("x", "y"))
    store(zDir).compactClustered(grid.schema, Seq("pk"), Seq("x", "y"),
      maxRecordsPerFile = 64L)
    val zTouched = filesTouched(zDir)

    val total = store(zDir).readBatchFileStats(
      store(zDir).current().get._2.values.head).get.size
    assert(total >= 128, s"expected ~256 files, got $total")
    // the box covers 1/64 of the grid. Linear-on-x must read every
    // file overlapping 16 of 128 x-values — 1/8 of the table (32
    // files, measured) with y unbounded per file. The morton layout
    // bounds BOTH per-file bands, confining the box to ~10 files
    // (ideal 4 + quantile-cell straddle) — measured 10 of 256.
    assert(zTouched < linTouched / 2,
      s"z-order touched $zTouched files, linear $linTouched of $total")
    assert(zTouched <= 16, s"z-order box should be local, touched $zTouched")
    assert(linTouched >= 28, s"linear fixture unexpectedly selective: $linTouched")

    val got = store(zDir).readBoxFiles(grid.schema, box)
      .select(col("id")).collect().map(_.getLong(0)).sorted
    assert(got.toSeq == wantIds, s"box read returned ${got.length} rows, want ${wantIds.length}")
    // and the 1-pred twin still routes through the same path
    val one = store(zDir).readRangeFiles(grid.schema, "x", 32.0, 47.0)
      .select(col("id")).collect().length
    assert(one == 16 * 128)
  }

  test("NaN values make a band unknown, never a wrong skip") {
    val dir = tmp("stats_nan_")
    // pk=0 mixes NaN with in-range values: Spark's max() returns NaN
    // (NaN sorts largest), so a naive `mx >= lo` check would prune
    // pk=0 and lose row v=150
    val mixed = Seq((1L, Double.NaN, 0L), (2L, 150.0, 0L),
      (3L, 999.0, 1L)).toDF("id", "v", "pk")
    SnapshotMerge.upsertUpdate(spark, dir, mixed, Seq("id"), Seq("pk"),
      statsCols = Seq("v"))
    val st = store(dir)
    val entries = st.current().get._2
    assert(st.pruneSlicesByStats(entries.toSeq, "v", 120.0, 180.0).map(_._1).toSet ==
      Set("pk=0"),
      "NaN-poisoned band must stay (unknown), clean out-of-range band must prune")
    val got = st.readRange(mixed.schema, "v", 120.0, 180.0)
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L), "the in-range row beside the NaN must survive")
  }

  test("file sidecars survive URI-encodable partition values (space, colon)") {
    // input_file_name() percent-encodes path segments while manifest
    // suffixes are the raw dir names — without decoding, every file
    // of a `pk=us east` partition silently vanished from
    // readRangeFiles (startsWith never matched)
    val dir = tmp("stats_uri_")
    val mixed = Seq((1L, 10.0, "us east"), (2L, 20.0, "us east"),
      (3L, 30.0, "eu:west")).toDF("id", "v", "pk")
    SnapshotMerge.upsertUpdate(spark, dir, mixed, Seq("id"), Seq("pk"),
      statsCols = Seq("v"))
    val st = store(dir)
    st.compactClustered(mixed.schema, Seq("pk"), Seq("v"), maxRecordsPerFile = 1L)
    val batch = st.current().get._2.values.head
    val bands = st.readBatchFileStats(batch).get
    assert(bands.nonEmpty)
    // the actual contract: every sidecar key prefix-matches a RAW
    // manifest suffix (the Hive-escaped `pk=eu%3Awest` itself — one
    // decode exactly, not zero, not two)
    val suffixes = st.current().get._2.keySet
    assert(suffixes.exists(_.contains("%3A")), s"expected Hive-escaped suffix in $suffixes")
    bands.keys.foreach { rel =>
      assert(suffixes.exists(sfx => rel.startsWith(sfx + "/")),
        s"sidecar key '$rel' matches no manifest suffix in $suffixes")
    }
    val got = st.readRangeFiles(mixed.schema, "v", 5.0, 25.0)
      .select(col("id")).collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 2L),
      s"encoded-partition files must not be silently dropped, got ${got.toSeq}")
  }

  test("readRangeFiles falls back to whole partitions without a file sidecar") {
    val dir = tmp("stats_fallback_")
    SnapshotMerge.upsertUpdate(spark, dir, rows, Seq("id"), Seq("pk"),
      statsCols = Seq("v"))
    val st = store(dir)
    // merge wrote only the partition-level sidecar -> file path falls
    // back to dir reads, identical rows to readRange
    val a = st.readRangeFiles(rows.schema, "v", 120.0, 180.0)
      .select(col("id")).collect().map(_.getLong(0)).sorted
    assert(a.toSeq == (120L to 180L))
  }

  test("bloom sidecar prunes point lookups on an unbandable column; reads stay exact") {
    val dir = tmp("stats_bloom_")
    // pk = id % 3: every partition's id band spans the whole domain —
    // min/max bands prune NOTHING for a key lookup, the exact regime
    // the bloom sidecar exists for
    val t = (0L until 300L).map(i => (i, i.toDouble, i % 3L))
      .toDF("id", "v", "pk")
    SnapshotMerge.upsertUpdate(spark, dir, t, Seq("id"), Seq("pk"))
    val st = store(dir)
    val batch = st.current().get._2.values.head
    st.writeBatchBloom(batch, t.schema, Seq("pk"), "id")
    // key 42 lives ONLY in pk=0 (42 % 3): the lookup must read fewer
    // partition dirs than the table has, and exactly the right rows
    val hit = st.readKeyLookup(t.schema, "id", Seq(42L))
    val dirsRead = hit.inputFiles.map(_.replaceAll("/[^/]*$", "")).distinct.length
    assert(dirsRead < 3, s"bloom pruned nothing: $dirsRead of 3 partitions read")
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(42L))
    // absent keys: no false negatives is the contract, and the
    // residual filter makes any false-positive partition read
    // invisible in the result
    assert(st.readKeyLookup(t.schema, "id", Seq(9999L)).count() == 0L)
    // multi-key lookup unions the surviving partitions, rows exact
    assert(st.readKeyLookup(t.schema, "id", Seq(1L, 2L, 9999L)).collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
    // no sidecar for a fresh batch => no pruning, never a wrong skip
    SnapshotMerge.upsertUpdate(spark, dir,
      Seq((300L, 300.0, 0L)).toDF("id", "v", "pk"), Seq("id"), Seq("pk"))
    assert(st.readKeyLookup(t.schema, "id", Seq(300L)).collect()
      .map(_.getLong(0)).toSeq == Seq(300L))
    // guards: non-integral-non-string and partition columns are refused
    assert(intercept[IllegalArgumentException] {
      st.writeBatchBloom(batch, t.schema, Seq("pk"), "v")
    }.getMessage.contains("integral or string"))
    assert(intercept[IllegalArgumentException] {
      st.writeBatchBloom(batch, t.schema, Seq("pk"), "pk")
    }.getMessage.contains("partition column"))
  }

  test("string-key and multi-column bloom sidecars: both columns prune, neither clobbers the other") {
    val dir = tmp("stats_bloom_str_")
    // bvid-shaped string key + an integral key on the same batch
    val t = (0L until 300L).map(i => (i, f"BV$i%06d", i % 3L))
      .toDF("id", "bvid", "pk")
    SnapshotMerge.upsertUpdate(spark, dir, t, Seq("id"), Seq("pk"))
    val st = store(dir)
    val batch = st.current().get._2.values.head
    st.writeBatchBloom(batch, t.schema, Seq("pk"), "id")
    st.writeBatchBloom(batch, t.schema, Seq("pk"), "bvid")
    // the second write must MERGE, not clobber: both columns prune
    val hitStr = st.readKeyLookupStr(t.schema, "bvid", Seq("BV000042"))
    val dirsStr = hitStr.inputFiles.map(_.replaceAll("/[^/]*$", "")).distinct.length
    assert(dirsStr < 3, s"string bloom pruned nothing: $dirsStr of 3")
    assert(hitStr.collect().map(_.getString(1)).toSeq == Seq("BV000042"))
    val hitInt = st.readKeyLookup(t.schema, "id", Seq(42L))
    val dirsInt = hitInt.inputFiles.map(_.replaceAll("/[^/]*$", "")).distinct.length
    assert(dirsInt < 3, s"integral bloom clobbered by the string write: $dirsInt of 3")
    assert(hitInt.collect().map(_.getLong(0)).toSeq == Seq(42L))
    // absent string keys: bloom contract, residual exactness
    assert(st.readKeyLookupStr(t.schema, "bvid", Seq("BV999999")).count() == 0L)
    // re-indexing the SAME column replaces its lines (no duplicates)
    st.writeBatchBloom(batch, t.schema, Seq("pk"), "bvid")
    def colLines(c: String): Seq[String] = scala.io.Source.fromFile(
      new java.io.File(s"$dir/stats/$batch.bloom.$c"))
      .getLines().filter(_.nonEmpty).toSeq
    assert(colLines("bvid").size == 3 && colLines("id").size == 3,
      "per-column sidecars must hold exactly one line per partition")
  }

  test("concurrent two-column bloom indexers never lose each other's sidecar (ADVICE r18)") {
    val dir = tmp("stats_bloom_race_")
    val t = (0L until 300L).map(i => (i, f"BV$i%06d", i % 3L))
      .toDF("id", "bvid", "pk")
    SnapshotMerge.upsertUpdate(spark, dir, t, Seq("id"), Seq("pk"))
    val st = store(dir)
    val batch = st.current().get._2.values.head
    // the combined-sidecar design lost this race (read-merge-rename:
    // last rename dropped the other column's lines); per-column files
    // make it impossible by construction — hammer it anyway
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      (0 until 3).foreach { _ =>
        val fa = pool.submit(new Runnable {
          def run(): Unit = st.writeBatchBloom(batch, t.schema, Seq("pk"), "id")
        })
        val fb = pool.submit(new Runnable {
          def run(): Unit = st.writeBatchBloom(batch, t.schema, Seq("pk"), "bvid")
        })
        fa.get(); fb.get()
        val hitInt = st.readKeyLookup(t.schema, "id", Seq(42L))
        val hitStr = st.readKeyLookupStr(t.schema, "bvid", Seq("BV000042"))
        def dirs(files: Array[String]) =
          files.map(_.replaceAll("/[^/]*$", "")).distinct.length
        assert(dirs(hitInt.inputFiles) < 3 && dirs(hitStr.inputFiles) < 3,
          "both columns must keep pruning after every concurrent round")
      }
    } finally pool.shutdownNow()
  }

  test("legacy combined .bloom sidecar still prunes; per-column file wins on conflict") {
    val dir = tmp("stats_bloom_legacy_")
    val t = (0L until 300L).map(i => (i, i % 3L)).toDF("id", "pk")
    SnapshotMerge.upsertUpdate(spark, dir, t, Seq("id"), Seq("pk"))
    val st = store(dir)
    val batch = st.current().get._2.values.head
    // write the per-column sidecar, then move it to the LEGACY
    // combined name — exactly what a pre-r19 build left on disk
    st.writeBatchBloom(batch, t.schema, Seq("pk"), "id")
    val src = java.nio.file.Paths.get(s"$dir/stats/$batch.bloom.id")
    java.nio.file.Files.move(src,
      java.nio.file.Paths.get(s"$dir/stats/$batch.bloom"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/stats/.$batch.bloom.id.crc"))
    val hit = st.readKeyLookup(t.schema, "id", Seq(42L))
    assert(hit.inputFiles.map(_.replaceAll("/[^/]*$", "")).distinct.length < 3,
      "the legacy combined sidecar must keep pruning")
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(42L))
  }
}
