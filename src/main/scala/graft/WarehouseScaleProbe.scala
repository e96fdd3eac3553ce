package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** 100×-file-count probe for the warehouse READ paths (VERDICT r15
  * #7): proves the metadata pruning behind `k2_snapshot_skip` /
  * `k2_snapshot_zorder` still prunes — and still costs metadata, not
  * data — when the stats sidecar itself is large. Not part of the
  * driver contract; results land in NOTES_r16.
  *
  * Two axes, mirroring the two catalog rows:
  *   - PARTITION-BAND pruning (`readRange`): the same orders-derived
  *     table built at `pk % N` for N = 8 vs 512 partitions (64× the
  *     manifest/stats rows), reading one narrow price band. Reported:
  *     build s, read s, scan-input files vs total files, rows.
  *   - FILE-BAND pruning (`readBoxFiles` after `compactZOrder`): the
  *     lineitem-derived table Z-ordered at maxRecordsPerFile tuned to
  *     produce ~60 vs ~6000 files, reading one 2-D box. Same report.
  *
  * The claim under test is NOT that more files read faster — it is
  * that (a) the SELECTED-file fraction tracks band selectivity at any
  * file count (pruning never degrades to list-the-world), and (b) the
  * prune decision stays a sidecar-sized driver computation, so read
  * wall grows with data actually read, not with table file count.
  *
  * Usage: `runMain graft.WarehouseScaleProbe <sfDir> <parts1,parts2,…>`
  */
object WarehouseScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val partCounts = args(1).split(",").map(_.trim.toInt).toSeq
    val spark = Sessions.local(Sessions.cpus)

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val out = scala.collection.mutable.ArrayBuffer.empty[String]

    // --- partition-band pruning at growing partition counts ---
    // pk is PRICE-BUCKETED (ingest-clustered data — the regime
    // stats-skipping exists for; a key-hash pk leaves every
    // partition's price band spanning the whole domain, where NO
    // sidecar can prune and the probe would only measure full-scan
    // cost). The read is still BY VALUE through the sidecar — the
    // reader never sees the bucketing rule.
    partCounts.foreach { n =>
      val o = Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
          least(floor(col("o_totalprice") / (600000.0 / n)), lit(n - 1L))
            .cast("long").as("pk"))
      Scratch.dir(s"graft_wsp_$n") { d =>
        val base = d.resolve("t").toString
        val (_, buildS) = timed {
          graft.sinks.SnapshotMerge.upsertUpdate(spark, base, o,
            Seq("o_orderkey"), Seq("pk"), statsCols = Seq("o_totalprice"))
        }
        val store = new graft.sinks.SnapshotStore(spark, new Path(base))
        val all = store.readPartitions(o.schema, null).inputFiles.length
        val (got, readS) = timed {
          val df = store.readRange(o.schema, "o_totalprice", 50000.0, 60000.0)
          (df.inputFiles.length, df.count())
        }
        out += s"""{"probe":"range","parts":$n,"build_s":${f(buildS)},""" +
          s""""read_s":${f(readS)},"files_total":$all,"files_read":${got._1},""" +
          s""""rows":${got._2}}"""
      }
    }

    // --- file-band pruning (Z-order) at growing file counts ---
    Seq(4000L, 40L).foreach { maxRec =>
      val li = Tables.load(spark, dir, "lineitem")
        .where(col("l_orderkey") % 3 === 1)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          pmod(col("l_orderkey"), lit(4L)).as("pk"))
        .distinct()
      Scratch.dir(s"graft_wspz_$maxRec") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertUpdate(spark, base, li,
          Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"), Seq("pk"))
        val store = new graft.sinks.SnapshotStore(spark, new Path(base))
        val (_, zS) = timed {
          store.compactZOrder(li.schema, Seq("pk"),
            Seq("l_partkey", "l_suppkey"), maxRecordsPerFile = maxRec)
        }
        val all = store.readPartitions(li.schema, null).inputFiles.length
        val (got, readS) = timed {
          val df = store.readBoxFiles(li.schema,
            Seq(("l_partkey", 500.0, 700.0), ("l_suppkey", 50.0, 80.0)))
          (df.inputFiles.length, df.count())
        }
        out += s"""{"probe":"zorder_box","max_rec":$maxRec,"zorder_s":${f(zS)},""" +
          s""""read_s":${f(readS)},"files_total":$all,"files_read":${got._1},""" +
          s""""rows":${got._2}}"""
      }
    }

    // --- deletion-vector read overhead at high file count (r17) ---
    // The claim: a sparse delete's read cost is anti-join-sized (the
    // DV side is tombstone-count rows), not table-sized — full-scan
    // wall before vs after tombstoning ~1% of rows should be close,
    // and the pruned band read stays pruned.
    {
      val o = Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
          least(floor(col("o_totalprice") / (600000.0 / 512)), lit(511L))
            .cast("long").as("pk"))
      Scratch.dir("graft_wspdv") { d =>
        val base = d.resolve("t").toString
        graft.sinks.SnapshotMerge.upsertUpdate(spark, base, o,
          Seq("o_orderkey"), Seq("pk"), statsCols = Seq("o_totalprice"))
        val store = new graft.sinks.SnapshotStore(spark, new Path(base))
        def scanAll(): (Long, Double) = timed(store.read(o.schema).count())
        val (n0, before) = scanAll()
        val (nDel, delS) = timed(store.deleteWhere(o.schema,
          col("o_orderkey") % 97 === 0))
        val (n1, after) = scanAll()
        val (band, bandS) = timed {
          val df = store.readRange(o.schema, "o_totalprice", 50000.0, 60000.0)
          // count DATA files only: inputFiles also lists the
          // deletion-vector sidecar parquet the anti-join reads, which
          // would overstate the "pruned band read stays pruned" metric
          // (ADVICE r17)
          val dataPrefix = new Path(base, "data").toUri.getPath
          (df.inputFiles.count(f =>
            new java.net.URI(f).getPath.startsWith(dataPrefix)), df.count())
        }
        out += s"""{"probe":"dv_read","rows":$n0,"tombstoned":$nDel,""" +
          s""""delete_s":${f(delS)},"scan_before_s":${f(before)},""" +
          s""""scan_after_s":${f(after)},"rows_after":$n1,""" +
          s""""band_files_read":${band._1},"band_rows":${band._2},""" +
          s""""band_s":${f(bandS)}}"""
      }
    }

    // --- MoR vs CoW write amplification (r18) --------------------
    // The claim upsertMor exists for: a small per-cycle update batch
    // against a large partitioned table stages bytes proportional to
    // the BATCH under merge-on-read vs proportional to the TOUCHED
    // PARTITIONS under copy-on-write. Three cron-shaped cycles
    // (~0.5% of keys, spread over every partition — the worst CoW
    // case and the reference's actual update shape) on two tables
    // seeded identically; per-cycle staged bytes = the new batch
    // dir's size, read back from the manifest the commit recorded.
    {
      // SPARK_GRAFT_MOR_CYCLES deepens the slice-depth curve (default
      // 3 — the per-round record; 10+ shows the read-latency growth
      // the compactSlices autopilot exists to reset)
      val nCycles = sys.env.getOrElse("SPARK_GRAFT_MOR_CYCLES", "3").toInt
      val o = Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
          pmod(col("o_orderkey"), lit(32L)).as("pk"))
      def cycle(i: Int) = o.where(col("o_orderkey") % 211 === i)
        .select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)")
            + lit(i).cast("decimal(18,2)")).cast("double").as("o_totalprice"),
          lit("U").as("o_orderstatus"), col("pk"))
      def newBatchBytes(store: graft.sinks.SnapshotStore,
          before: Set[String]): Long = {
        val (_, entries, _, mors) = store.currentResolved().get
        (entries.values.toSeq ++ mors.map(_._2))
          .filter(e => !before.contains(e.batch)).map(_.bytes).sum
      }
      def run(mor: Boolean): (Double, Seq[Long], Seq[Double], Double) = {
        Scratch.dir(s"graft_wsp_mor_$mor") { d =>
          val base = d.resolve("t").toString
          graft.sinks.SnapshotMerge.upsertUpdate(spark, base, o,
            Seq("o_orderkey"), Seq("pk"))
          val store = new graft.sinks.SnapshotStore(spark, new Path(base))
          val bytes = scala.collection.mutable.ArrayBuffer.empty[Long]
          val readS = scala.collection.mutable.ArrayBuffer.empty[Double]
          val (_, s) = timed {
            (0 until nCycles).foreach { i =>
              val before = store.currentResolved().get match {
                case (_, e, _, m) => e.values.map(_.batch).toSet ++ m.map(_._2.batch)
              }
              if (mor) graft.sinks.SnapshotMerge.upsertMor(spark, base,
                cycle(i), Seq("o_orderkey"), Seq("pk"), retain = 8)
              else graft.sinks.SnapshotMerge.upsertUpdate(spark, base,
                cycle(i), Seq("o_orderkey"), Seq("pk"), retain = 8)
              bytes += newBatchBytes(store, before)
            }
          }
          // READ DEPTH: full-scan latency as slice depth (or batch
          // fan-out) accumulates — what the reader pays for MoR's cheap
          // writes until the autopilot folds
          (0 until 3).foreach { _ =>
            val (_, rs) = timed(store.read(o.schema).count())
            readS += rs
          }
          // pure updates of existing keys: the row count must not move
          val n = graft.sinks.SnapshotMerge.read(spark, base, o.schema).count()
          require(n == o.count(), s"row count drifted: $n vs ${o.count()}")
          // the autopilot: fold slice-hot partitions, read again
          val (_, foldReadS) = timed {
            store.compactSlices(o.schema, Seq("pk"), maxSlices = 2)
            store.read(o.schema).count()
          }
          (s, bytes.toSeq, readS.toSeq, foldReadS)
        }
      }
      val (cowS, cowB, cowR, cowFR) = run(mor = false)
      val (morS, morB, morR, morFR) = run(mor = true)
      out += s"""{"probe":"mor_write","cycles":$nCycles,""" +
        s""""cow_s":${f(cowS)},"mor_s":${f(morS)},""" +
        s""""cow_staged_bytes":[${cowB.mkString(",")}],""" +
        s""""mor_staged_bytes":[${morB.mkString(",")}],""" +
        s""""cow_read_s":[${cowR.map(f).mkString(",")}],""" +
        s""""mor_read_s":[${morR.map(f).mkString(",")}],""" +
        s""""cow_fold_read_s":${f(cowFR)},"mor_fold_read_s":${f(morFR)}}"""
    }

    // --- COLUMN-SPARSE MoR write amplification (r19) --------------
    // The next rung: on a WIDE table (12 payload columns) whose cron
    // cycle changes ONE column, a full-row #mor slice stages the
    // whole width per updated key; upsertMorSparse stages only
    // key+partition+changed — staged bytes should drop by roughly
    // the width fraction while reads stay equal after resolution.
    {
      val nCycles = sys.env.getOrElse("SPARK_GRAFT_MOR_CYCLES", "3").toInt
      val oBase = Tables.load(spark, dir, "orders")
      val payload = (1 to 12).map(j =>
        concat(col("o_orderdate").cast("string"), lit(s"#payload-column-$j"),
          col("o_orderstatus")).as(s"p$j"))
      val o = oBase.select(Seq(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(32L)).as("pk"),
        col("o_totalprice").as("p0")) ++ payload: _*)
      def cycle(i: Int) = o.where(col("o_orderkey") % 211 === i)
        .withColumn("p0", (col("p0").cast("decimal(18,2)")
          + lit(i).cast("decimal(18,2)")).cast("double"))
      def run(sparse: Boolean): (Double, Seq[Long], Double) = {
        Scratch.dir(s"graft_wsp_smor_$sparse") { d =>
          val base = d.resolve("t").toString
          graft.sinks.SnapshotMerge.upsertUpdate(spark, base, o,
            Seq("o_orderkey"), Seq("pk"))
          val store = new graft.sinks.SnapshotStore(spark, new Path(base))
          val bytes = scala.collection.mutable.ArrayBuffer.empty[Long]
          val (_, s) = timed {
            (0 until nCycles).foreach { i =>
              val before = {
                val cur = store.resolveCurrent().get
                cur.entries.values.map(_.batch).toSet ++
                  cur.mors.map(_._2.batch) ++ cur.smors.map(_.batch)
              }
              if (sparse) graft.sinks.SnapshotMerge.upsertMorSparse(spark, base,
                cycle(i), Seq("o_orderkey"), Seq("pk"), Seq("p0"), retain = 8)
              else graft.sinks.SnapshotMerge.upsertMor(spark, base,
                cycle(i), Seq("o_orderkey"), Seq("pk"), retain = 8)
              val cur = store.resolveCurrent().get
              bytes += (cur.entries.values.toSeq ++ cur.mors.map(_._2))
                .filter(e => !before.contains(e.batch)).map(_.bytes).sum +
                cur.smors.filter(m => !before.contains(m.batch)).map(_.bytes).sum
            }
          }
          val (n, readS) = timed(store.read(o.schema).count())
          require(n == o.count(), s"row count drifted: $n vs ${o.count()}")
          (s, bytes.toSeq, readS)
        }
      }
      val (fullS, fullB, fullR) = run(sparse = false)
      val (spS, spB, spR) = run(sparse = true)
      out += s"""{"probe":"smor_write","cycles":$nCycles,"payload_cols":13,""" +
        s""""full_s":${f(fullS)},"sparse_s":${f(spS)},""" +
        s""""full_staged_bytes":[${fullB.mkString(",")}],""" +
        s""""sparse_staged_bytes":[${spB.mkString(",")}],""" +
        s""""full_read_s":${f(fullR)},"sparse_read_s":${f(spR)}}"""
    }

    // --- sparse-resolver SIGNATURE CARDINALITY (r20, VERDICT r19 #5) --
    // The one-join-per-SIGNATURE collapse is measured for the steady
    // state (1 signature at any depth) — this block probes MANY
    // DISTINCT signatures outstanding at once: K cycles each patching
    // a DIFFERENT updateCols set over the SAME key stripe (the harder
    // case — per-key chains force the per-column effective-version
    // gate to compose across every group). Claim under test: read
    // wall tracks K (one AQE-broadcast join per signature), never
    // K×depth, and the existing compactSlices fold flattens it back
    // to base cost — i.e. no separate signature-merge rung is needed
    // unless this curve inverts.
    {
      val oBase = Tables.load(spark, dir, "orders")
      val payload = (1 to 12).map(j =>
        concat(col("o_orderdate").cast("string"), lit(s"#payload-column-$j"),
          col("o_orderstatus")).as(s"p$j"))
      val o = oBase.select(Seq(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(32L)).as("pk"),
        col("o_totalprice").as("p0")) ++ payload: _*)
      // K distinct signatures: single columns first, then pairs — all
      // over the same hot stripe so every group hits the same keys
      def sigCols(i: Int): Seq[String] =
        if (i < 12) Seq(s"p${i + 1}")
        else Seq(s"p${(i - 12) % 12 + 1}", s"p${(i - 11) % 12 + 1}")
      sys.env.getOrElse("SPARK_GRAFT_SIG_COUNTS", "1,4,16")
        .split(",").map(_.trim.toInt).foreach { k =>
        Scratch.dir(s"graft_wsp_sig_$k") { d =>
          val base = d.resolve("t").toString
          graft.sinks.SnapshotMerge.upsertUpdate(spark, base, o,
            Seq("o_orderkey"), Seq("pk"))
          val store = new graft.sinks.SnapshotStore(spark, new Path(base))
          val (_, writeS) = timed {
            (0 until k).foreach { i =>
              val cols = sigCols(i)
              val patch = cols.foldLeft(
                o.where(col("o_orderkey") % 17 === 1)) { (d, c) =>
                d.withColumn(c, concat(lit(s"sig$i#"), col(c)))
              }
              graft.sinks.SnapshotMerge.upsertMorSparse(spark, base, patch,
                Seq("o_orderkey"), Seq("pk"), cols, retain = 8)
            }
          }
          val nSigs = store.resolveCurrent().get.smors
            .map(m => (m.keys, m.cols)).distinct.size
          val readS = (0 until 3).map { _ =>
            val (n, rs) = timed(store.read(o.schema).count())
            require(n == o.count(), s"row count drifted: $n vs ${o.count()}")
            rs
          }
          val (_, foldReadS) = timed {
            store.compactSlices(o.schema, Seq("pk"), maxSlices = 1)
            store.read(o.schema).count()
          }
          out += s"""{"probe":"smor_signatures","k":$k,"distinct_sigs":$nSigs,""" +
            s""""write_s":${f(writeS)},"read_s":[${readS.map(f).mkString(",")}],""" +
            s""""fold_read_s":${f(foldReadS)}}"""
        }
      }
    }

    println(out.mkString("[", ",", "]"))
    spark.stop()
  }

  private def f(v: Double): String =
    "%.2f".formatLocal(java.util.Locale.ROOT, v)
}
