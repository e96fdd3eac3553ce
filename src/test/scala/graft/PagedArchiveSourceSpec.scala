package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.functions._
import graft.sources.v2.{ArchiveRecord, PageFetcher, PagedArchiveSource}

/** Synthetic page server for the S4 source. Three creators, each with
  * 70 records at pubdates 1000..70000 step 1000, served newest-first
  * in pages of `pageSize` — the shape of the reference's paginated
  * listing (`bilibili/video.py:83-97`). Every `fetch` records its
  * (key, page) so specs can assert which pages were actually pulled.
  */
class SyntheticFetcher extends PageFetcher {
  import SyntheticFetcher._
  override def keys(): Seq[Long] = Seq(101L, 102L, 103L)
  override def fetch(key: Long, pn: Int, pageSize: Int): Seq[ArchiveRecord] = {
    pages.put((key, pn), true)
    all(key).slice((pn - 1) * pageSize, pn * pageSize)
  }
}

object SyntheticFetcher {
  // The SET of (key, page) pairs ever fetched — deliberately a set,
  // not a counter: it is stable under Spark task retries/speculation
  // (a retry refetches the SAME pages), so the must-not-fetch
  // assertions below can be exact without flaking.
  val pages = new ConcurrentHashMap[(Long, Int), Boolean]()
  def reset(): Unit = pages.clear()
  def pagesFetched: Set[(Long, Int)] = {
    import scala.jdk.CollectionConverters._
    pages.keySet.asScala.toSet
  }

  /** 70 records per key, pubdate descending (70000 down to 1000). */
  def all(key: Long): Seq[ArchiveRecord] =
    (70 to 1 by -1).map(i => ArchiveRecord(s"BV${key}_$i", s"title $i", i * 1000L))
}

/** Single-key page server whose listing grows between streaming
  * runs — the upstream a long-lived discovery stream watches.
  */
class GrowingFetcher extends PageFetcher {
  import GrowingFetcher._
  override def keys(): Seq[Long] = Seq(7L)
  override def fetch(key: Long, pn: Int, pageSize: Int): Seq[ArchiveRecord] = {
    pages.put((key, pn, pageSize), true)
    records.map(t => ArchiveRecord(s"BV$t", s"t$t", t))
      .slice((pn - 1) * pageSize, pn * pageSize)
  }
}

object GrowingFetcher {
  @volatile var records: Seq[Long] = Nil // pubdates, newest first
  val pages = new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Boolean]()
}

/** S4: the paginated-REST source with watermark early-stop and
  * short-page termination (reference `bilibili/video.py:84-100`,
  * `bilibililocal.py:92-102`). The analytic semantics are the S5
  * anchor filter already oracle-checked as `incr_anchor_scan`; these
  * specs pin the SOURCE behavior: what comes out, and — the point of
  * the early-stop — which pages are never fetched at all.
  */
class PagedArchiveSourceSpec extends SparkFunSuite {

  private def read(anchors: String) = {
    val r = spark.read.format("paged-archives")
      .option("fetcher", classOf[SyntheticFetcher].getName)
      .option("pageSize", 30)
    (if (anchors.isEmpty) r else r.option("anchors", anchors)).load()
  }

  test("full scan: all pages, short-page termination ends each walk") {
    SyntheticFetcher.reset()
    val rows = read("").collect()
    assert(rows.length == 3 * 70)
    // 70 records at pageSize 30 => pages of 30/30/10; the 10-record
    // short page terminates the walk with no 4th probe fetch.
    assert(SyntheticFetcher.pagesFetched ==
      (for (k <- Seq(101L, 102L, 103L); pn <- 1 to 3) yield (k, pn)).toSet)
  }

  test("watermark early-stop skips already-ingested pages") {
    SyntheticFetcher.reset()
    // anchor 55000 for key 101: records 56000..70000 are new (15 rows,
    // all on page 1) — pages 2 and 3 must never be fetched.
    val rows = read("101:55000").collect()
    val fetched = SyntheticFetcher.pagesFetched
    assert(fetched.filter(_._1 == 101L) == Set((101L, 1)))
    assert(fetched.filter(_._1 == 102L) == Set((102L, 1), (102L, 2), (102L, 3)))
    val k101 = rows.filter(_.getLong(0) == 101L)
    assert(k101.length == 15)
    assert(k101.forall(_.getLong(3) > 55000L))
  }

  test("anchor at the newest record costs exactly one page per key") {
    SyntheticFetcher.reset()
    val rows = read("101:70000,102:70000,103:70000").collect()
    assert(rows.isEmpty)
    assert(SyntheticFetcher.pagesFetched ==
      Set((101L, 1), (102L, 1), (103L, 1)))
  }

  test("output equals the S5 anchor-filter semantics on the full listing") {
    import spark.implicits._
    SyntheticFetcher.reset()
    val anchors = Map(101L -> 55000L, 102L -> 12000L) // 103 unanchored
    val got = read("101:55000,102:12000")
      .select("mid", "bvid", "pubdate").as[(Long, String, Long)].collect().toSet
    // oracle: filter the full synthetic listing the incr_anchor_scan way
    val expect = (for {
      k <- Seq(101L, 102L, 103L)
      r <- SyntheticFetcher.all(k)
      if r.pubdate > anchors.getOrElse(k, Long.MinValue)
    } yield (k, r.bvid, r.pubdate)).toSet
    assert(got == expect)
  }

  test("column pruning reaches the reader") {
    val pruned = read("").select("mid", "pubdate")
    assert(pruned.queryExecution.optimizedPlan.schema.fieldNames
      .sameElements(Array("mid", "pubdate")))
    assert(pruned.where(col("pubdate") > 69000L).count() == 3)
  }

  test("one input partition per scan key — the parallel axis is keys") {
    val scan = read("").queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scan.isDefined)
    assert(scan.get.inputRDD.getNumPartitions == 3)
  }

  // ---- filter pushdown --------------------------------------------------

  private def batchScan(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get

  test("pushed pubdate predicate drives the early-stop — pages pruned, not post-filtered") {
    SyntheticFetcher.reset()
    // the natural spelling: a plain .where, no anchors option
    val df = read("").where(col("pubdate") > 55000L)
    assert(batchScan(df).scan.description().contains("pushedAnchor=55000"))
    val rows = df.collect()
    assert(rows.length == 3 * 15 && rows.forall(_.getLong(3) > 55000L))
    // the predicate reached the page walk: only page 1 of each key
    assert(SyntheticFetcher.pagesFetched ==
      Set((101L, 1), (102L, 1), (103L, 1)))
    // and it matches the anchors-option spelling exactly
    val viaOption = read("101:55000,102:55000,103:55000").collect()
    assert(rows.map(_.toSeq).toSet == viaOption.map(_.toSeq).toSet)
  }

  test("pubdate >= pushes as anchor value-1; mid IN prunes scan keys") {
    SyntheticFetcher.reset()
    val df = read("").where(col("mid").isin(101L, 103L) && col("pubdate") >= 69000L)
    val rows = df.collect()
    assert(rows.length == 2 * 2) // 69000 and 70000 per kept key
    assert(batchScan(df).inputRDD.getNumPartitions == 2,
      "pruned keys must not get input partitions")
    assert(SyntheticFetcher.pagesFetched == Set((101L, 1), (103L, 1)),
      "pruned key 102 must never be fetched")
  }

  test("pushed anchor merges with per-key option anchors — max wins") {
    SyntheticFetcher.reset()
    val rows = read("101:60000").where(col("pubdate") > 55000L).collect()
    assert(rows.filter(_.getLong(0) == 101L).length == 10) // 61000..70000
    assert(rows.filter(_.getLong(0) == 102L).length == 15) // 56000..70000
    assert(SyntheticFetcher.pagesFetched ==
      Set((101L, 1), (102L, 1), (103L, 1)))
  }

  test("mid equality prunes to a single key partition") {
    SyntheticFetcher.reset()
    val df = read("").where(col("mid") === 102L)
    assert(df.count() == 70)
    assert(batchScan(df).inputRDD.getNumPartitions == 1)
    assert(SyntheticFetcher.pagesFetched.forall(_._1 == 102L))
  }

  test("two-sided backfill: window skipped, limit caps the history dig, new side uncapped") {
    SyntheticFetcher.reset()
    // already ingested: [30000, 55000]. ALL 15 new records (>55000)
    // emit without touching the limit — capping them would lose
    // uploads forever (they'd land inside the next run's window).
    // The backfill side (<30000, page 2 downward) counts: 5 records
    // reach the limit at 25000, so page 3 is never fetched.
    val rows = spark.read.format("paged-archives")
      .option("fetcher", classOf[SyntheticFetcher].getName)
      .option("pageSize", 30)
      .option("keys", "101")
      .option("bounds", "101:55000:30000")
      .option("limitPerKey", 5)
      .load().collect()
    assert(rows.length == 15 + 5)
    val pubdates = rows.map(_.getLong(3)).toSet
    assert(pubdates == ((56 to 70) ++ (25 to 29)).map(_ * 1000L).toSet)
    assert(SyntheticFetcher.pagesFetched == Set((101L, 1), (101L, 2)),
      "limit must stop the page walk before page 3")
  }

  test("in backfill mode a pubdate predicate stays a residual filter, not an anchor") {
    SyntheticFetcher.reset()
    // were 'pubdate > 60000' consumed as an anchor, the backfill
    // records below 30000 would be silently dropped from the FETCH;
    // were it consumed and ignored, rows <= 60000 would leak through.
    // As a residual it must simply filter the emitted rows.
    val rows = spark.read.format("paged-archives")
      .option("fetcher", classOf[SyntheticFetcher].getName)
      .option("pageSize", 30)
      .option("keys", "101")
      .option("bounds", "101:55000:30000")
      .load()
      .where(col("pubdate") > 60000L)
      .collect()
    assert(rows.map(_.getLong(3)).toSet == (61 to 70).map(_ * 1000L).toSet)
  }

  test("two-sided backfill without a limit drains everything outside the window") {
    SyntheticFetcher.reset()
    val rows = spark.read.format("paged-archives")
      .option("fetcher", classOf[SyntheticFetcher].getName)
      .option("pageSize", 30)
      .option("keys", "101")
      .option("bounds", "101:55000:30000")
      .load().collect()
    assert(rows.length == 15 + 29) // 56000..70000 and 1000..29000
    assert(rows.forall(r =>
      r.getLong(3) > 55000L || r.getLong(3) < 30000L))
  }

  test("streaming: checkpointed per-key anchors deliver each record exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("paged_stream")
    val ckpt = root.resolve("ckpt").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    def drain(): Unit = {
      val q = spark.readStream.format("paged-archives")
        .option("fetcher", classOf[GrowingFetcher].getName)
        .option("pageSize", 2)
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r =>
            got.add((r.getLong(0), r.getString(1), r.getLong(3))))
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    GrowingFetcher.records = Seq(3000L, 2000L, 1000L)
    drain()
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet ==
      Set((7L, "BV3000", 3000L), (7L, "BV2000", 2000L), (7L, "BV1000", 1000L)))

    // nothing new: a drained re-run delivers nothing and fetches only
    // the newest-record probe + nothing past the anchor
    got.clear(); GrowingFetcher.pages.clear()
    drain()
    assert(got.isEmpty, "no new uploads => empty batch")

    // two new uploads: only they arrive (offsets advanced past 3000)
    GrowingFetcher.records = Seq(5000L, 4000L) ++ GrowingFetcher.records
    got.clear()
    drain()
    assert(got.asScala.toSet ==
      Set((7L, "BV5000", 5000L), (7L, "BV4000", 4000L)),
      s"exactly the new uploads must arrive, got ${got.asScala.toSet}")
  }

  test("keys option overrides the driver-side fetcher key list") {
    SyntheticFetcher.reset()
    val df = spark.read.format("paged-archives")
      .option("fetcher", classOf[SyntheticFetcher].getName)
      .option("pageSize", 30)
      .option("keys", "103")
      .load()
    assert(df.count() == 70)
    assert(SyntheticFetcher.pagesFetched.forall(_._1 == 103L))
  }
}
