package perfbench

import java.nio.file.Path

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sinks.{SnapshotMerge, SnapshotStore}

/** warehouse_rw: small reads and writes on one bucketed snapshot table,
  * replayed from the generated op script. Every read is compared with an
  * in-memory model of the table at the version it reads.
  */
final class WarehouseRw(spark: SparkSession, tracer: Tracer, inputs: Path, work: Path,
    run: Run) extends Workload {
  import Harness._

  private type Model = Map[Long, (Double, Long, String)]
  private val in = inputs.resolve("warehouse")
  private val script = readJson(in.resolve("ops.json"))
  private val buckets = script.get("buckets").asLong
  private val rounds = elems(script.get("rounds")).map(r => elems(r)).toIndexedSeq
  private val base: Model = elems(readJson(in.resolve("base.json"))).map(n =>
    n.get("k").asLong -> ((n.get("price").asDouble, n.get("qty").asLong, n.get("tag").asText))).toMap

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("price", DoubleType),
    StructField("qty", LongType), StructField("tag", StringType),
    StructField("b", LongType)))
  private val keys = Seq("k")
  private val parts = Seq("b")
  private val stats = Seq("price")
  private val MaxBatches = 4

  private val history: Seq[Model] = elems(readJson(in.resolve("history.json"))).map(b =>
    elems(b).map(n => n.get("k").asLong ->
      ((n.get("price").asDouble, n.get("qty").asLong, n.get("tag").asText))).toMap)

  private var root: String = _
  private var store: SnapshotStore = _
  private var model: Model = Map.empty
  private var byVersion = Map.empty[Long, Model]
  private var next = 0

  private def bucket(k: Long) = java.lang.Math.floorMod(k, buckets)
  private def rows(m: Iterable[(Long, (Double, Long, String))]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(m.map { case (k, (p, q, t)) => Row(k, p, q, t, bucket(k)) }.toSeq, 1),
      schema)
  private def version(): Long = store.currentVersion().getOrElse(0L)
  private def committed(): Unit = byVersion += version() -> model

  val stepSeconds = 12.0

  def setup(round: Int): Unit = {
    val dir = fresh(work.resolve(s"warehouse-$round"))
    root = dir.resolve("table").toString
    store = new SnapshotStore(spark, new HPath(root))
    model = base
    byVersion = Map.empty
    tracer.span("sinks", "upsert")(Writes.upsert(spark, root, rows(base), keys, parts, stats))
    tracer.span("sinks", "index")(Writes.index(store, schema, parts, "k"))
    committed()
    // a few versions of history, so time-travel and change-feed reads
    // always have their target version from the first round on
    history.foreach { rs =>
      tracer.span("sinks", "upsert")(Writes.upsert(spark, root, rows(rs), keys, parts, stats))
      model ++= rs
      committed()
    }
    next = 0
  }

  private var written = 0L
  private var userBytes = 0L
  private var commits = 0L
  private var compactBytes = 0L
  private var resolveS = 0.0
  private val lookupFiles = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val pruneShare = scala.collection.mutable.ArrayBuffer.empty[Double]

  override def beginPhase(): Unit = {
    written = 0; userBytes = 0; commits = 0; compactBytes = 0
    resolveS = 0; lookupFiles.clear(); pruneShare.clear()
  }

  private def cents(p: Double) = math.round(p * 100)
  private def summary(m: Model): (Long, Long, Long) =
    (m.size.toLong, m.values.map(_._2).sum, m.values.map(v => cents(v._1)).sum)
  private def summarize(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum("qty"), lit(0L)),
      coalesce(sum(round(col("price") * 100).cast("long")), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
  private def asModel(rs: Array[Row]): Model =
    rs.map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getString(3)))).toMap
  private def rowBytes(t: String) = 8L + 8L + 8L + t.length + 8L

  /** One round of the script: the same mix of op kinds in every round. */
  def step(loop: Loop): Unit = {
    if (next >= rounds.size) throw new IllegalStateException("generated rounds exhausted")
    rounds(next).foreach(o => op(loop, o))
    next += 1
  }

  private def op(loop: Loop, o: com.fasterxml.jackson.databind.JsonNode): Unit = {
    val kind = o.get("op").asText
    if (tracer.active && Set("lookup", "range", "scan", "time_travel", "changes")(kind))
      loop.untimed { resolveS += timed(store.resolveCurrent())._2 }
    kind match {
      case "lookup" =>
        val ks = elems(o.get("keys")).map(_.asLong)
        loop.op(kind, "read")(tracer.span("sinks", "readKeyLookup") {
          store.readKeyLookup(schema, "k", ks).select("k", "price", "qty", "tag").collect()
        }).foreach(rs => loop.untimed {
          if (tracer.active) lookupFiles += store.readKeyLookup(schema, "k", ks).inputFiles.length
          val want = ks.flatMap(k => model.get(k).map(k -> _)).toMap
          if (asModel(rs) != want) loop.failLast(s"lookup $ks returned ${rs.length} rows, model has ${want.size}")
        })
      case "range" =>
        val (lo, hi) = (o.get("lo").asDouble, o.get("hi").asDouble)
        loop.op(kind, "read")(tracer.span("sinks", "readRange") {
          store.readRange(schema, "price", lo, hi).select("k", "price", "qty", "tag").collect()
        }).foreach(rs => loop.untimed {
          if (tracer.active) {
            val all = SnapshotMerge.read(spark, root, schema).inputFiles.length
            val kept = store.readRange(schema, "price", lo, hi).inputFiles.length
            pruneShare += (if (all > 0) 1.0 - kept.toDouble / all else 0.0)
          }
          val want = model.filter { case (_, (p, _, _)) => p >= lo && p <= hi }
          if (asModel(rs) != want) loop.failLast(s"range [$lo, $hi] returned ${rs.length} rows, model has ${want.size}")
        })
      case "scan" =>
        loop.op(kind, "read")(tracer.span("sinks", "read") {
          summarize(SnapshotMerge.read(spark, root, schema))
        }).foreach(got => loop.untimed {
          if (got != summary(model)) loop.failLast(s"scan gave $got, model ${summary(model)}")
        })
      case "time_travel" =>
        val v = version() - o.get("back").asLong
        byVersion.get(v).foreach { m =>
          loop.op(kind, "read")(tracer.span("sinks", "readAt")(summarize(store.readAt(v, schema))))
            .foreach(got => loop.untimed {
              if (got != summary(m)) loop.failLast(s"readAt($v) gave $got, model ${summary(m)}")
            })
        }
      case "changes" =>
        val to = version()
        val from = to - o.get("back").asLong
        byVersion.get(from).foreach { old =>
          loop.op(kind, "read")(tracer.span("sinks", "readChangesBetween") {
            store.readChangesBetween(from, to, schema, keys).select("k", "_change").collect()
          }).foreach(rs => loop.untimed {
            val got = rs.map(r => r.getLong(0) -> r.getString(1)).toSet
            val want = (old.keySet ++ model.keySet).flatMap { k =>
              (old.get(k), model.get(k)) match {
                case (None, Some(_)) => Some(k -> "insert")
                case (Some(_), None) => Some(k -> "delete")
                case (Some(a), Some(b)) if a != b => Some(k -> "update")
                case _ => None
              }
            }
            if (got != want) loop.failLast(s"changes $from..$to gave ${got.size} rows, model ${want.size}")
          })
        }
      case "upsert" =>
        val rs = elems(o.get("rows")).map(n => n.get("k").asLong ->
          ((n.get("price").asDouble, n.get("qty").asLong, n.get("tag").asText))).toMap
        write(loop, kind, rs.values.map(v => rowBytes(v._3)).sum) {
          Writes.upsert(spark, root, rows(rs), keys, parts, stats)
        } { model ++= rs }
      case "patch" =>
        val rs = elems(o.get("rows")).map(n => n.get("k").asLong -> n.get("price").asDouble)
          .filter(r => model.contains(r._1)).toMap
        if (rs.nonEmpty) {
          val df = spark.createDataFrame(spark.sparkContext.parallelize(
            rs.toSeq.map { case (k, p) => Row(k, p, bucket(k)) }, 1),
            StructType(Seq(schema("k"), schema("price"), schema("b"))))
          write(loop, kind, rs.size * 24L) {
            Writes.patch(spark, root, df, keys, parts, Seq("price"))
          } { model ++= rs.map { case (k, p) => k -> model(k).copy(_1 = p) } }
        }
      case "delete" =>
        val (lo, hi) = (o.get("lo").asLong, o.get("hi").asLong)
        val gone = model.keySet.filter(k => k >= lo && k <= hi)
        write(loop, kind, gone.size * 8L) {
          val n = Writes.delete(spark, root, schema, col("k").between(lo, hi))
          if (n != gone.size) throw new IllegalStateException(s"deleteWhere removed $n rows, model ${gone.size}")
        } { model --= gone }
      case "compact" =>
        write(loop, kind, 0L)(Writes.compact(store, schema, parts, MaxBatches, stats))(())
    }
  }

  /** A write op: run it, account bytes and commits, advance the model. */
  private def write(loop: Loop, kind: String, user: Long)(body: => Unit)(apply: => Unit): Unit = {
    val (before, v0) = loop.untimed((files(rootPath), version()))
    val ok = loop.op(kind, "write")(tracer.span("sinks", kind)(body)).isDefined
    loop.untimed {
      val fresh = files(rootPath).collect { case (p, s) if !before.contains(p) => s }.sum
      written += fresh
      if (kind == "compact") compactBytes += fresh
      userBytes += user
      commits += version() - v0
      if (ok) { apply; committed() }
    }
  }
  private def rootPath = java.nio.file.Paths.get(root)

  def finish(loop: Loop): Unit = {
    val got = summarize(SnapshotMerge.read(spark, root, schema))
    if (got != summary(model)) run.fail(s"final table $got differs from model ${summary(model)}")
    val live = model.values.map(v => rowBytes(v._3)).sum.toDouble
    run.layers("sinks.writes") = loop.countKind("write")
    def opSeconds(p: Op => Boolean) = run.ops.filter(p).map(_.seconds).sum
    run.layers("sinks.write_s") = opSeconds(_.kind == "write")
    run.layers("sinks.commits") = commits.toDouble
    run.layers("sinks.resolve_s") = resolveS
    run.layers("sinks.compaction_s") = opSeconds(_.name == "compact")
    run.layers("sinks.compaction_rewrite_mb") = compactBytes / 1048576.0
    run.layers("sinks.user_mb") = userBytes / 1048576.0
    run.layers("sinks.written_mb") = written / 1048576.0
    run.layers("sinks.write_amp") = if (userBytes > 0) written.toDouble / userBytes else 0.0
    run.layers("sinks.space_amp") = dirBytes(rootPath) / live
    run.layers("sinks.manifest_kb") = manifestKb(root)
    run.layers("sinks.files_live") = SnapshotMerge.read(spark, root, schema).inputFiles.length
    run.layers("sinks.files_per_lookup") = median(lookupFiles.toSeq)
    run.layers("sinks.range_prune_share") = median(pruneShare.toSeq)
  }
}
