package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.{JoinView, Snapshots, VectorIndex}

/** One client keeping a lakehouse table live: a snapshot store with
  * stats, bloom and vector sidecars, a small dimension store and a
  * join view over both. Each cycle is one round: append plus the
  * maintenance a stream sink runs, a keyed upsert with deletes, a
  * range delete, a range read, the round's change feed and a view
  * refresh. The range delete is copy-on-write: the bloom refresh
  * cannot yet run on a store holding merge-on-read deletion vectors
  * (it scans their files as data), see README.md. The driver-side commit protocol, manifest
  * handling, sidecar folds and view refresh dominate; codecs and
  * operators sit idle. Versions accumulate across rounds, so costs
  * that grow with history show. */
final class StoreChurn(ctx: Ctx, dir: String) extends Instance {
  import StoreChurn._
  import Gen.Fact
  private val spark = ctx.spark
  private val seed = ctx.seed
  private val fact = s"$dir/fact"
  private val dimUrl = s"$dir/dim"
  private val view = s"$dir/view"
  private val roundsDir = s"$dir/rounds"
  private var lastRound = 0

  // inputs, written once as plain parquet: the initial rows, the
  // dimension, and every round's appends and upserts by round
  private val dims = Gen.dim(seed)
  private var model: Map[Long, Fact] =
    (0L until Initial).map(k => k -> Gen.fact(seed, k, 0)).toMap
  writeInputs()
  Snapshots.create(spark, fact, spark.read.parquet(s"$dir/initial"), nFiles = 4)
  maintain()
  Snapshots.create(spark, dimUrl, spark.read.parquet(s"$dir/dim_input"), nFiles = 1)
  JoinView.init(spark, view, fact, dimUrl, factKey = "key", joinKey = "cat",
    nFiles = 2)

  private def writeInputs(): Unit = {
    import spark.implicits._
    model.values.toSeq.sortBy(_.key).toDF().coalesce(1)
      .write.parquet(s"$dir/initial")
    dims.toDF("cat", "cat_name", "weight").coalesce(1)
      .write.parquet(s"$dir/dim_input")
    (0 until MaxRounds).flatMap { r =>
      val rd = round(r)
      rd.appends.map(f => (r, "append", f.key, f.ts, f.cat, f.v, f.emb, false)) ++
        rd.upserts.map { case (f, d) => (r, "upsert", f.key, f.ts, f.cat, f.v, f.emb, d) }
    }.toDF("round", "kind", "key", "ts", "cat", "v", "emb", "del")
      .repartition(col("round")).write.partitionBy("round").parquet(roundsDir)
  }

  private def round(r: Int) = Gen.round(seed, r, Initial, AppendRows,
    UpsertRows, DeleteWidth, ReadWidth)

  private def roundInput(r: Int, kind: String): DataFrame =
    spark.read.parquet(s"$roundsDir/round=$r").filter(col("kind") === kind)
      .drop("kind")

  /** The sidecar refresh a stream sink runs after each commit. */
  private def maintain(): Unit = {
    ctx.note("sidecar.input_files", ctx.op("sidecar.stats")(
      Snapshots.indexStats(spark, fact, Seq("key"))))
    ctx.op("sidecar.bloom")(Snapshots.indexBloom(spark, fact, Seq("key")))
    ctx.note("sidecar.input_files", ctx.op("sidecar.vector")(
      VectorIndex.index(spark, fact, "key", "emb", Centroids)))
  }

  def cycle(ctx: Ctx, r: Int): Boolean = {
    if (r >= MaxRounds) return false
    lastRound = r
    val rd = round(r)
    val bytes0 = ctx.bench(storeBytes())
    val before = model
    val v0 = ctx.bench(Snapshots.latest(spark, fact))

    ctx.op("store.ingest") {
      ctx.op("store.append")(Snapshots.appendOnce(spark, fact,
        roundInput(r, "append").drop("del"), s"round-$r", nFiles = 2))
      maintain()
    }
    model ++= rd.appends.map(f => f.key -> f)

    ctx.op("store.upsert")(Snapshots.upsert(spark, fact, roundInput(r, "upsert"),
      "key", deleteCol = Some("del"),
      bloomIndexUrl = Some(Snapshots.bloomSidecarUrl(spark, fact))))
    rd.upserts.foreach { case (f, del) =>
      if (del) model -= f.key else model += f.key -> f }

    val (dLo, dHi) = rd.deleteRange
    ctx.op("store.delete")(Snapshots.deleteWhere(spark, fact, "key", dLo, dHi))
    model = model.filter { case (k, _) => k < dLo || k > dHi }

    val (rLo, rHi) = rd.readRange
    val got = ctx.op("store.read_range")(
      Snapshots.readWhere(spark, fact, "key", rLo, rHi).collect())
    ctx.note("read_range.rows", got.length)
    ctx.check(s"round $r range read equals the model") {
      sameRows(got.map(toFact).toSeq,
        model.values.filter(f => f.key >= rLo && f.key <= rHi))
    }

    val v1 = ctx.bench(Snapshots.latest(spark, fact))
    val feed = ctx.op("store.changes")(
      Snapshots.changes(spark, fact, "key", v0, v1).collect())
    ctx.check(s"round $r change feed equals the model diff") {
      feedMatches(feed.map(r => (r.getAs[String]("_change"), toFact(r))).toSeq,
        before, model)
    }

    ctx.op("view.refresh")(JoinView.refresh(spark, view, fact, dimUrl))
    ctx.check(s"round $r view equals a full re-join") {
      viewMatches(JoinView.read(spark, view).collect().map(r =>
        (toFact(r), r.getAs[String]("cat_name"), r.getAs[Double]("weight"))).toSeq,
        model, dims)
    }
    ctx.check(s"round $r store equals the model") {
      sameRows(Snapshots.read(spark, fact).collect().map(toFact).toSeq, model.values)
    }
    ctx.note("items", AppendRows + UpsertRows)
    ctx.note("bytes_written", ctx.bench(storeBytes()) - bytes0)
    true
  }

  private def storeBytes(): Double =
    (Files.bytes(fact) + Files.bytes(view) + Files.bytes(dimUrl)).toDouble

  def writeP50(ctx: Ctx): Double = ctx.median("store.ingest")
  def bytesPerItem(ctx: Ctx): Double = ctx.first("bytes_written") / ctx.first("items")

  def detail(ctx: Ctx): Seq[(String, Double)] = Seq(
    "ingest_p50_s" -> ctx.median("store.ingest"),
    "upsert_p50_s" -> ctx.median("store.upsert"),
    "delete_p50_s" -> ctx.median("store.delete"),
    "scan_p50_s" -> ctx.median("store.read_range"),
    "cdc_p50_s" -> ctx.median("store.changes"),
    "view_refresh_p50_s" -> ctx.median("view.refresh"),
    "write_amp" -> bytesPerItem(ctx) / UserRowBytes)

  /** Store shape after the window, and how much of the live file set
    * the last range read's pruning kept. */
  def probes(ctx: Ctx): Map[String, Double] = {
    val v = Snapshots.latest(spark, fact)
    val live = Snapshots.snap(spark, fact, v).files.length
    val (lo, hi) = round(lastRound).readRange
    shape(spark, fact) ++ Map(
      "store.files_scanned_frac" ->
        Snapshots.prunedFiles(spark, fact, v, "key", lo, hi).length.toDouble / live,
      "sidecar.parts" -> Seq("_stats", "_bloom", "_vecindex").map(d =>
        Files.list(s"$fact/$d").count(_.endsWith(".parquet"))).sum.toDouble)
  }

  private def toFact(r: Row): Fact = Fact(r.getAs[Long]("key"), r.getAs[Long]("ts"),
    r.getAs[Int]("cat"), r.getAs[Double]("v"), r.getAs[Seq[Double]]("emb").toList)
}

object StoreChurn {
  import Gen.Fact

  // The checkers, against a driver-side key model.
  def sameRows(got: Seq[Fact], want: Iterable[Fact]): Boolean =
    got.length == want.size && got.toSet == want.toSet

  /** The change feed between two model states: deletes carry the old
    * row, inserts and updates the new one; unchanged keys are absent. */
  def diff(a: Map[Long, Fact], b: Map[Long, Fact]): Set[(String, Fact)] =
    (a.keySet ++ b.keySet).flatMap { k =>
      (a.get(k), b.get(k)) match {
        case (Some(x), None) => Some("delete" -> x)
        case (None, Some(y)) => Some("insert" -> y)
        case (Some(x), Some(y)) if x != y => Some("update" -> y)
        case _ => None
      }
    }

  def feedMatches(feed: Seq[(String, Fact)], before: Map[Long, Fact],
      after: Map[Long, Fact]): Boolean = {
    val want = diff(before, after)
    feed.length == want.size && feed.toSet == want
  }

  def viewMatches(view: Seq[(Fact, String, Double)], model: Map[Long, Fact],
      dims: Seq[(Int, String, Double)]): Boolean = {
    val byCat = dims.map { case (c, n, w) => c -> (n, w) }.toMap
    val want = model.values.map(f => (f, byCat(f.cat)._1, byCat(f.cat)._2)).toSet
    view.length == want.size && view.toSet == want
  }

  /** A snapshot store's shape: latest manifest size, version count,
    * live entries, and parquet bytes on disk per live data byte. */
  def shape(spark: org.apache.spark.sql.SparkSession,
      url: String): Map[String, Double] = {
    val v = Snapshots.latest(spark, url)
    val live = Snapshots.snap(spark, url, v).files
    // a merge-on-read entry names its data file before "--dv--"
    val liveBytes = live.map(e => Files.bytes(s"$url/${e.split("--dv--")(0)}")).sum
    Map("store.manifest_bytes" -> Files.bytes(f"$url/_snap/v$v%08d.json").toDouble,
      "store.versions" -> Snapshots.versions(spark, url).length.toDouble,
      "store.live_files" -> live.length.toDouble,
      "store.space_amp" ->
        Files.bytes(url, _.endsWith(".parquet")).toDouble / math.max(1L, liveBytes))
  }

  val Initial = 2000
  val AppendRows = 200
  val UpsertRows = 40
  val DeleteWidth = 20
  val ReadWidth = 300
  val MaxRounds = 12
  val Centroids = 4
  /** A fact row's logical size: key, ts, cat, v and 8 doubles. */
  val UserRowBytes = 8 + 8 + 4 + 8 + 8 * Gen.EmbDim
}
