package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import Snapshots.{DvSep, Snap, physSchema, splitEntry}

/** A lost exclusive claim of a version slot: another writer committed
  * the version this operation resolved as its next one. The only
  * failure [[StoreTxn.retrying]] retries. */
final class CommitRaceLost(msg: String) extends RuntimeException(msg)

/** One store operation's view of a [[Snapshots]] store, opened once
  * and threaded through every helper the operation calls (the Delta
  * Lake `OptimisticTransaction` shape): one FileSystem and root, the
  * version list from ONE `_snap` listing, the pinned parent [[head]]
  * and its logical [[schema]]. Other versions resolve through the
  * manifest cache ([[at]]) without listing again. Staging writes
  * under `head.version + 1` and `head.colmap`; [[commit]] claims
  * exactly that slot, so a handle whose listing went stale can only
  * lose the race ([[CommitRaceLost]]), never commit over a newer
  * head. The listing is taken on first use, so a handle that only
  * resolves explicit versions never lists. */
private[graft] final class StoreTxn private (val spark: SparkSession,
    val url: String) {
  val root: Path = new Path(url)
  val fs: FileSystem =
    root.getFileSystem(spark.sessionState.newHadoopConf())

  /** All committed versions, ascending (empty for a non-store). */
  lazy val versions: Seq[Int] = {
    val dir = new Path(root, Snapshots.SnapDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toInt }
      .sorted
  }

  /** The parent every commit of this handle builds on. */
  lazy val head: Snap = {
    require(versions.nonEmpty, s"no snapshot store at $url")
    at(versions.last)
  }

  /** The head's logical read schema. */
  lazy val schema: StructType = schemaOf(head)

  /** The version a commit of this handle claims. */
  def nextVersion: Int = versions.lastOption.getOrElse(0) + 1

  /** Resolve one manifest through the cache. */
  def at(version: Int): Snap = {
    val s = Snapshots.cachedSnap(fs, root, version)
    require(s.isDefined, s"no snapshot v$version at $url " +
      s"(versions: ${versions.mkString(",")})")
    s.get
  }

  /** `version` ≤ 0 means the head. */
  def resolve(version: Int): Snap =
    if (version > 0) at(version) else head

  def path(name: String): String = new Path(root, name).toString

  /** The schema a version's rows read under: the manifest's pinned
    * schema, or (pre-pinning stores) one inferred from its files. */
  def schemaOf(version: Snap): StructType =
    version.schema.getOrElse {
      require(version.files.nonEmpty,
        s"v${version.version} has no schema source")
      // composite entries infer from their DATA file (the DV sidecar
      // carries positions, not columns)
      spark.read.parquet(version.files.map(f =>
        path(splitEntry(f)._1)): _*).schema
    }

  /** Write `df`'s rows as immutable data files named
    * `s{version}-{uuid}-{k}.parquet` and return the names.
    * `clusterBy` range-partitions instead of round-robin, giving each
    * file a narrow value band — what makes [[Snapshots.indexStats]]
    * pruning actually skip files. */
  def stage(df: DataFrame, nFiles: Int, clusterBy: Option[String] = None,
      colmap: Map[String, String] = head.colmap): Seq[String] =
    stageArranged(
      clusterBy
        .map(c => df.repartitionByRange(math.max(1, nFiles), col(c)))
        .getOrElse(df.repartition(math.max(1, nFiles))),
      colmap)

  /** [[stage]] for a frame whose partitioning IS the layout
    * (z-order, bin-packing): writes it as-is, one file per
    * partition. `colmap` renames LOGICAL columns to their PHYSICAL
    * names right before the write (a projection — partitioning
    * survives), so every data file of a renamed store keeps one
    * stable physical schema forever. */
  def stageArranged(arranged0: DataFrame,
      colmap: Map[String, String] = head.colmap): Seq[String] = {
    val arranged =
      if (colmap.isEmpty) arranged0
      else arranged0.select(arranged0.columns.toSeq.map(c =>
        col(c).as(colmap.getOrElse(c, c))): _*)
    val version = nextVersion
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(root, s"_snap_stage_$tag")
    fs.delete(tmp, true)
    arranged.write.mode("overwrite").parquet(tmp.toString)
    val staged = Materialize.listParquetFiles(spark, tmp.toString)
    val named = staged.zipWithIndex.map { case (f, k) =>
      val name = f"s$version%08d-$tag-$k%05d.parquet"
      require(fs.rename(new Path(f), new Path(root, name)),
        s"rename failed promoting $name")
      name
    }
    fs.delete(tmp, true)
    named
  }

  /** Write one deletion-vector parquet (`__dv_file` string,
    * `__dv_pos` long) and return its root-relative name. One file
    * per MoR commit: a DV holds the SPARSE delete's positions (16
    * bytes/row before compression) — a delete wide enough to make
    * this file heavy should have been a copy-on-write
    * [[Snapshots.deleteWhere]], which also resets the read-side join
    * cost. */
  def stageDv(del: DataFrame): String = {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(root, s"_snap_stage_dv_$tag")
    fs.delete(tmp, true)
    del.repartition(1).write.mode("overwrite").parquet(tmp.toString)
    val staged = Materialize.listParquetFiles(spark, tmp.toString)
    require(staged.length == 1, s"dv stage produced ${staged.length}")
    val name = f"dv$nextVersion%08d-$tag.parquet"
    require(fs.rename(new Path(staged.head), new Path(root, name)),
      s"rename failed promoting $name")
    fs.delete(tmp, true)
    name
  }

  /** Claim [[nextVersion]] with `files` under the head's column
    * mapping (override for metadata commits that change it).
    * Throws [[CommitRaceLost]] when another writer holds the slot. */
  def commit(op: String, files: Seq[String], schema: StructType,
      colmap: Map[String, String] = head.colmap,
      dropped: Seq[String] = head.dropped): Int =
    Snapshots.commit(fs, root, nextVersion, op, files, Some(schema),
      colmap, dropped)

  /** Read manifest entries under `schema`, scanning physically under
    * `colmap` and presenting logical names. Plain entries keep the
    * single-batch parquet scan; composite `--dv--` entries anti-join
    * their deletion vector's (file, pos) pairs, grouped per vector so
    * one MoR commit's entries share one scan (never broadcast-forced:
    * position joins are equi-joins and AQE sizes the small DV side).
    * `extra` appends columns to the EFFECTIVE rows:
    *  - [[StoreTxn.Positions]]: each row's physical position — the
    *    data file name and row index from the parquet scan's
    *    `_metadata` (stable because data files are immutable);
    *  - [[StoreTxn.EntryTag]]: each row's manifest ENTRY name, the
    *    attribution every sidecar builder keys by (a composite entry
    *    tags its data file plus the vector suffix, so one data file
    *    carries one sidecar row per DV generation it appears under).
    */
  def scan(entries: Seq[String], schema: StructType,
      colmap: Map[String, String],
      extra: StoreTxn.Extra = StoreTxn.Rows): DataFrame = {
    import StoreTxn._
    val phys = physSchema(schema, colmap)
    val logical = schema.fieldNames.toSeq.map(l =>
      col(colmap.getOrElse(l, l)).as(l))
    val posCols = Seq(col(DvFileCol), col(DvPosCol))
    val parsed = entries.map(splitEntry)
    val plain = parsed.collect { case (d, None) => d }
    val byDv = parsed.collect { case (d, Some(dv)) => dv -> d }
      .groupBy(_._1).toSeq.sortBy(_._1)
    // both name spaces must be clean: a LOGICAL collision would
    // alias wrong, and a PHYSICAL collision (a renamed column whose
    // birth name is a position column) would be overwritten by the
    // metadata projection and read back as file names
    val reserved = extra match {
      case Rows => if (byDv.isEmpty) Nil else Seq(DvFileCol, DvPosCol)
      case Positions => Seq(DvFileCol, DvPosCol)
      case EntryTag(c) => Seq(c, DvFileCol, DvPosCol)
    }
    val taken = schema.fieldNames.toSet ++ phys.fieldNames
    require(!reserved.exists(taken),
      s"store schema uses reserved column ${reserved.mkString("/")} " +
        "(logical or physical)")
    def read(names: Seq[String]): DataFrame =
      spark.read.schema(phys).parquet(names.map(path): _*)
    def withPos(df: DataFrame): DataFrame = df
      .withColumn(DvFileCol, col("_metadata.file_name"))
      .withColumn(DvPosCol, col("_metadata.row_index"))
    val parts = Seq.newBuilder[DataFrame]
    if (plain.nonEmpty) parts += (extra match {
      case Rows =>
        if (colmap.isEmpty) read(plain) else read(plain).select(logical: _*)
      case Positions => withPos(read(plain)).select(logical ++ posCols: _*)
      case EntryTag(c) => read(plain).select(logical :+ element_at(
        split(input_file_name(), "/"), -1).as(c): _*)
    })
    byDv.foreach { case (dv, group) =>
      val raw = withPos(read(group.map(_._2)))
      val dvDf = spark.read.parquet(path(dv))
      val live = raw.join(dvDf,
        raw(DvFileCol) === dvDf("__dv_file") &&
          raw(DvPosCol) === dvDf("__dv_pos"), "left_anti")
      parts += (extra match {
        case Rows => live.select(logical: _*)
        case Positions => live.select(logical ++ posCols: _*)
        case EntryTag(c) => live.select(logical :+
          concat(col(DvFileCol), lit(DvSep + dv)).as(c): _*)
      })
    }
    parts.result().reduce(_ unionByName _)
  }

  /** [[scan]] of entries of the head under its schema and mapping. */
  def scanHead(entries: Seq[String],
      extra: StoreTxn.Extra = StoreTxn.Rows): DataFrame =
    scan(entries, schema, head.colmap, extra)

  /** Refresh a key-bloom sidecar at `indexUrl` over the head's live
    * DATA files (the data half of each entry — the file an upsert's
    * probe keys by). A listing of the store root would also pick up
    * superseded files and deletion-vector files, and scan the
    * vectors as data. */
  def refreshBloom(fields: Seq[String], indexUrl: String,
      expectedPerFile: Long = 100000L, fpp: Double = 0.01): Unit =
    RowGroupIndex.refreshBloom(spark,
      head.files.map(e => path(splitEntry(e)._1)).distinct, fields,
      indexUrl, expectedPerFile, fpp)
}

private[graft] object StoreTxn {

  def open(spark: SparkSession, url: String): StoreTxn =
    new StoreTxn(spark, url)

  /** Lost-race retries before the race surfaces. */
  private val MaxRetries = 16

  /** Run `attempt` until its commit wins: a [[CommitRaceLost]]
    * re-opens the handle (one fresh listing per attempt) and runs it
    * again, at most [[MaxRetries]] times; anything else surfaces on
    * the attempt that threw. Attempt 1 uses `first`: its listing may
    * be stale, but the claim is exclusive, so staleness only loses
    * the race. */
  def retrying[T](first: StoreTxn)(attempt: StoreTxn => T): T = {
    @annotation.tailrec
    def go(tx: StoreTxn, retries: Int): T =
      (try Some(attempt(tx))
      catch { case _: CommitRaceLost if retries < MaxRetries => None })
      match {
        case Some(out) => out
        case None => go(open(tx.spark, tx.url), retries + 1)
      }
    go(first, 0)
  }

  /** What [[StoreTxn.scan]] appends to the effective rows. */
  sealed trait Extra
  case object Rows extends Extra
  case object Positions extends Extra
  final case class EntryTag(col: String) extends Extra

  /** Position columns carried by [[Positions]] scans. Underscore-graft
    * names so a store column can never collide silently (refused in
    * [[StoreTxn.scan]]). */
  val DvFileCol = "__graft_dv_file"
  val DvPosCol = "__graft_dv_pos"
}
