package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.graftbridge.StreamBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Offset = a committed snapshot VERSION — the manifest log IS the
  * stream's write-ahead log, so offsets are exact, replayable and
  * human-readable in the checkpoint (`{"version":7}`). */
private[sources] case class GraftVersionOffset(v: Int) extends Offset {
  override def json(): String = s"""{"version":$v}"""
}

private[sources] object GraftVersionOffset {
  private val Re = """\{"version":(\d+)\}""".r
  def parse(json: String): GraftVersionOffset = json match {
    case Re(n) => GraftVersionOffset(n.toInt)
    case other => throw new IllegalArgumentException(
      s"not a graft stream offset: $other")
  }
}

/** NATIVE streaming source over a snapshot store — what makes
  * `spark.readStream.table("graft.store")` work: each micro-batch
  * covers the versions committed since the last one, its rows are
  * the files those versions APPENDED, and executors decode them with
  * Spark's own parquet reader ([[StreamBridge.readFunc]]).
  *
  * Offsets are manifest versions (exact, replayable; a restart
  * resumes from the checkpointed version — no listing heuristics,
  * no modification-time races like a directory file stream).
  * `initialOffset` = version 0, so the first batch carries the
  * store's full current contents (the Delta convention). The INITIAL
  * batch is DV- and colmap-aware: a store already carrying
  * merge-on-read deletion vectors or renamed columns streams its
  * current EFFECTIVE rows (composite entries drop their vector's
  * positions inside the per-file reader; files are decoded under
  * their physical names and presented logically) — history before
  * the stream's start never constrains it.
  *
  * APPEND-ONLY lineage contract past the start offset, checked per
  * batch: every version in a later batch's range must be a create/
  * append/txn-append commit. A mutation (upsert, delete, compact,
  * cluster, overwrite, rename) inside the range REFUSES loudly —
  * silently re-emitting rewritten files would duplicate rows
  * downstream, and silently skipping them would drop data; the CDC
  * stream (`format("graft-changes")`, [[graft.streaming
  * .GraftChangesProvider]]) is the tool for mutating stores.
  *
  * Scale shape: planning reads manifests only (O(versions in range)
  * driver-side JSON + one file-status round per new file); each new
  * file is one [[InputPartition]], so read parallelism equals append
  * parallelism; nothing is ever relisted. A composite entry's reader
  * loads ONLY its own file's deletion positions (sparse by the MoR
  * contract — wide deletes are copy-on-write rewrites).
  *
  * Options (`spark.readStream.option(...)`):
  *  - `startingVersion` — skip the bootstrap snapshot and stream
  *    only versions AFTER this committed version (for consumers
  *    that seed from a batch read of it);
  *  - `maxVersionsPerTrigger` — admission control
  *    ([[SupportsTriggerAvailableNow]]): cap each micro-batch at N
  *    versions, so a stream resuming after a long gap drains it as
  *    bounded batches instead of one giant recovery batch (the
  *    admission offset derives from the engine-supplied START each
  *    cycle, so restarts can never regress the checkpoint). */
private[sources] class GraftMicroBatchStream(spark: SparkSession,
    url: String, label: String, dataSchema: StructType,
    requiredSchema: StructType,
    startingVersion: Int = 0,
    maxVersionsPerTrigger: Option[Int] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val AllowedOp = "^(create|append|txn-append)".r
  // the column mapping is pinned at stream start, like the schema:
  // a rename later in the stream is a mutation the op check refuses
  private val colmap: Map[String, String] = {
    val tx = StoreTxn.open(spark, url)
    val pinned = tx.head.colmap
    if (startingVersion > 0)
      require(tx.versions.contains(startingVersion),
        s"startingVersion=$startingVersion is not a committed " +
          s"version of $label")
    pinned
  }
  maxVersionsPerTrigger.foreach(m => require(m > 0,
    s"maxVersionsPerTrigger must be positive, got $m"))
  // Trigger.AvailableNow pins its end at prepare time: the drain
  // stops at the data that existed when the trigger fired, however
  // many bounded batches that takes
  private var availableNowCap: Option[Int] = None

  override def initialOffset(): Offset =
    GraftVersionOffset(startingVersion)

  override def latestOffset(): Offset =
    GraftVersionOffset(Snapshots.latest(spark, url))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftVersionOffset].v
    val head = Snapshots.latest(spark, url)
    val capped = maxVersionsPerTrigger
      .map(m => math.min(head, s + m)).getOrElse(head)
    GraftVersionOffset(
      availableNowCap.map(math.min(capped, _)).getOrElse(capped))
  }

  override def reportLatestOffset(): Offset =
    GraftVersionOffset(Snapshots.latest(spark, url))

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(Snapshots.latest(spark, url))

  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset.parse(json)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftVersionOffset].v
    val e = end.asInstanceOf[GraftVersionOffset].v
    if (e <= s) return Array.empty
    val tx = StoreTxn.open(spark, url)
    val endSnap = tx.at(e)
    val entries: Seq[String] =
      if (s == 0) {
        // initial snapshot: the CURRENT contents — whatever history
        // produced them (mutations before the start offset are no
        // concern of the stream's exactness; composite entries and
        // renames are handled by the readers)
        require(endSnap.colmap == colmap,
          s"streaming read of $label: the column mapping changed " +
            "between stream creation and its first batch — restart " +
            "the stream")
        endSnap.files.sorted
      } else {
        val vs = tx.versions.filter(v => v > s && v <= e)
        vs.foreach { v =>
          val sn = tx.at(v)
          require(AllowedOp.findFirstIn(sn.op).isDefined,
            s"streaming read of $label: v$v is '${sn.op}' — the " +
              "stream contract is an append-only lineage past the " +
              "start offset; use format(\"graft-changes\") (CDC) " +
              "for mutating stores")
        }
        val base = tx.at(s).files.toSet
        val added = endSnap.files.filterNot(base)
        // appends only ever add PLAIN files; a composite entry here
        // means a mutation slipped the op trail (defense in depth)
        require(added.forall(!_.contains(Snapshots.DvSep)),
          s"streaming read of $label: merge-on-read entries in the " +
            "appended range — use format(\"graft-changes\")")
        added.sorted
      }
    val (fs, root) = (tx.fs, tx.root)
    // ONE directory listing serves every entry's (path, length,
    // mtime) — a per-file getFileStatus loop is O(files) driver
    // round-trips, the planning bottleneck on an object store at
    // 100k files (a flat store listing is one paged call)
    val byName = fs.listStatus(root).iterator
      .filter(_.isFile)
      .map(st => st.getPath.getName ->
        (st.getPath.toString, st.getLen, st.getModificationTime))
      .toMap
    def statOf(name: String): (String, Long, Long) =
      byName.getOrElse(name, {
        val st = fs.getFileStatus(new Path(root, name))
        (st.getPath.toString, st.getLen, st.getModificationTime)
      })
    entries.map { f =>
      val (data, dvOpt) = Snapshots.splitEntry(f)
      val (p, len, mt) = statOf(data)
      GraftFilePartition(p, len, mt, data,
        dvOpt.map(statOf)): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // files store PHYSICAL names; InternalRow is positional, so
    // reading the physically-renamed required schema IS the logical
    // projection
    val phys = Snapshots.physSchema(dataSchema, colmap)
    val physReq = Snapshots.physSchema(requiredSchema, colmap)
    new GraftStreamReaderFactory(
      StreamBridge.readFunc(spark, phys, physReq,
        spark.sessionState.newHadoopConf()),
      StreamBridge.readFunc(spark, GraftStreamSource.DvSchema,
        GraftStreamSource.DvSchema,
        spark.sessionState.newHadoopConf()))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] object GraftStreamSource {
  /** Deletion-vector sidecar schema ([[Snapshots]] MoR commits). */
  val DvSchema: StructType = StructType(Seq(
    StructField("__dv_file", StringType),
    StructField("__dv_pos", LongType)))
}

private[sources] case class GraftFilePartition(path: String,
    length: Long, modificationTime: Long,
    dataName: String = "",
    dv: Option[(String, Long, Long)] = None) extends InputPartition

/** Executor-side reader: Spark's own parquet decode per file
  * (vectorized; flattened to rows at the boundary). The read
  * function is the serializable closure the batch file scan ships —
  * same codecs, same schema-evolution null fill. A composite MoR
  * partition first loads its OWN file's deleted positions from the
  * vector sidecar (sparse by contract), then drops them by row
  * index — exact because a whole-file single-partition scan with no
  * pushed filters decodes rows in file order, the same order the
  * DV's `_metadata.row_index` positions were minted from. */
private[sources] class GraftStreamReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    dvReadFunc: PartitionedFile => Iterator[InternalRow])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftFilePartition]
    val base = readFunc(StreamBridge.wholeFile(p.path, p.length,
      p.modificationTime))
    val it = p.dv match {
      case None => base
      case Some((dvPath, dvLen, dvM)) =>
        val dropped = new java.util.HashSet[Long]()
        dvReadFunc(StreamBridge.wholeFile(dvPath, dvLen, dvM))
          .foreach { r =>
            if (!r.isNullAt(0) &&
                r.getUTF8String(0).toString == p.dataName)
              dropped.add(r.getLong(1))
          }
        var pos = -1L
        base.filter { _ => pos += 1; !dropped.contains(pos) }
    }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
