package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.WriteBridge
import org.apache.spark.sql.types.StructType

/** NATIVE DataSourceV2 writes for [[GraftCatalog]] tables — the
  * write-side twin of the inlined effective scan, retiring the V1
  * `InsertableRelation` bridge: executors write parquet data files
  * DIRECTLY into the store root under staged names (Spark's own
  * `ParquetOutputWriter` via [[WriteBridge]] — the exact
  * row-to-parquet path `df.write.parquet` uses), and the driver
  * commits the manifest once every task has reported its file. No
  * staging directory, no driver-side renames: uncommitted names are
  * invisible to readers (reads are manifest-driven) and a crashed
  * write leaves only the grace-windowed debris [[Snapshots.vacuum]]
  * already sweeps — the commit protocol object stores need at 100 TB,
  * where a per-file rename pass is itself a scaling bottleneck.
  *
  * Semantics match the manifest layer exactly:
  *  - `INSERT INTO` commits one `append` version through the SAME
  *    race-retrying [[Snapshots.commitAppendStaged]] the programmatic
  *    API uses (concurrent appends land contiguous versions; a
  *    rename interleaving the race refuses loudly);
  *  - `INSERT OVERWRITE` (truncate) commits one `overwrite` version
  *    whose pinned schema is the batch's (column mapping resets,
  *    exactly like [[Snapshots.overwrite]]);
  *  - `df.writeStream.toTable("graft.store")` commits one append
  *    version PER EPOCH, exactly-once: the commit's op carries
  *    `append:sw-<queryId>-e<epoch>`, so a replayed epoch (sink
  *    retry, restart from an uncommitted checkpoint) finds the prior
  *    commit and no-ops, its staged files left as vacuum orphans —
  *    the [[Snapshots.appendOnce]] contract, natively;
  *  - CHECK constraints validate against the STAGED BYTES — the rows
  *    readers would actually see — before any manifest is written; a
  *    violation deletes the staged files and refuses with the
  *    constraint's name;
  *  - renamed stores write their files under PHYSICAL names
  *    ([[Snapshots.physSchema]]), so every data file of a store keeps
  *    one stable physical schema forever;
  *  - CDC, time travel and the metadata tables all see the commit —
  *    nothing bypasses the manifest layer;
  *  - post-commit, the store's CONVENTIONAL sidecars (stats bands,
  *    key bloom) refresh incrementally ([[Snapshots
  *    .refreshSidecars]]), so SQL-ingested stores keep banded DML
  *    routing, MERGE bloom discovery and metadata-priced aggregates
  *    live with zero manual CALLs.
  *
  * File-count behavior is the scan-side dual of one-partition-one-
  * file: each input task writes exactly one data file (none when the
  * task is empty), so write parallelism equals append parallelism
  * and no forced exchange sits in front of the sink — AQE's coalesced
  * partitioning decides the file count, the layout `compactSmall`/
  * `cluster` own anyway. */
private[sources] class GraftWriteBuilderV2(url: String,
    info: LogicalWriteInfo) extends WriteBuilder with SupportsTruncate {
  private var overwriteAll = false
  override def truncate(): WriteBuilder = { overwriteAll = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new GraftBatchWrite(url, info.schema(), overwriteAll)
    override def toStreaming: StreamingWrite = {
      require(!overwriteAll,
        "graft streaming writes are append-only — 'complete'/" +
          "'truncate' output modes would rewrite the store every " +
          "epoch; use outputMode(\"append\")")
      new GraftStreamingWrite(url, info.schema(), info.queryId())
    }
    override def description(): String =
      s"graft-v2-write[$url, overwrite=$overwriteAll]"
  }
}

/** One task's committed data file (absent when the task saw no
  * rows — empty partitions stage nothing). */
private[sources] case class GraftFileCommit(name: Option[String],
    rows: Long) extends WriterCommitMessage

/** Driver-side commit machinery shared by the batch and streaming
  * writes. */
private[sources] object GraftWriteV2 {
  def deleteStaged(spark: SparkSession, url: String,
      names: Seq[String]): Unit = {
    val tx = StoreTxn.open(spark, url)
    names.foreach { n =>
      try tx.fs.delete(new Path(tx.root, n), false)
      catch { case _: java.io.IOException => () }
    }
  }

  def stagedOf(messages: Array[WriterCommitMessage]): Seq[String] =
    messages.toSeq.collect { case GraftFileCommit(Some(n), _) => n }
      .sorted

  /** Validate CHECK constraints against the staged bytes under their
    * LOGICAL view — one scan of the new files only, skipped entirely
    * when no constraint is declared. */
  def validateStaged(tx: StoreTxn, staged: Seq[String],
      logicalSchema: StructType, physical: StructType,
      colmap: Map[String, String]): Unit = {
    if (staged.isEmpty) return
    val batch = tx.spark.read.schema(physical)
      .parquet(staged.map(tx.path): _*)
      .select(logicalSchema.fieldNames.toSeq.map(l =>
        col(colmap.getOrElse(l, l)).as(l)): _*)
    Snapshots.validateBatch(tx, batch)
  }

  /** POST-commit: keep the store's conventional sidecars live —
    * O(new files); a failure must not fail a write whose data is
    * already durably committed (stale sidecars are safe by the
    * coverage guards; the next refresh catches up). */
  def refreshQuietly(spark: SparkSession, url: String): Unit =
    try Snapshots.refreshSidecars(spark, url): Unit
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"graft: sidecar refresh after commit to $url failed " +
            s"(stale sidecars are safe; next refresh catches up): " +
            s"${e.getMessage}")
    }
}

private[sources] class GraftBatchWrite(url: String,
    logicalSchema: StructType, overwriteAll: Boolean)
    extends BatchWrite {

  private def spark: SparkSession = SparkSession.active
  // resolved ONCE at write start, from one listing: the parent's
  // column mapping names the physical fields appended files must
  // carry; an overwrite resets the mapping (fresh files under
  // logical names), mirroring Snapshots.overwrite
  private val start = StoreTxn.open(spark, url)
  private val parentColmap: Map[String, String] =
    if (overwriteAll) Map.empty else start.head.colmap
  private val physical: StructType =
    Snapshots.physSchema(logicalSchema, parentColmap)
  private val tag = java.util.UUID.randomUUID().toString.take(8)
  // cosmetic version prefix for staged names (the manifest, not the
  // name, is what binds a file to a version — race retries may land
  // the commit at a later slot)
  private val nameV = start.head.version + 1
  private val rootStr = new Path(url).toString

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    GraftDataWriterFactory(rootStr, nameV, tag,
      WriteBridge.parquetTaskWriters(spark, physical))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = GraftWriteV2.stagedOf(messages)
    // the head at commit time, not at write start
    val tx = StoreTxn.open(spark, url)
    try {
      GraftWriteV2.validateStaged(tx, staged, logicalSchema,
        physical, parentColmap)
      if (overwriteAll) {
        // same non-retrying contract as Snapshots.overwrite: the
        // replacement set does not depend on the head, but racing
        // overwrites should surface, not silently stack
        tx.commit("overwrite", staged, logicalSchema, Map.empty, Nil): Unit
      } else {
        Snapshots.commitAppendStaged(tx, "append",
          staged, logicalSchema, parentColmap): Unit
      }
    } catch {
      case e: Throwable =>
        GraftWriteV2.deleteStaged(spark, url, staged); throw e
    }
    GraftWriteV2.refreshQuietly(spark, url)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftWriteV2.deleteStaged(spark, url,
      GraftWriteV2.stagedOf(messages))
}

/** `writeStream.toTable("graft.store")` — one append version per
  * epoch, exactly-once under replays via the epoch-keyed commit op
  * (see class doc above). Empty epochs commit nothing (no version
  * noise; replaying an empty epoch is idempotent by vacuity).
  *
  * Cost note: the exactly-once dedup scans the manifest log
  * (O(versions) small JSON reads per epoch, same as
  * [[Snapshots.appendOnce]]) — bounded in practice by vacuum
  * retention, which caps the live version count; a sink driving a
  * store past ~10k un-vacuumed versions should schedule
  * `Warehouse.maintain` (or `CALL graft.vacuum`) into its cadence. */
private[sources] class GraftStreamingWrite(url: String,
    logicalSchema: StructType, queryId: String)
    extends StreamingWrite {

  private def spark: SparkSession = SparkSession.active
  // pinned at stream start, like the schema: a rename mid-stream is
  // caught by commitAppendStaged's colmap guard and refuses loudly
  private val start = StoreTxn.open(spark, url)
  private val parentColmap: Map[String, String] = start.head.colmap
  private val physical: StructType =
    Snapshots.physSchema(logicalSchema, parentColmap)
  private val tag = java.util.UUID.randomUUID().toString.take(8)
  private val nameV = start.head.version + 1
  private val rootStr = new Path(url).toString
  require(queryId != null && queryId.matches("[A-Za-z0-9_.-]+"),
    s"streaming write needs a path-safe query id, got '$queryId'")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val writers = WriteBridge.parquetTaskWriters(spark, physical)
    val (r, v, t) = (rootStr, nameV, tag)
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long): DataWriter[InternalRow] =
        new GraftDataWriter(r, v, s"$t-e$epochId", partitionId,
          taskId, writers)
    }
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val staged = GraftWriteV2.stagedOf(messages)
    if (staged.isEmpty) return
    val tx = StoreTxn.open(spark, url)
    try {
      GraftWriteV2.validateStaged(tx, staged, logicalSchema,
        physical, parentColmap)
      Snapshots.commitAppendStaged(tx,
        s"append:sw-$queryId-e$epochId", staged, logicalSchema,
        parentColmap,
        dedupOp = Some(s"append:sw-$queryId-e$epochId")): Unit
    } catch {
      case e: Throwable =>
        GraftWriteV2.deleteStaged(spark, url, staged); throw e
    }
    GraftWriteV2.refreshQuietly(spark, url)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    GraftWriteV2.deleteStaged(spark, url,
      GraftWriteV2.stagedOf(messages))
}

/** Ships to executors: opens one parquet writer per non-empty task,
  * writing `s{v}-{tag}-p{partition}-t{task}.parquet` directly in the
  * store root (task id in the name keeps retry attempts distinct;
  * the commit coordinator ensures exactly one attempt's message is
  * committed — the loser's file is vacuum debris). */
private[sources] case class GraftDataWriterFactory(rootStr: String,
    nameV: Int, tag: String, writers: WriteBridge.TaskWriters)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(rootStr, nameV, tag, partitionId, taskId,
      writers)
}

private[sources] class GraftDataWriter(rootStr: String, nameV: Int,
    tag: String, partitionId: Int, taskId: Long,
    writers: WriteBridge.TaskWriters)
    extends DataWriter[InternalRow] {
  private val name =
    f"s$nameV%08d-$tag-p$partitionId%05d-t$taskId.parquet"
  private var open: WriteBridge.RowFileWriter = _
  private var rows = 0L

  // lazy open: an empty partition stages NO file (a tiny INSERT
  // lands one file, not one per shuffle partition)
  override def write(row: InternalRow): Unit = {
    if (open == null)
      open = writers.open(s"$rootStr/$name", partitionId, taskId)
    open.write(row)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    if (open != null) { open.close(); open = null }
    GraftFileCommit(if (rows > 0) Some(name) else None, rows)
  }

  override def abort(): Unit = {
    if (open != null) {
      try open.close() catch { case _: java.io.IOException => () }
      open.drop()
      open = null
    }
  }

  override def close(): Unit =
    if (open != null) { open.close(); open = null }
}
