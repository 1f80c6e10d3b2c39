package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Git-like branch/merge workflow over [[Snapshots]] stores — the
  * lakehouse dev-branch pattern: fork a 100 TB corpus in O(files)
  * metadata (hard-linked [[Snapshots.cloneStore]]), iterate on the
  * branch with the full mutation surface (append/upsert/delete/
  * cluster — it IS a store), then merge the net row-level delta back
  * with key-level conflict detection. Both sides stay priced by
  * their MANIFEST DIFFS: a merge reads O(changed files) on the
  * branch and probes O(changed keys) on the main store, never either
  * corpus.
  *
  * The reference has no mutation layer at all (write-once
  * materialize, etl/dataset_metadata.py:66-103); this is the
  * beyond-reference lakehouse surface grown around it.
  *
  * Conflict semantics are KEY-level three-way: a key changed on the
  * branch since the fork AND changed on main since the fork refuses
  * the merge loudly (a silent last-writer-wins would lose one
  * side's write — the silent-empty doctrine applied to merges).
  * Schema evolution on a branch refuses at merge time through
  * [[Snapshots.upsert]]'s schema gate: merging a migration is a
  * store migration, not a row merge.
  */
object Branch {

  private def metaPath(root: Path) = new Path(root, "_branch.json")

  /** Fork `srcUrl`@`version` (latest when < 0) into an INDEPENDENT
    * writable store at `branchUrl`: data files hard-link on
    * `file://` (zero bytes copied), the branch's v1 holds exactly
    * the fork content, and `_branch.json` records the provenance
    * [[mergeBack]] needs. Divergence is free by construction — data
    * files are immutable on both sides ([[Snapshots.cloneStore]]).
    * Returns the fork version of the SOURCE. */
  def fork(spark: SparkSession, srcUrl: String, branchUrl: String,
      version: Int = -1): Int = {
    // srcUrl is caller-supplied and may contain quotes — refuse
    // BEFORE any work: refusing after the clone would leave an
    // unrecoverable half-made branch (store exists, no provenance)
    require(!srcUrl.contains("\""), s"branch source url carries '\"'")
    val srcTx = StoreTxn.open(spark, srcUrl)
    val v = if (version < 0) srcTx.head.version else version
    val branchTx = StoreTxn.open(spark, branchUrl)
    val (fs, root) = (branchTx.fs, branchTx.root)
    def writeMeta(): Unit = {
      val out = fs.create(metaPath(root), false)
      try out.write(
        s"""{"src":"$srcUrl","srcVersion":$v}""".getBytes("UTF-8"))
      finally out.close()
    }
    // crash between cloneStore and the meta write leaves a valid
    // store with no provenance — and cloneStore refuses an existing
    // target, so a bare re-run would wedge the branch. Complete the
    // fork iff the half-made clone PROVABLY matches this call's fork
    // point (same head version, same manifest entry set); anything
    // else refuses with the recovery instruction.
    if (branchTx.versions.nonEmpty && !fs.exists(metaPath(root))) {
      val bl = branchTx.head
      require(bl.version == v &&
        bl.files.toSet == srcTx.at(v).files.toSet,
        s"$branchUrl exists without fork provenance and does not " +
          s"match $srcUrl@v$v — delete the directory and re-run fork")
      writeMeta()
      return v
    }
    Snapshots.cloneStore(spark, srcUrl, branchUrl, v)
    writeMeta()
    v
  }

  /** (source url, fork version) a branch was forked from; loud on a
    * store that is not a fork. */
  def forkPoint(spark: SparkSession, branchUrl: String)
      : (String, Int) = {
    val root = new Path(branchUrl)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val p = metaPath(root)
    require(fs.exists(p),
      s"$branchUrl is not a fork (no _branch.json) — Branch.fork " +
        "creates one")
    val body = SidecarJson.slurp(fs, p)
    val src = """"src"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(body)
      .getOrElse(sys.error(s"corrupt $p — no src")).group(1)
    val v = """"srcVersion"\s*:\s*(\d+)""".r.findFirstMatchIn(body)
      .getOrElse(sys.error(s"corrupt $p — no srcVersion"))
      .group(1).toInt
    (src, v)
  }

  /** The branch's net row-level delta since its fork (one row per
    * changed key, `_change` ∈ insert/update/delete) — manifest-diff
    * priced, O(files the branch touched). */
  def delta(spark: SparkSession, branchUrl: String,
      keyCol: String): DataFrame =
    delta(StoreTxn.open(spark, branchUrl), keyCol)

  private def delta(branch: StoreTxn, keyCol: String): DataFrame = {
    val bLatest = branch.head.version
    require(bLatest > 1, s"branch ${branch.url} has no commits past " +
      "its fork — nothing to merge")
    Snapshots.changes(branch, keyCol, 1, bLatest, includeOld = false)
  }

  /** Merge a branch's net delta back into its fork source as ONE
    * upsert commit (inserts + updates land, deletes tombstone).
    * Refuses on key-level conflicts: keys changed on BOTH sides
    * since the fork (listing a sample). A branch with no commits
    * past the fork is a no-op returning the source's current
    * version. The merged branch remains a valid store (re-fork for
    * the next iteration — its fork point is stale once main moves).
    * `maxKeys` bounds the driver-side merge batch, the
    * [[Snapshots.upsert]] contract. */
  def mergeBack(spark: SparkSession, branchUrl: String,
      keyCol: String, maxKeys: Int = 1000000): Int = {
    val (src, forkV) = forkPoint(spark, branchUrl)
    val branch = StoreTxn.open(spark, branchUrl)
    if (branch.head.version == 1) return Snapshots.latest(spark, src)
    // the delta feed is consumed twice (conflict intersect, then the
    // merge upsert) and each leg is a manifest-diff join plan —
    // persist so the second consumer reads the computed rows
    val feed = delta(branch, keyCol).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val main = StoreTxn.open(spark, src)
      val mLatest = main.head.version
      require(mLatest >= forkV,
        s"source $src is at v$mLatest, below the fork point v$forkV " +
          "— its history was vacuumed or rebuilt; re-fork")
      if (mLatest > forkV) {
        // main moved since the fork: any key changed on both sides is
        // a conflict. Both key sets are manifest-diff priced.
        val mainKeys = Snapshots
          .changes(main, keyCol, forkV, mLatest, includeOld = false)
          .select(col(keyCol))
        val conflicts = feed.select(col(keyCol))
          .intersect(mainKeys).limit(11)
          .collect().map(_.get(0))
        require(conflicts.isEmpty,
          s"merge conflict: ${conflicts.length}${if (conflicts.length > 10) "+" else ""} " +
            s"key(s) changed on both $src (since v$forkV) and the " +
            s"branch: ${conflicts.take(10).mkString(", ")} — rebase " +
            "(re-fork and replay) or resolve upstream")
      }
      val updates = feed
        .withColumn("__merge_del", col("_change") === "delete")
        .drop("_change")
      // pin the upsert to the head the conflict scan examined: a main
      // commit interleaving after the scan fails THIS call loudly
      // (re-run mergeBack — it re-checks against the new head) instead
      // of silently last-writer-winning on unexamined keys
      Snapshots.upsert(spark, src, updates, keyCol,
        deleteCol = Some("__merge_del"), maxKeys = maxKeys,
        expectedParentVersion = mLatest)
    } finally feed.unpersist()
  }

  /** Per-key conflict policy for [[rebase]]. The DEFAULT
    * ([[RebaseTheirs]]) is the refuse-loudly shape: a conflicting
    * key keeps MAIN's value on the new branch and is REPORTED, so
    * nothing is ever silently last-writer-won — the caller resolves
    * with full context. The explicit strategies complete the
    * workflow without manual store surgery:
    *  - [[RebaseOurs]] — the branch's delta wins on conflicting
    *    keys too (replay everything); conflicts still reported.
    *  - [[RebaseResolve]] — a callback receives (ours, theirs) for
    *    the conflicting keys and returns the resolution rows. `ours`
    *    is the branch's net delta restricted to conflicted keys
    *    (store columns + `_change` ∈ upsert/delete); `theirs` is
    *    the source head's CURRENT rows for those keys (a key main
    *    deleted is absent). The returned frame must carry the same
    *    shape as `ours` (store columns + `_change`) and only
    *    conflicted keys — it replays alongside the clean delta in
    *    the SAME atomic upsert. */
  sealed trait RebaseStrategy
  case object RebaseTheirs extends RebaseStrategy
  case object RebaseOurs extends RebaseStrategy
  final case class RebaseResolve(
    fn: (DataFrame, DataFrame) => DataFrame) extends RebaseStrategy

  /** Rebase a branch whose [[mergeBack]] was refused: fork the
    * source's CURRENT head into `newBranchUrl` and replay the old
    * branch's net delta there MINUS the conflicting keys (see
    * [[RebaseStrategy]] for the ours/theirs/callback policies),
    * returning (the new fork version, the conflict keys) so the
    * caller can resolve each conflict on the new branch with full
    * main-side context before merging. The non-conflicting keys'
    * work is preserved mechanically; nothing is last-writer-won
    * unless the caller PICKED [[RebaseOurs]] — a conflicting key
    * keeps MAIN's value on the new branch under the default until
    * the caller writes a resolution (the refuse-loudly doctrine
    * turned into a workflow). The old branch is left untouched
    * (delete it once the rebase is verified). Cost: the delta feeds
    * are manifest-diff priced and the fork is O(files) hard links —
    * never either corpus. */
  def rebase(spark: SparkSession, branchUrl: String,
      newBranchUrl: String, keyCol: String,
      maxKeys: Int = 1000000,
      strategy: RebaseStrategy = RebaseTheirs): (Int, Seq[Any]) = {
    val (src, forkV) = forkPoint(spark, branchUrl)
    val branch = StoreTxn.open(spark, branchUrl)
    require(branch.head.version > 1, s"branch $branchUrl has no " +
      "commits past its fork — nothing to rebase")
    // consumed by the conflict intersect, the clean anti-join, the
    // resolver's `ours` semi-join, and the replay upsert — persist
    // once (manifest-diff join plan, bounded by the branch's delta)
    val feed = delta(branch, keyCol).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val main = StoreTxn.open(spark, src)
    val mLatest = main.head.version
    require(mLatest >= forkV,
      s"source $src is at v$mLatest, below the fork point v$forkV " +
        "— its history was vacuumed or rebuilt")
    val conflicts: Seq[Any] =
      if (mLatest == forkV) Nil
      else {
        val rows = feed.select(col(keyCol)).intersect(
            Snapshots.changes(main, keyCol, forkV, mLatest,
              includeOld = false).select(col(keyCol)))
          .limit(maxKeys + 1).collect()
        require(rows.length <= maxKeys,
          s"rebase: more than maxKeys=$maxKeys conflicting keys — " +
            "resolve upstream or raise the bound")
        rows.map(_.get(0)).toSeq
      }
    fork(spark, src, newBranchUrl, mLatest)
    // conflict keys are on the driver (bounded by maxKeys): build the
    // probe side locally instead of re-executing the intersect plan
    // for every downstream join
    val confKeys =
      if (mLatest == forkV) null
      else broadcast(spark.createDataFrame(
        spark.sparkContext.parallelize(
          conflicts.map(org.apache.spark.sql.Row(_)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          feed.schema(keyCol).copy(name = "__ck")))))
    val clean =
      if (confKeys == null) feed
      else feed.join(confKeys, col(keyCol) === col("__ck"),
        "left_anti")
    val replay = strategy match {
      case RebaseTheirs => clean
      case RebaseOurs => feed
      case RebaseResolve(fn) =>
        if (conflicts.isEmpty) clean
        else {
          val ours = feed.join(confKeys,
            col(keyCol) === col("__ck"), "left_semi")
          val theirs = Snapshots.read(spark, newBranchUrl)
            .join(confKeys, col(keyCol) === col("__ck"), "left_semi")
          val resolved = fn(ours, theirs)
          require(resolved.columns.contains("_change"),
            "rebase resolver must return the delta shape (store " +
              "columns + _change ∈ upsert/delete)")
          // resolution rows must stay on the conflicted keys — a
          // resolver that invents other keys would collide with the
          // clean replay (dup-key refusal) or smuggle writes
          val stray = resolved.join(confKeys,
            col(keyCol) === col("__ck"), "left_anti").limit(1)
          require(stray.isEmpty,
            "rebase resolver returned rows outside the conflict set")
          clean.unionByName(resolved)
        }
    }
    val updates = replay
      .withColumn("__merge_del", col("_change") === "delete")
      .drop("_change")
    if (!updates.isEmpty)
      Snapshots.upsert(spark, newBranchUrl, updates, keyCol,
        deleteCol = Some("__merge_del"), maxKeys = maxKeys)
    (mLatest, conflicts)
    } finally feed.unpersist()
  }
}
