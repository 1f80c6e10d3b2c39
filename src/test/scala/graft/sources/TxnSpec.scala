package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Multi-store atomic publish: intent-journal two-phase commit with
  * roll-forward recovery — all participants become visible, or the
  * journal replays them to visibility after a crash. */
class TxnSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    scratch(s"txn_$tag/${java.util.UUID.randomUUID().toString.take(8)}")

  test("commitTogether publishes every store; journals clear; " +
      "schema drift and duplicate urls refuse before staging") {
    val a = fresh("a"); val b = fresh("b")
    Snapshots.create(spark, a,
      (1L to 50L).map(i => (i, i)).toDF("id", "v"), nFiles = 2)
    Snapshots.create(spark, b,
      (1L to 20L).map(i => (i, s"n$i")).toDF("k", "name"), nFiles = 1)
    val va = Snapshots.latest(spark, a)
    val vb = Snapshots.latest(spark, b)
    val Seq(na, nb) = Snapshots.commitTogether(spark, Seq(
      (a, (51L to 70L).map(i => (i, i)).toDF("id", "v"), 1),
      (b, (21L to 30L).map(i => (i, s"n$i")).toDF("k", "name"), 1)))
    assert(na == va + 1 && nb == vb + 1)
    assert(Snapshots.read(spark, a).count() == 70L)
    assert(Snapshots.read(spark, b).count() == 30L)
    assert(Snapshots.pendingTxns(spark, a).isEmpty &&
      Snapshots.pendingTxns(spark, b).isEmpty)
    // schema drift is refused before anything stages
    intercept[IllegalArgumentException] {
      Snapshots.commitTogether(spark, Seq(
        (a, Seq((1L, "wrong")).toDF("id", "v"), 1)))
    }
    intercept[IllegalArgumentException] {
      Snapshots.commitTogether(spark,
        Seq((a, Seq((1L, 1L)).toDF("id", "v"), 1),
          (a, Seq((2L, 2L)).toDF("id", "v"), 1)))
    }
    assert(Snapshots.latest(spark, a) == na, "refusal must not commit")
  }

  test("crash after the first participant commits: journal present, " +
      "recoverTxns rolls the rest forward idempotently, vacuum is " +
      "blocked until then") {
    val a = fresh("ca"); val b = fresh("cb")
    Snapshots.create(spark, a,
      (1L to 10L).map(i => (i, i)).toDF("id", "v"), nFiles = 1)
    Snapshots.create(spark, b,
      (1L to 10L).map(i => (i, i)).toDF("id", "v"), nFiles = 1)
    // simulate commitTogether dying between participant commits:
    // stage both (append, then retract the manifest — the staged
    // files stay on disk unreferenced, exactly commitTogether's
    // pre-commit state), journal the intent, commit ONLY a
    def stage(url: String, lo: Long, hi: Long): Seq[String] = {
      val v0 = Snapshots.latest(spark, url)
      val v1 = Snapshots.append(spark, url,
        (lo to hi).map(i => (i, i)).toDF("id", "v"), 1)
      val added = Snapshots.snap(spark, url, v1).files
        .filterNot(Snapshots.snap(spark, url, v0).files.toSet)
      val root = new org.apache.hadoop.fs.Path(url)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root,
        f"_snap/v$v1%08d.json"), false)
      assert(Snapshots.latest(spark, url) == v0)
      added
    }
    val fa = stage(a, 11L, 20L)
    val fb = stage(b, 11L, 25L)
    val plan = Snapshots.TxnPlan("testcrash01",
      Seq(Snapshots.TxnPart(a, fa), Snapshots.TxnPart(b, fb)))
    Snapshots.writeTxnMarkers(spark, plan)
    // first participant committed, then "crash"
    Snapshots.commitStagedInto(StoreTxn.open(spark, a), fa)
    assert(Snapshots.read(spark, a).count() == 20L)
    assert(Snapshots.read(spark, b).count() == 10L, "b must be behind")
    assert(Snapshots.pendingTxns(spark, b) == Seq("testcrash01"))
    // vacuum refuses while the journal is open
    intercept[IllegalArgumentException] {
      Snapshots.vacuum(spark, b, Snapshots.latest(spark, b),
        graceMs = 0L)
    }
    // roll-forward from EITHER store completes the transaction
    assert(Snapshots.recoverTxns(spark, b) == 1)
    assert(Snapshots.read(spark, b).count() == 25L)
    assert(Snapshots.read(spark, a).count() == 20L,
      "already-committed participant must not double-append")
    assert(Snapshots.pendingTxns(spark, a).isEmpty &&
      Snapshots.pendingTxns(spark, b).isEmpty)
    // a second recovery is a no-op
    assert(Snapshots.recoverTxns(spark, a) == 0)
    assert(Snapshots.read(spark, a).count() == 20L)
  }

  test("upsertTogether: keyed COW rewrites across stores publish " +
      "atomically; ops are txn-upsert; journals clear; deletes land") {
    val f = fresh("uf"); val d = fresh("ud")
    Snapshots.create(spark, f,
      (1L to 40L).map(i => (i, i % 7, i)).toDF("oid", "cust", "amt"),
      nFiles = 2)
    Snapshots.create(spark, d,
      (0L to 6L).map(i => (i, s"c$i")).toDF("cid", "name"), nFiles = 1)
    val Seq(vf, vd) = Snapshots.upsertTogether(spark, Seq(
      Snapshots.UpsertPart(f,
        Seq((1L, 9L, 100L), (41L, 9L, 41L), (2L, 2L, 2L))
          .toDF("oid", "cust", "amt").withColumn("__del",
            col("oid") === 2L),
        "oid", deleteCol = Some("__del")),
      Snapshots.UpsertPart(d,
        Seq((9L, "c9")).toDF("cid", "name"), "cid")))
    assert(Snapshots.snap(spark, f, vf).op == "txn-upsert")
    assert(Snapshots.snap(spark, d, vd).op == "txn-upsert")
    val fact = Snapshots.read(spark, f)
    assert(fact.count() == 40L) // 40 - 1 delete + 1 insert
    assert(fact.filter(col("oid") === 2L).isEmpty)
    assert(fact.filter(col("oid") === 1L).select("amt")
      .as[Long].head() == 100L)
    assert(Snapshots.read(spark, d).count() == 8L)
    // every new fact cust has its dim row — the consistency the
    // atomic pair exists for
    assert(fact.join(Snapshots.read(spark, d),
      col("cust") === col("cid"), "left_anti").isEmpty)
    assert(Snapshots.pendingTxns(spark, f).isEmpty &&
      Snapshots.pendingTxns(spark, d).isEmpty)
  }

  test("crash mid-upsertTogether: the drops-bearing journal rolls " +
      "forward idempotently; a foreign commit retiring an affected " +
      "file refuses the roll-forward loudly") {
    val a = fresh("cua"); val b = fresh("cub")
    Snapshots.create(spark, a,
      (1L to 20L).map(i => (i, i)).toDF("id", "v"), nFiles = 2)
    Snapshots.create(spark, b,
      (1L to 20L).map(i => (i, i)).toDF("id", "v"), nFiles = 2)
    def stageUp(url: String): (Seq[String], Seq[String]) = {
      val (affected, rewritten) = Snapshots.stageUpsert(
        StoreTxn.open(spark, url), Seq((1L, 1000L)).toDF("id", "v"),
        "id", None, None, 1000000, -1)
      (rewritten, affected)
    }
    val (sa, da) = stageUp(a)
    val (sb, db) = stageUp(b)
    val plan = Snapshots.TxnPlan("upcrash01",
      Seq(Snapshots.TxnPart(a, sa, da), Snapshots.TxnPart(b, sb, db)))
    Snapshots.writeTxnMarkers(spark, plan)
    Snapshots.commitStagedInto(StoreTxn.open(spark, a), sa, da) // then "crash"
    assert(Snapshots.read(spark, a)
      .filter(col("id") === 1L).select("v").as[Long].head() == 1000L)
    assert(Snapshots.read(spark, b)
      .filter(col("id") === 1L).select("v").as[Long].head() == 1L)
    assert(Snapshots.recoverTxns(spark, b) == 1)
    assert(Snapshots.read(spark, b)
      .filter(col("id") === 1L).select("v").as[Long].head() == 1000L)
    assert(Snapshots.read(spark, b).count() == 20L,
      "roll-forward must replace affected files, not re-append them")
    assert(Snapshots.read(spark, a).count() == 20L)
    assert(Snapshots.pendingTxns(spark, a).isEmpty &&
      Snapshots.pendingTxns(spark, b).isEmpty)
    // foreign interleave: stage an upsert, then let another commit
    // retire one of its affected files — the roll-forward must
    // refuse, never un-list a file some other commit owns
    val (sc, dc) = stageUp(b)
    Snapshots.deleteWhere(spark, b, "id", 1L, 20L) // rewrites all
    val err = intercept[RuntimeException] {
      Snapshots.commitStagedInto(StoreTxn.open(spark, b), sc, dc)
    }
    assert(err.getMessage.contains("foreign commit"),
      s"wrong refusal: ${err.getMessage}")
  }

  test("a deterministic commit failure surfaces immediately with " +
      "its own message, not a swallowed 16-retry loop") {
    val a = fresh("det")
    Snapshots.create(spark, a,
      Seq((1L, 1L)).toDF("id", "v"), nFiles = 1)
    // a staged name with a slash exists on disk but violates the
    // manifest flat-name contract — commit refuses via require,
    // which must NOT be treated as a version race
    val root = new org.apache.hadoop.fs.Path(a)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sub = new org.apache.hadoop.fs.Path(root, "sub")
    fs.mkdirs(sub)
    fs.create(new org.apache.hadoop.fs.Path(sub, "x.parquet")).close()
    val err = intercept[IllegalArgumentException] {
      Snapshots.commitStagedInto(StoreTxn.open(spark, a),
        Seq("sub/x.parquet"))
    }
    assert(err.getMessage.contains("flat root-relative"))
  }

  test("keyed commitTogether is exactly-once: a retry returns the " +
      "committed versions; a crashed keyed txn recovers WITH its " +
      "key so the retry still no-ops") {
    val a = fresh("ka"); val b = fresh("kb")
    Snapshots.create(spark, a,
      (1L to 10L).map(i => (i, i)).toDF("id", "v"), nFiles = 1)
    Snapshots.create(spark, b,
      (1L to 10L).map(i => (i, i)).toDF("id", "v"), nFiles = 1)
    def parts(lo: Long, hi: Long) = Seq(
      (a, (lo to hi).map(i => (i, i)).toDF("id", "v"), 1),
      (b, (lo to hi).map(i => (i, i)).toDF("id", "v"), 1))
    val vs1 = Snapshots.commitTogether(spark, parts(11L, 20L),
      Some("epoch_b0"))
    assert(Snapshots.snap(spark, a, vs1.head).op ==
      "txn-append:epoch_b0")
    // at-least-once retry: same key, fresh batch → no new commit
    val vs2 = Snapshots.commitTogether(spark, parts(11L, 20L),
      Some("epoch_b0"))
    assert(vs2 == vs1, s"retry committed again: $vs2 vs $vs1")
    assert(Snapshots.read(spark, a).count() == 20L)
    // crash sim: journal a keyed txn, commit NOTHING, then retry —
    // recovery completes the OLD staged files under the key and the
    // retry returns without re-publishing its own (fresh) staging
    def stage(url: String, lo: Long, hi: Long): Seq[String] = {
      val v0 = Snapshots.latest(spark, url)
      val v1 = Snapshots.append(spark, url,
        (lo to hi).map(i => (i, i)).toDF("id", "v"), 1)
      val added = Snapshots.snap(spark, url, v1).files
        .filterNot(Snapshots.snap(spark, url, v0).files.toSet)
      val root = new org.apache.hadoop.fs.Path(url)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root,
        f"_snap/v$v1%08d.json"), false)
      added
    }
    val fa = stage(a, 21L, 30L)
    val fb = stage(b, 21L, 30L)
    Snapshots.writeTxnMarkers(spark, Snapshots.TxnPlan("kcrash01",
      Seq(Snapshots.TxnPart(a, fa), Snapshots.TxnPart(b, fb)),
      Some("epoch_b1")))
    // "crash" before any commit; the caller retries the whole epoch
    val vs3 = Snapshots.commitTogether(spark, parts(21L, 30L),
      Some("epoch_b1"))
    assert(Snapshots.read(spark, a).count() == 30L,
      "epoch must land exactly once through recovery")
    assert(Snapshots.read(spark, b).count() == 30L)
    assert(Snapshots.snap(spark, a, vs3.head).op ==
      "txn-append:epoch_b1",
      "recovered commit must carry the journaled key")
    assert(Snapshots.pendingTxns(spark, a).isEmpty &&
      Snapshots.pendingTxns(spark, b).isEmpty)
  }
}
