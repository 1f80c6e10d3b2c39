package graft.sources

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The local filesystem counting `listStatus` calls on `_snap`
  * manifest directories under [[SnapListingFs.watched]]. */
class SnapListingFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    val p = f.toUri.getPath
    if (f.getName == "_snap" && SnapListingFs.watched.exists(p.startsWith))
      SnapListingFs.lists.incrementAndGet()
    super.listStatus(f)
  }
}

object SnapListingFs {
  @volatile var watched: Option[String] = None
  val lists = new AtomicLong()
}

/** One `_snap` listing per commit attempt, one per read: each store
  * operation resolves its versions, parent and dedup check from one
  * [[StoreTxn]]. */
class StoreListingSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` with the counting filesystem installed for `file://`
    * (uncached, so every handle gets one), counting listings under
    * `root`; the session's configuration is restored afterwards. */
  private def counting[T](root: String)(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[SnapListingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    SnapListingFs.watched =
      Some(new Path(new java.io.File(root).getAbsolutePath).toUri.getPath)
    try body
    finally {
      SnapListingFs.watched = None
      saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    }
  }

  /** `_snap` listings `op` makes. */
  private def listings(op: => Any): Long = {
    val before = SnapListingFs.lists.get
    op
    SnapListingFs.lists.get - before
  }

  test("every store operation lists _snap once per commit attempt " +
      "(once per call for reads)") {
    val base = new java.io.File(scratch(s"storelisting-${
      java.util.UUID.randomUUID().toString.take(8)}")).getAbsolutePath
    val url = s"$base/store"
    Snapshots.create(spark, url,
      (1L to 40L).map(i => (i, i * 10)).toDF("id", "v"), nFiles = 4,
      clusterBy = Some("id"))
    Snapshots.indexStats(spark, url, Seq("id"))
    val ops: Seq[(String, () => Any)] = Seq(
      "append" -> (() => Snapshots.append(spark, url,
        Seq((41L, 410L)).toDF("id", "v"), nFiles = 1)),
      "appendOnce" -> (() => Snapshots.appendOnce(spark, url,
        Seq((42L, 420L)).toDF("id", "v"), "k1", nFiles = 1)),
      "appendOnce replay" -> (() => Snapshots.appendOnce(spark, url,
        Seq((42L, 420L)).toDF("id", "v"), "k1", nFiles = 1)),
      "upsert" -> (() => Snapshots.upsert(spark, url,
        Seq((1L, 11L)).toDF("id", "v"), "id")),
      "deleteWhere" -> (() => Snapshots.deleteWhere(spark, url,
        LongRange("id", 2L, 3L))),
      "deleteWhereMor" -> (() => Snapshots.deleteWhereMor(spark, url,
        LongRange("id", 4L, 5L))),
      "updateWhere" -> (() => Snapshots.updateWhere(spark, url,
        LongRange("id", 6L, 7L), Map("v" -> (col("v") + 1L)))),
      "deleteWhereCond" -> (() => Snapshots.deleteWhereCond(spark, url,
        col("id") === 8L)),
      "updateWhereCond" -> (() => Snapshots.updateWhereCond(spark, url,
        col("id") === 9L, Map("v" -> lit(0L)))),
      "readWhere" -> (() => Snapshots.readWhere(spark, url, "id", 10L,
        20L).collect()),
      "countWhere" -> (() => Snapshots.countWhere(spark, url,
        LongRange("id", 10L, 20L))))
    val counted = counting(base) {
      ops.map { case (name, op) => name -> listings(op()) }
    }
    assert(counted.forall(_._2 == 1L),
      s"_snap listings per operation: ${counted.mkString(", ")}")
    // the counted run changed what it should have
    val rows = Snapshots.read(spark, url).as[(Long, Long)].collect().toMap
    assert(rows.size == 42 - 5)
    assert(rows(1L) == 11L && rows(6L) == 61L && rows(9L) == 0L)
    assert(Seq(2L, 3L, 4L, 5L, 8L).forall(k => !rows.contains(k)))
  }

  test("a stale handle loses the claim and the retry re-lists once; " +
      "other failures are not retried") {
    val base = new java.io.File(scratch(s"storeretry-${
      java.util.UUID.randomUUID().toString.take(8)}")).getAbsolutePath
    val url = s"$base/store"
    Snapshots.create(spark, url, Seq((1L, 1L)).toDF("id", "v"),
      nFiles = 1)
    val stale = StoreTxn.open(spark, url)
    assert(stale.head.version == 1)
    Snapshots.append(spark, url, Seq((2L, 2L)).toDF("id", "v"),
      nFiles = 1)
    intercept[CommitRaceLost] {
      stale.commit("append", stale.head.files, stale.schema)
    }
    var attempts = 0
    val n = counting(base) {
      listings {
        val v = StoreTxn.retrying(stale) { t =>
          attempts += 1
          t.commit("restore:v1", t.at(1).files, t.schema)
        }
        assert(v == 3)
      }
    }
    assert(attempts == 2 && n == 1L, s"attempts $attempts, listings $n")
    assert(Snapshots.read(spark, url).count() == 1L)
    var tries = 0
    intercept[IllegalArgumentException] {
      StoreTxn.retrying(StoreTxn.open(spark, url)) { _ =>
        tries += 1
        require(false, "not a race")
      }
    }
    assert(tries == 1)
  }
}
