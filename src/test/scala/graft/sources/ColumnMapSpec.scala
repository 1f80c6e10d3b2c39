package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Column mapping: rename/drop as metadata-only commits. The
  * contracts: zero data files touched, every reader presents logical
  * names (old versions THEIR names), writers after a rename keep the
  * stable physical schema, the physically-keyed stats sidecar stays
  * valid across renames (a probe on the new name still prunes and
  * still prices from metadata), dropped physical names can never be
  * re-born, and non-mapping-aware paths refuse loudly. */
class ColumnMapSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    scratch(s"colmap_$tag/${java.util.UUID.randomUUID().toString.take(8)}")

  test("rename: metadata-only, values intact, snapshot isolation, " +
      "stats stay valid (metadata-priced count on the NEW name), " +
      "writes after the rename land physically stable") {
    val url = fresh("rename")
    Snapshots.create(spark, url,
      (1L to 100L).map(i => (i, s"b$i", i * 2)).toDF("id", "body", "n"),
      nFiles = 4, clusterBy = Some("id"))
    Snapshots.indexStats(spark, url, Seq("id"))
    val v1 = Snapshots.latest(spark, url)
    val filesBefore = Snapshots.snap(spark, url, v1).files.sorted
    val v2 = Snapshots.renameColumn(spark, url, "id", "doc_id")
    assert(v2 == v1 + 1)
    assert(Snapshots.snap(spark, url, v2).files.sorted == filesBefore,
      "rename touched data files")
    val now = Snapshots.read(spark, url)
    assert(now.columns.toSeq == Seq("doc_id", "body", "n"))
    assert(now.agg(sum("doc_id")).as[Long].head() == (1L to 100L).sum)
    // the old version still reads its own name
    assert(Snapshots.readAsOf(spark, url, v1).columns.head == "id")
    // stats built BEFORE the rename answer probes on the NEW name —
    // pruned AND metadata-priced
    val hit = Snapshots.prunedFiles(spark, url, v2, "doc_id", 1L, 10L)
    assert(hit.nonEmpty && hit.size < filesBefore.size,
      s"rename broke band pruning (${hit.size}/${filesBefore.size})")
    val (cnt, scanned) = Snapshots.countWhere(spark, url, LongRange("doc_id",
      Long.MinValue, Long.MaxValue))
    assert(cnt == 100L && scanned == 0,
      s"full-range count not metadata-only after rename ($scanned)")
    assert(Snapshots.readWhere(spark, url, "doc_id", 5L, 7L)
      .count() == 3L)
    // writes after the rename: append + upsert keep the physical
    // schema (old files and new files agree)
    Snapshots.append(spark, url,
      Seq((101L, "new", 202L)).toDF("doc_id", "body", "n"))
    Snapshots.upsert(spark, url,
      Seq((5L, "patched", 10L)).toDF("doc_id", "body", "n"), "doc_id")
    val after = Snapshots.read(spark, url)
    assert(after.count() == 101L)
    assert(after.filter(col("doc_id") === 5L).select("body")
      .as[String].head() == "patched")
    assert(after.filter(col("doc_id") === 101L).count() == 1L)
    // CDC across the whole range reads both sides consistently
    val feed = Snapshots.changes(spark, url, "doc_id", v2,
      Snapshots.latest(spark, url))
    assert(feed.filter(col("_change") === "insert").count() == 1L)
    // rename back: colmap collapses to identity
    Snapshots.renameColumn(spark, url, "doc_id", "id")
    assert(Snapshots.snap(spark, url,
      Snapshots.latest(spark, url)).colmap.isEmpty)
    assert(Snapshots.read(spark, url).columns.head == "id")
  }

  test("drop: metadata-only retirement; the physical name is " +
      "reserved forever; constraints block rename/drop; the reader " +
      "chain refuses a renamed store") {
    val url = fresh("drop")
    Snapshots.create(spark, url,
      (1L to 50L).map(i => (i, s"b$i", i * 2)).toDF("id", "body", "n"),
      nFiles = 2)
    Snapshots.indexStats(spark, url, Seq("id", "n"))
    val v1 = Snapshots.latest(spark, url)
    val filesBefore = Snapshots.snap(spark, url, v1).files.sorted
    val v2 = Snapshots.dropColumn(spark, url, "n")
    assert(v2 == v1 + 1)
    assert(Snapshots.snap(spark, url, v2).files.sorted == filesBefore)
    assert(Snapshots.read(spark, url).columns.toSeq ==
      Seq("id", "body"))
    assert(Snapshots.readAsOf(spark, url, v1).columns.contains("n"))
    // stats hygiene: the remaining field still indexes cleanly
    Snapshots.append(spark, url, Seq((51L, "x")).toDF("id", "body"))
    assert(Snapshots.indexStats(spark, url, Seq("id")) > 0)
    // the dropped physical name can never be re-born
    val e = intercept[IllegalArgumentException] {
      Snapshots.append(spark, url,
        Seq((52L, "y", 9L)).toDF("id", "body", "n"))
    }
    assert(e.getMessage.contains("reserved"))
    // a column referenced by a CHECK constraint refuses to move
    val url2 = fresh("guard")
    Snapshots.create(spark, url2,
      Seq((1L, 5L)).toDF("k", "v"), nFiles = 1)
    Snapshots.addConstraint(spark, url2, "v_pos", "v > 0")
    intercept[IllegalArgumentException] {
      Snapshots.renameColumn(spark, url2, "v", "value")
    }
    intercept[IllegalArgumentException] {
      Snapshots.dropColumn(spark, url2, "v")
    }
    // the last column cannot drop; unknown/target-exists refuse
    intercept[IllegalArgumentException] {
      Snapshots.renameColumn(spark, url2, "k", "v")
    }
    // reader chain refuses a renamed store loudly
    val url3 = fresh("chain")
    Snapshots.create(spark, url3,
      Seq((1L, "a")).toDF("id", "t"), nFiles = 1)
    Snapshots.renameColumn(spark, url3, "t", "txt")
    val err = intercept[IllegalArgumentException] {
      GraftRead.reader(spark, url3).load()
    }
    assert(err.getMessage.contains("renamed columns"))
  }

  test("rename composes with merge-on-read: MoR delete and update " +
      "on the renamed column, CDC exact, purge clean") {
    val url = fresh("mor")
    Snapshots.create(spark, url,
      (1L to 60L).map(i => (i, s"b$i")).toDF("id", "body"),
      nFiles = 2, clusterBy = Some("id"))
    Snapshots.renameColumn(spark, url, "id", "key")
    val v1 = Snapshots.latest(spark, url)
    val v2 = Snapshots.deleteWhereMor(spark, url, LongRange("key", 10L, 19L))
    assert(Snapshots.read(spark, url).count() == 50L)
    val feed = Snapshots.changes(spark, url, "key", v1, v2)
    assert(feed.filter(col("_change") === "delete").count() == 10L)
    Snapshots.updateWhereMor(spark, url, LongRange("key", 20L, 22L),
      Map("body" -> lit("edited")))
    assert(Snapshots.read(spark, url)
      .filter(col("body") === "edited").count() == 3L)
    val vp = Snapshots.purgeDv(spark, url, clusterBy = Some("key"))
    assert(Snapshots.snap(spark, url, vp).files
      .forall(!_.contains("--dv--")))
    assert(Snapshots.read(spark, url).count() == 50L)
    assert(Snapshots.read(spark, url).columns.toSeq ==
      Seq("key", "body"))
  }

  test("CDC dropped side resolves under its OWN colmap lineage: " +
      "rename then overwrite emits real values, never nulls; the " +
      "lineage-lost compound refuses loudly; reservation checks are " +
      "case-insensitive") {
    val url = fresh("lineage")
    Snapshots.create(spark, url,
      (1L to 20L).map(i => (i, i * 10)).toDF("id", "bal"), nFiles = 2)
    val v1 = Snapshots.latest(spark, url)
    val v2 = Snapshots.renameColumn(spark, url, "bal", "balance")
    // overwrite commits an EMPTY colmap (new files store logical
    // names physically); the dropped side of the next feed is the
    // pre-overwrite files, which store the birth physical name `bal`
    val v3 = Snapshots.overwrite(spark, url,
      (1L to 5L).map(i => (i, i * 100)).toDF("id", "balance"),
      nFiles = 1)
    val feed = Snapshots.changes(spark, url, "id", v2, v3)
    val dels = feed.filter(col("_change") === "delete")
    assert(dels.count() == 15L)
    // the regression: under toV's (empty) colmap these were NULL
    assert(dels.filter(col("balance").isNull).count() == 0L,
      "delete rows lost the renamed column's values")
    assert(dels.agg(sum("balance")).as[Long].head() ==
      (6L to 20L).map(_ * 10).sum)
    assert(feed.filter(col("_change") === "update")
      .agg(sum("balance")).as[Long].head() == (1L to 5L).map(_ * 100).sum)
    // the feed whose range crosses BOTH the rename and the
    // colmap-resetting overwrite cannot resolve the dropped side
    // exactly — loud refusal with the split instruction
    val err = intercept[RuntimeException] {
      Snapshots.changes(spark, url, "id", v1, v3).count()
    }
    assert(err.getMessage.contains("split the feed range"),
      s"wrong refusal: ${err.getMessage}")
    // case-insensitive reservation: a dropped physical slot cannot
    // be re-born under a different case (Spark resolves parquet
    // columns case-insensitively by default)
    val url2 = fresh("caseres")
    Snapshots.create(spark, url2,
      Seq((1L, 2L, 3L)).toDF("id", "bal", "x"), nFiles = 1)
    Snapshots.dropColumn(spark, url2, "bal")
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.append(spark, url2,
        Seq((2L, 4L, 9L)).toDF("id", "x", "BAL"))
    }
    assert(e2.getMessage.contains("reserved"))
    val e3 = intercept[IllegalArgumentException] {
      Snapshots.renameColumn(spark, url2, "x", "ID")
    }
    assert(e3.getMessage.contains("already exists"))
  }
}
