package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec

/** Native `spark.readStream.table("graft.store")`: offsets are
  * manifest versions, micro-batches are the files those versions
  * appended, executors decode with Spark's own parquet reader —
  * and the stream is hash-equal to the batch read of the same
  * store. Mutations inside a batch range refuse loudly. */
class StreamTableSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root = {
    val r = new java.io.File(scratch(
      s"strmtbl/${java.util.UUID.randomUUID().toString.take(8)}"))
      .getAbsolutePath
    spark.conf.set("spark.sql.catalog.gst",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gst.root", r)
    r
  }

  test("readStream.table: first batch = current contents, restart " +
      "resumes from the checkpointed version, stream equals batch") {
    val url = s"$root/ev"
    val ck = scratch(
      s"strmtbl_ck/${java.util.UUID.randomUUID().toString.take(8)}")
    Snapshots.create(spark, url,
      (1L to 50L).map(i => (i, i * 2)).toDF("id", "v"), nFiles = 2)
    Snapshots.append(spark, url,
      (51L to 80L).map(i => (i, i * 2)).toDF("id", "v"), nFiles = 2)

    val outDir = scratch(
      s"strmtbl_out/${java.util.UUID.randomUUID().toString.take(8)}")
    def drain(): Unit = {
      val q = spark.readStream.table("gst.ev")
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(outDir).select(col("id")).as[Long]
      .collect().sorted.toSeq == (1L to 80L),
      "first drain must carry the store's full current contents")

    // append after the checkpoint: ONLY the delta arrives on the
    // next drain (resume from the checkpointed VERSION, no dups)
    Snapshots.append(spark, url,
      (81L to 90L).map(i => (i, i * 2)).toDF("id", "v"), nFiles = 1)
    drain()
    assert(spark.read.parquet(outDir).select(col("id")).as[Long]
      .collect().sorted.toSeq == (1L to 90L),
      "restart must resume from the checkpointed version, no dups")

    // the streamed rows equal the batch read (hash-equal contract)
    val batch = Snapshots.read(spark, url).select(col("id"), col("v"))
      .as[(Long, Long)].collect().toSet
    assert(spark.read.parquet(outDir).select(col("id"), col("v"))
      .as[(Long, Long)].collect().toSet == batch)
  }

  test("a mutation inside the batch range refuses loudly; column " +
      "pruning reaches the stream's read schema") {
    val url = s"$root/mut"
    val ck = scratch(
      s"strmtbl_ck2/${java.util.UUID.randomUUID().toString.take(8)}")
    Snapshots.create(spark, url,
      (1L to 30L).map(i => (i, i * 2, s"p$i")).toDF("id", "v", "pay"),
      nFiles = 2)
    // a mutation BEFORE the stream starts is history, not a
    // violation: the initial batch is the current contents
    Snapshots.deleteWhere(spark, url, "id", 1L, 5L)
    val outDir = scratch(
      s"strmtbl_out2/${java.util.UUID.randomUUID().toString.take(8)}")
    def drain(): Unit = spark.readStream.table("gst.mut")
      .select(col("id"))
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    drain()
    assert(spark.read.parquet(outDir).as[Long]
      .collect().sorted.toSeq == (6L to 30L),
      "initial batch must be the post-delete contents")
    // a mutation AFTER the consumed offset violates the append-only
    // lineage: re-emitting rewritten files would duplicate rows
    Snapshots.deleteWhere(spark, url, "id", 6L, 8L)
    val e = intercept[Exception] { drain() }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("append-only")),
      s"expected the append-only refusal, got ${chain(e).take(3)}")
  }

  test("a store carrying MoR deletion vectors and renamed columns " +
      "streams its EFFECTIVE initial snapshot, then plain appends") {
    val url = s"$root/mor"
    val ck = scratch(
      s"strmtbl_ck3/${java.util.UUID.randomUUID().toString.take(8)}")
    Snapshots.create(spark, url,
      (1L to 40L).map(i => (i, i * 3, s"p$i")).toDF("id", "v", "pay"),
      nFiles = 2, clusterBy = Some("id"))
    Snapshots.deleteWhereMor(spark, url, LongRange("id", 10L, 15L)) // v2: DVs
    Snapshots.renameColumn(spark, url, "v", "val")       // v3: colmap
    val outDir = scratch(
      s"strmtbl_out3/${java.util.UUID.randomUUID().toString.take(8)}")
    def drain(): Unit = spark.readStream.table("gst.mor")
      .select(col("id"), col("val"))
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    drain()
    val first = spark.read.parquet(outDir)
      .as[(Long, Long)].collect().toSet
    assert(first == (1L to 40L).filterNot(i => i >= 10 && i <= 15)
      .map(i => (i, i * 3)).toSet,
      "initial batch must be the DV-anti-joined effective rows " +
        "under logical names")
    // appends to the renamed store stage PHYSICAL names; the stream
    // keeps presenting logical ones
    Snapshots.append(spark, url,
      (41L to 45L).map(i => (i, i * 3, s"p$i")).toDF("id", "val", "pay"))
    drain()
    assert(spark.read.parquet(outDir).as[(Long, Long)]
      .collect().toSet == first ++
        (41L to 45L).map(i => (i, i * 3)).toSet,
      "the delta batch must decode appended physical-name files")
    // stream equals batch across the whole lifecycle
    assert(first ++ (41L to 45L).map(i => (i, i * 3)).toSet ==
      Snapshots.read(spark, url).select(col("id"), col("val"))
        .as[(Long, Long)].collect().toSet)
  }

  test("startingVersion skips the bootstrap snapshot; " +
      "maxVersionsPerTrigger drains a recovery gap as bounded " +
      "batches under AvailableNow") {
    val url = s"$root/adm"
    val ck = scratch(
      s"strmtbl_ck4/${java.util.UUID.randomUUID().toString.take(8)}")
    Snapshots.create(spark, url,
      (1L to 10L).map(i => (i, i)).toDF("id", "v"), nFiles = 1)
    (1 to 4).foreach(k => Snapshots.append(spark, url,
      Seq((10L + k, 10L + k)).toDF("id", "v"), nFiles = 1))
    // startingVersion=2: versions 3..5 only (no bootstrap snapshot)
    val outDir = scratch(
      s"strmtbl_out4/${java.util.UUID.randomUUID().toString.take(8)}")
    var batches = 0
    spark.readStream.option("startingVersion", "2")
      .option("maxVersionsPerTrigger", "1")
      .table("gst.adm")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.select(col("id")).as[Long].collect().sorted
        if (rows.nonEmpty) {
          batches += 1
          b.write.mode("append").parquet(outDir)
        }
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    assert(batches == 3,
      s"maxVersionsPerTrigger=1 must drain v3..v5 as 3 batches, " +
        s"got $batches")
    assert(spark.read.parquet(outDir).select(col("id")).as[Long]
      .collect().sorted.toSeq == (12L to 14L),
      "startingVersion=2 must skip v1's snapshot and v2's append")
    // a bogus startingVersion refuses loudly
    val e = intercept[Exception] {
      spark.readStream.option("startingVersion", "99")
        .table("gst.adm")
        .writeStream.format("noop")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("startingVersion")),
      chain(e).take(3).toString)
  }

  test("a pinned time-travel resolution does not stream") {
    val url = s"$root/pin"
    Snapshots.create(spark, url,
      Seq((1L, 2L)).toDF("id", "v"), nFiles = 1)
    Snapshots.append(spark, url, Seq((2L, 4L)).toDF("id", "v"), 1)
    val e = intercept[Exception] {
      spark.readStream.option("versionAsOf", "1").table("gst.pin")
        .writeStream.format("memory").queryName("strm_pin")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    assert(e.getMessage != null)
  }
}
