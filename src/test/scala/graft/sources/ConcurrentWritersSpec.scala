package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Concurrent writers against ONE store: appends are version-race
  * safe (losers retry at the new head), appendOnce twins stay
  * exactly-once, and content-dependent mutations (upsert with a pin)
  * still refuse — the multi-pipeline ingest contract. */
class ConcurrentWritersSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String = scratch(
    s"conc_$tag/${java.util.UUID.randomUUID().toString.take(8)}")

  test("8 concurrent appends all land: losers retry at the new " +
      "head; versions are contiguous; every row arrives once") {
    val url = fresh("appends")
    Snapshots.create(spark, url,
      Seq((0L, 0L)).toDF("id", "v"), nFiles = 1)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futures = (1 to 8).map { w =>
      Future {
        Snapshots.append(spark, url,
          ((w * 100L) until (w * 100L + 10L)).map(i => (i, i))
            .toDF("id", "v"), nFiles = 1)
      }
    }
    val vs = Await.result(Future.sequence(futures), 600.seconds)
    assert(vs.sorted == (2 to 9),
      s"appends must claim contiguous versions, got ${vs.sorted}")
    assert(Snapshots.read(spark, url).count() == 81L)
    assert(Snapshots.read(spark, url).select("id").distinct()
      .count() == 81L, "a retried append duplicated rows")
  }

  test("appendOnce twins racing the same key commit exactly once") {
    val url = fresh("once")
    Snapshots.create(spark, url,
      Seq((0L, 0L)).toDF("id", "v"), nFiles = 1)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futures = (1 to 6).map { _ =>
      Future {
        Snapshots.appendOnce(spark, url,
          (1L to 10L).map(i => (i, i)).toDF("id", "v"),
          commitKey = "epoch_7", nFiles = 1)
      }
    }
    val vs = Await.result(Future.sequence(futures), 600.seconds)
    assert(vs.distinct.size == 1,
      s"twins disagreed on the committed version: $vs")
    assert(Snapshots.read(spark, url).count() == 11L,
      "exactly-once violated under concurrent replays")
    assert(Snapshots.versions(spark, url)
      .count(v => Snapshots.snap(spark, url, v).op ==
        "append:epoch_7") == 1)
  }

  test("content-dependent mutations stay pinned: an upsert whose " +
      "pre-checks saw an older head refuses after a rename moved it") {
    val url = fresh("pin")
    Snapshots.create(spark, url,
      Seq((1L, 10L)).toDF("id", "bal"), nFiles = 1)
    val parent = Snapshots.snap(spark, url, 1)
    Snapshots.renameColumn(spark, url, "bal", "balance")
    val e = intercept[IllegalArgumentException] {
      Snapshots.stageUpsert(StoreTxn.open(spark, url),
        Seq((1L, 99L)).toDF("id", "bal"), "id", None, None, 1000,
        expectedParentVersion = parent.version)
    }
    assert(e.getMessage.contains("moved") ||
      e.getMessage.contains("schema"), s"got ${e.getMessage}")
  }
}
