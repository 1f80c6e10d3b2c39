package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Vector-aware file skipping: the IVF posting sidecar must (1) make
  * exhaustive search (nprobe = k) EQUAL integer brute force, (2)
  * actually skip files on a cell-clustered store at nprobe = 1, (3)
  * refresh incrementally — O(new entries) — and stay exact across
  * appends and merge-on-read deletes, (4) pin its centroid set. */
class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    scratch(s"vecidx_$tag/${java.util.UUID.randomUUID().toString.take(8)}")

  private val Dim = 8

  /** 4 well-separated clusters on one-hot axes + deterministic
    * jitter; values stay in [-1, 1] (the unit-scale contract). */
  private def emb(id: Long): Seq[Double] = {
    val c = (id % 4).toInt
    (0 until Dim).map { d =>
      val jit = (((id * 31 + d * 17) % 7) - 3) / 100.0
      if (d == c) 0.9 + jit / 10 else jit
    }
  }

  private def rows(ids: Seq[Long]) =
    ids.map(i => (i, emb(i))).toDF("vec_id", "embedding")

  /** Integer rank key — the q316 formula, replicated independently
    * so the spec does not trust the implementation under test. */
  private def key(q: Seq[Double], c: Seq[Double]): Long = {
    def qz(v: Seq[Double]) = v.map(x => math.floor(x * 1e6).toLong)
    val (a, b) = (qz(q), qz(c))
    val dp = a.zip(b).map { case (x, y) => x * y }.sum
    val den = math.max(1L,
      math.floor(math.sqrt(a.map(x => (x * x).toDouble).sum)).toLong *
        math.floor(math.sqrt(b.map(x => (x * x).toDouble).sum)).toLong)
    (dp + 2L * den) * 100000L / den
  }

  test("exhaustive probe (nprobe = k) equals integer brute force; " +
      "nprobe = 1 on a cell-clustered store opens fewer files and " +
      "still finds the in-cell nearest") {
    val url = fresh("exact")
    val ids = (1L to 200L)
    // cluster the LAYOUT by the embedding's cluster id so postings
    // concentrate per file
    Snapshots.create(spark, url,
      rows(ids).withColumn("grp", (col("vec_id") % 4).cast("long")),
      nFiles = 8, clusterBy = Some("grp"))
    assert(VectorIndex.index(spark, url, "vec_id", "embedding", 4) > 0)
    val q = emb(42L) // in cluster 2
    val got = VectorIndex.search(spark, url, "vec_id", "embedding",
      q, topK = 5, nprobe = 4)
      .select("rank", "id").as[(Int, Long)].collect().toSeq
    val want = ids.map(i => (i, key(q, emb(i))))
      .sortBy { case (i, k) => (-k, i) }.take(5).map(_._1)
    assert(got.map(_._2) == want,
      s"exhaustive search ${got.map(_._2)} != brute force $want")
    // narrow probe: strictly fewer entries opened, same top-1 (the
    // query's own cluster holds its nearest neighbors)
    val v = Snapshots.latest(spark, url)
    val total = Snapshots.snap(spark, url, v).files.size
    val pruned = VectorIndex.prunedEntries(spark, url, v, q, 1)
    assert(pruned.size < total,
      s"vector pruning kept ${pruned.size}/$total")
    val top1 = VectorIndex.search(spark, url, "vec_id", "embedding",
      q, topK = 1, nprobe = 1)
      .select("id").as[Long].head()
    assert(top1 == want.head)
  }

  test("incremental refresh scans only new entries; appends and " +
      "MoR deletes stay exact; centroid k is pinned") {
    val url = fresh("incr")
    Snapshots.create(spark, url, rows(1L to 100L), nFiles = 4)
    assert(VectorIndex.index(spark, url, "vec_id", "embedding", 4)
      == 4)
    // append: only the new entries scan
    Snapshots.append(spark, url, rows(101L to 120L), nFiles = 2)
    val rescanned = VectorIndex.index(spark, url, "vec_id",
      "embedding", 4)
    assert(rescanned == 2, s"refresh scanned $rescanned entries")
    val q = emb(103L)
    def brute(ids: Seq[Long], k: Int): Seq[Long] =
      ids.map(i => (i, key(q, emb(i))))
        .sortBy { case (i, kk) => (-kk, i) }.take(k).map(_._1)
    val got = VectorIndex.search(spark, url, "vec_id", "embedding",
      q, topK = 5, nprobe = 4).select("id").as[Long].collect().toSeq
    assert(got == brute(1L to 120L, 5),
      "appended vectors not searched exactly")
    // MoR delete: the deleted vector disappears from results EVEN
    // BEFORE a refresh (stale postings admit the entry, the
    // effective read drops the row)
    Snapshots.deleteWhereMor(spark, url, LongRange("vec_id", 103L, 103L))
    val after = VectorIndex.search(spark, url, "vec_id", "embedding",
      q, topK = 5, nprobe = 4).select("id").as[Long].collect().toSeq
    assert(after == brute((1L to 120L).filterNot(_ == 103L), 5),
      "MoR delete not reflected in search")
    // refresh covers the composite entries (their effective rows)
    assert(VectorIndex.index(spark, url, "vec_id", "embedding", 4)
      >= 1)
    // a different k refuses: postings would be silently invalid
    val e = intercept[IllegalArgumentException] {
      VectorIndex.index(spark, url, "vec_id", "embedding", 8)
    }
    assert(e.getMessage.contains("re-train"))
  }

  test("searchMany: a query table equals per-query search (and " +
      "brute force at nprobe = k); narrow probes stay per-query " +
      "exact over their own cells") {
    val url = fresh("many")
    Snapshots.create(spark, url, rows(1L to 200L), nFiles = 4)
    VectorIndex.index(spark, url, "vec_id", "embedding", 4)
    val qids = Seq(42L, 7L, 100L)
    val queries = qids.map(i => (i, emb(i))).toDF("qid", "qemb")
    val got = VectorIndex.searchMany(spark, url, "vec_id",
      "embedding", queries, "qid", "qemb", topK = 5, nprobe = 4)
      .select("qid", "rank", "id", "key")
      .as[(Long, Int, Long, Long)].collect().toSeq.sorted
    val want = qids.flatMap { qi =>
      val q = emb(qi)
      (1L to 200L).map(i => (i, key(q, emb(i))))
        .sortBy { case (i, k) => (-k, i) }.take(5).zipWithIndex
        .map { case ((i, k), r) => (qi, r + 1, i, k) }
    }.sorted
    assert(got == want, s"batched != brute force")
    // per-query parity with the single-query path at nprobe = 1
    val single = VectorIndex.search(spark, url, "vec_id", "embedding",
      emb(42L), topK = 3, nprobe = 1)
      .select("rank", "id").as[(Int, Long)].collect().toSeq
    val batchedOne = VectorIndex.searchMany(spark, url, "vec_id",
      "embedding", Seq((42L, emb(42L))).toDF("qid", "qemb"),
      "qid", "qemb", topK = 3, nprobe = 1)
      .select("rank", "id").as[(Int, Long)].collect().toSeq
    assert(batchedOne == single,
      s"searchMany $batchedOne != search $single at nprobe=1")
  }

  test("prunePostings drops retired entries (rides vacuum); health " +
      "reports coverage and balance off one sidecar read") {
    val url = fresh("hyg")
    Snapshots.create(spark, url, rows(1L to 100L), nFiles = 4)
    VectorIndex.index(spark, url, "vec_id", "embedding", 4)
    // a COW delete rewrites files → old entries retire once history
    // is vacuumed
    Snapshots.deleteWhere(spark, url, "vec_id", 1L, 10L)
    VectorIndex.index(spark, url, "vec_id", "embedding", 4)
    val before = spark.read.parquet(s"$url/_vecindex/postings")
      .select("entry").distinct().count()
    // postings survive while old manifests still list the entries
    assert(VectorIndex.prunePostings(spark, url) == 0L)
    Snapshots.vacuum(spark, url, Snapshots.latest(spark, url),
      graceMs = 0L) // prunePostings rides vacuum
    val after = spark.read.parquet(s"$url/_vecindex/postings")
      .select("entry").distinct().count()
    assert(after < before,
      s"vacuum did not retire posting entries ($after/$before)")
    // search stays exact after the prune
    val q = emb(42L)
    val got = VectorIndex.search(spark, url, "vec_id", "embedding",
      q, topK = 3, nprobe = 4).select("id").as[Long].collect().toSeq
    val want = (11L to 100L).map(i => (i, key(q, emb(i))))
      .sortBy { case (i, k) => (-k, i) }.take(3).map(_._1)
    assert(got == want, "search wrong after prunePostings")
    // health: fully covered, 4 cells, near-uniform clusters
    val h = VectorIndex.health(spark, url).head()
    assert(h.getAs[Long]("k") == 4L)
    assert(h.getAs[Long]("entries_total") ==
      h.getAs[Long]("entries_covered"))
    assert(h.getAs[Long]("uncovered_pm") == 0L)
    assert(h.getAs[Long]("cells_posted") == 4L)
    assert(h.getAs[Long]("balance_x100") >= 100L &&
      h.getAs[Long]("balance_x100") <= 200L,
      s"balance ${h.getAs[Long]("balance_x100")}")
    // an uncovered entry (fresh append, no refresh) surfaces
    Snapshots.append(spark, url, rows(201L to 210L), nFiles = 1)
    val h2 = VectorIndex.health(spark, url).head()
    assert(h2.getAs[Long]("uncovered_pm") > 0L)
  }

  test("the search plan carries the fused codegen rescore, not an " +
      "interpreted higher-order function") {
    val url = fresh("plan")
    Snapshots.create(spark, url, rows(1L to 50L), nFiles = 2)
    VectorIndex.index(spark, url, "vec_id", "embedding", 2)
    val plan = VectorIndex.search(spark, url, "vec_id", "embedding",
      emb(5L), topK = 3, nprobe = 2)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("ivf_rank_key"),
      s"fused kernel missing from plan:\n$plan")
    assert(!plan.contains("aggregate(") && !plan.contains("zip_with"),
      s"interpreted HOF in the search plan:\n$plan")
    val planMany = VectorIndex.searchMany(spark, url, "vec_id",
      "embedding", Seq((5L, emb(5L))).toDF("qid", "qemb"),
      "qid", "qemb", topK = 3, nprobe = 2)
      .queryExecution.optimizedPlan.toString
    assert(planMany.contains("rank_key_pair") &&
      !planMany.contains("zip_with"))
  }

  test("cluster re-lays rows by coarse cell: pruning selectivity " +
      "restored on a round-robin store, results unchanged") {
    val url = fresh("clus")
    // round-robin layout: every file holds every cluster, so a
    // 1-cell probe must conservatively open everything
    Snapshots.create(spark, url, rows(1L to 200L), nFiles = 4)
    VectorIndex.index(spark, url, "vec_id", "embedding", 4)
    val q = emb(42L)
    val v1 = Snapshots.latest(spark, url)
    val before = VectorIndex.prunedEntries(spark, url, v1, q, 1).size
    val total1 = Snapshots.snap(spark, url, v1).files.size
    assert(before == total1,
      s"expected no selectivity pre-cluster ($before/$total1)")
    val want = VectorIndex.search(spark, url, "vec_id", "embedding",
      q, topK = 5, nprobe = 4).select("id").as[Long].collect().toSeq
    val v2 = VectorIndex.cluster(spark, url, "vec_id", "embedding",
      nFiles = 4)
    assert(Snapshots.snap(spark, url, v2).op == "vcluster")
    val after = VectorIndex.prunedEntries(spark, url, v2, q, 1).size
    val total2 = Snapshots.snap(spark, url, v2).files.size
    assert(after < total2,
      s"cluster did not restore selectivity ($after/$total2)")
    val got = VectorIndex.search(spark, url, "vec_id", "embedding",
      q, topK = 5, nprobe = 4).select("id").as[Long].collect().toSeq
    assert(got == want, "cluster changed search results")
    // the narrow probe is exact over its cell too
    val top1 = VectorIndex.search(spark, url, "vec_id", "embedding",
      q, topK = 1, nprobe = 1).select("id").as[Long].head()
    assert(top1 == want.head)
  }

  test("retrain: churn past the balance gate rebuilds centroids + " +
      "layout + postings in one op; healthy stores no-op; search " +
      "stays exact after") {
    val url = fresh("retrain")
    // start with ONE tight cluster (ids ≡ 0 mod 4 → axis 0): k=2
    // centroids train inside it
    Snapshots.create(spark, url,
      rows((0L until 200L).map(_ * 4)), nFiles = 2)
    assert(VectorIndex.index(spark, url, "vec_id", "embedding", 2) > 0)
    // healthy (for these centroids): retrain is a NO-OP at a lax gate
    assert(VectorIndex.retrain(spark, url, "vec_id", "embedding", 2,
      maxBalanceX100 = 10000L).isEmpty)
    // churn: a big append of THREE unseen clusters — the pinned
    // centroids funnel most mass into few cells
    Snapshots.append(spark, url,
      rows((0L until 600L).map(i => i * 4 + 1 + (i % 3))), nFiles = 2)
    assert(VectorIndex.index(spark, url, "vec_id", "embedding", 2) > 0)
    val before = VectorIndex.health(spark, url).collect()(0)
    assert(before.getAs[Long]("uncovered_pm") == 0L)
    // retrain fires: asking for k=4 against a k=2 sidecar is a
    // health trigger in itself (capacity change), independent of
    // the balance gate
    val committed = VectorIndex.retrain(spark, url, "vec_id",
      "embedding", 4)
    assert(committed.isDefined, s"expected retrain, health=$before")
    assert(Snapshots.snap(spark, url, committed.get).op == "vcluster")
    val after = VectorIndex.health(spark, url).collect()(0)
    assert(after.getAs[Long]("k") == 4L)
    assert(after.getAs[Long]("uncovered_pm") == 0L,
      "retrain must leave every live entry posting-covered")
    // exactness restored: exhaustive probe equals brute force over
    // ALL live ids under the NEW centroids
    val ids = (0L until 200L).map(_ * 4) ++
      (0L until 600L).map(i => i * 4 + 1 + (i % 3))
    val q = emb(42L)
    val got = VectorIndex.search(spark, url, "vec_id", "embedding",
      q, topK = 5, nprobe = 4)
      .select("rank", "id").as[(Int, Long)].collect().toSeq
    val want = ids.distinct.map(i => (i, key(q, emb(i))))
      .sortBy { case (i, kk) => (-kk, i) }.take(5).map(_._1)
    assert(got.map(_._2) == want, s"got $got want $want")
    // the retrained index actually SPREADS mass beyond the k=2
    // starting point (k-means may merge two tight clusters under
    // one centroid, so ≥3 of 4, not exactly 4)
    assert(after.getAs[Long]("cells_posted") >= 3L,
      s"expected ≥3 posted cells after retrain, health=$after")
    // and the BALANCE gate itself: a gate the current balance
    // exceeds fires a same-k retrain; one it does not, no-ops
    val bal = after.getAs[Long]("balance_x100")
    assert(VectorIndex.retrain(spark, url, "vec_id", "embedding", 4,
      maxBalanceX100 = bal + 100).isEmpty)
    assert(VectorIndex.retrain(spark, url, "vec_id", "embedding", 4,
      maxBalanceX100 = math.max(1L, bal - 100)).isDefined)
  }
}
