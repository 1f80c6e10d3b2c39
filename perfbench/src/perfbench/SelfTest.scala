package perfbench

import java.security.MessageDigest

import scala.collection.mutable

import graft.GraftSession

/** The benchmark's own tests: order statistics, span self time,
  * generator determinism, and that every checker rejects a planted
  * wrong answer. Run with `python3 perfbench/run.py --selftest`; exits
  * non-zero on the first failed group. */
object SelfTest {
  private val failures = mutable.ArrayBuffer[String]()
  private def expect(what: String)(ok: => Boolean): Unit = {
    val good = try ok catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (good) "ok  " else "FAIL"} $what")
    if (!good) failures += what
  }
  private def near(a: Double, b: Double, tol: Double = 1e-9) = math.abs(a - b) <= tol

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    stats()
    spans()
    checkers()
    val spark = GraftSession.build("perfbench-selftest")
    try generators(spark, a("work")) finally spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"${failures.length} self-test(s) failed")
      sys.exit(1)
    }
    println("all self-tests passed")
  }

  private def stats(): Unit = {
    val xs = Seq(3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0)
    // expected values from numpy.percentile and statistics.quantiles
    expect("percentile interpolates linearly") {
      near(Stats.percentile(xs, 90), 6.6) && Stats.median(xs) == 3.0 &&
        Stats.percentile(xs, 0) == 1.0 && Stats.percentile(xs, 100) == 9.0
    }
    expect("quartiles match statistics.quantiles(n=4)") {
      Stats.quartiles(xs) == ((1.5, 3.0, 5.0)) &&
        Stats.quartiles(Seq(10.0, 20.0)) == ((7.5, 15.0, 22.5))
    }
    expect("tail keeps ten samples beyond it") {
      val ys = (1 to 30).map(_.toDouble)
      Stats.tail(ys).exists { case (p, v) => p == 66.0 && near(v, 20.14) } &&
        Stats.tail(ys.take(20)).isEmpty
    }
  }

  private def spans(): Unit = {
    expect("self time subtracts the union of child intervals") {
      near(Stats.selfTime((0, 10), Seq((1, 3), (2, 4), (6, 7))), 6.0) &&
        near(Stats.selfTime((0, 10), Seq((-5, 2), (9, 15))), 7.0) &&
        near(Stats.selfTime((0, 10), Nil), 10.0)
    }
    expect("nested spans: parent self time excludes its children") {
      val t = new Tracer("selftest")
      t.on = true
      t("outer") {
        Thread.sleep(30)
        t("inner") { Thread.sleep(60) }
        t("inner") { Thread.sleep(60) }
      }
      val stats = LayerReport(t, Nil)
      val outer = stats.find(_.name == "outer").get
      val inner = stats.filter(_.name == "inner")
      inner.length == 2 && inner.forall(s => !s.top && s.wallS >= 0.06) &&
        outer.top && outer.wallS >= 0.15 &&
        outer.selfS >= 0.03 && outer.selfS < 0.03 + 0.05 &&
        near(outer.wallS - outer.selfS, inner.map(_.wallS).sum, 1e-3)
    }
  }

  private def checkers(): Unit = {
    val seed = 7L
    val ids = Seq(5, 1, 9, 3)
    expect("ml: a permutation of the shard's ids passes") {
      MlDataset.isPermutation(ids, Set(1, 3, 5, 9))
    }
    expect("ml: a dropped, duplicated or foreign id is caught") {
      !MlDataset.isPermutation(ids.tail, Set(1, 3, 5, 9)) &&
        !MlDataset.isPermutation(ids :+ 5, Set(1, 3, 5, 9)) &&
        !MlDataset.isPermutation(Seq(5, 1, 9, 4), Set(1, 3, 5, 9))
    }
    val (id, img, arr) = Gen.helloRow(seed, 3)
    expect("ml: generator tensors pass the decode check") {
      MlDataset.tensorsMatch(seed, Seq((id, img.toSeq, arr.toSeq)))
    }
    expect("ml: one flipped pixel is caught") {
      val bad = img.clone(); bad(100) = ((bad(100) + 1) % 256).toShort
      !MlDataset.tensorsMatch(seed, Seq((id, bad.toSeq, arr.toSeq)))
    }

    val model = (0L until 50L).map(k => k -> Gen.fact(seed, k, 0)).toMap
    val rows = model.values.toSeq
    expect("store: the model's rows pass") { StoreChurn.sameRows(rows, model.values) }
    expect("store: one row dropped from a store read is caught") {
      !StoreChurn.sameRows(rows.tail, model.values)
    }
    expect("store: one stale row is caught") {
      !StoreChurn.sameRows(rows.tail :+ Gen.fact(seed, rows.head.key, 1), model.values)
    }
    val after = model - 3L + (7L -> Gen.fact(seed, 7, 1)) + (60L -> Gen.fact(seed, 60, 0))
    val feed = Seq("delete" -> model(3L), "update" -> after(7L), "insert" -> after(60L))
    expect("store: the model diff passes as a change feed") {
      StoreChurn.feedMatches(feed, model, after)
    }
    expect("store: a missing or mislabelled change is caught") {
      !StoreChurn.feedMatches(feed.tail, model, after) &&
        !StoreChurn.feedMatches(("insert" -> model(3L)) +: feed.tail, model, after)
    }
    val dims = Gen.dim(seed)
    val view = model.values.toSeq.map(f => (f, dims(f.cat)._2, dims(f.cat)._3))
    expect("store: the re-join passes as the view") {
      StoreChurn.viewMatches(view, model, dims)
    }
    expect("store: a view row joined to the wrong dimension row is caught") {
      val (f, _, _) = view.head
      val other = dims((f.cat + 1) % Gen.Cats)
      !StoreChurn.viewMatches((f, other._2, other._3) +: view.tail, model, dims)
    }

    val words = Gen.vocab(seed)
    val docs = Gen.corpus(seed, 0, 200, words)
    val groupMin = docs.groupBy(_._2).values.map(_.map(_._1).min).toSeq
    expect("curate: groupBy-min survivors pass") {
      CurateDocs.sameIds(groupMin.reverse, groupMin)
    }
    expect("curate: a surviving duplicate is caught") {
      val dup = docs.map(_._1).find(id => !groupMin.contains(id)).get
      !CurateDocs.sameIds(groupMin :+ dup, groupMin)
    }
    val texts = docs.toMap
    val byText = docs.groupBy(_._2).values.filter(_.length > 1).head.map(_._1)
    expect("curate: an exact-duplicate pair verifies") {
      CurateDocs.pairsVerified(Seq((byText(0), byText(1))), texts)
    }
    expect("curate: an unrelated pair is caught") {
      val (a, ta) = docs.head
      val b = docs.find(d => CurateDocs.jaccard(ta, d._2) < 0.1).get._1
      !CurateDocs.pairsVerified(Seq((byText(0), byText(1)), (a, b)), texts)
    }
  }

  /** Each workload's set-up writes its inputs twice from the same seed
    * and once from another; the parquet bytes must match and differ. */
  private def generators(spark: org.apache.spark.sql.SparkSession,
      work: String): Unit = {
    def digest(dir: String): Map[String, String] = {
      val root = java.nio.file.Paths.get(dir)
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter { p =>
          java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet") &&
            !p.getFileName.toString.startsWith(".")
        }.map { p =>
          // part-NNNNN-<uuid>-cNNN: keep the directory and part number
          val rel = root.relativize(p).toString.replaceAll(
            "-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "")
          val md = MessageDigest.getInstance("SHA-256")
          rel -> md.digest(java.nio.file.Files.readAllBytes(p)).map("%02x".format(_)).mkString
        }.toMap
      } finally s.close()
    }
    val inputs = Map("ml_dataset" -> Seq("inputs"),
      "store_churn" -> Seq("initial", "dim_input", "rounds"),
      "curate_docs" -> Seq("corpus"))
    Workloads.all.toSeq.sortBy(_._1).foreach { case (name, mk) =>
      def setUp(seed: Long, tag: String): Map[String, String] = {
        val dir = s"$work/$name-$tag"
        mk(new Ctx(spark, seed, 1, new Tracer("selftest")), dir)
        val d = inputs(name).flatMap(i =>
          digest(s"$dir/$i").map { case (k, v) => s"$i/$k" -> v }).toMap
        Files.rm(dir)
        d
      }
      val a = setUp(11, "a")
      val b = setUp(11, "b")
      val c = setUp(12, "c")
      expect(s"$name: same seed, byte-identical inputs (${a.size} files)") {
        a.nonEmpty && a == b
      }
      expect(s"$name: another seed, other inputs") { a.keySet == c.keySet && a != c }
    }
  }
}
