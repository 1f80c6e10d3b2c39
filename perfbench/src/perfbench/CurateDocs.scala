package perfbench

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, NearDedup, TextAnalysis}
import graft.sources.Snapshots

/** LLM-data curation over a synthetic corpus with a controlled share
  * of exact and near duplicates: exact dedup, LSH near-dup candidates
  * and their Jaccard verification, quality scores, Gopher rules and
  * BPE token counts, with the kept docs appended to one store. Each
  * cycle curates one corpus slice. CPU-bound, shuffle-heavy operator
  * work; the store and codecs are nearly idle. */
final class CurateDocs(ctx: Ctx, dir: String) extends Instance {
  import CurateDocs._
  private val spark = ctx.spark
  private val seed = ctx.seed
  private val corpusDir = s"$dir/corpus"
  private val store = s"$dir/curated"
  private val merges = Gen.merges(seed)
  private val texts: Map[Long, String] = {
    import spark.implicits._
    val words = Gen.vocab(seed)
    val docs = (0 until Slices).flatMap(s =>
      Gen.corpus(seed, s, DocsPerSlice, words).map { case (id, t) => (s, id, t) })
    docs.toDF("slice", "doc_id", "text").repartition(col("slice"))
      .write.partitionBy("slice").parquet(corpusDir)
    Snapshots.create(spark, store,
      spark.emptyDataFrame.select(lit(0L).as("doc_id"), lit("").as("text"),
        lit(0.0).as("quality"), lit(0L).as("n_bpe")).limit(0), nFiles = 1)
    docs.map { case (_, id, t) => id -> t }.toMap
  }

  def cycle(ctx: Ctx, i: Int): Boolean = {
    import spark.implicits._
    val slice = spark.read.parquet(s"$corpusDir/slice=${i % Slices}")
    val survivors = ctx.op("ops.exact_dedup")(
      Dedup.exactByText(slice, "doc_id", "text").select("doc_id", "text")
        .as[(Long, String)].collect().toSeq)
    ctx.check(s"cycle $i exact-dedup survivors equal a groupBy-min") {
      sameIds(survivors.map(_._1),
        slice.groupBy("text").agg(min("doc_id")).as[(String, Long)].collect().map(_._2))
    }
    val surv = survivors.toDF("doc_id", "text")
    val cands = ctx.op("ops.near_candidates")(
      NearDedup.candidatePairs(surv, "doc_id", "text").as[(Long, Long)]
        .collect().toSeq)
    val verified = ctx.op("ops.near_verify")(
      NearDedup.jaccardVerify(cands.toDF("id_a", "id_b"), surv, "doc_id", "text")
        .filter(col("jaccard") >= MinJaccard).select("id_a", "id_b")
        .as[(Long, Long)].collect().toSeq)
    ctx.note("candidate_pairs", cands.length)
    ctx.note("verified_pairs", verified.length)
    ctx.check(s"cycle $i verified pairs recompute to Jaccard >= $MinJaccard") {
      pairsVerified(verified, texts)
    }
    val nearDup = verified.map(_._2).toSet
    val kept = survivors.filterNot(d => nearDup(d._1)).toDF("doc_id", "text")
    val quality = ctx.op("ops.quality")(
      TextAnalysis.qualityDF(kept, "text").select("doc_id", "quality_raw")
        .as[(Long, Double)].collect().toMap)
    val passes = ctx.op("ops.gopher")(
      TextAnalysis.gopherRules(kept, "doc_id", "text")
        .select(col("doc_id"), col("passes").cast("int"))
        .as[(Long, Int)].collect().toMap)
    val tokens = ctx.op("ops.bpe_counts")(
      TextAnalysis.bpeTokenCounts(kept, "doc_id", "text", merges)
        .as[(Long, Long)].collect().toMap)
    val curated = survivors.collect { case (id, t)
      if !nearDup(id) && passes(id) == 1 && quality(id) >= MinQuality =>
        (id, t, quality(id), tokens(id))
    }
    val bytes0 = Files.bytes(store)
    ctx.op("store.append")(Snapshots.append(spark, store,
      curated.toDF("doc_id", "text", "quality", "n_bpe"), nFiles = 1))
    ctx.note("bytes_written", Files.bytes(store) - bytes0)
    ctx.note("kept_docs", curated.length)
    ctx.note("items", DocsPerSlice)
    true
  }

  def writeP50(ctx: Ctx): Double = ctx.median("store.append")
  def bytesPerItem(ctx: Ctx): Double = ctx.first("bytes_written") / ctx.first("kept_docs")

  def detail(ctx: Ctx): Seq[(String, Double)] = Seq(
    "curate_docs_per_s" -> itemsPerS(ctx),
    "kept_share" -> ctx.sum("kept_docs") / ctx.sum("items"))

  def probes(ctx: Ctx): Map[String, Double] = StoreChurn.shape(spark, store)
}

object CurateDocs {
  val Slices = 3
  val DocsPerSlice = 500
  val MinJaccard = 0.7
  val MinQuality = 0.9

  // The checkers, against plain Spark and the generated texts.
  def sameIds(got: Seq[Long], want: Seq[Long]): Boolean =
    got.length == want.length && got.toSet == want.toSet

  def pairsVerified(pairs: Seq[(Long, Long)], texts: Map[Long, String]): Boolean =
    pairs.nonEmpty && pairs.forall { case (a, b) => jaccard(texts(a), texts(b)) >= MinJaccard }

  /** Word 3-gram Jaccard over `[a-z0-9]+` tokens of lowercased text:
    * the definition the verified pairs are checked against. */
  def jaccard(a: String, b: String): Double = {
    def shingles(t: String): Set[String] = {
      val toks = "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq
      if (toks.length < 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }
}
