package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, index), so the same seed gives the same inputs
  * whatever the partitioning, and the checkers can regenerate any
  * expected value on the driver. */
object Gen {

  private def mix(z0: Long): Long = { // splitmix64 finaliser
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 0x9e3779b97f4a7c15L + stream) + i))

  // ---------------------------------------------------------------- ml_dataset
  /** petastorm's hello_world row: id, a 128x256x3 uint8 image and a
    * 4x128x30x3 uint8 tensor, both uniform noise as in the original. */
  val ImageShape = Seq(128, 256, 3)
  val TensorShape = Seq(4, 128, 30, 3)

  def helloRow(seed: Long, id: Int): (Int, Array[Short], Array[Short]) = {
    val r = rng(seed, 1, id)
    (id, Array.fill(ImageShape.product)(r.nextInt(256).toShort),
      Array.fill(TensorShape.product)(r.nextInt(256).toShort))
  }

  def helloWorld(spark: SparkSession, seed: Long, rows: Int,
      parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, rows, 1, parts).map(i => helloRow(seed, i.toInt))
      .toDF("id", "image1", "array_4d")
  }

  // --------------------------------------------------------------- store_churn
  final case class Fact(key: Long, ts: Long, cat: Int, v: Double,
      emb: Seq[Double])

  val Cats = 16
  val EmbDim = 8

  /** The row for `key` as written at `version` (0 = first insert). */
  def fact(seed: Long, key: Long, version: Int): Fact = {
    val r = rng(seed, 2, key * 4096 + version)
    Fact(key, 1700000000000L + key * 1000 + version, r.nextInt(Cats),
      r.nextInt(1000000) / 100.0,
      Seq.fill(EmbDim)(r.nextInt(2000) / 1000.0 - 1.0))
  }

  def dim(seed: Long): Seq[(Int, String, Double)] = (0 until Cats).map { c =>
    val r = rng(seed, 3, c)
    (c, f"cat$c%02d-${r.nextInt(1000)}%03d", r.nextInt(1000) / 10.0)
  }

  /** One churn round's inputs. `upserts` are (row, delete?) with keys
    * skewed toward the most recent ones. */
  final case class Round(appends: Seq[Fact], upserts: Seq[(Fact, Boolean)],
      deleteRange: (Long, Long), readRange: (Long, Long))

  def round(seed: Long, r: Int, initial: Int, appendRows: Int,
      upsertRows: Int, deleteWidth: Int, readWidth: Int): Round = {
    val firstNew = initial.toLong + r.toLong * appendRows
    val next = firstNew + appendRows
    val g = rng(seed, 4, r)
    val keys = mutable.LinkedHashSet[Long]()
    while (keys.size < upsertRows) {
      val u = g.nextDouble()
      keys += next - 1 - math.floor(next * u * u * u).toLong
    }
    val ups = keys.toSeq.map(k => (fact(seed, k, r + 1), g.nextInt(4) == 0))
    val dLo = g.nextLong(next - deleteWidth)
    val rLo = g.nextLong(next - readWidth)
    Round((firstNew until next).map(fact(seed, _, 0)), ups,
      (dLo, dLo + deleteWidth - 1), (rLo, rLo + readWidth - 1))
  }

  // --------------------------------------------------------------- curate_docs
  val Stopwords = Seq("the", "be", "to", "of", "and", "that", "have", "with",
    "a", "in", "is", "it", "for", "on", "as", "was")

  def vocab(seed: Long, n: Int = 3000): IndexedSeq[String] = {
    val r = rng(seed, 5, 0)
    val words = mutable.LinkedHashSet[String]()
    while (words.size < n)
      words += Seq.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString
    words.toIndexedSeq
  }

  /** A corpus slice of (doc_id, text): lowercase, single-spaced text,
    * so exact duplicates are byte-identical. Roughly 10% are exact
    * copies and 10% near copies (4% of words replaced) of an earlier
    * doc in the slice, and 8% are too short to pass quality rules. */
  def corpus(seed: Long, slice: Int, docs: Int,
      words: IndexedSeq[String]): Seq[(Long, String)] = {
    val out = mutable.ArrayBuffer[(Long, String)]()
    def word(r: SplittableRandom): String =
      if (r.nextInt(10) < 3) Stopwords(r.nextInt(Stopwords.length))
      else { val u = r.nextDouble(); words((words.length * u * u).toInt) }
    (0 until docs).foreach { i =>
      val id = slice.toLong * docs + i
      val r = rng(seed, 6, id)
      val kind = r.nextInt(100)
      val text =
        if (i > 0 && kind < 10) out(r.nextInt(i))._2
        else if (i > 0 && kind < 20)
          out(r.nextInt(i))._2.split(" ")
            .map(w => if (r.nextInt(100) < 4) word(r) else w).mkString(" ")
        else Seq.fill(if (kind < 28) 20 else 60 + r.nextInt(80))(word(r))
          .mkString(" ")
      out += ((id, text))
    }
    out.toSeq
  }

  /** An ordered BPE merge list over letters. */
  def merges(seed: Long, n: Int = 48): Seq[(String, String)] = {
    val r = rng(seed, 7, 0)
    def letter = ('a' + r.nextInt(26)).toChar.toString
    val out = mutable.ArrayBuffer[(String, String)]()
    while (out.length < n) {
      val m =
        if (out.nonEmpty && r.nextInt(3) == 0) {
          val (a, b) = out(r.nextInt(out.length)); (a + b, letter)
        } else (letter, letter)
      if (!out.contains(m)) out += m
    }
    out.toSeq
  }
}
