package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, ShortType}

import graft.schema.{CodecSpec, FieldSpec, GraftSchema}
import graft.sources.{GraftRead, Materialize}

/** petastorm's own job: materialize a hello_world-shaped dataset, then
  * read it back as trainers do, one shard per trainer, shuffled and
  * filtered, with rows handed to the client in fixed-size batches.
  *
  * A cycle materializes the set-up's inputs into a fresh store and
  * reads one epoch over every shard. Codecs, the parquet scan and
  * reader planning do almost all the work; the snapshot store,
  * sidecars and operators do none. */
final class MlDataset(ctx: Ctx, dir: String) extends Instance {
  import MlDataset._
  private val spark = ctx.spark
  private val seed = ctx.seed
  private val inputs = s"$dir/inputs"
  Gen.helloWorld(spark, seed, Rows, InputParts).write.parquet(inputs)
  private var prevStore: Option[String] = None
  private var lastStore: String = _

  def cycle(ctx: Ctx, i: Int): Boolean = {
    val url = s"$dir/store$i"
    ctx.op("materialize.write")(Materialize.materialize(
      spark.read.parquet(inputs), url, Schema, rowGroupSizeMb = 256,
      partitions = Some(StoreFiles)))
    ctx.note("stored_bytes_per_sample",
      Files.bytes(url, _.endsWith(".parquet")).toDouble / Rows)
    val shardOf = ctx.bench(expectedShards(url))
    val covered = mutable.Set[Int]()
    (0 until Shards).foreach { s =>
      val shuffleSeed = seed * 1000 + i * Shards + s
      val (ids, sampled) = epoch(url, s, shuffleSeed)
      ctx.note("items", ids.length)
      ctx.check(s"epoch $i shard $s delivers exactly its filtered ids") {
        isPermutation(ids, shardOf.collect { case (id, sh) if sh == s && keep(id) => id })
      }
      ctx.check(s"epoch $i shard $s tensors decode bit-exactly") {
        tensorsMatch(seed, sampled.map(r =>
          (r.getInt(0), r.getStruct(1).getSeq[Short](1), r.getStruct(2).getSeq[Short](1))))
      }
      covered ++= ids
    }
    ctx.check(s"epoch $i shards cover every id") {
      covered == (0 until Rows).filter(keep).toSet
    }
    prevStore.foreach(Files.rm)
    prevStore = Some(url)
    lastStore = url
    true
  }

  /** One trainer's epoch over one shard: rows pulled through the local
    * iterator in batches of [[Batch]]. Returns the delivered ids and
    * the first rows, kept whole for the tensor check. */
  private def epoch(url: String, shard: Int,
      shuffleSeed: Long): (Seq[Int], Seq[Row]) = ctx.op("read.epoch") {
    val t0 = System.nanoTime()
    val df = ctx.op("read.plan")(reader(url, shard, shuffleSeed).load())
    val it = df.toLocalIterator()
    var waitNs = 0L
    def pull[T](f: => T): T = {
      val w0 = System.nanoTime(); val r = f; waitNs += System.nanoTime() - w0; r
    }
    ctx.op("read.first_row")(pull(it.hasNext))
    val ids = mutable.ArrayBuffer[Int]()
    val sampled = mutable.ArrayBuffer[Row]()
    val batch = mutable.ArrayBuffer[Row]()
    var first = true
    def deliver(): Unit = {
      if (first) { ctx.note("first_batch_s", (System.nanoTime() - t0) / 1e9); first = false }
      batch.foreach { r =>
        ids += r.getInt(0)
        if (sampled.length < SampledPerEpoch) sampled += r
      }
      batch.clear()
    }
    while (pull(it.hasNext)) {
      batch += pull(it.next())
      if (batch.length == Batch) deliver()
    }
    if (batch.nonEmpty) deliver()
    ctx.note("read.deliver_wait_s", waitNs / 1e9)
    (ids.toSeq, sampled.toSeq)
  }

  private def reader(url: String, shard: Int, shuffleSeed: Long) =
    GraftRead.reader(spark, url).shard(shard, Shards).shuffle(shuffleSeed)
      .predicate(col("id") % 10 =!= Dropped)

  /** id → shard from a plain Spark scan of the store, sharding the
    * sorted parquet file list round-robin as the reader contract says. */
  private def expectedShards(url: String): Map[Int, Int] = {
    val root = new Path(url)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(root).map(_.getPath).filter { p =>
      val n = p.getName
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }.map(_.toString).sorted
    val shard = files.zipWithIndex
      .map { case (f, k) => new Path(f).toUri.getPath -> k % Shards }.toMap
    spark.read.parquet(url).select(col("id"), input_file_name())
      .collect().map(r => r.getInt(0) -> shard(new Path(r.getString(1)).toUri.getPath))
      .toMap
  }

  override def itemsPerS(ctx: Ctx): Double = ctx.medianRate("items", "read.epoch")
  def writeP50(ctx: Ctx): Double = ctx.median("materialize.write")
  def bytesPerItem(ctx: Ctx): Double = ctx.first("stored_bytes_per_sample")

  def detail(ctx: Ctx): Seq[(String, Double)] = Seq(
    "read_samples_per_s" -> itemsPerS(ctx),
    "first_batch_s" -> ctx.median("first_batch_s"),
    "materialize_rows_per_s" -> Rows / writeP50(ctx),
    "stored_bytes_per_sample" -> bytesPerItem(ctx))

  /** Codec cost by difference, on the last store: a decoded against a
    * `.rawStorage` epoch of shard 0, and the materialize encode
    * against the same source without it, each through a no-op sink. */
  def probes(ctx: Ctx): Map[String, Double] = {
    def noop(df: => org.apache.spark.sql.DataFrame): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    })
    val src = spark.read.parquet(inputs)
    val decoded = noop(reader(lastStore, 0, seed).load())
    val raw = noop(reader(lastStore, 0, seed).rawStorage.load())
    val encoded = noop(Materialize.encodeColumns(src, Schema))
    val plain = noop(src)
    val decodeS = decoded - raw
    Map("codecs.decode_s" -> decodeS, "codecs.decode_share" -> decodeS / decoded,
      "codecs.encode_s" -> (encoded - plain),
      "materialize.files" -> new java.io.File(lastStore).list()
        .count(n => n.endsWith(".parquet") && !n.startsWith(".")).toDouble)
  }
}

object MlDataset {
  val Rows = 64
  val InputParts = 4
  val StoreFiles = 4
  val Shards = 2
  val Batch = 16
  val SampledPerEpoch = 2
  val Dropped = 7 // the predicate drops ids ending in 7
  def keep(id: Int): Boolean = id % 10 != Dropped

  // The checkers, against the generator.
  def isPermutation(ids: Seq[Int], want: Iterable[Int]): Boolean =
    ids.length == want.size && ids.toSet == want.toSet

  /** Decoded (id, image pixels, tensor values) equal the generated ones. */
  def tensorsMatch(seed: Long, rows: Seq[(Int, Seq[Short], Seq[Short])]): Boolean =
    rows.nonEmpty && rows.forall { case (id, img, arr) =>
      val (_, wantImg, wantArr) = Gen.helloRow(seed, id)
      img == wantImg.toSeq && arr == wantArr.toSeq
    }

  val Schema = GraftSchema("HelloWorld", Seq(
    FieldSpec("id", IntegerType, codec = Some(CodecSpec("scalar"))),
    FieldSpec("image1", ShortType, shape = Gen.ImageShape,
      codec = Some(CodecSpec("png"))),
    FieldSpec("array_4d", ShortType, shape = Gen.TensorShape,
      codec = Some(CodecSpec("ndarray")))))
}
