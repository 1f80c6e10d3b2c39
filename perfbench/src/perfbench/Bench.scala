package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Per-run state shared by the runner and the workloads: timed calls
  * into graft, correctness checks, and the samples they leave. */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int,
    val tracer: Tracer) {
  /** Calls are counted from the warm-up on; samples are kept while
    * measuring. */
  var counting = false
  var measuring = false
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val timed = mutable.LinkedHashSet[String]("cycle_s")
  private var depth = 0
  private var cycleOpS = 0.0

  /** Time one call into graft. Top-level calls add to the cycle's
    * operation time; nested ones only to their own samples. */
  def op[T](name: String)(body: => T): T = {
    if (counting) attempted += 1
    depth += 1
    val t0 = System.nanoTime()
    val r = try tracer(name)(body) finally depth -= 1
    val s = (System.nanoTime() - t0) / 1e9
    if (depth == 0) cycleOpS += s
    timed += name
    note(name, s)
    r
  }

  /** A correctness check; a false or throwing check is a failed
    * operation. */
  def check(what: String)(ok: => Boolean): Unit = tracer("bench.check") {
    val good = try ok catch {
      case NonFatal(e) => System.err.println(s"check $what threw: $e"); false
    }
    if (!good) { failed += 1; failures += what }
  }

  /** Benchmark-side work (models, probes), traced so it is not
    * mistaken for unattributed time. */
  def bench[T](body: => T): T = tracer("bench.model")(body)

  def note(name: String, v: Double): Unit =
    if (measuring) samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  def get(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)
  def sum(name: String): Double = get(name).sum
  def first(name: String): Double = get(name).headOption.getOrElse(Double.NaN)
  /** Median over paired samples of `count / seconds`. */
  def medianRate(count: String, seconds: String): Double =
    get(count).zip(get(seconds)).map { case (c, s) => c / s } match {
      case Seq() => Double.NaN
      case rates => Stats.median(rates)
    }
  def median(name: String): Double =
    get(name) match { case Seq() => 0.0; case xs => Stats.median(xs) }

  private[perfbench] def startCycle(): Unit = cycleOpS = 0.0
  private[perfbench] def endCycle(): Unit = note("cycle_s", cycleOpS)
  /** Names of the timed calls (and whole cycles) sampled so far. */
  def timedNames: Seq[String] = samples.keys.filter(timed).toSeq
}

/** A workload prepared by its set-up: inputs generated, initial state
  * built. */
trait Instance {
  /** One closed-loop cycle; notes `items` (the unit `items_per_s`
    * counts). Returns false once the pre-generated inputs run out. */
  def cycle(ctx: Ctx, i: Int): Boolean
  /** `items_per_s` (the median per-cycle rate), `write_p50_s` and
    * `bytes_per_item` from the measured samples. `bytes_per_item`
    * comes from the first measured cycle, whose inputs and store
    * state do not depend on how fast earlier cycles ran. */
  def itemsPerS(ctx: Ctx): Double = ctx.medianRate("items", "cycle_s")
  def writeP50(ctx: Ctx): Double
  def bytesPerItem(ctx: Ctx): Double
  /** The workload-specific figures named after the workload's own
    * operations, printed on the detail line. */
  def detail(ctx: Ctx): Seq[(String, Double)]
  /** Per-layer figures that need probes beyond the spans (traced
    * runs only, after the measured window). */
  def probes(ctx: Ctx): Map[String, Double]
}

object Workloads {
  val all: Map[String, (Ctx, String) => Instance] = Map(
    "ml_dataset" -> ((c, d) => new MlDataset(c, d)),
    "store_churn" -> ((c, d) => new StoreChurn(c, d)),
    "curate_docs" -> ((c, d) => new CurateDocs(c, d)))
}

object Runner {
  val SetupReps = 3
  /** Samples come from the first measured cycles only, so a run that
    * fits one cycle more reports the same statistic: cycles still get
    * faster as the JIT warms, and a variable cycle count moved the
    * medians more than the host's noise did. Later cycles still run
    * and are checked until `--seconds` have passed. */
  val SampledCycles = 3

  final case class Result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double)], detail: Seq[(String, Double)],
      failures: Seq[String])

  def run(ctx: Ctx, workload: String, seconds: Int, trace: Boolean,
      work: String, out: String): Result = {
    val mk = Workloads.all(workload)
    // several set-ups, median reported: set-up cost is gated too
    val setupS = mutable.ArrayBuffer[Double]()
    var inst: Instance = null
    (0 until SetupReps).foreach { r =>
      if (r > 0) Files.rm(s"$work/setup${r - 1}")
      val t0 = System.nanoTime()
      inst = mk(ctx, s"$work/setup$r")
      setupS += (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: set-up $r%d ${setupS.last}%.3f s")
    }
    var more = true
    var broken = false
    def cycle(i: Int): Unit =
      try more = inst.cycle(ctx, i)
      catch { case NonFatal(e) =>
        ctx.failed += 1; ctx.failures += s"cycle $i: $e"; broken = true
        e.printStackTrace()
      }
    // One unmeasured warm-up cycle: the first pass over a workload's
    // query shapes pays Spark code generation and JIT, several times a
    // warm cycle on the operator workload. A traced run then traces
    // every other cycle, at least one of each kind: the traced and
    // untraced medians give the tracing overhead under the same drift
    // and store growth.
    val listener = new JobListener
    if (trace) ctx.spark.sparkContext.addSparkListener(listener)
    ctx.counting = true
    cycle(0)
    var i = 1
    val tracedWall = mutable.ArrayBuffer[Double]()
    val plainWall = mutable.ArrayBuffer[Double]()
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (more && !broken &&
        (System.nanoTime() < deadline || (trace && plainWall.isEmpty))) {
      ctx.measuring = i <= SampledCycles
      ctx.tracer.on = trace && i % 2 == 1
      ctx.startCycle()
      val t0 = System.nanoTime()
      cycle(i)
      (if (ctx.tracer.on) tracedWall else plainWall) += (System.nanoTime() - t0) / 1e9
      ctx.endCycle()
      System.err.println(f"perfbench: cycle $i%d ${(System.nanoTime() - t0) / 1e9}%.3f s")
      i += 1
    }
    ctx.tracer.on = false
    ctx.measuring = false
    val metrics: Seq[(String, Double)] =
      if (!trace) Seq(
        "setup_s" -> Stats.median(setupS.toSeq),
        "items_per_s" -> inst.itemsPerS(ctx),
        "write_p50_s" -> inst.writeP50(ctx),
        "bytes_per_item" -> inst.bytesPerItem(ctx))
      else {
        org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
        ctx.spark.sparkContext.removeSparkListener(listener)
        val spans = LayerReport(ctx.tracer, listener.snapshot())
        ctx.tracer.writeJsonl(s"$out/spans-$workload-s${ctx.seed}.jsonl")
        val probes = inst.probes(ctx)
        Layers(ctx, spans, tracedWall.toSeq) ++
          Seq("trace.overhead_frac" ->
            (Stats.median(tracedWall.toSeq) / Stats.median(plainWall.toSeq) - 1)) ++
          Layers.ProbeDefaults.map { case (k, v) => k -> probes.getOrElse(k, v) }
      }
    val detail = Seq("setup_s_min" -> setupS.min, "setup_s_max" -> setupS.max) ++
      tails(ctx) ++ inst.detail(ctx)
    Result(ctx.failed == 0 && !broken && ctx.attempted > 0,
      ctx.attempted, ctx.failed, metrics, detail, ctx.failures.toSeq)
  }

  /** Median, tail and sample count of every timed call. */
  private def tails(ctx: Ctx): Seq[(String, Double)] =
    ctx.timedNames.flatMap { n =>
        val xs = ctx.get(n)
        Seq(s"$n.p50" -> Stats.median(xs), s"$n.n" -> xs.length.toDouble) ++
          Stats.tail(xs).toSeq.map { case (p, v) => s"$n.p${p.toInt}" -> v }
      }
}

object Files {
  def rm(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
  }

  /** Names of the regular files under `path`, recursively, with sizes. */
  def sizes(path: String): Seq[(String, Long)] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) Nil
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(f => java.nio.file.Files.isRegularFile(f))
        .map(f => f.getFileName.toString -> java.nio.file.Files.size(f)).toList
      finally s.close()
    }
  }
  def list(path: String): Seq[String] = sizes(path).map(_._1)

  /** Bytes in regular files under `path` whose names pass `keep`. */
  def bytes(path: String, keep: String => Boolean = _ => true): Long =
    sizes(path).collect { case (n, b) if keep(n) => b }.sum
}
