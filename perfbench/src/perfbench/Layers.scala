package perfbench

import CountingFs.{Create, Delete, List => FsList, Open, Rename, Written}

/** Per-layer figures from a traced window's spans. A layer a workload
  * never calls reads 0: that is the "predicted flat" half of the
  * layer → end-to-end table in README.md. Per-call figures are the
  * median (times) or mean (counts) over the window's calls; per-cycle
  * figures divide window totals by the number of cycles. */
object Layers {
  val StoreOps = Seq("append", "upsert", "delete", "read_range", "changes")
  val Prefixes = Seq("materialize", "read", "store", "sidecar", "view", "ops",
    "bench")

  /** Figures only a workload's own probes produce (see
    * [[Instance.probes]]); 0 where the workload has no such layer. */
  val ProbeDefaults: Seq[(String, Double)] = Seq("codecs.encode_s",
    "codecs.decode_s", "codecs.decode_share", "materialize.files",
    "store.manifest_bytes", "store.versions", "store.live_files",
    "store.space_amp", "store.files_scanned_frac", "sidecar.parts")
    .map(_ -> 0.0)

  /** `cycleWall` holds the wall time of each traced cycle; counters
    * the workload notes (`ctx.sum`) cover every measured cycle. */
  def apply(ctx: Ctx, spans: Seq[SpanStats],
      cycleWall: Seq[Double]): Seq[(String, Double)] = {
    val cycles = cycleWall.length
    val allCycles = ctx.get("cycle_s").length
    def named(n: String) = spans.filter(_.name == n)
    def med(n: String)(f: SpanStats => Double): Double =
      named(n).map(f) match { case Seq() => 0.0; case xs => Stats.median(xs) }
    def mean(n: String)(f: SpanStats => Double): Double =
      named(n).map(f) match { case Seq() => 0.0; case xs => xs.sum / xs.length }
    def perCycle(ss: Seq[SpanStats])(f: SpanStats => Double): Double =
      if (cycles == 0) 0.0 else ss.map(f).sum / cycles
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val top = spans.filter(_.top)
    val opsSpans = spans.filter(s => s.name.startsWith("ops.") && s.top)
    val sidecars = spans.filter(_.name.startsWith("sidecar."))
    val ingests = math.max(1, named("store.ingest").length)
    val allIngests = math.max(1, ctx.get("store.ingest").length)

    Seq(
      "materialize.write_s" -> med("materialize.write")(_.wallS),
      "materialize.jobs" -> mean("materialize.write")(_.jobs),
      "materialize.task_s" -> mean("materialize.write")(_.taskS),
      "materialize.bytes_written" -> mean("materialize.write")(_.fs(Written)),
      "read.plan_s" -> med("read.plan")(_.wallS),
      "read.first_row_s" -> med("read.first_row")(_.wallS),
      "read.epoch_s" -> med("read.epoch")(_.wallS),
      "read.jobs_per_epoch" -> mean("read.epoch")(_.jobs),
      "read.tasks_per_epoch" -> mean("read.epoch")(_.tasks),
      "read.input_bytes_per_epoch" -> mean("read.epoch")(_.inBytes),
      "read.shuffle_bytes_per_epoch" -> mean("read.epoch")(_.shuffleBytes),
      "read.deliver_wait_s" -> ctx.median("read.deliver_wait_s"),
      "read.fs_list_calls" -> mean("read.epoch")(_.fs(FsList)),
      "read.fs_open_calls" -> mean("read.epoch")(_.fs(Open))
    ) ++ StoreOps.flatMap { op =>
      val n = s"store.$op"
      Seq(s"$n.wall_s" -> med(n)(_.wallS),
        s"$n.driver_gap_s" -> med(n)(_.gapS),
        s"$n.jobs" -> mean(n)(_.jobs),
        s"$n.fs_list_calls" -> mean(n)(_.fs(FsList)),
        s"$n.fs_create_calls" -> mean(n)(_.fs(Create)),
        s"$n.fs_rename_calls" -> mean(n)(_.fs(Rename)),
        s"$n.fs_delete_calls" -> mean(n)(_.fs(Delete)),
        s"$n.bytes_written" -> mean(n)(_.fs(Written)))
    } ++ Seq(
      "store.rows_read_per_row_returned" -> ratio(
        mean("store.read_range")(_.inRecords),
        ratio(ctx.sum("read_range.rows"), ctx.get("read_range.rows").length)),
      "sidecar.stats_s" -> med("sidecar.stats")(_.wallS),
      "sidecar.bloom_s" -> med("sidecar.bloom")(_.wallS),
      "sidecar.vector_s" -> med("sidecar.vector")(_.wallS),
      "sidecar.jobs" -> sidecars.map(_.jobs.toDouble).sum / ingests,
      "sidecar.bytes_written" -> sidecars.map(_.fs(Written).toDouble).sum / ingests,
      "sidecar.input_files" -> ctx.sum("sidecar.input_files") / allIngests,
      "view.refresh_s" -> med("view.refresh")(_.wallS),
      "view.driver_gap_s" -> med("view.refresh")(_.gapS),
      "view.jobs" -> mean("view.refresh")(_.jobs),
      "view.bytes_written" -> mean("view.refresh")(_.fs(Written)),
      "ops.exact_dedup_s" -> med("ops.exact_dedup")(_.wallS),
      "ops.near_candidates_s" -> med("ops.near_candidates")(_.wallS),
      "ops.near_verify_s" -> med("ops.near_verify")(_.wallS),
      "ops.quality_s" -> med("ops.quality")(_.wallS),
      "ops.gopher_s" -> med("ops.gopher")(_.wallS),
      "ops.bpe_counts_s" -> med("ops.bpe_counts")(_.wallS),
      "ops.candidate_pairs" -> ratio(ctx.sum("candidate_pairs"), allCycles),
      "ops.verified_pairs" -> ratio(ctx.sum("verified_pairs"), allCycles),
      "ops.verify_yield" -> ratio(ctx.sum("verified_pairs"),
        ctx.sum("candidate_pairs")),
      "ops.shuffle_bytes" -> perCycle(opsSpans)(_.shuffleBytes),
      "ops.spill_bytes" -> perCycle(opsSpans)(_.spillBytes),
      "ops.task_s" -> perCycle(opsSpans)(_.taskS),
      "ops.cpu_busy_share" -> ratio(opsSpans.map(_.cpuS).sum,
        opsSpans.map(_.wallS).sum * ctx.cores),
      "spark.jobs" -> perCycle(top)(_.jobs),
      "spark.gc_s" -> perCycle(top)(_.gcS),
      "spark.driver_gap_s" -> perCycle(top)(_.gapS),
      "trace.span_coverage" -> ratio(top.map(_.wallS).sum, cycleWall.sum)
    ) ++ Prefixes.map { p =>
      s"self.${p}_s" -> perCycle(spans.filter(_.name.startsWith(p + ".")))(_.selfS)
    }
  }
}
