package perfbench

import graft.GraftSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <scratch dir> --out <span dir>`. Prints an
  * environment line, a detail line and, last, the raw result line that
  * `run.py` turns into the reported JSON. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    require(Workloads.all.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val spark = GraftSession.build("perfbench")
    System.err.println(f"perfbench: session up after ${
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
    try {
      if (trace) {
        val fs = org.apache.hadoop.fs.FileSystem.getLocal(
          spark.sparkContext.hadoopConfiguration)
        require(fs.isInstanceOf[CountingFs],
          s"traced run needs the counting filesystem, got ${fs.getClass}")
      }
      val ctx = new Ctx(spark, seed, spark.sparkContext.defaultParallelism,
        new Tracer(s"$workload-s$seed-${System.currentTimeMillis()}"))
      val r = Runner.run(ctx, workload, seconds, trace, a("work"), a("out"))
      r.failures.foreach(f => System.err.println(s"FAILED: $f"))
      println(Json.obj(Seq("env" -> Json.obj(Seq(
        "spark_version" -> Json.str(spark.version),
        "cores" -> ctx.cores.toString,
        "max_heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
        "jvm" -> Json.str(System.getProperty("java.version")))))))
      println(Json.obj(Seq("detail" -> Json.nums(r.detail))))
      println(Json.obj(Seq("correct" -> r.correct.toString,
        "attempted" -> r.attempted.toString, "failed" -> r.failed.toString,
        "metrics" -> Json.nums(r.metrics))))
    } finally spark.stop()
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def nums(kv: Seq[(String, Double)]): String =
    obj(kv.map { case (k, v) => k -> num(v) })
}
