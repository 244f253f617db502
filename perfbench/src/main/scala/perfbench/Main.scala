package perfbench

/** Benchmark entry point, one workload per process:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <scratch dir> --spans <file>
  *
  * Runs Spark `local[4]`: the core count is part of the workload
  * definition. Prints report lines, then as the last line one JSON object
  * {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics,
  * or with `--trace 1` the per-layer metrics of the traced run.
  */
object Main {
  val Cores = 4

  val workloads: Map[String, () => Workload] = Map(
    "html_crawl" -> (() => new HtmlCrawl),
    "daily_lake" -> (() => new DailyLake))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val code = try {
      val wl = workloads.getOrElse(need("workload"), sys.error(s"unknown workload ${need("workload")}"))()
      val t0 = System.nanoTime()
      val spark = graft.GraftSession.local(Cores, s"perfbench-${wl.name}")
      println(f"startup: jvm uptime ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s, " +
        f"session ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val r = try Harness.run(spark, wl, need("seed").toLong, need("seconds").toDouble,
        need("trace") == "1", need("work"), need("spans"))
      finally spark.stop()
      r.report.foreach(println)
      r.metrics.foreach { case (n, v) => println(f"metric $n%-34s ${Json.num(v)} ${Metrics.units(n)}") }
      println(s"check: ${if (r.correct) "PASS" else "FAIL"}, error_rate " +
        s"${r.failed.toDouble / math.max(1, r.attempted)} (${r.failed} of ${r.attempted} operations failed)")
      val ms = r.metrics.map { case (n, v) =>
        s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(Metrics.units(n))}}"
      }
      println(s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
        s""""metrics": {${ms.mkString(", ")}}}""")
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.out.flush()
    sys.exit(code)
  }
}
