package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

/** What the workloads get: the session, the seed, the run's scratch
  * directory and, for a traced op, the recorder. */
final case class Ctx(spark: SparkSession, seed: Long, work: String, rec: Option[Recorder]) {
  def span[A](name: String)(f: => A): A = rec.fold(f)(_.span(name)(f))
}

/** One timed op as the harness saw it. The engine, job and detector-row
  * figures are filled only for traced ops. */
final case class OpRecord[O](index: Int, traced: Boolean, seconds: Double, out: O,
                             engine: EngineTotals, jobStarts: Seq[Long], piiRows: Long)

abstract class Workload {
  type Fx
  type Out
  def name: String
  /** Documents one op completes. */
  def docsPerOp: Long
  /** Builds the inputs (and any bootstrap state) from the seed into the
    * fresh directory `dir`. Timed as `setup_s`. */
  def setup(ctx: Ctx, dir: String): Fx
  /** One closed-loop operation; the whole input is on disk before it starts. */
  def op(ctx: Ctx, fx: Fx, i: Int): Out
  /** Output checks for one op, run outside the timed region. */
  def check(ctx: Ctx, fx: Fx, out: Out): Seq[String]
  /** Heavier checks on the last op's outputs, after the loop. */
  def finalCheck(ctx: Ctx, fx: Fx): Seq[String] = Nil
  def maxOps: Int = Int.MaxValue
  def warmupOps: Int = 1
  def properties: Seq[(String, String)]
  /** Per-layer figures of the traced run beyond the common ones. */
  def layers(ctx: Ctx, fx: Fx, traced: Seq[OpRecord[Out]]): Layers
}

/** A traced run's per-layer figures, and the output checks of the side
  * passes that measured them (pass name, errors); each pass counts as one
  * attempted operation. */
final case class Layers(metrics: Map[String, Double], passes: Seq[(String, Seq[String])] = Nil)

object Harness {
  val SetupReps = 3
  val MinOps = 3

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
                          metrics: Seq[(String, Double)], report: Seq[String])

  def run(spark: SparkSession, wl: Workload, seed: Long, seconds: Double, trace: Boolean,
          work: String, spansFile: String): Result = {
    val ctx = Ctx(spark, seed, work, None)
    val report = ArrayBuffer.empty[String]
    val phases = ArrayBuffer.empty[(String, Double)]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases += name -> (now - mark) / 1e9
      mark = now
    }
    val setups = (0 until SetupReps).map { i =>
      val t0 = System.nanoTime()
      val fx = wl.setup(ctx, s"$work/setup-$i")
      ((System.nanoTime() - t0) / 1e9, fx)
    }
    val fx = setups.last._2
    wl.properties.foreach { case (k, v) => report += s"property $k: $v" }
    // the core and eval layers' corpus: seeded, labeled Korean documents
    val korean = KoreanCorpus.generate(seed, KoreanCorpus.BenchDocs)
    KoreanCorpus.properties(korean).foreach { case (k, v) => report += s"property korean_corpus.$k: $v" }
    phase("setup")
    val warmups = (0 until wl.warmupOps).map { i =>
      val t0 = System.nanoTime()
      wl.op(ctx, setups.head._2, i)
      (System.nanoTime() - t0) / 1e9
    }
    clearCaches(spark)
    (0 until SetupReps - 1).foreach(i => rmDir(s"$work/setup-$i"))
    phase("warmup")

    val rec = if (trace) Some(new Recorder(spark)) else None
    rec.foreach(_.register())
    val ops = ArrayBuffer.empty[OpRecord[wl.Out]]
    var attempted = 0
    var failed = 0
    val target = if (trace) 2 * seconds else seconds
    var timed = 0.0
    var i = 0
    var broken = false
    def sidePass(name: String, errs: Seq[String]): Unit = {
      attempted += 1
      if (errs.nonEmpty) { failed += 1; errs.foreach(e => report += s"CHECK FAILED ($name): $e") }
    }
    // a traced run alternates untraced and traced ops, at least two of each
    while (!broken && (timed < target || i < MinOps + (if (trace) 1 else 0)) && i < wl.maxOps) {
      val traced = rec.isDefined && i % 2 == 1
      val c = if (traced) ctx.copy(rec = rec) else ctx
      val before = rec.map { r => r.drain(); (r.engineTotals, r.jobCount, r.piiRows) }
      rec.foreach(_.recording = traced)
      val t0 = System.nanoTime()
      val res = Try(c.span("op")(wl.op(c, fx, i)))
      val dt = (System.nanoTime() - t0) / 1e9
      rec.foreach { r => r.drain(); r.recording = false }
      res match {
        case Success(out) =>
          timed += dt
          val (eng, jobs, pii) = (rec, before) match {
            case (Some(r), Some((e0, j0, p0))) if traced =>
              (r.engineTotals.minus(e0), r.jobStartsSince(j0), r.piiRows - p0)
            case _ => (EngineTotals(), Nil, 0L)
          }
          ops += OpRecord(i, traced, dt, out, eng, jobs, pii)
          attempted += 1
          val errs = Try(wl.check(ctx, fx, out)).fold(e => Seq(s"check threw $e"), identity)
          if (errs.nonEmpty) {
            failed += 1
            errs.foreach(e => report += s"CHECK FAILED (op $i): $e")
          }
        case Failure(e) =>
          attempted += 1; failed += 1; broken = true
          report += s"OP FAILED (op $i): $e"
      }
      i += 1
    }
    phase("loop")
    if (!broken) {
      val errs = Try(wl.finalCheck(ctx, fx)).fold(e => Seq(s"final check threw $e"), identity)
      if (errs.nonEmpty) { failed += 1; errs.foreach(e => report += s"CHECK FAILED (final): $e") }
    }

    phase("final_check")
    val plain = ops.filterNot(_.traced).toSeq
    val tracedOps = ops.filter(_.traced).toSeq
    // per-op throughput, median over ops: robust to one op hit by host noise
    def rate(s: Seq[OpRecord[wl.Out]]) = Stats.median(s.map(o => wl.docsPerOp / o.seconds))
    val texts = korean.cases.map(_.document_text)
    val metrics: Seq[(String, Double)] =
      if (!trace) {
        Seq(
          "setup_s" -> Stats.median(setups.map(_._1)),
          "docs_per_s" -> rate(plain),
          "step_s_p50" -> Stats.median(plain.map(_.seconds)),
          "peak_rss_mb" -> peakRssMb)
      } else {
        val long = texts.indices.filter(i => korean.longToken(korean.cases(i).id)).toSet
        val det = Detector.measure(texts, 1.0, long, perDoc = true)
        val (evalMetrics, evalErrs) = EvalPass.measure(ctx.copy(rec = rec), korean)
        sidePass("eval", evalErrs)
        def med(f: OpRecord[wl.Out] => Double) = Stats.median(tracedOps.map(f))
        val common = Map(
          // the paper's comparison figure (CPython: 3,026 docs/s)
          "core.detector_docs_per_s_1t" -> Detector.measure(texts, 3.0, Set.empty).docsPerS,
          "core.detect_ms_p50" -> det.latencyMs(0.50),
          "core.detect_ms_p99" -> det.latencyMs(0.99),
          "core.spans" -> Detector.spans(texts).toDouble,
          "core.long_token_docs" -> long.size.toDouble,
          "core.long_token_time_share" -> det.longShare,
          "spark.jobs" -> med(_.engine.jobs.toDouble),
          "spark.tasks" -> med(_.engine.tasks.toDouble),
          "spark.executor_run_s" -> med(_.engine.runMs / 1e3),
          "spark.executor_cpu_s" -> med(_.engine.cpuNs / 1e9),
          "spark.gc_s" -> med(_.engine.gcMs / 1e3),
          "spark.shuffle_read_bytes" -> med(_.engine.shuffleRead.toDouble),
          "spark.task_skew" -> rec.get.taskSkew,
          // op 0 still carries compile cost; it is untraced, so leave it out
          "trace.overhead_frac" -> (rate(plain.filter(_.index > 0)) / rate(tracedOps) - 1.0))
        val layers = wl.layers(ctx.copy(rec = rec), fx, tracedOps)
        layers.passes.foreach { case (n, errs) => sidePass(n, errs) }
        val all = common ++ evalMetrics ++ layers.metrics
        rec.get.unregister()
        rec.get.writeSpans(spansFile)
        // a layer the workload does not run reads 0
        Metrics.perLayer.map { case (n, _) => n -> all.getOrElse(n, 0.0) }
      }
    // every value must be a number: one that could not be measured (no
    // successful op, no listener event) reads 0 and is reported
    val finite = metrics.map { case (n, v) =>
      if (v.isNaN || v.isInfinite) { report += s"metric $n not measured ($v)"; n -> 0.0 } else n -> v
    }
    phase("metrics")
    report += phases.map { case (n, d) => f"$n $d%.1f s" }.mkString("phases: ", ", ", "")
    report += setups.map(s => f"${s._1}%.3f").mkString("setup seconds: ", " ", "")
    report += warmups.map(w => f"$w%.3f").mkString("warm-up op seconds: ", " ", "")
    report += ops.map(o => f"${o.seconds}%.3f${if (o.traced) "t" else ""}").mkString("op seconds: ", " ", "")
    report += s"ops: ${ops.size} (${tracedOps.size} traced), timed ${"%.3f".format(timed)} s, " +
      s"cores ${Main.Cores}, seed $seed"
    Result(failed == 0 && attempted > 0, attempted, failed, finite, report.toSeq)
  }

  def clearCaches(spark: SparkSession): Unit = spark.catalog.clearCache()

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Files and bytes under `dir`, data files only (no `_`/`.` names). */
  def footprint(dir: String): (Long, Long) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new java.io.File(dir)).filter { f =>
      val n = f.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    (files.size.toLong, files.map(_.length).sum)
  }

  def rmDir(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }
}

object Stats {
  /** Median; NaN for no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}

/** The plain-JVM, single-thread detector pass. */
object Detector {
  final case class Measure(docsPerS: Double, sortedNs: Array[Long], longShare: Double) {
    def latencyMs(q: Double): Double =
      if (sortedNs.isEmpty) 0.0 else sortedNs(math.min(sortedNs.length - 1, (q * sortedNs.length).toInt)) / 1e6
  }

  /** Warm-up passes over `texts` for half a second, then timed passes
    * until `minSeconds` have gone by (at least three); throughput is the
    * median pass rate. With `perDoc`, every timed document's latency is
    * kept, and `longShare` is the share of detector time spent on the
    * documents in `long`. Each pass is its own call, so the timed code is
    * compiled as a method rather than on-stack-replaced. */
  def measure(texts: IndexedSeq[String], minSeconds: Double, long: Set[Int],
              perDoc: Boolean = false): Measure = {
    val w0 = System.nanoTime()
    var sink = 0
    while (System.nanoTime() - w0 < 0.5e9) sink += pass(texts)
    val lat = new scala.collection.mutable.ArrayBuilder.ofLong
    val rates = ArrayBuffer.empty[Double]
    var longNs = 0L
    var allNs = 0L
    val start = System.nanoTime()
    while (rates.size < 3 || System.nanoTime() - start < minSeconds * 1e9) {
      val p0 = System.nanoTime()
      if (perDoc) {
        var i = 0
        while (i < texts.length) {
          val t0 = System.nanoTime()
          sink += graft.core.PiiDetector.detect(texts(i)).cats.count(_ != null)
          val d = System.nanoTime() - t0
          lat += d
          allNs += d
          if (long.contains(i)) longNs += d
          i += 1
        }
      } else sink += pass(texts)
      rates += texts.length / ((System.nanoTime() - p0) / 1e9)
    }
    if (sink < 0) println(sink) // keeps the detector calls observable
    val sorted = lat.result()
    java.util.Arrays.sort(sorted)
    Measure(Stats.median(rates.toSeq), sorted, if (allNs == 0) 0.0 else longNs.toDouble / allNs)
  }

  private def pass(texts: IndexedSeq[String]): Int = {
    var sink = 0
    var i = 0
    while (i < texts.length) {
      sink += graft.core.PiiDetector.detect(texts(i)).cats.count(_ != null)
      i += 1
    }
    sink
  }

  def spans(texts: IndexedSeq[String]): Long =
    texts.iterator.map(t => graft.core.PiiDetector.detectWithSpans(t)._2.size.toLong).sum
}
