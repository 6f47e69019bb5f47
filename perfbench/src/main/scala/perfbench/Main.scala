package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up the session several times, run a
  * cold pass and then warm passes for the measuring window, read the peak
  * RSS, then (untimed) dump the oracle-gated queries and run the workload's
  * own checks. Everything is written to one JSON result file; `run.py`
  * turns it into the printed metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --data DIR --run DIR
  *   --seconds S --trace 0|1 --setups N --spawn-ms EPOCH_MS --result FILE
  *   --spans FILE
  */
object Main {
  /** `measured` is false for the cold pass and the warm-up pass. */
  final case class PassRec(i: Int, traced: Boolean, measured: Boolean, t0: Double, t1: Double) {
    def seconds: Double = (t1 - t0) / 1000.0
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val wl = Workloads.byName(o("workload"))
    val (dataDir, runDir) = (o("data"), o("run"))
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    // set-up: session ready and inputs registered; the first one counts
    // from process spawn, so it includes JVM start and class loading
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until o("setups").toInt) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      System.gc() // start each timed set-up and pass from a collected heap
      val t0 = if (i == 0) o("spawn-ms").toDouble else System.currentTimeMillis().toDouble
      spark = graft.Sessions.local("perfbench", cores)
      spark.conf.set("spark.graft.scratch.dir", s"$runDir/scratch")
      wl.tables.foreach(t =>
        graft.Tables.load(spark, dataDir, t).createOrReplaceTempView(t))
      setupS += (System.currentTimeMillis() - t0) / 1000.0
    }

    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, dataDir, s"$runDir/work", tracer)
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val digests = mutable.ArrayBuffer.empty[String]
    def runPass(traced: Boolean, measured: Boolean): Unit = {
      val i = passes.length
      tracer.setEnabled(traced)
      tracer.pass = i
      Files.createDirectories(Paths.get(ctx.workDir))
      System.gc()
      val t0 = tracer.now()
      digests += wl.pass(ctx)
      passes += PassRec(i, traced, measured, t0, tracer.now())
      deleteRecursively(new java.io.File(ctx.workDir))
    }

    runPass(traced = trace, measured = false) // cold: fresh JVM, empty fixture dirs
    // the second pass still runs much of its code for the first time under
    // C2, so it warms up and is not measured
    runPass(traced = false, measured = false)
    // measured passes fill the window: another starts only if it should
    // end inside it (at least one). Traced runs alternate untraced and
    // traced passes, at least one of each, so the tracing overhead is
    // measured on the same JVM; a JIT still warming up favours the later,
    // traced pass, so the overhead reads low.
    val windowStart = System.nanoTime()
    def measured = passes.filter(_.measured)
    def elapsed = (System.nanoTime() - windowStart) / 1e9
    do runPass(traced = trace && measured.length % 2 == 1, measured = true)
    while ((trace && measured.length < 2) ||
      elapsed + measured.map(_.seconds).sum / measured.length <= seconds)
    digests.zipWithIndex.tail.foreach { case (d, i) =>
      ctx.check(s"pass_${i}_matches_cold_pass")(d == digests.head) }
    val peakRssMb = vmHwmMb()

    // traced runs then probe single kernels, funnels and the paths the
    // passes leave out; their spans form pseudo-pass -1
    val (probes, perPass, probePass) = if (!trace) (Map.empty[String, Double], Nil, Map.empty) else {
      tracer.setEnabled(true)
      tracer.pass = -1
      val t0 = tracer.now()
      val pr = Workloads.probes(ctx)
      val probeRec = PassRec(-1, traced = true, measured = false, t0, tracer.now())
      deleteRecursively(new java.io.File(ctx.workDir))
      val ms = passMetrics(tracer, measured.filter(_.traced).toSeq :+ probeRec, cores)
      (pr, ms.init, ms.last)
    }
    tracer.setEnabled(false)

    // untimed correctness gate: the SparkEntry queries this workload's
    // steps mirror, dumped for the DuckDB oracle compare in run.py
    val gateDir = s"$runDir/gate"
    Files.createDirectories(Paths.get(gateDir))
    val gateErrors = mutable.ArrayBuffer.empty[String]
    val results = wl.fromPass(ctx).toSeq.map { case (q, df) => q -> (() => df) } ++
      wl.gated.map(q => q -> (() => graft.SparkEntry.queries(q)(spark, dataDir)))
    results.foreach { case (q, df) =>
      try df().coalesce(1).write.mode("overwrite").parquet(s"$gateDir/$q")
      catch { case e: Throwable => gateErrors += s"$q: ${e.getMessage}".take(400) }
    }
    Files.writeString(Paths.get(s"$gateDir/oracle_sql.json"),
      Json(results.map { case (q, _) => q -> graft.SparkEntry.oracleSql(q) }.toMap))
    wl.checks(ctx)

    Files.writeString(Paths.get(o("spans")), tracer.spans.map(s => Json(Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent.getOrElse(""),
      "workload" -> wl.name, "pass" -> s.pass, "seed" -> o("seed"),
      "start_ms" -> s.start, "end_ms" -> s.end))).mkString("", "\n", "\n"))
    Files.writeString(Paths.get(o("result")), Json(Map(
      "setup_s" -> setupS.toSeq,
      "passes" -> passes.map(p =>
        Map("s" -> p.seconds, "traced" -> p.traced, "measured" -> p.measured)).toSeq,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failures.toSeq, "gate_errors" -> gateErrors.toSeq,
      "peak_rss_mb" -> peakRssMb, "per_pass" -> perPass, "probe_pass" -> probePass,
      "probes" -> probes)))
    spark.stop()
  }

  /** Per traced pass: engine counters of the pass's spans, span time per
    * call name, self time per layer, and the time no span or job covered.
    */
  def passMetrics(tracer: Tracer, passes: Seq[PassRec], cores: Int): Seq[Map[String, Double]] = {
    val (counters, jobs) = tracer.attribute()
    passes.map { p =>
      val ss = tracer.spans.filter(_.pass == p.i).toSeq
      val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      def c(s: Span, k: String) = counters.get(s.id).map(_.v(k)).getOrElse(0.0)
      ss.foreach(s => counters.get(s.id).foreach(_.v.foreach { case (k, x) => m(k) += x }))
      ss.foreach { s =>
        m(s.name + "_s") += s.seconds
        m(s.name + "_jobs") += c(s, "sched.jobs")
        val kids = ss.filter(_.parent.contains(s.id)).map(k => (k.start, k.end))
        m(s.layer + ".self_s") += s.seconds - Tracer.covered(kids, s.start, s.end) / 1000.0
        if (s.layer == "dedup") m("dedup.staged_bytes") += c(s, "output.bytes")
      }
      val wall = p.seconds
      m("pass.wall_s") = wall
      m("pass.unattributed_s") = wall - Tracer.covered(
        ss.filter(_.parent.isEmpty).map(s => (s.start, s.end)), p.t0, p.t1) / 1000.0
      m("sched.driver_gap_s") = wall - Tracer.covered(jobs, p.t0, p.t1) / 1000.0
      m("exec.slot_util") = m("exec.run_s") / (wall * cores)
      tracer.extras.foreach { case ((i, k), x) => if (i == p.i) m(k) += x }
      m.toMap
    }
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case s: Seq[_] => s.map(apply).mkString("[", ", ", "]")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case other => apply(other.toString)
  }
}
