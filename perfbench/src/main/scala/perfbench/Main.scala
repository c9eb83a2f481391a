package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its raw record (timings, checks, window
  * labels and, when traced, spans and Spark metrics) as JSON.
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <workDir> <cpus> <out.json>
  *
  * Protocol: session start; inputs materialized three times (the median
  * counts toward set-up); [[Workload.warmPasses]] warm-up passes (the label
  * `warm_stable` says whether the last three agreed within 10%); then the
  * timed phase repeats passes for `seconds`, and the output check runs. A
  * traced run alternates untraced and traced passes (their ratio is the
  * tracing overhead), then profiles the kernel layers on the workload's own
  * document turns.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, work, cpusS, outPath) = argv
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cpus = cpusS.toInt
    val out = Json.Obj()
    val labels = Json.Obj("nproc" -> Json.num(Runtime.getRuntime.availableProcessors),
      "cpus" -> Json.num(cpus), "loadavg_before" -> Json.Str(loadavg()))

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Bench.session(cpus.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    labels("calib_before_miters_s") = Json.num(graft.Bench.calibBurn(cpus, 0.25))

    val w = Workload(name, spark, s"$work/data", seed, cpus)
    val errors = scala.collection.mutable.Map.empty[String, Long]
    var passNo = 0
    // a pass that throws counts all of its operations as failed
    def runPass(trace: Option[Trace]): Pass = {
      passNo += 1
      val t0 = System.nanoTime()
      try trace.fold(w.pass(passNo, None))(t => t.span("pass")(w.pass(passNo, trace)))
      catch {
        case e @ (_: StackOverflowError | scala.util.control.NonFatal(_)) =>
          val cls = e.getClass.getName
          errors(cls) = errors.getOrElse(cls, 0L) + 1
          System.err.println(s"pass $passNo failed: $e")
          val n = math.max(1L, w.docTurns)
          new Pass((System.nanoTime() - t0) / 1e9, 0L, n, n, trace.isDefined)
      }
    }

    val materializeS = (0 until 3).map { _ =>
      val t0 = System.nanoTime(); w.materialize(); (System.nanoTime() - t0) / 1e9
    }
    val warm = scala.collection.mutable.ArrayBuffer.empty[Double]
    val warmStart = System.nanoTime()
    def stable = warm.length >= 3 && {
      val last = warm.takeRight(3)
      last.max / last.min <= 1.10
    }
    (1 to w.warmPasses).foreach(_ => warm += runPass(None).secs)
    val warmS = (System.nanoTime() - warmStart) / 1e9
    labels("warm_secs") = Json.nums(warm.toSeq)
    labels("warm_stable") = Json.Bool(stable)
    out("warm_failed") = Json.num(errors.values.sum)
    labels("materialize_secs") = Json.nums(materializeS)
    labels("session_secs") = Json.num(sessionS)
    out("setup_s") = Json.num(sessionS + materializeS.sorted.apply(1) + warmS)

    // passes until `seconds` have passed; with a trace, untraced and
    // traced passes alternate, so warm-up drift cannot pass for overhead
    def phase(trace: Option[Trace]): Seq[Pass] = {
      val stopAt = System.nanoTime() + (seconds * 1e9).toLong
      val ps = scala.collection.mutable.ArrayBuffer.empty[Pass]
      while (ps.isEmpty || System.nanoTime() < stopAt) {
        ps += runPass(None)
        trace.foreach(t => ps += runPass(Some(t)))
      }
      ps.toSeq
    }
    labels("peak_rss_reset") = Json.Bool(resetPeakRss())
    val cpu0 = cpuTicks()
    val passes =
      if (!traced) phase(None)
      else {
        val jobs = new JobListener
        spark.sparkContext.addSparkListener(jobs)
        val trace = new Trace(spark.sparkContext)
        val ps = phase(Some(trace))
        try w.traceExtras(trace, jobs, out)
        catch {
          case e @ (_: StackOverflowError | scala.util.control.NonFatal(_)) =>
            val cls = e.getClass.getName
            errors(cls) = errors.getOrElse(cls, 0L) + 1
            System.err.println(s"traced extras failed: $e")
            out("side_attempted") = Json.num(1)
            out("side_failed") = Json.num(1)
        }
        val payloads = w.payloads(4000)
        // warm the direct calls before they are timed
        Kernel.profile(new Trace(spark.sparkContext), payloads, 500000000L)
        val kernel = Kernel.profile(trace, payloads, (seconds / 4 * 1e9).toLong)
        jobs.drain()
        out("kernel") = Json.Arr(kernel.map(s => Json.Obj(
          "format" -> Json.Str(s.format), "lines" -> Json.num(s.lines),
          "error" -> Json.Str(s.error.getOrElse("")),
          "ns" -> Json.Obj(s.ns.toSeq.map { case (k, v) => k -> Json.num(v) }: _*))))
        kernel.flatMap(_.error).foreach(c => errors(c) = errors.getOrElse(c, 0L) + 1)
        out("kernel_failed") = Json.num(kernel.count(_.error.isDefined))
        out("spans") = Json.Arr(trace.spans.map(s => Json.Arr(Seq(Json.num(s.id),
          Json.num(s.parent), Json.num(s.trace), Json.Str(s.name),
          Json.num(s.startNs), Json.num(s.endNs)))))
        out("jobs") = Json.Arr(jobs.jobList.filter(_.span != 0).map(j => Json.Arr(Seq(
          Json.num(j.id), Json.num(j.span), Json.num(j.startMs), Json.num(j.endMs),
          Json.num(j.stages)))))
        out("tasks") = Json.Arr(jobs.taskList.filter(_.span != 0).map(t => Json.Arr(Seq(
          Json.num(t.span), Json.num(t.job), Json.num(t.stage), Json.num(t.launchMs),
          Json.num(t.finishMs), Json.num(t.runMs), Json.num(t.gcMs),
          Json.num(t.shuffleWrite), Json.num(t.shuffleRead), Json.num(t.spill)))))
        ps
      }
    out("peak_rss_mb") = Json.num(peakRssMb())
    val cpu1 = cpuTicks()
    // share of the host's CPU time the hypervisor gave to other guests
    // during the timed phase (the "steal" column of /proc/stat)
    labels("steal_frac") = Json.num(
      (cpu1(7) - cpu0(7)).toDouble / math.max(1L, cpu1.sum - cpu0.sum))
    w.check(passes)

    labels("calib_after_miters_s") = Json.num(graft.Bench.calibBurn(cpus, 0.25))
    labels("loadavg_after") = Json.Str(loadavg())
    out("labels") = labels
    out("doc_turns") = Json.num(w.docTurns)
    out("errors") = Json.Obj(errors.toSeq.map { case (k, v) => k -> Json.num(v) }: _*)
    out("passes") = Json.Arr(passes.map(p => Json.Obj(
      "secs" -> Json.num(p.secs), "turns" -> Json.num(p.turns),
      "attempted" -> Json.num(p.attempted), "failed" -> Json.num(p.failed),
      "traced" -> Json.Bool(p.traced))))
    Files.writeString(Paths.get(outPath), Json.write(out))
    spark.stop()
  }


  /** The aggregate "cpu" line of /proc/stat, in clock ticks. */
  private def cpuTicks(): Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)

  private def loadavg(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim

  /** Resets the kernel's peak-RSS mark (VmHWM) so it covers the timed phase. */
  private def resetPeakRss(): Boolean =
    try { Files.writeString(Paths.get("/proc/self/clear_refs"), "5"); true }
    catch { case _: java.io.IOException => false }

  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status"))
      .toArray(Array.empty[String]).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}
