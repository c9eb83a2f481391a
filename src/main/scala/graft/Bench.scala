package graft

import graft.spark.{Pipeline, Transcripts}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-run benchmark: times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS and measures the headline metric —
  * extraction throughput in turns/sec with per-turn exact-match against the
  * goldens (BASELINE.md). Prints ONE JSON line.
  */
object Bench {

  def session(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("graft-bench")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.adaptive.enabled", "true")
    // the extraction kernel costs ~0.5 ms/row, so scan splits must be
    // CPU-balanced, not byte-balanced: with the 128 MB default a small
    // corpus collapses into one task and extraction runs single-threaded
    .config("spark.sql.files.maxPartitionBytes", "4m")
    .config("spark.sql.files.openCostInBytes", "262144")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  final case class ExtractionBench(turns: Long, medianSecs: Double,
      runSecs: Seq[Double], warmSecs: Seq[Double], warmStable: Boolean,
      runCalib: Seq[Double], gcMs: Seq[Long],
      ioProbeMbS: Double, extractOnlySecs: Seq[Double], mismatches: Long) {
    def minSecs: Double = runSecs.min
    def extractOnlyMedian: Double =
      extractOnlySecs.sorted.apply(extractOnlySecs.length / 2)
  }

  /** Total stop-the-world GC time so far, summed across collectors. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  /** Sequential read of the benchmark's own parquet files (capped at
    * 256 MiB), returning MB/s. The pure-CPU calibration burn is blind to
    * IO contention (BENCH_r04's pristine block read 7x slow on an
    * idle-CPU window); a slow probe here labels a storage/page-cache
    * -contended window in the artifact itself.
    *
    * CAVEAT (round-5 advice): the corpus was just materialized, so these
    * files are typically page-cache-resident and the probe mostly measures
    * memory bandwidth — it is a LOWER-BOUND contention signal only (a low
    * reading proves a contended window; a high one does not prove idle
    * storage). Dropping caches isn't possible here and the host has more
    * RAM (128 GiB) than any readable file set, so the artifact JSON labels
    * the number `io_probe_cache` accordingly.
    */
  private def ioProbe(dir: String): Double = {
    val buf = new Array[Byte](1 << 20)
    var bytes = 0L
    val t0 = System.nanoTime()
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    var sink = 0
    try {
      val files = walk.filter(p => p.toString.endsWith(".parquet")).iterator()
      while (files.hasNext && bytes < (256L << 20)) {
        val in = java.nio.file.Files.newInputStream(files.next())
        try {
          var n = in.read(buf)
          while (n > 0 && bytes < (256L << 20)) { bytes += n; sink ^= buf(0); n = in.read(buf) }
        } finally in.close()
      }
    } finally walk.close()
    val secs = (System.nanoTime() - t0) / 1e9
    if (sink == Int.MinValue) println("") // defeat DCE
    if (secs > 0) bytes / secs / 1e6 else 0.0
  }

  /** extraction benchmark. Input and goldens are materialized to parquet
    * first (untimed) so the measured job is the real workload. Protocol
    * (round 5 — three straight rounds of misleading fixed-warm-up
    * artifacts ended here): warm up until two CONSECUTIVE runs agree
    * within 20% (bounded at 6 attempts; a fixed two warm-ups left late
    * JIT arriving mid-measurement — BENCH_r04 run_secs 31.5/10.9/2.3),
    * then THREE timed runs with per-run GC-pause millis recorded, median
    * AND min reported (shared-host noise is ±25-30%). The warm-up
    * trajectory, GC millis and an IO read-probe all land in the JSON so
    * a contended window self-explains which resource was hit instead of
    * requiring a re-run adjudication. Also times the extraction-only job
    * (scan -> extract_turn -> count, no verification) so the two
    * throughput figures BASELINE.md quotes stay separately reproducible.
    */
  def extractionBench(spark: SparkSession, nConvs: Long, par: Int): ExtractionBench = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bench").toString
    Transcripts.synthesize(spark, nConvs, seed = 42L, parallelism = par).toDF()
      .write.mode("overwrite").parquet(s"$dir/transcripts")
    Transcripts.goldens(spark, nConvs, seed = 42L, parallelism = par).toDF()
      .write.mode("overwrite").parquet(s"$dir/goldens")
    def job(): (Long, Long) = {
      val transcripts = spark.read.parquet(s"$dir/transcripts")
      val goldens = spark.read.parquet(s"$dir/goldens")
      val verdicts = Pipeline.verifyByHash(
        Pipeline.lines(Pipeline.extracted(transcripts)), goldens)
      val row = verdicts
        .agg(count(lit(1)).as("turns"),
          sum(when(col("turn_ok") === 0, 1).otherwise(0)).as("mismatches"))
        .head()
      (row.getLong(0), row.getLong(1))
    }
    def timed[A](f: () => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f()
      (a, (System.nanoTime() - t0) / 1e9)
    }
    // returns (warm-up times, converged?) — NOT converging within 6
    // attempts is itself a window label (BENCH_r05's contended block
    // exhausted the budget with warm_secs still oscillating 3x and the
    // measurement proceeded silently), so the flag lands in the JSON
    def warmUntilStable(f: () => Any): (Seq[Double], Boolean) = {
      val warm = scala.collection.mutable.ArrayBuffer.empty[Double]
      var stable = false
      while (!stable && warm.length < 6) {
        warm += timed(f)._2
        stable = warm.length >= 2 && {
          val a = warm(warm.length - 2); val b = warm.last
          math.abs(a - b) / math.min(a, b) <= 0.20
        }
      }
      (warm.toSeq, stable)
    }
    val ioMbS = ioProbe(s"$dir/transcripts")
    val (warm, warmStable) = warmUntilStable(() => job())
    // a short CPU burn brackets EACH timed run: calib_before/after span
    // the whole artifact, so contention arriving mid-block (BENCH_r05:
    // before 14.7k idle, after 7.3k contended) left individual runs
    // unlabeled — run_calib_miters_s pins which runs saw a starved host
    val runs = (0 until 3).map { _ =>
      val cal = calibBurn(par, targetSecs = 0.5)
      val g0 = gcMillis()
      val (a, s) = timed(job)
      (a, s, gcMillis() - g0, cal)
    }
    val (turns, mismatches) = runs.head._1
    val secs = runs.map(_._2)
    val median = secs.sorted.apply(secs.length / 2)
    // extraction-only: the map-only kernel path, no goldens/verification
    // (own warm-up: its generated code differs from the verify job's)
    def exOnlyJob(): Long =
      Pipeline.lines(Pipeline.extracted(spark.read.parquet(s"$dir/transcripts")))
        .agg(count(lit(1))).head().getLong(0)
    warmUntilStable(() => exOnlyJob())
    val exOnlySecs = (0 until 3).map(_ => timed(exOnlyJob)._2)
    ExtractionBench(turns, median, secs, warm, warmStable,
      runs.map(_._4), runs.map(_._3), ioMbS, exOnlySecs, mismatches)
  }

  /** Pure-CPU calibration burn: a fixed xorshift loop on `threads`
    * threads for ~`targetSecs`, returning M iters/s aggregate. No memory
    * traffic, no Spark — the number depends only on how much CPU the
    * host is actually giving this JVM. Sampled before the headline and
    * after the sweep and emitted in the bench JSON, so a contended
    * driver-run window (BENCH_r03's pristine block read 24x slow while
    * the code was fine) is self-evident from the artifact alone instead
    * of requiring a re-run adjudication. Expected envelope on this host
    * is documented in BENCH/BASELINE.md.
    */
  def calibBurn(threads: Int, targetSecs: Double = 2.0): Double = {
    val stopAt = System.nanoTime() + (targetSecs * 1e9).toLong
    val total = new java.util.concurrent.atomic.AtomicLong(0L)
    val sink = new java.util.concurrent.atomic.AtomicLong(0L) // defeats DCE
    val ts = (0 until threads).map { i =>
      val t = new Thread { override def run(): Unit = {
        var x = 0x9E3779B97F4A7C15L + i
        var n = 0L
        while (System.nanoTime() < stopAt) {
          var k = 0
          while (k < (1 << 20)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; k += 1 }
          n += (1 << 20)
        }
        sink.addAndGet(x)
        total.addAndGet(n); ()
      } }
      t.setDaemon(true); t
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start()); ts.foreach(_.join())
    val secs = (System.nanoTime() - t0) / 1e9
    total.get() / secs / 1e6
  }

  private def extractionJson(ex: ExtractionBench): String = {
    val turnsPerSec = if (ex.medianSecs > 0) ex.turns / ex.medianSecs else 0.0
    val turnsPerSecMin = if (ex.minSecs > 0) ex.turns / ex.minSecs else 0.0
    val exOnlyMedian = ex.extractOnlyMedian
    val exOnlyPerSec = if (exOnlyMedian > 0) ex.turns / exOnlyMedian else 0.0
    val exOnlyBest = ex.extractOnlySecs.min
    val exOnlyPerSecBest = if (exOnlyBest > 0) ex.turns / exOnlyBest else 0.0
    val j = new StringBuilder
    j ++= "{\"turns\":" ++= ex.turns.toString
    j ++= ",\"seconds\":" ++= f"${ex.medianSecs}%.3f"
    j ++= ",\"turns_per_sec\":" ++= f"$turnsPerSec%.1f"
    j ++= ",\"turns_per_sec_best\":" ++= f"$turnsPerSecMin%.1f"
    j ++= ",\"run_secs\":" ++= ex.runSecs.map(s => f"$s%.3f").mkString("[", ",", "]")
    j ++= ",\"warm_secs\":" ++= ex.warmSecs.map(s => f"$s%.3f").mkString("[", ",", "]")
    j ++= ",\"warm_stable\":" ++= ex.warmStable.toString
    j ++= ",\"run_calib_miters_s\":" ++= ex.runCalib.map(s => f"$s%.0f").mkString("[", ",", "]")
    j ++= ",\"gc_ms\":" ++= ex.gcMs.mkString("[", ",", "]")
    // io_probe_cache: files are page-cache-warm (just materialized), so this
    // is a lower-bound contention signal only — see ioProbe's scaladoc
    j ++= ",\"io_probe_mb_s\":" ++= f"${ex.ioProbeMbS}%.0f"
    j ++= ",\"io_probe_cache\":\"warm-lower-bound\""
    j ++= ",\"extract_only_turns_per_sec\":" ++= f"$exOnlyPerSec%.1f"
    j ++= ",\"extract_only_turns_per_sec_best\":" ++= f"$exOnlyPerSecBest%.1f"
    j ++= ",\"mismatches\":" ++= ex.mismatches.toString ++= "}"
    j.toString
  }

  /** One sweep query, run to a count and timed: (seconds, status). The
    * status is "ok", or "error:<ExceptionClass>" when the query threw; the
    * time up to the failure is still its leaf time, so the status is what
    * tells a failed query from a fast one.
    */
  def timeQuery(spark: SparkSession, sfDir: String,
      query: (SparkSession, String) => DataFrame): (Double, String) = {
    val t0 = System.nanoTime()
    val status = try { query(spark, sfDir).count(); "ok" }
      catch { case t: Throwable => s"error:${t.getClass.getName}" }
    ((System.nanoTime() - t0) / 1e9, status)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // Headline FIRST, in the pristine JVM — the standalone protocol
    // BENCH/BASELINE.md quotes. Rounds 1-2 measured it AFTER the 31-query
    // sweep and the accumulated JVM/heap/codegen-cache state depressed it
    // up to 16x with a 4.7x within-run spread (BENCH_r02 run_secs
    // 35.1/7.5/32.3). The same measurement is repeated post-sweep below so
    // both orders stay visible in every BENCH_r{N}.json.
    val nConvs = if (sfDir.contains("0.1")) 20000L else if (sfDir.contains("0.01")) 2000L else 200L
    val calibBefore = calibBurn(cpus.toInt)
    val ex = extractionBench(spark, nConvs, cpus.toInt)

    // untimed: materialize synthesized inputs the timed queries read (q22)
    SparkEntry.prewarm(spark, sfDir)

    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> timeQuery(spark, sfDir, fn)
    }

    // same measurement after the sweep: quantifies harness-state drift
    val exPost = extractionBench(spark, nConvs, cpus.toInt)
    val calibAfter = calibBurn(cpus.toInt)

    val qs = results.map { case (k, (v, _)) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val statuses = results.map { case (k, (_, st)) => "\"" + k + "\":\"" + st + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).sum + ex.runSecs.sum + ex.extractOnlySecs.sum
    val json = new StringBuilder
    json ++= "{\"metric\":\"total\",\"value\":" ++= f"$total%.3f"
    json ++= ",\"unit\":\"sec\",\"queries\":" ++= qs
    json ++= ",\"query_status\":" ++= statuses
    json ++= ",\"sf\":\"" ++= sfDir ++= "\""
    json ++= ",\"extraction\":" ++= extractionJson(ex)
    json ++= ",\"extraction_post_sweep\":" ++= extractionJson(exPost)
    json ++= ",\"calib_before_miters_s\":" ++= f"$calibBefore%.1f"
    json ++= ",\"calib_after_miters_s\":" ++= f"$calibAfter%.1f"
    json ++= ",\"cpus\":" ++= cpus ++= "}"
    println(json.toString)
    spark.stop()
  }
}
