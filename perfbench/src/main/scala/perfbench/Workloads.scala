package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.model.ScriptLine
import graft.spark.{Pipeline, TranscriptTable, Transcripts}
import graft.streaming.StreamingExtract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed unit of a workload: `turns` are the document turns it handled,
  * `failed` counts operations that threw or whose output did not match the
  * goldens. The check fills in what needs the goldens.
  */
final class Pass(val secs: Double, var turns: Long, var attempted: Long,
    var failed: Long, val traced: Boolean)

/** A workload: a transcripts corpus and its goldens, made from the seed and
  * materialized to parquet during set-up; each timed pass is scan ->
  * extract_turn -> Pipeline.lines -> verifyByHash against the goldens, and
  * its verdicts are the output check.
  */
abstract class Workload(val spark: SparkSession, val dir: String, val seed: Long,
    val cpus: Int) {
  /** (transcripts, goldens) for this seed */
  protected def corpus(): (DataFrame, DataFrame)
  /** line fields the verdict hashes */
  protected def fields: Seq[String]
  /** Warm-up passes before the timed phase: a fixed count, so that every
    * run starts timing after the same work, sized from measured warm-up
    * trajectories to reach their plateau.
    */
  def warmPasses: Int

  private var nDoc = 0L
  /** Document turns one pass handles (known once the check has run). */
  def docTurns: Long = nDoc

  /** Generate the inputs and write them under `dir` (repeatable). */
  def materialize(): Unit = {
    val (t, g) = corpus()
    t.write.mode("overwrite").parquet(s"$dir/transcripts")
    g.write.mode("overwrite").parquet(s"$dir/goldens")
  }

  protected def transcripts: DataFrame = spark.read.parquet(s"$dir/transcripts")

  /** One timed unit; `trace` is set in the traced phase. */
  def pass(i: Int, trace: Option[Trace]): Pass = {
    val t0 = System.nanoTime()
    val row = trace.fold(verify())(_.span("pipeline.verifyByHash")(verify()))
    val bad = if (row.isNullAt(1)) 0L else row.getLong(1)
    new Pass((System.nanoTime() - t0) / 1e9, row.getLong(0), 0L, bad, trace.isDefined)
  }

  private def verify() =
    Pipeline.verifyByHash(Pipeline.lines(Pipeline.extracted(transcripts)),
        spark.read.parquet(s"$dir/goldens"), fields)
      .agg(count(lit(1)), sum(when(col("turn_ok") === 0, 1).otherwise(0)))
      .head()

  /** Untimed, after the timed phase: a turn missing from, or spurious in,
    * a pass's verdicts is a failed turn.
    */
  def check(passes: Seq[Pass]): Unit = {
    nDoc = transcripts.filter(Workload.isDoc).count()
    passes.foreach { p =>
      p.failed = math.min(nDoc, p.failed + math.abs(nDoc - p.turns))
      p.attempted = nDoc
      p.turns = nDoc
    }
  }

  /** Extra traced calls after the traced phase: the extract-only job and
    * per-format outcome counts of extract_turn over the whole corpus.
    */
  def traceExtras(trace: Trace, jobs: JobListener, out: Json.Obj): Unit = {
    trace.span("pipeline.extract_only") {
      Pipeline.lines(Pipeline.extracted(transcripts)).agg(count(lit(1))).head()
    }
    val outcomes = trace.span("pipeline.outcomes") {
      Pipeline.extracted(transcripts).groupBy(col("ex.format")).count().collect()
    }
    out("outcomes") = Json.Obj(outcomes.map(r => r.getString(0) -> Json.num(r.getLong(1))): _*)
  }

  /** Document-turn payloads for the kernel profile, in a fixed order. */
  def payloads(limit: Int): IndexedSeq[String] =
    transcripts.filter(Workload.isDoc).orderBy("conv_id", "turn_idx")
      .select("text").limit(limit).collect().map(_.getString(0)).toIndexedSeq
}

object Workload {
  val isDoc = col("tool").isin("pdftohtml", "shakespeare", "pdf")

  def apply(name: String, spark: SparkSession, dir: String, seed: Long,
      cpus: Int): Workload = name match {
    case "mixed-verify" => new MixedVerify(spark, dir, seed, cpus, nConvs = 1500)
    case "pdf-verify" => new PdfVerify(spark, dir, seed, cpus, nConvs = 250)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }

  /** Regular files under `p` whose names end with `suffix`: (count, bytes). */
  def filesUnder(p: Path, suffix: String): (Long, Long) = {
    val walk = Files.walk(p)
    try walk.iterator.asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix))
      .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
    finally walk.close()
  }
}

/** The ROADMAP headline shape: pdftohtml XML, Shakespeare HTML and plain
  * turns, checked on the four line fields. Its traced run also measures the
  * streaming layer on the same transcripts ([[StreamSide]]).
  */
final class MixedVerify(spark: SparkSession, dir: String, seed: Long, cpus: Int,
    nConvs: Long) extends Workload(spark, dir, seed, cpus) {
  protected def corpus() =
    (Transcripts.synthesize(spark, nConvs, seed, parallelism = cpus).toDF(),
      Transcripts.goldens(spark, nConvs, seed, parallelism = cpus).toDF())
  protected val fields = Seq("kind", "text", "page_num", "given_page_num")
  def warmPasses = 10

  override def traceExtras(trace: Trace, jobs: JobListener, out: Json.Obj): Unit = {
    super.traceExtras(trace, jobs, out)
    val s = StreamSide.run(spark, dir, trace)
    out("stream") = Json.Arr(s.progress)
    out("side_attempted") = Json.num(s.batches)
    out("side_failed") = Json.num(s.failed)
  }
}

/** The raw-PDF cross-feature corpus (dual dialog, revisions, margin line
  * numbers, CONT'D markers) through PdfLex, checked on q38's seven fields.
  * XmlTok gets no calls here, so an XmlTok gain must show no change. Its
  * traced run also measures the table layer on the same transcripts
  * ([[TableSide]]).
  */
final class PdfVerify(spark: SparkSession, dir: String, seed: Long, cpus: Int,
    nConvs: Long) extends Workload(spark, dir, seed, cpus) {
  protected def corpus() =
    (Transcripts.synthesizePdf(spark, nConvs, seed, parallelism = cpus).toDF(),
      Transcripts.pdfGoldens(spark, nConvs, seed, parallelism = cpus).toDF())
  protected val fields =
    Seq("kind", "text", "page_num", "given_page_num", "column", "has_dual", "is_dual")
  def warmPasses = 8

  override def traceExtras(trace: Trace, jobs: JobListener, out: Json.Obj): Unit = {
    super.traceExtras(trace, jobs, out)
    val t = TableSide.run(spark, dir, cpus, trace, jobs)
    t.stats.fields.foreach { case (k, v) => out(k) = v }
    out("side_attempted") = Json.num(t.attempted)
    out("side_failed") = Json.num(t.failed)
  }
}

/** The table layer, measured in pdf-verify's traced run on the workload's
  * own transcripts: the `graft.Main` path (`TranscriptTable.write` into a
  * [[nBuckets]]-bucket table, `extractWithCheckpoints` with
  * `maxConcurrent = cpus`, then the `report` reads), once, traced. The
  * committed `data/` is verified against the goldens afterwards, not the
  * manifest's counters: a bucket with any missing, spurious or mismatched
  * turn, or without a manifest, is a failed bucket job, and each report
  * read that differs from the same read over the goldens is a failed query.
  */
object TableSide {
  val nBuckets = 64

  final case class Result(stats: Json.Obj, attempted: Long, failed: Long)

  def run(spark: SparkSession, dir: String, cpus: Int, trace: Trace,
      jobs: JobListener): Result = {
    val root = s"$dir/table-side"
    trace.span("table.write") {
      TranscriptTable.write(spark.read.parquet(s"$dir/transcripts"), s"$root/table",
        nBuckets, snapshotId = 1L)
    }
    trace.span("table.extractWithCheckpoints") {
      TranscriptTable.extractWithCheckpoints(spark, s"$root/table", s"$root/out",
        nBuckets, maxConcurrent = cpus)
    }
    val (byType, chars) = trace.span("pipeline.report") {
      val lines = Pipeline.lines(spark.read.parquet(s"$root/out/data"))
      (lines.groupBy("type").agg(count(lit(1)).as("n")).orderBy(desc("n")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap,
        Pipeline.characterCounts(Pipeline.dialog(lines)).take(10).toSeq)
    }
    val counters = trace.span("table.readCounters")(TranscriptTable.readCounters(s"$root/out"))
    trace.span("table.readManifest")(TranscriptTable.readManifest(s"$root/table", 1L))
    jobs.drain()
    val (files, bytes) = Workload.filesUnder(Paths.get(s"$root/table"), ".parquet")
    val stats = Json.Obj("table_files_written" -> Json.num(files),
      "table_bytes_written" -> Json.num(bytes),
      "table_manifest_commits" -> Json.num(
        Workload.filesUnder(TranscriptTable.checkpointDir(s"$root/out"), ".json")._1))

    val docs = spark.read.parquet(s"$dir/transcripts").filter(Workload.isDoc)
    val r = docs.agg(count(lit(1)), sum(length(col("text")))).head()
    val (nDoc, docBytes) = (r.getLong(0), r.getLong(1))
    val bucketTurns = docs.groupBy(TranscriptTable.bucketCol(nBuckets).as("b")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val typeOf = udf((k: String) => ScriptLine.typeJson(k))
    val g = spark.read.parquet(s"$dir/goldens").withColumn("type", typeOf(col("kind")))
    val goldenByType = g.groupBy("type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val goldenChars = Pipeline.characterCounts(Pipeline.dialog(g)).take(10).toSeq

    val perBucket = Pipeline.verifyByHash(
        Pipeline.lines(spark.read.parquet(s"$root/out/data")),
        spark.read.parquet(s"$dir/goldens"))
      .groupBy(TranscriptTable.bucketCol(nBuckets).as("b"))
      .agg(count(lit(1)), sum(when(col("turn_ok") === 0, 1).otherwise(0)))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val committed = TranscriptTable.committedBuckets(s"$root/out")
    val badBuckets = (0 until nBuckets).count { b =>
      val (n, bad) = perBucket.getOrElse(b, (0L, 0L))
      bad > 0 || n != bucketTurns.getOrElse(b, 0L) || !committed(b)
    }
    val badReports = Seq(byType == goldenByType, chars == goldenChars,
      counters.turns == nDoc && counters.bytes == docBytes).count(!_)
    Workload.deleteTree(Paths.get(root))
    Result(stats, nBuckets + 3L, (badBuckets + badReports).toLong)
  }
}

/** The streaming layer, measured in mixed-verify's traced run on the
  * workload's own transcripts: re-landed as [[nFiles]] files in event-time
  * order with ascending modification times (so that bounded triggers are
  * deterministic, see `StreamingExtract.readTranscripts`), read one file per
  * trigger through extractedStream -> sessionizedStream -> startParquet
  * (AvailableNow), and checked against a batch recomputation of q31's
  * session-closing rule.
  */
object StreamSide {
  val nFiles = 40

  final case class Result(progress: Seq[Json.Value], batches: Long, failed: Long)

  def run(spark: SparkSession, dir: String, trace: Trace): Result = {
    val in = s"$dir/stream-in"
    spark.read.parquet(s"$dir/transcripts")
      .repartitionByRange(nFiles, col("ts"), col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("ts", "conv_id", "turn_idx")
      .write.mode("overwrite").parquet(in)
    val files = Files.list(Paths.get(in)).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toVector.sortBy(_.toString)
    val base = System.currentTimeMillis() - 3600000L
    files.zipWithIndex.foreach { case (f, i) => f.toFile.setLastModified(base + i * 1000L) }

    val listener = new StreamListener
    spark.streams.addListener(listener)
    val se = StreamingExtract
    val n = trace.span("stream.statePartitionsFor")(se.statePartitionsFor(spark, in))
    val q = trace.span("stream.run") {
      se.withStatePartitions(spark, n) {
        val q = se.startParquet(se.sessionizedStream(se.extractedStream(
          se.readTranscripts(spark, in, Some(1)))).toDF(), s"$dir/stream-out", s"$dir/stream-ck")
        q.awaitTermination()
        q
      }
    }
    // listener delivery is asynchronous
    val until = System.currentTimeMillis() + 10000L
    while (listener.progresses.length < q.recentProgress.length &&
      System.currentTimeMillis() < until) Thread.sleep(20)
    spark.streams.removeListener(listener)
    val data = listener.progresses.count(_.numInputRows > 0).toLong

    // q31's rule in batch form: a conversation's session is emitted iff the
    // final watermark (max ts - 2h) strictly passed its last_ts + 90 min
    val perTurn = spark.read.parquet(s"$dir/goldens").groupBy("conv_id", "turn_idx")
      .agg(count(lit(1)).as("g_lines"))
    val docs = spark.read.parquet(s"$dir/transcripts")
      .filter(col("tool").isin("pdftohtml", "shakespeare"))
      .join(perTurn, Seq("conv_id", "turn_idx"), "left").na.fill(0L, Seq("g_lines"))
    val maxTs = docs.agg(max("ts")).head().getTimestamp(0).getTime
    val expected = docs.groupBy("conv_id")
      .agg(count(lit(1)), sum("g_lines"), min("ts"), max("ts")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3).getTime, r.getTimestamp(4).getTime))
      .filter(s => s._5 + 90 * 60000L < maxTs - 2 * 3600000L).toSet
    val got = spark.read.parquet(s"$dir/stream-out").collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Long]("turns"), r.getAs[Long]("lines"),
        r.getAs[java.sql.Timestamp]("first_ts").getTime,
        r.getAs[java.sql.Timestamp]("last_ts").getTime)).toSet
    // a wrong session set fails every micro-batch of the run
    Result(listener.progresses.map(record), data,
      if (got != expected || expected.isEmpty) data else 0L)
  }

  def record(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Json.Value = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> Json.num(v.longValue) }.toSeq
    Json.Obj(
      "batch" -> Json.num(p.batchId),
      "rows" -> Json.num(p.numInputRows),
      "batch_ms" -> Json.num(p.batchDuration),
      "duration_ms" -> Json.Obj(d: _*),
      "state" -> Json.Arr(p.stateOperators.toSeq.map(s => Json.Obj(
        "rows_total" -> Json.num(s.numRowsTotal),
        "memory_bytes" -> Json.num(s.memoryUsedBytes),
        "commit_ms" -> Json.num(s.commitTimeMs),
        "partitions" -> Json.num(s.numShufflePartitions)))))
  }
}
