package graft.spark

import graft.util.Json
import graft.util.Json.{Arr, Bool, Num, Obj, Str}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** Iceberg-STYLE table layout for the transcripts / extraction tables.
  *
  * No Iceberg runtime jar ships in this environment (see SURVEY.md §7), so
  * this implements the same operational contract behind a small interface
  * a real Iceberg catalog can replace:
  *   - data files:      <root>/data/snap-<id>/bucket=<b>/part-*.parquet
  *                      (bucket = pmod(xxhash64(conv_id), nBuckets) — the
  *                      conv_id bucketing the north rule requires). Data
  *                      files are IMMUTABLE: each write/overwrite lands
  *                      its files under its own snapshot directory.
  *   - snapshot:        <root>/metadata/snapshot-<id>.json  (+ current.json
  *                      pointer), carrying the partition spec, schema and
  *                      the MANIFEST — the (bucket, path) list of data
  *                      files composing the snapshot. Reads always resolve
  *                      through a manifest, so a prior snapshot stays
  *                      readable after an overwrite ([[readAt]]) until
  *                      [[expireSnapshots]] garbage-collects it.
  *   - checkpoints:     <root>/metadata/checkpoints/bucket-<b>.json written
  *                      per finished partition with lineage (snapshot id,
  *                      partition spec) and counters (turns parsed, bytes
  *                      tokenized, mismatches)
  *
  * A root is a plain path or a filesystem URI (`file:///tmp/t`): every
  * metadata and data-dir operation resolves through the root's Hadoop
  * FileSystem, configured from the active session. Every metadata file
  * lands through one commit helper, [[atomicWrite]] (a uniquely named tmp
  * file, then a rename over the target).
  *
  * A failed extraction run resumes at partition granularity: buckets with a
  * committed checkpoint manifest are skipped.
  */
object TranscriptTable {

  final case class Counters(turns: Long, bytes: Long, mismatches: Long)

  /** One manifest entry: the bucket a data file belongs to, its path
    * relative to the table root, and (when collected at write time)
    * file-level column statistics for data skipping — min/max conv_id and
    * row count, read from the parquet FOOTER (metadata-only, the same way
    * Iceberg collects per-file stats). Files written before stats existed
    * carry None/-1 and are never pruned (can't skip what you can't prove).
    */
  final case class DataFile(bucket: Int, path: String,
      minConvId: Option[String] = None, maxConvId: Option[String] = None,
      rows: Long = -1L)

  def bucketCol(nBuckets: Int) = pmod(xxhash64(col("conv_id")), lit(nBuckets)).cast("int")

  /** the active session's Hadoop configuration (a default one when no
    * session is up); shared and read-only, so no call re-parses the XMLs
    */
  private def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration).getOrElse(new Configuration())

  private def fs(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  /** The FS metadata files go through: the raw FS beneath a checksummed
    * one (the local FS), so they carry no checksum siblings. A sibling is
    * renamed in a second step, which would let a reader pair a new file
    * with the old checksum, and reading past a missing one costs a failed
    * open per file.
    */
  private def metaFs(p: Path): FileSystem = fs(p) match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  private def metaPath(root: String, name: String): Path = new Path(s"$root/metadata/$name")

  private def snapDataDir(root: String, snapshotId: Long): Path =
    new Path(s"$root/data/snap-$snapshotId")

  private def dropDataDir(root: String, snapshotId: Long): Unit = {
    val dir = snapDataDir(root, snapshotId)
    fs(dir).delete(dir, true)
  }

  private def readJson(p: Path): Json.Value = {
    val in = metaFs(p).open(p)
    try Json.parse(new String(in.readAllBytes(), "UTF-8")) finally in.close()
  }

  /** The `<prefix><n>.json` files directly under `dir`, keyed by n (none
    * when `dir` is missing).
    */
  private def numbered(dir: Path, prefix: String): Vector[(Long, Path)] = {
    val fs = metaFs(dir)
    if (!fs.exists(dir)) Vector.empty
    else fs.listStatus(dir).toVector.map(_.getPath).collect {
      case p if p.getName.startsWith(prefix) && p.getName.endsWith(".json") =>
        p.getName.stripPrefix(prefix).stripSuffix(".json").toLong -> p
    }
  }

  /** Run `f` over `items` on at most `threads` driver threads, results in
    * input order. Every job settles before the first failure is rethrown:
    * a fail-fast wait would return while stragglers are still writing (a
    * bucket job's bucket=<b> dir), and a caller retrying — the documented
    * resume flow — could then race a fresh Overwrite against a
    * straggler's commit.
    */
  private def inPool[A, B](threads: Int, items: Seq[A])(f: A => B): Vector[B] =
    if (threads <= 1 || items.length <= 1) items.map(f).toVector
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(threads, items.length))
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        Await.result(Future.traverse(items.toVector)(a =>
          Future(f(a)).transform(scala.util.Success(_))), Duration.Inf).map(_.get)
      } finally pool.shutdown()
    }

  /** A snapshot's metadata, read once: its bucket count, schema and
    * manifest.
    */
  private final case class Snapshot(id: Long, meta: Json.Value) {
    def nBuckets: Int = meta("partition_spec")("n_buckets").asInt
    def schema: String = meta("schema").asString
    def manifest: Vector[DataFile] = meta("manifest").asArray.map { v =>
      DataFile(v("bucket").asInt, v("path").asString,
        v.get("min_conv_id").map(_.asString), v.get("max_conv_id").map(_.asString),
        v.get("rows").map(_.asLong).getOrElse(-1L))
    }
  }

  private def currentId(root: String): Long = currentSnapshotId(root).getOrElse(
    sys.error(s"no current snapshot at $root (missing metadata/current.json)"))

  private def snapshot(root: String, id: Long): Snapshot = Snapshot(id, snapshotMeta(root, id))

  private def current(root: String): Snapshot = snapshot(root, currentId(root))

  /** Snapshot ids are immutable. This must run BEFORE any data write: the
    * parquet writes in [[write]]/[[overwriteBucket]] use SaveMode.Overwrite
    * on data/snap-<id>, so a duplicate id checked only at metadata-commit
    * time would already have DELETED the existing snapshot's data files
    * (still referenced by current/kept manifests) before the require fired,
    * leaving the table unreadable behind a "rejected" write.
    */
  private def requireFreshSnapshot(root: String, snapshotId: Long): Unit = {
    val dataDir = snapDataDir(root, snapshotId)
    require(!fs(dataDir).exists(metaPath(root, s"snapshot-$snapshotId.json")),
      s"snapshot $snapshotId already exists at $root — snapshot ids are immutable, use a new id")
    require(!fs(dataDir).exists(dataDir),
      s"data dir for snapshot $snapshotId already exists at $root — " +
        "snapshot ids are immutable (a failed write may have left the dir; remove it explicitly)")
  }

  /** All parquet files under a snapshot data dir, as manifest entries with
    * root-relative paths; bucket parsed from the `bucket=N` path segment.
    */
  private def listDataFiles(root: String, snapshotId: Long): Vector[DataFile] = {
    val base = snapDataDir(root, snapshotId)
    val fs = this.fs(base)
    if (!fs.exists(base)) return Vector.empty
    val rootDir = fs.makeQualified(new Path(root)).toUri.getPath.stripSuffix("/") + "/"
    // listStatus, not listFiles: a located status reads each file's owner
    // and permissions, which without the native library forks one `ls`
    // per file on the local FS
    def walk(dir: Path): Vector[Path] = fs.listStatus(dir).toVector.flatMap(s =>
      if (s.isDirectory) walk(s.getPath) else Vector(s.getPath))
    walk(base).filter(_.getName.endsWith(".parquet"))
      .map(p => DataFile(p.getParent.getName.stripPrefix("bucket=").toInt,
        p.toUri.getPath.stripPrefix(rootDir)))
      .sortBy(_.path)
  }

  /** UTF-8 binary comparison — the ordering parquet stats, Spark string
    * comparisons and the layout's sort all use. JVM String.compareTo
    * orders by UTF-16 code UNIT, which disagrees beyond the BMP
    * (surrogates sort below U+E000), so pruning decisions must never use
    * it: a wrongly-skipped file is silent data loss.
    */
  private def utf8Cmp(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** Fill a manifest entry's stats from its parquet footer: min/max
    * conv_id over the row groups' column-chunk statistics plus the row
    * count. Metadata-only — no data pages are read. Parquet may truncate
    * binary stats, but truncation keeps min a lower and max an upper
    * bound, which is exactly what range pruning needs. Files whose footer
    * has no usable conv_id stats stay unpruned.
    */
  private def footerStats(root: String, f: DataFile, conf: Configuration): DataFile = try {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new Path(s"$root/${f.path}"), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      var mn: String = null
      var mx: String = null
      var rows = 0L
      var statsOk = true
      reader.getFooter.getBlocks.asScala.foreach { b =>
        rows += b.getRowCount
        b.getColumns.asScala.find(_.getPath.toDotString == "conv_id") match {
          case Some(c) =>
            val st: org.apache.parquet.column.statistics.Statistics[_] = c.getStatistics
            if (st != null && !st.isEmpty && st.hasNonNullValue) {
              val bmin = st.genericGetMin
                .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
              val bmax = st.genericGetMax
                .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
              if (mn == null || utf8Cmp(bmin, mn) < 0) mn = bmin
              if (mx == null || utf8Cmp(bmax, mx) > 0) mx = bmax
            } else statsOk = false // one statless row group poisons the file's bound
          case None => statsOk = false
        }
      }
      if (statsOk && mn != null) f.copy(minConvId = Some(mn), maxConvId = Some(mx), rows = rows)
      else f.copy(rows = rows)
    } finally reader.close()
  } catch { case _: Exception => f } // unreadable footer: keep the entry unpruned

  /** footer reads are independent metadata fetches — run them on a small
    * pool so a many-file commit doesn't serialize thousands of ~1 ms
    * opens on the driver
    */
  private def withStats(root: String, files: Vector[DataFile]): Vector[DataFile] = {
    val conf = hadoopConf
    inPool(16, files)(footerStats(root, _, conf))
  }

  /** Land `df` (carrying its `bucket` column) as snapshot `snapshotId`'s
    * data files and return them, with footer stats. An input that lands no
    * file leaves no data dir behind, so the id stays usable.
    */
  private def land(df: DataFrame, root: String, snapshotId: Long): Vector[DataFile] = {
    df.sortWithinPartitions("conv_id", "turn_idx") // stable order within files
      .write.mode(SaveMode.Overwrite)
      // CPU-sized row groups: a parquet file only splits at ROW-GROUP
      // boundaries, so with the 128 MB default one skew-heavy bucket file
      // is ONE scan task no matter what maxPartitionBytes says — measured
      // 2.6x (salted) / 7.1x (unsalted) wall vs a uniform layout on the
      // 50x-skew corpus (graft.ScalingSkew). 4 MiB groups restore
      // byte-range parallelism inside big files; see BENCH/BASELINE.md.
      .option("parquet.block.size", (4 * 1024 * 1024).toString)
      .partitionBy("bucket")
      .parquet(snapDataDir(root, snapshotId).toString)
    val files = listDataFiles(root, snapshotId)
    if (files.isEmpty) dropDataDir(root, snapshotId)
    withStats(root, files)
  }

  /** the salted within-bucket layout: a hash salt spreads each bucket's
    * conversations over `filesPerBucket` files
    */
  private def salted(df: DataFrame, nBuckets: Int, filesPerBucket: Int): DataFrame =
    df.withColumn("bucket", bucketCol(nBuckets))
      .repartition(nBuckets * filesPerBucket, col("bucket"),
        pmod(xxhash64(col("conv_id"), lit(1)), lit(filesPerBucket)))

  private def writeSnapshot(root: String, snapshotId: Long, nBuckets: Int,
      schemaJson: String, manifest: Vector[DataFile],
      operation: String = "overwrite", parent: Option[Long] = None): Unit = {
    val snapPath = metaPath(root, s"snapshot-$snapshotId.json")
    // defense in depth: writers call requireFreshSnapshot BEFORE the data
    // write (the load-bearing guard); this re-check catches a concurrent
    // writer that raced past the first one
    require(!fs(snapPath).exists(snapPath),
      s"snapshot $snapshotId already exists at $root — snapshot ids are immutable, use a new id")
    val snap = Obj.of(
      Vector[(String, Json.Value)](
      "snapshot_id" -> Num(snapshotId.toDouble),
      // lineage for incremental scans: what this snapshot DID and what it
      // grew out of (absent parent = table creation)
      "operation" -> Str(operation)) ++
      parent.map(p => "parent_snapshot_id" -> (Num(p.toDouble): Json.Value)).toVector ++
      Vector[(String, Json.Value)](
      "format" -> Str("parquet"),
      "partition_spec" -> Obj.of(
        "kind" -> Str("bucket"),
        "column" -> Str("conv_id"),
        "transform" -> Str(s"pmod(xxhash64(conv_id), $nBuckets)"),
        "n_buckets" -> Num(nBuckets.toDouble)),
      "schema" -> Str(schemaJson),
      "manifest" -> Arr(manifest.map { f =>
        val base = Vector[(String, Json.Value)](
          "bucket" -> Num(f.bucket.toDouble),
          "path" -> Str(f.path))
        val stats: Vector[(String, Json.Value)] =
          (if (f.rows >= 0) Vector[(String, Json.Value)]("rows" -> Num(f.rows.toDouble))
           else Vector.empty) ++
          ((f.minConvId, f.maxConvId) match {
            case (Some(mn), Some(mx)) => Vector[(String, Json.Value)](
              "min_conv_id" -> Str(mn), "max_conv_id" -> Str(mx))
            case _ => Vector.empty
          })
        Obj.of(base ++ stats: _*)
      }.toVector)): _*)
    atomicWrite(snapPath, Json.write(snap))
    atomicWrite(metaPath(root, "current.json"),
      Json.write(Obj.of("current_snapshot_id" -> Num(snapshotId.toDouble))))
  }

  /** Write a conv_id-bucketed table + snapshot metadata.
    *
    * `filesPerBucket` splits each bucket into several parquet files. HOW
    * they split is the `layout` trade-off (the same one Iceberg exposes
    * as a table sort order):
    *   - `"salted"` (default): a hash salt assigns conversations to files
    *     uniformly — long-conversation skew amortizes over several read
    *     tasks instead of one straggler per bucket, but every file spans
    *     nearly the bucket's whole conv_id range, so the manifest's
    *     min/max stats cannot range-prune within a bucket (bucket pruning
    *     for point lookups still works).
    *   - `"range"`: repartitionByRange clusters each bucket's files into
    *     contiguous conv_id ranges (sampler-balanced by rows) — file
    *     stats become tight, so [[readConvIdRange]]/[[readConvIds]] skip
    *     most files; the cost is that ONE huge conversation can no longer
    *     split across files (a range partitioner cannot split a key), so
    *     prefer `"salted"` for heavily skewed corpora.
    */
  def write(df: DataFrame, root: String, nBuckets: Int, snapshotId: Long,
      filesPerBucket: Int = 4, layout: String = "salted",
      operation: String = ""): Unit = {
    requireFreshSnapshot(root, snapshotId)
    val parentId = currentSnapshotId(root)
    // table creation is an append (nothing replaced); a full rewrite of an
    // existing table replaces every row. `operation` overrides (compact
    // stamps "replace").
    val op = if (operation.nonEmpty) operation
             else if (parentId.isEmpty) "append" else "overwrite"
    val split = layout match {
      case "salted" => salted(df, nBuckets, filesPerBucket)
      case "range" => df.withColumn("bucket", bucketCol(nBuckets))
        .repartitionByRange(nBuckets * filesPerBucket, col("bucket"), col("conv_id"))
      case other => sys.error(s"unknown layout '$other' (salted | range)")
    }
    writeSnapshot(root, snapshotId, nBuckets, df.schema.json,
      land(split, root, snapshotId), op, parentId)
  }

  /** Iceberg-style partition overwrite: replace ONE bucket's data in a NEW
    * snapshot. The new files land under the new snapshot's own data dir;
    * the new manifest is the current one minus the bucket's old files plus
    * the new ones. Files of the previous snapshot are NOT deleted — the
    * old snapshot remains readable via [[readAt]] until expired.
    *
    * Input rows that don't hash to `bucket` are dropped (warned to stderr);
    * if NO row hashes to it the write aborts before any metadata commit —
    * a caller mistake (wrong bucket number / wrong conv_ids) must not
    * silently become a bucket deletion in the new snapshot. Pass
    * `allowEmpty = true` to intentionally empty the bucket.
    */
  def overwriteBucket(df: DataFrame, root: String, bucket: Int,
      newSnapshotId: Long, filesPerBucket: Int = 4,
      allowEmpty: Boolean = false): Unit = {
    requireFreshSnapshot(root, newSnapshotId)
    val cur = current(root)
    // total/matched counters ride the write itself (one pass, no recount)
    val obs = Observation(s"graft_ow_${newSnapshotId}_b$bucket")
    val newFiles = land(df.withColumn("bucket", bucketCol(cur.nBuckets))
      .observe(obs, count(lit(1)).as("total"),
        coalesce(sum(when(col("bucket") === bucket, 1L).otherwise(0L)), lit(0L))
          .as("matched"))
      .filter(col("bucket") === bucket)
      .repartition(filesPerBucket,
        pmod(xxhash64(col("conv_id"), lit(1)), lit(filesPerBucket))), root, newSnapshotId)
    // emptiness check rides the OUTPUT, not the observation: partitionBy
    // writes no parquet files for zero rows, and precisely in that case AQE
    // prunes the CollectMetrics node from the final plan (empty-relation
    // propagation) so the observation map comes back EMPTY — the metrics
    // are only a best-effort dropped-rows warning below. Nothing is
    // committed yet and land() removed the empty data dir, so the id stays
    // usable after the caller fixes their input.
    if (newFiles.isEmpty && !allowEmpty)
      sys.error(s"overwriteBucket: no input row hashes to bucket $bucket — " +
        s"refusing to silently drop the bucket from snapshot $newSnapshotId; " +
        "pass allowEmpty = true to empty it intentionally")
    val m = obs.get
    for (t <- m.get("total").map(_.asInstanceOf[Long]);
         mt <- m.get("matched").map(_.asInstanceOf[Long]); if mt < t)
      Console.err.println(s"[TranscriptTable] overwriteBucket: ${t - mt} " +
        s"of $t input rows hash outside bucket $bucket and were dropped")
    writeSnapshot(root, newSnapshotId, cur.nBuckets, cur.schema,
      cur.manifest.filterNot(_.bucket == bucket) ++ newFiles, "overwrite", Some(cur.id))
  }

  /** Iceberg-style fast append: land NEW data files for the input rows
    * under a new snapshot whose manifest is the current one PLUS the new
    * files — no existing file is touched or rewritten, which keeps daily
    * ingestion O(new data) on a 10^12-turn table. The bucket spec is
    * inherited from the current snapshot; the new files use the salted
    * within-bucket layout (see [[write]]). Row-level duplicates vs
    * existing data are NOT checked (same as Iceberg) — dedup is a
    * read-side or maintenance concern. The snapshot records
    * operation="append" + its parent, which is what entitles it to appear
    * inside an [[incrementalRead]] range.
    */
  def append(df: DataFrame, root: String, newSnapshotId: Long,
      filesPerBucket: Int = 4): Unit = {
    requireFreshSnapshot(root, newSnapshotId)
    val cur = current(root)
    val newFiles = land(salted(df, cur.nBuckets, filesPerBucket), root, newSnapshotId)
    // an empty append is a caller mistake, not a new snapshot
    if (newFiles.isEmpty)
      sys.error(s"append: no input rows — refusing to commit empty snapshot $newSnapshotId")
    writeSnapshot(root, newSnapshotId, cur.nBuckets, cur.schema,
      cur.manifest ++ newFiles, "append", Some(cur.id))
  }

  /** Iceberg-style incremental append scan: the rows ADDED after
    * `fromSnapshotId` up to and including `toSnapshotId`, resolved by
    * walking the parent chain from `to` back to `from` and requiring
    * every snapshot on the path to be an append. An overwrite / replace
    * in range has no well-defined row-level delta at file granularity,
    * so (like Iceberg) the scan REFUSES rather than silently returning
    * rewritten rows as "new". Reading only the added files keeps a
    * downstream sync O(delta), not O(table).
    */
  def incrementalRead(spark: SparkSession, root: String,
      fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    snapshotMeta(root, fromSnapshotId) // must exist
    var id = toSnapshotId
    while (id != fromSnapshotId) {
      val m = snapshotMeta(root, id)
      val op = m.get("operation").map(_.asString).getOrElse("unknown")
      require(op == "append",
        s"incremental read $fromSnapshotId -> $toSnapshotId crosses snapshot $id " +
          s"with operation '$op' — only append chains have a row-level delta")
      id = m.get("parent_snapshot_id").map(_.asLong).getOrElse(
        sys.error(s"snapshot lineage from $toSnapshotId never reaches " +
          s"$fromSnapshotId (chain breaks at $id)"))
    }
    val before = readManifest(root, fromSnapshotId).map(_.path).toSet
    val added = readManifest(root, toSnapshotId).filterNot(f => before(f.path))
    if (added.isEmpty) emptyLike(spark, root, toSnapshotId)
    else readFiles(spark, root, added)
  }

  /** Read the table AT a snapshot: data files resolve through that
    * snapshot's manifest, so overwritten buckets read their old files.
    * Files are grouped per originating snapshot dir so the `bucket=N`
    * partition column recovers through each group's basePath.
    */
  def readAt(spark: SparkSession, root: String, snapshotId: Long): DataFrame = {
    val files = readManifest(root, snapshotId)
    require(files.nonEmpty, s"snapshot $snapshotId at $root has an empty manifest")
    readFiles(spark, root, files)
  }

  /** Build a DataFrame over an explicit manifest subset, grouped per
    * originating snapshot dir so the `bucket=N` partition column recovers
    * through each group's basePath.
    */
  private def readFiles(spark: SparkSession, root: String,
      files: Vector[DataFile]): DataFrame =
    files.groupBy(f => f.path.split('/').take(2).mkString("/"))
      .toSeq.sortBy(_._1)
      .map { case (snapRel, fs) =>
        spark.read.option("basePath", s"$root/$snapRel")
          .parquet(fs.map(f => s"$root/${f.path}"): _*)
      }
      .reduce(_.unionByName(_))

  /** Read the table at its CURRENT snapshot. */
  def read(spark: SparkSession, root: String): DataFrame =
    readAt(spark, root, currentId(root))

  /** Bin-pack compaction (the Iceberg `rewrite_data_files` maintenance
    * action): rewrite the CURRENT snapshot's data into `filesPerBucket`
    * files per bucket under a NEW snapshot. Incremental writes and
    * partition overwrites accumulate small files — a 10^12-turn table
    * would grind scan planning and task scheduling without periodic
    * compaction. Contents are untouched (same rows, same bucketing,
    * fresh footer stats in the new manifest); the pre-compaction
    * snapshot stays readable via [[readAt]] until expired.
    */
  def compact(spark: SparkSession, root: String, newSnapshotId: Long,
      filesPerBucket: Int = 1, layout: String = "salted"): Unit = {
    val cur = current(root)
    // write() recomputes the same bucket transform, lands the files under
    // the new snapshot's own dir and commits the manifest + stats; the
    // lazy read plan pulls from the old snapshot's files, so there is no
    // self-overwrite hazard
    write(readAt(spark, root, cur.id).drop("bucket"), root, cur.nBuckets,
      newSnapshotId, filesPerBucket, layout, operation = "replace")
  }

  /** Copy-on-write row-level DELETE by conversation id (Iceberg's
    * copy-on-write delete shape): only data files that can contain one
    * of `convIds` — bucket pruning + footer min/max stats, the same
    * planning step [[readConvIds]] does — are rewritten without the
    * deleted rows; every OTHER file carries into the new snapshot's
    * manifest by reference, untouched. At 10^12 turns a compliance
    * delete of a handful of conversations rewrites a few files, not the
    * table. The pre-delete snapshot stays time-travelable until expired;
    * incremental append scans crossing the delete snapshot refuse (a
    * delete has no file-granular row delta). Returns the number of rows
    * deleted; refuses when no row matches — a typo'd id must fail
    * loudly, not commit a no-op snapshot.
    */
  def deleteConvIds(spark: SparkSession, root: String, convIds: Seq[String],
      newSnapshotId: Long): Long = {
    require(convIds.nonEmpty, "deleteConvIds: empty conv id list")
    requireFreshSnapshot(root, newSnapshotId)
    val cur = current(root)
    val (candidates, total) = selectFilesForIds(root, cur.id, convIds)
    val candPaths = candidates.map(_.path).toSet
    // ONE read of the candidate files: the deleted-row count rides the
    // rewrite itself via observe() (the same counters-on-the-write shape
    // extractWithCheckpoints uses), instead of a separate count pass —
    // halving candidate I/O (round-6 review note). The no-op refusal is
    // checked AFTER the job but BEFORE the manifest commit: the rewrite's
    // data dir is rolled back on refusal, so a typo'd id still never
    // commits a snapshot.
    val isVictim = col("conv_id").isin(convIds: _*)
    val obs = Observation(s"graft_del_$newSnapshotId")
    val newFiles = if (candidates.isEmpty) Vector.empty[DataFile] else land(
      readFiles(spark, root, candidates)
        .observe(obs, coalesce(sum(when(isVictim, 1L).otherwise(0L)), lit(0L))
          .as("deleted"))
        .filter(!isVictim)
        .repartition(math.max(1, candidates.map(_.bucket).distinct.size), col("bucket")),
      root, newSnapshotId)
    // when every candidate row is a victim the filtered write lands no
    // parquet files and AQE's empty-relation propagation can prune the
    // CollectMetrics node (the overwriteBucket lesson) — only in that case
    // is the candidate row count the deleted count, recovered from the
    // manifest stats (exact: footer row counts); metrics missing for any
    // other reason are recounted, never guessed
    val deleted = if (candidates.isEmpty) 0L
      else obs.get.get("deleted").map(_.asInstanceOf[Long]).getOrElse {
        if (newFiles.isEmpty && candidates.forall(_.rows >= 0L)) candidates.map(_.rows).sum
        else readFiles(spark, root, candidates).filter(isVictim).count()
      }
    if (deleted == 0L) dropDataDir(root, newSnapshotId)
    require(deleted > 0L,
      s"deleteConvIds: no row matches any of the ${convIds.size} conv ids " +
        s"(checked ${candidates.size}/$total candidate files) — refusing to " +
        "commit a no-op snapshot")
    writeSnapshot(root, newSnapshotId, cur.nBuckets, cur.schema,
      cur.manifest.filterNot(f => candPaths(f.path)) ++ newFiles, "delete", Some(cur.id))
    deleted
  }

  // ---- data skipping ------------------------------------------------------

  /** Spark-compatible conv_id bucket, computed driver-side: the same
    * xxhash64 (seed 42) + pmod the layout's [[bucketCol]] evaluates.
    */
  def bucketOf(convId: String, nBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
      org.apache.spark.unsafe.types.UTF8String.fromString(convId), 42L)
    val m = (h % nBuckets).toInt
    if (m < 0) m + nBuckets else m
  }

  /** Manifest subset whose [min, max] conv_id range can intersect
    * [lo, hi]; stat-less entries always survive. Pure metadata — this is
    * the planning step a 10^12-turn read does before touching storage.
    */
  def selectFilesForRange(root: String, snapshotId: Long,
      lo: String, hi: String): (Vector[DataFile], Int) = {
    val files = readManifest(root, snapshotId)
    val selected = files.filter(f => (f.minConvId, f.maxConvId) match {
      case (Some(mn), Some(mx)) => utf8Cmp(mx, lo) >= 0 && utf8Cmp(mn, hi) <= 0
      case _ => true
    })
    (selected, files.length)
  }

  /** Manifest subset that can contain any of `convIds`: bucket pruning
    * (partition-level, exact) composed with min/max stats (file-level).
    */
  def selectFilesForIds(root: String, snapshotId: Long,
      convIds: Seq[String]): (Vector[DataFile], Int) = {
    val snap = snapshot(root, snapshotId)
    val wanted = convIds.map(id => bucketOf(id, snap.nBuckets)).toSet
    val files = snap.manifest
    val selected = files.filter { f =>
      wanted.contains(f.bucket) && ((f.minConvId, f.maxConvId) match {
        case (Some(mn), Some(mx)) =>
          convIds.exists(id => utf8Cmp(id, mn) >= 0 && utf8Cmp(id, mx) <= 0)
        case _ => true
      })
    }
    (selected, files.length)
  }

  /** an empty frame with the snapshot's schema + the bucket column the
    * partitioned read appends — so a fully-pruned read stays composable
    */
  private def emptyLike(spark: SparkSession, root: String, snapshotId: Long): DataFrame = {
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(snapshot(root, snapshotId).schema)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .add("bucket", org.apache.spark.sql.types.IntegerType)
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Range read with file skipping: only manifest entries whose conv_id
    * stats intersect [lo, hi] are opened; the residual filter stays on
    * for exactness (stats bound, they don't partition).
    */
  def readConvIdRange(spark: SparkSession, root: String,
      lo: String, hi: String): DataFrame = {
    val id = currentId(root)
    val (selected, _) = selectFilesForRange(root, id, lo, hi)
    if (selected.isEmpty) emptyLike(spark, root, id)
    else readFiles(spark, root, selected).filter(col("conv_id").between(lo, hi))
  }

  /** Point-lookup read: bucket pruning + stats skipping, then the exact
    * membership filter.
    */
  def readConvIds(spark: SparkSession, root: String,
      convIds: Seq[String]): DataFrame =
    readConvIdsAt(spark, root, currentId(root), convIds)

  /** [[readConvIds]] against an explicit snapshot — the time-travel point
    * lookup. Same exactness contract: pruning only skips files whose stats
    * PROVE they cannot hold any of `convIds` (stat-less files survive),
    * and the residual membership filter stays on.
    */
  def readConvIdsAt(spark: SparkSession, root: String, snapshotId: Long,
      convIds: Seq[String]): DataFrame = {
    val (selected, _) = selectFilesForIds(root, snapshotId, convIds)
    if (selected.isEmpty) emptyLike(spark, root, snapshotId)
    else readFiles(spark, root, selected).filter(col("conv_id").isin(convIds: _*))
  }

  /** Drop all snapshots except `keep` (must include the current one):
    * deletes their metadata files and any data file no kept manifest
    * references — after this, [[readAt]] on an expired id fails. A
    * snapshot dir no kept manifest references at all goes as a whole
    * tree, so expired snapshots leave no empty bucket=N dirs or _SUCCESS
    * litter; the checksummed local FS deletes each file's .crc sibling.
    */
  def expireSnapshots(root: String, keep: Set[Long]): Unit = {
    val cur = currentId(root)
    require(keep.contains(cur), s"keep set must include current snapshot $cur")
    val referenced = keep.flatMap(id => readManifest(root, id).map(_.path))
    val fs = this.fs(new Path(root))
    snapshotIds(root).filterNot(keep).foreach { id =>
      if (referenced.exists(_.startsWith(s"data/snap-$id/")))
        listDataFiles(root, id).filterNot(f => referenced(f.path))
          .foreach(f => fs.delete(new Path(s"$root/${f.path}"), false))
      else dropDataDir(root, id)
      fs.delete(metaPath(root, s"snapshot-$id.json"), false)
    }
  }

  def snapshotMeta(root: String, snapshotId: Long): Json.Value = {
    val p = metaPath(root, s"snapshot-$snapshotId.json")
    require(fs(p).exists(p), s"snapshot $snapshotId not found at $root")
    readJson(p)
  }

  def readManifest(root: String, snapshotId: Long): Vector[DataFile] =
    snapshot(root, snapshotId).manifest

  def currentSnapshotId(root: String): Option[Long] = {
    val p = metaPath(root, "current.json")
    if (!fs(p).exists(p)) None
    else readJson(p).get("current_snapshot_id").map(_.asLong)
  }

  /** All live (unexpired) snapshot ids, ascending. */
  def snapshotIds(root: String): Vector[Long] =
    numbered(new Path(s"$root/metadata"), "snapshot-").map(_._1).sorted

  // ---- metadata tables (Iceberg's `snapshots` / `files` / `history`) -----
  //
  // Driver-side manifest reads surfaced as DataFrames, so operational
  // queries ("how many rows did snapshot 3 add", "which files hold bucket
  // 2", "what chain produced the current state") compose with the rest of
  // the relational layer. Metadata-ONLY: cost scales with file count, not
  // row count — at 10^12 turns the manifests are still a few MB of JSON
  // per snapshot, exactly the trade Iceberg makes for its metadata tables.

  /** One row per live snapshot: lineage, operation, file/row totals from
    * the manifest's footer-collected stats (`n_rows` = -1 when any file
    * predates stats collection — never guess what you can't prove).
    */
  def snapshotsTable(spark: SparkSession, root: String): DataFrame = {
    val cur = currentSnapshotId(root)
    val rows = snapshotIds(root).map { id =>
      val snap = snapshot(root, id)
      val manifest = snap.manifest
      val nRows = if (manifest.forall(_.rows >= 0L)) manifest.map(_.rows).sum else -1L
      (id, snap.meta.get("parent_snapshot_id").map(_.asLong),
        snap.meta.get("operation").map(_.asString).getOrElse("unknown"),
        snap.nBuckets, manifest.size.toLong, nRows, cur.contains(id))
    }
    import spark.implicits._
    rows.toDF("snapshot_id", "parent_snapshot_id", "operation", "n_buckets",
      "n_files", "n_rows", "is_current")
  }

  /** One row per data file in a snapshot's manifest (default: current),
    * with the per-file skipping stats [[readConvIdRange]] prunes on.
    */
  def filesTable(spark: SparkSession, root: String,
      snapshotId: Option[Long] = None): DataFrame = {
    val id = snapshotId.getOrElse(currentId(root))
    val rows = readManifest(root, id).map { f =>
      (id, f.bucket, f.path, if (f.rows >= 0L) Some(f.rows) else None,
        f.minConvId, f.maxConvId)
    }
    import spark.implicits._
    rows.toDF("snapshot_id", "bucket", "path", "row_count",
      "min_conv_id", "max_conv_id")
  }

  /** The current snapshot's ancestor chain (current first), like Iceberg's
    * `history` filtered to ancestors: how the table got here. The walk
    * stops at an expired parent (its metadata is gone) and refuses cycles.
    */
  def historyTable(spark: SparkSession, root: String): DataFrame = {
    val cur = currentId(root)
    val fs = this.fs(new Path(root))
    val buf = Vector.newBuilder[(Long, Option[Long], String, Boolean)]
    val seen = scala.collection.mutable.Set.empty[Long]
    var id: Option[Long] = Some(cur)
    while (id.exists(i => fs.exists(metaPath(root, s"snapshot-$i.json")))) {
      val i = id.get
      require(seen.add(i), s"snapshot lineage cycle at $i in $root")
      val m = snapshotMeta(root, i)
      val parent = m.get("parent_snapshot_id").map(_.asLong)
      buf += ((i, parent, m.get("operation").map(_.asString).getOrElse("unknown"),
        i == cur))
      id = parent
    }
    import spark.implicits._
    buf.result().toDF("snapshot_id", "parent_snapshot_id", "operation", "is_current")
  }

  /** The one metadata commit: write a uniquely named tmp sibling, then
    * rename it over `p`. Concurrent writers never share a tmp file. On the
    * local FS the rename is an atomic replace, so readers see the old file
    * or the new one. A store whose rename refuses to replace fails the
    * commit, naming `p`.
    */
  private def atomicWrite(p: Path, content: String): Unit = {
    val fs = metaFs(p)
    val tmp = new Path(p.getParent, s".${p.getName}.${java.util.UUID.randomUUID}.tmp")
    val out = fs.create(tmp, false)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      sys.error(s"commit of $p failed: the filesystem refused to rename $tmp over it")
    }
  }

  // ---- per-partition checkpoint manifests --------------------------------

  /** the checkpoint dir as a local path (a `file:` root resolves to its dir) */
  def checkpointDir(outRoot: String): java.nio.file.Path =
    new java.io.File(new Path(outRoot).toUri.getPath, "metadata/checkpoints").toPath

  /** every committed checkpoint manifest, by bucket: one read of
    * `bucket-*.json`
    */
  private def checkpoints(outRoot: String): Map[Int, Json.Value] =
    numbered(metaPath(outRoot, "checkpoints"), "bucket-")
      .map { case (b, p) => b.toInt -> readJson(p) }.toMap

  def committedBuckets(outRoot: String): Set[Int] = checkpoints(outRoot).keySet

  /** bucket → snapshot id recorded in its committed checkpoint manifest
    * (the lineage field resume must validate against the current snapshot)
    */
  def committedBucketSnapshots(outRoot: String): Map[Int, Long] =
    checkpoints(outRoot).map { case (b, m) => b -> m("snapshot_id").asLong }

  def commitBucket(outRoot: String, bucket: Int, snapshotId: Long,
      nBuckets: Int, c: Counters): Unit = {
    val manifest = Obj.of(
      "bucket" -> Num(bucket.toDouble),
      "snapshot_id" -> Num(snapshotId.toDouble),
      "partition_spec" -> Str(s"bucket(conv_id, $nBuckets)"),
      "counters" -> Obj.of(
        "turns_parsed" -> Num(c.turns.toDouble),
        "bytes_tokenized" -> Num(c.bytes.toDouble),
        "extraction_mismatches" -> Num(c.mismatches.toDouble)),
      "complete" -> Bool(true))
    atomicWrite(metaPath(outRoot, s"checkpoints/bucket-$bucket.json"), Json.write(manifest))
  }

  def readCounters(outRoot: String): Counters =
    checkpoints(outRoot).values.map(_("counters")).foldLeft(Counters(0, 0, 0)) { (acc, c) =>
      Counters(
        acc.turns + c("turns_parsed").asLong,
        acc.bytes + c("bytes_tokenized").asLong,
        acc.mismatches + c("extraction_mismatches").asLong)
    }

  /** Checkpointed extraction run: reads the bucketed transcripts table,
    * extracts per bucket, writes extracted lines per bucket, and commits a
    * manifest per finished bucket. Buckets already committed are skipped —
    * partition-granular resume. Returns aggregate counters.
    *
    * At cluster scale each bucket is many files/tasks; the per-bucket loop
    * is driver-side control flow only (no data moves through the driver).
    * The fixed per-bucket-job cost (scheduling + manifest commit) measures
    * ~0.2 s (graft.ScalingCheckpoints at 128 buckets) — noise against
    * real bucket sizes, but dominant on small corpora, so `maxConcurrent`
    * overlaps bucket jobs from a bounded driver pool (Spark schedules
    * concurrent jobs fine; manifests are distinct files, each committed
    * by its own rename, so resume granularity is unchanged).
    */
  def extractWithCheckpoints(spark: SparkSession, tableRoot: String,
      outRoot: String, nBuckets: Int, maxConcurrent: Int = 1,
      reextractStale: Boolean = false): Counters = {
    val snap = current(tableRoot)
    // buckets resolve through the current snapshot's manifest; a bucket's
    // files may span SNAPSHOT DIRS (append lands new files beside the
    // old ones), so reads go through the per-dir grouping in readFiles
    val byBucket = snap.manifest.groupBy(_.bucket)
    // resume validates LINEAGE, not just bucket presence: a checkpoint
    // committed against an older snapshot (the table advanced via
    // overwriteBucket between run and resume) must not silently mix old
    // output with new — fail, or re-extract those buckets when asked to
    val committed = committedBucketSnapshots(outRoot)
    val stale = committed.collect { case (b, s) if s != snap.id => b }.toVector.sorted
    if (stale.nonEmpty && !reextractStale)
      sys.error(s"checkpoints for buckets ${stale.mkString(",")} at $outRoot " +
        s"were committed against snapshot(s) ${stale.map(committed).distinct.mkString(",")} " +
        s"but the table is now at snapshot ${snap.id} — resuming would mix " +
        "snapshots; pass reextractStale = true to re-extract those buckets")
    val done = committed.keySet -- stale
    inPool(maxConcurrent, (0 until nBuckets).filterNot(done)) { b =>
      val bucketFiles = byBucket.getOrElse(b, Vector.empty)
      if (bucketFiles.isEmpty) {
        // partitionBy writes no files for an empty bucket — commit an
        // empty manifest so resume can progress past it
        commitBucket(outRoot, b, snap.id, nBuckets, Counters(0, 0, 0))
      } else {
        // counters ride the write itself via observe() (SURVEY §2.5): the
        // metrics are collected from the rows as they flow into the parquet
        // sink, so the manifest commits in ONE output pass — the round-2
        // read-back-and-recount doubled output I/O per bucket, which at
        // 100x scale is real money. A task that fails after writing still
        // doesn't commit: the manifest only lands after the job succeeds.
        val obs = Observation(s"graft_ckpt_b$b")
        Pipeline.extracted(readFiles(spark, tableRoot, bucketFiles))
          .withColumn("n_lines", size(col("ex.lines")))
          .withColumn("bytes", col("ex.bytes"))
          .observe(obs, count(lit(1)).as("turns"),
            coalesce(sum(col("bytes")), lit(0L)).as("bytes"))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$outRoot/data/bucket=$b")
        val m = obs.get
        commitBucket(outRoot, b, snap.id, nBuckets,
          Counters(m("turns").asInstanceOf[Long], m("bytes").asInstanceOf[Long], 0))
      }
    }
    readCounters(outRoot)
  }
}
