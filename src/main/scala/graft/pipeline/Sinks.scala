package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Staged, idempotent multi-sink publish (S13-S17).
  *
  * The reference's finalize sequence is: write to a temp file, process,
  * back up, delete, then advance sincedb — checkpoint strictly AFTER the
  * outputs are safe (s3.rb:376-396). A mid-run crash leaves the
  * checkpoint untouched and the whole file re-runs (at-least-once,
  * s3.rb:219-222). We upgrade that to effectively-once per batch:
  *
  *   1. write every sink's delta under `_staging/<batchId>/<sink>/`;
  *   2. atomically rename each to `<sink>/batch=<batchId>/` (local/HDFS
  *      rename is atomic per directory);
  *   3. append the lineage commit rows (Lineage.commitAt) LAST.
  *
  * Every `batch=<id>` namespace here (the sink dirs, `archive`,
  * `_consumed`, `_deferred`, `_redriven`, `_violations`,
  * `_fingerprints`) is a [[BatchStore]], which owns the layout, the
  * committed gate and the fold: an orphaned publish from a crash
  * between (2) and (3) is invisible until its re-run commits.
  *
  * The physical write is salted-repartitioned on conv_id then
  * secondary-sorted on (conv_id, turn_idx): hot conversations spread
  * across `saltBuckets` writers (skew defense) while per-conversation
  * turn order within each output file stays stable (the north star's
  * "salted repartitioning ... secondary sort on turn_idx").
  */
object Sinks {

  def stagingDir(root: String, batchId: String): String =
    s"$root/_staging/$batchId"

  /** Write the routed delta to per-sink staging dirs. One pass over the
    * data: partitionBy(sink) splits the fan-out at write time instead of
    * N filtered jobs re-reading the delta N times.
    */
  def writeStaged(routed: DataFrame, root: String, batchId: String,
      saltBuckets: Int = 16): Unit = {
    routed
      .repartition(col("conv_id"),
        pmod(hash(col("turn_idx")), lit(saltBuckets)))
      .sortWithinPartitions(col("sink"), col("conv_id"), col("turn_idx"))
      .write.mode("overwrite")
      .partitionBy("sink")
      .parquet(stagingDir(root, batchId))
  }

  /** Publish staged sink dirs as `<sink>/batch=<batchId>`. Idempotent:
    * an existing destination (crashed previous attempt) is replaced
    * wholesale, never merged.
    *
    * COMMIT-PROTOCOL NOTE (explicit design decision): the rename here
    * is NOT the atomicity mechanism — lineage-gating is. Readers
    * ([[readSink]], redrive, the seal audit) only ever look at batch
    * dirs whose id appears in the committed lineage table, so a
    * half-moved or orphaned publish is invisible regardless of rename
    * semantics. That matters on the real 100 TB target: object stores
    * have no atomic directory rename (it is a per-object copy+delete),
    * and this protocol does not care. The staging round-trip is KEPT
    * anyway, for hygiene rather than atomicity: (a) `_staging` is
    * hidden from every listing by the `_` prefix, so debris from a
    * crashed write can never be mistaken for data by ANY tool, not just
    * lineage-aware ones; (b) the delete+rename gives wholesale
    * dir-replacement idempotence without enumerating stale files. On an
    * object store the copy cost is one extra PUT per object of the
    * batch — if that ever dominates, writing batch dirs directly and
    * relying purely on the lineage gate is the documented alternative;
    * no reader would change.
    */
  def publish(spark: SparkSession, root: String, batchId: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val staging = new Path(stagingDir(root, batchId))
    val fs = staging.getFileSystem(conf)
    if (!fs.exists(staging)) return Seq.empty
    val published = fs.listStatus(staging).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("sink="))
      .map { s =>
        val sink = s.getPath.getName.stripPrefix("sink=")
        fs.mkdirs(new Path(s"$root/$sink"))
        val dest = new Path(BatchStore(s"$root/$sink").batchDir(batchId))
        if (fs.exists(dest)) fs.delete(dest, true)
        fs.rename(s.getPath, dest)
        sink
      }
    fs.delete(staging, true)
    published
  }

  /** The EXPLICIT archive-write op — the `backup_to_bucket` +
    * `backup_add_prefix` action (s3.rb:169-183; spec:274-322 asserts the
    * copy target carries the prefix). The reference copies each processed
    * object to the backup bucket under `"#{backup_add_prefix}#{key}"`;
    * our row analog copies the batch's ORIGINAL input columns to the
    * archive namespace with the prefix stamped onto the object key
    * (conv_id). Re-ingesting the archive dir with
    * `PipelineConfig.archivePrefix = addPrefix` closes the S7c
    * self-exclusion loop: discovery drops the prefixed keys.
    *
    * A [[BatchStore]] namespace (`archive`), idempotent under re-runs
    * like the staged sink publish. Returns the archive dir.
    *
    * `extraCols` rides configured INPUT metadata columns (the S6
    * storage_class / restore header) into the copy: the reference's
    * backup is a faithful object copy incl. all object metadata
    * (s3.rb:169-183), so an audit or re-ingest of the archive must see
    * the same cold/restore state the source row carried — dropping them
    * would silently re-classify every archived row as warm.
    */
  def archive(routed: DataFrame, root: String, batchId: String,
      addPrefix: String, extraCols: Seq[String] = Nil): String = {
    require(addPrefix != null && addPrefix.nonEmpty,
      "backup_add_prefix must be non-empty: an empty prefix would make " +
        "archived keys indistinguishable from source keys and defeat " +
        "the self-exclusion guard (Discover S7c)")
    val base = Seq(concat(lit(addPrefix), col("conv_id")).as("conv_id"),
      col("turn_idx"), col("role"), col("text"), col("tool"), col("ts"),
      col("day"))
    val extras = extraCols.filter(routed.columns.contains).map(col)
    BatchStore(s"$root/archive").write(routed.select(base ++ extras: _*),
      batchId)
  }

  /** The deferred/redriven namespaces are keyed by CHECKPOINT IDENTITY,
    * exactly like the identity-keyed lineage: two pipelines sharing a
    * sinkRoot (or one pipeline whose discovery config changes) must
    * never read — or, worse, orphan-clean — each other's backlog.
    *
    * Identity-change property (symmetric with the lineage): changing
    * any checkpointId input (inputPath / archivePrefix / storage
    * columns) parks the OLD identity's backlog under its old subdir —
    * untouched, re-drivable by reverting the config (or running a
    * one-off cycle with the old config), never cleaned by the new
    * identity. Deliberate: cross-identity deletion is the data-loss
    * mode this keying exists to prevent.
    */
  def deferredDir(root: String, checkpointId: String): String =
    s"$root/_deferred/$checkpointId"
  def redrivenDir(root: String, checkpointId: String): String =
    s"$root/_redriven/$checkpointId"

  /** Contract-violation census (null event times found by the seal
    * audit) — operator-facing; the engine reads it only to dedup the
    * census itself. A [[BatchStore]] namespace, folded with
    * mergeSchema.
    */
  def violationsDir(root: String, checkpointId: String): String =
    s"$root/_violations/$checkpointId"

  /** Fingerprint store for cross-cycle dedup
    * (PipelineConfig.dedupAcrossCycles): a [[BatchStore]] namespace of
    * the DISTINCT normalized-text fingerprints each committed batch
    * delivered to a content sink, identity-keyed like every namespace.
    */
  def fingerprintsDir(root: String, checkpointId: String): String =
    s"$root/_fingerprints/$checkpointId"

  /** The fingerprint store's one column, [[writeFingerprints]]' `fp`. */
  val fingerprintSchema: StructType =
    StructType(Seq(StructField("fp", StringType)))

  /** Record the batch's content-sink fingerprints (the dedup write
    * side). Distinct per batch — within-batch multiplicity is not the
    * store's business; one row per fp bounds the store by corpus
    * cardinality, not delivery count. When the dedup stage already
    * computed the fingerprint column (Dedup.fpColName, kept by
    * reRouteSeen(keepFp=true)), it is REUSED — no second
    * md5+normalization pass over the batch's text.
    */
  def writeFingerprints(routed: DataFrame, root: String,
      checkpointId: String, batchId: String,
      contentSinks: Seq[String]): String = {
    val fp =
      if (routed.columns.contains(graft.ops.Dedup.fpColName))
        col(graft.ops.Dedup.fpColName)
      else graft.ops.TextAnalysis.fingerprint(col("text"))
    BatchStore(fingerprintsDir(root, checkpointId)).write(
      routed.filter(col("sink").isin(contentSinks: _*))
        .select(fp.as("fp")).distinct(),
      batchId)
  }

  /** List `batch=*` child dirs of a namespace root (empty if absent). */
  def batchDirs(spark: SparkSession, root: String): Seq[String] =
    BatchStore(root).list(spark)

  /** [[BatchStore.partitionCommitted]]: (readable, orphan) dirs. */
  def partitionCommitted(dirs: Seq[String],
      committed: Set[String]): (Seq[String], Seq[String]) =
    BatchStore.partitionCommitted(dirs, committed)

  /** Retire resolved deferred/redriven history: the `_deferred` fold
    * minus the `_redriven` ledger ([[BatchStore.compact]]).
    */
  def compactDeferred(spark: SparkSession, root: String, checkpointId: String,
      committedBatches: => Set[String], maxDirs: Int = 64): Boolean =
    BatchStore(deferredDir(root, checkpointId)).compact(spark,
      committedBatches, maxDirs,
      ledger = Some(BatchStore(redrivenDir(root, checkpointId))))

  /** S16 `delete` analog (s3.rb:181-183): after a successful commit, the
    * batch's consumed (conv_id, day) set is recorded in a per-batch
    * manifest. Our engine NEVER destroys source data — the manifest IS
    * the deletion mark, replayable by a janitor that owns the input
    * (exactly how the reference separates "processed" from the
    * irreversible delete behind its `delete` flag).
    */
  def markConsumed(routed: DataFrame, root: String, batchId: String): String =
    BatchStore(s"$root/_consumed").write(
      routed.select(col("conv_id"), col("day")).distinct(), batchId)

  /** (conv_id, turn_idx, day) keys published across ALL sinks for the
    * given days — the seal audit's "already delivered" side.
    * `committed` is the recognized batch-id set (the caller's ONE
    * cycle-start lineage read, plus the in-flight batch whose staged
    * publish has happened but whose commit has not: its delta rows ARE
    * delivered, and the audit runs pre-commit). The day filter is a
    * pushed data-column predicate, so row-group stats skip batches
    * that contain none of the audited days.
    *
    * Cost note (100 TB): this reads each audited day's published rows
    * once — paid once per day LIFETIME (at seal), plus once per reopen.
    * If seal audits dominate, publish sinks partitioned by (sink, day)
    * would turn this into a partition-pruned read; not done here
    * because batches are day-skewed anyway (a batch holds recent days),
    * so the row-group skip already prunes most files.
    */
  def publishedKeys(spark: SparkSession, root: String,
      days: Set[String], committed: Set[String]): DataFrame = {
    import org.apache.spark.sql.types.IntegerType
    val keySchema = StructType(Seq(
      StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
      StructField("day", StringType)))
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sinkDirs =
      if (!fs.exists(rootPath)) Seq.empty
      else fs.listStatus(rootPath).toSeq
        .filter(_.isDirectory) // the listing already carries the bit
        .map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") ||
          p.getName.startsWith(".") ||
          p.getName == "archive" || // prefixed COPIES, not deliveries
          p.getName == "stream") // the streaming surface commits its own
    val batches = sinkDirs.flatMap(sd =>
      BatchStore(sd.toString).committedDirs(spark, committed))
    if (batches.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], keySchema)
    else spark.read.parquet(batches: _*)
      .filter(col("day").isin(days.toSeq: _*))
      .select(col("conv_id"), col("turn_idx"), col("day"))
  }

  /** Read a sink's COMMITTED contents: only batch dirs present in the
    * default-location lineage table (snapshot isolation for readers).
    */
  def readSink(spark: SparkSession, root: String, sink: String): DataFrame =
    BatchStore(s"$root/$sink")
      .read(spark, Lineage.committedBatchesAt(spark, Lineage.path(root)))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Schema.turnSchema))
}
