package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** THE committed-batch store: a namespace dir holding one `batch=<id>`
  * child dir per batch. This file is the one owner of that layout —
  * path format, listing, per-batch overwrite, the committed gate and
  * the fold — for every namespace of the engine:
  *
  *  - `Sinks`: each sink dir `<root>/<sink>`, `archive`, `_consumed`,
  *    and the checkpoint-identity-keyed `_deferred/<cid>`,
  *    `_redriven/<cid>`, `_violations/<cid>`, `_fingerprints/<cid>`;
  *  - `ops.Dedup`: `_pairs/<corpus>`, `_bands/<corpus>`,
  *    `_clusters/<corpus>`;
  *  - `streaming.Streaming`: `stream/`, `stream/_violations`,
  *    `stream/_carry`, `stream/_fingerprints`.
  *
  * The discipline (the reference keeps its checkpoint format in one
  * class, SinceDB, s3.rb:446-468; this is that for the batch dirs):
  *
  *  - write: a batch id is a pure function of the checkpoint state, so
  *    a crash re-run reproduces it and [[write]]'s overwrite replaces
  *    the crashed attempt wholesale (idempotent, never merged);
  *  - gate: a dir is readable iff its id is in the caller's committed
  *    set (its ONE cycle-start lineage read) or it is a `compacted-`
  *    survivor ([[BatchStore.partitionCommitted]]). Anything else is
  *    an orphan of a cycle that crashed before its lineage commit and
  *    is invisible to every reader. The streaming namespaces have no
  *    lineage; they gate on their own strictly-before-id rule and hand
  *    the gated dirs to [[fold]];
  *  - fold ([[fold]], [[compact]]): the snapshot is written FIRST as
  *    `batch=compacted-<nanos>`, then only the pre-listed input dirs
  *    and the orphans are deleted. A crash in between leaves snapshot
  *    and inputs side by side, which only duplicates rows — every
  *    reader absorbs that (a distinct, an anti-join, or set semantics).
  *    Orphans are crash debris: one writer per namespace, and every
  *    fold runs after its cycle's commit, so nothing is in flight.
  *
  * Three special cases, documented here once:
  *
  *  - `_deferred` folds its manifests MINUS the `_redriven` ledger and
  *    deletes the ledger dirs it absorbed ([[compact]]'s `ledger`), so
  *    both namespaces stay O(pending backlog), not O(cycles);
  *  - `_clusters` never row-folds: each batch is a FULL label
  *    generation, and a union across generations would give one id two
  *    labels. It is bounded by retention instead ([[retain]]);
  *  - `_lineage` is not a batch store: its commits are files, folded
  *    by `Lineage.compactAt`.
  */
final case class BatchStore(dir: String) {
  import BatchStore._

  /** `<dir>/batch=<id>`. */
  def batchDir(id: String): String = s"$dir/$Prefix$id"

  /** Every `batch=*` child dir (empty if the namespace is absent). */
  def list(spark: SparkSession): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(Prefix)).map(_.toString)
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** The readable dirs under `committed`. */
  def committedDirs(spark: SparkSession, committed: Set[String]): Seq[String] =
    partitionCommitted(list(spark), committed)._1

  /** Overwrite batch `id` with `df`; returns its dir. */
  def write(df: DataFrame, id: String): String = {
    val dest = batchDir(id)
    df.write.mode("overwrite").parquet(dest)
    dest
  }

  /** The committed rows, None when no dir is readable (the schema is
    * the namespace's, so there is no honest empty frame to fabricate).
    * A namespace with a fixed `schema` is read with it, which skips the
    * Spark job that parquet schema inference launches per read.
    */
  def read(spark: SparkSession, committed: Set[String],
      schema: Option[StructType] = None): Option[DataFrame] = {
    val dirs = committedDirs(spark, committed)
    if (dirs.isEmpty) None
    else Some(schema.fold(spark.read)(spark.read.schema).parquet(dirs: _*))
  }

  /** Fold the committed history into one snapshot once the namespace
    * holds more than `maxDirs` dirs. The listing guard runs first, so
    * the by-name committed set (a lineage read) is only evaluated past
    * the threshold. `mergeSchema` is on for `_violations` only: census
    * batches hold raw rows whose schema may change between engine
    * versions, and the snapshot must lose no column of any era.
    * `ledger` is the `_deferred` case: rows whose (conv_id, turn_idx)
    * a committed ledger batch holds are dropped, and the ledger dirs
    * are deleted after the manifests.
    */
  def compact(spark: SparkSession, committed: => Set[String],
      maxDirs: Int = 64, mergeSchema: Boolean = false,
      ledger: Option[BatchStore] = None): Boolean = {
    val all = list(spark)
    if (all.length <= maxDirs) return false
    val c = committed
    val (dirs, orphans) = partitionCommitted(all, c)
    val (ledgerDirs, ledgerOrphans) = ledger
      .map(l => partitionCommitted(l.list(spark), c)).getOrElse((Nil, Nil))
    fold(spark, dirs, ledgerDirs ++ orphans ++ ledgerOrphans) { ds =>
      val rows = spark.read.option("mergeSchema", mergeSchema.toString)
        .parquet(ds: _*).distinct()
      if (ledgerDirs.isEmpty) rows
      else rows.join(spark.read.parquet(ledgerDirs: _*),
        Seq("conv_id", "turn_idx"), "left_anti")
    }
    true
  }

  /** THE fold body: `rows(dirs)` is written as one `compacted-`
    * snapshot (skipped when `dirs` is empty), then `dirs` and `debris`
    * are deleted, in that order. `dirs` must be listed (and gated) by
    * the caller before the call: only those dirs are ever deleted.
    */
  def fold(spark: SparkSession, dirs: Seq[String], debris: Seq[String])(
      rows: Seq[String] => DataFrame): Unit = {
    if (dirs.nonEmpty)
      rows(dirs).write.mode("overwrite")
        .parquet(batchDir(s"$Compacted${System.nanoTime()}"))
    delete(spark, dirs ++ debris)
  }

  /** `_clusters` retention: past `maxDirs` dirs keep only generation
    * `keep`; superseded generations and orphans alike are deleted.
    * Delete-only, so there is no crash window: any prefix of the
    * deletes leaves a smaller, still-correct namespace. Fails closed
    * when `keep` names no dir (a typo, or a generation whose write
    * failed), so retention can never empty the store.
    */
  def retain(spark: SparkSession, keep: String, maxDirs: Int = 64): Boolean = {
    val all = list(spark)
    if (all.length <= maxDirs) return false
    val kept = s"$Prefix$keep"
    require(all.exists(_.endsWith(kept)),
      s"retain: keep generation '$kept' does not exist under $dir — " +
        "refusing to delete anything")
    delete(spark, all.filterNot(_.endsWith(kept)))
    true
  }
}

object BatchStore {

  private val Prefix = "batch="
  private val Compacted = "compacted-"

  /** The batch id of a `batch=<id>` dir. */
  def idOf(batchDir: String): String =
    batchDir.substring(batchDir.lastIndexOf(Prefix) + Prefix.length)

  def isCompacted(batchDir: String): Boolean =
    idOf(batchDir).startsWith(Compacted)

  /** THE definition of a readable (vs orphan) batch dir: its id is
    * committed, or it is a fold survivor. Readers and folds share it,
    * so they can never disagree about which dirs count.
    */
  def partitionCommitted(dirs: Seq[String],
      committed: Set[String]): (Seq[String], Seq[String]) =
    dirs.partition(d => isCompacted(d) || committed.contains(idOf(d)))

  /** Delete `dirs`; callers pass only dirs they listed. */
  def delete(spark: SparkSession, dirs: Seq[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    dirs.foreach { d =>
      val p = new Path(d)
      p.getFileSystem(conf).delete(p, true)
    }
  }
}
