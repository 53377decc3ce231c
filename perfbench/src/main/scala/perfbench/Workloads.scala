package perfbench

import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Dedup
import graft.pipeline.{Lineage, Main, PipelineConfig, Route, Synth}

/** One timed call into the program: its kind, wall seconds and the
  * input rows it committed.
  */
case class Sample(kind: String, seconds: Double, rows: Long)

/** A closed-loop workload with one client: the next call starts when the
  * previous one returns. Every directory it touches lies under the run's
  * scratch root.
  */
trait Workload {
  def name: String
  /** Kind of the sample `op_s_p50` and the per-op figures are taken over. */
  def opKind: String
  /** Writes the run's seeded inputs (untimed, not part of set-up). */
  def prepare(spark: SparkSession, dir: String, seed: Long): Unit
  /** Writes, into fresh dirs under `dir`, the state a timed loop over
    * `dir` starts from (untimed).
    */
  def ready(spark: SparkSession, dir: String): Unit
  /** The untimed set-up work: warms the JVM up and readies `dir`. */
  def warmUp(spark: SparkSession, dir: String): Unit = ready(spark, dir)
  /** Points the timed state at `dir`, which [[ready]] prepared. */
  def start(spark: SparkSession, dir: String): Unit
  /** One closed-loop step; empty once the workload's input is used up. */
  def step(spark: SparkSession): Seq[Sample]
  /** Output checks on the state the timed steps left; failures listed. */
  def check(spark: SparkSession): Seq[String]
  /** Figures read from the state after the timed steps, per op. */
  def layers(spark: SparkSession, ops: Int): Map[String, Double]
  /** The measured share of the planted duplicates in the output, and
    * what it is a share of.
    */
  def planted(spark: SparkSession): Double
  def plantedWhat: String
  /** Root whose scans count as discovery in a traced run. */
  def scanRoot: String
  /** The run's main input, for its digest. */
  def inputFrame(spark: SparkSession): DataFrame

  protected def timed[A](kind: String, rows: A => Long)(f: => A): (A, Sample) = {
    val t0 = System.nanoTime()
    val a = f
    (a, Sample(kind, (System.nanoTime() - t0) / 1e9, rows(a)))
  }
}

object Workload {
  def apply(name: String): Workload = name match {
    case "polling" => new Polling
    case "dedup" => new DedupBatches
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected polling|dedup)")
  }

  /** Files and bytes under a directory tree, skipping checksum files. */
  def du(spark: SparkSession, dir: String): (Long, Long) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (0L, 0L)
    else {
      var files = 0L
      var bytes = 0L
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        val n = f.getPath.getName
        if (!n.startsWith(".") && !n.startsWith("_")) {
          files += 1; bytes += f.getLen
        }
      }
      (files, bytes)
    }
  }

  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

/** A fixed seeded table replayed by advancing the injected clock
  * [[Step]] per delta cycle, each followed by an empty poll at the same
  * clock; each call is one op. Day sealing and cross-cycle dedup are on.
  * The warm-up's cycle backfills the first 26 hours and seals the first
  * day, so every timed cycle is a delta of about 12 hours of traffic on
  * top of existing sinks, lineage and fingerprints, which it reads back
  * and adds to. Deltas are small, so per-cycle fixed costs (lineage
  * read and commit, listing, publish, the fingerprint store, the seal
  * audit) weigh heavily. The first timed day holds a hot conversation
  * (the prefix-scan skew path), a sealing cycle (the seal audit) and
  * copies of earlier content turns (re-routed to `duplicate`).
  */
final class Polling extends Workload {
  val name = "polling"
  val opKind = "cycle"
  val Convs = 3L * 1440L // three days of Synth's one conversation a minute
  val WarmAsOf: Long = Synth.baseEpochMs + 26L * Inputs.HourMs
  val DupPermille = 30
  val Step: Long = 12L * Inputs.HourMs
  val GraceSeconds = 3600

  private var input = ""
  private var lastTs = 0L
  private var root = ""
  private var asOfMs = 0L
  private val timedBatches = scala.collection.mutable.ArrayBuffer[String]()

  def scanRoot: String = input
  def inputFrame(spark: SparkSession): DataFrame = spark.read.parquet(input)
  def cfg(in: String, r: String): PipelineConfig =
    PipelineConfig(in, r, sealDaysGraceSeconds = GraceSeconds,
      dedupAcrossCycles = true)
  private def ts(ms: Long) = new Timestamp(ms)

  def prepare(spark: SparkSession, d: String, seed: Long): Unit = {
    input = s"$d/input"
    Inputs.writeTurns(Inputs.pollingTable(spark, seed, Convs, DupPermille),
      input)
    // past the last turn: the last conversation starts a minute before
    // the end of the table and no conversation spans a day
    lastTs = Synth.baseEpochMs + Convs * 60000L + Inputs.DayMs +
      Inputs.DupShiftMs
  }

  /** A cycle that backfills the first 26 hours and seals the first day,
    * and its empty poll, into fresh sinks under `d`.
    */
  def ready(spark: SparkSession, d: String): Unit = {
    val c = cfg(input, s"$d/sinks")
    Main.runCycle(spark, c, ts(WarmAsOf))
    Main.runCycle(spark, c, ts(WarmAsOf))
  }

  def start(spark: SparkSession, d: String): Unit = {
    root = s"$d/sinks"
    asOfMs = WarmAsOf
    timedBatches.clear()
  }

  /** One day of polling: two delta cycles, each followed by its poll,
    * so every step seals exactly one day.
    */
  def step(spark: SparkSession): Seq[Sample] =
    if (asOfMs > lastTs + GraceSeconds * 1000L) Nil
    else (1 to 2).flatMap { _ =>
      asOfMs += Step
      val c = cfg(input, root)
      val (r, cycle) = timed[Main.CycleResult]("cycle", _.rowsProcessed)(
        Main.runCycle(spark, c, ts(asOfMs)))
      timedBatches += r.batchId
      val (p, poll) = timed[Main.CycleResult]("poll", _.rowsProcessed)(
        Main.runCycle(spark, c, ts(asOfMs)))
      if (p.rowsProcessed != 0L)
        throw new IllegalStateException(
          s"empty poll at the same clock committed ${p.rowsProcessed} rows")
      Seq(cycle, poll)
    }

  private def cid = Lineage.checkpointId(cfg(input, ""))
  def sinkRoot: String = root

  def check(spark: SparkSession): Seq[String] =
    Checks.polling(spark, root, cid,
      spark.read.parquet(input).select("conv_id", "turn_idx", "ts"),
      ts(asOfMs), cfg(input, root).cutoffSeconds)

  private def deliveredBySink(spark: SparkSession): Map[String, Long] =
    Checks.delivered(spark, root, cid).groupBy("sink").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap


  val plantedWhat = "delivered rows re-routed to duplicate"
  def planted(spark: SparkSession): Double = {
    val rows = deliveredBySink(spark)
    rows.getOrElse(Route.duplicateSink, 0L).toDouble /
      math.max(1L, rows.values.sum)
  }

  /** Per timed cycle: the sink files and bytes it published and the
    * rows re-routed to `duplicate`; the store's lineage and fingerprint
    * files at the end.
    */
  def layers(spark: SparkSession, ops: Int): Map[String, Double] = {
    val published = for (s <- Checks.sinks; b <- timedBatches)
      yield Workload.du(spark, s"$root/$s/batch=$b")
    val dups = Checks.delivered(spark, root, cid)
      .filter(col("sink") === Route.duplicateSink &&
        col("batch").isin(timedBatches.toSeq: _*)).count()
    Map(
      "sinks.files" -> published.map(_._1).sum.toDouble / ops,
      "sinks.bytes" -> published.map(_._2).sum.toDouble / ops,
      "lineage.files" -> Workload.du(spark, Lineage.path(root))._1.toDouble,
      "fingerprint.files" -> Workload.du(spark,
        graft.pipeline.Sinks.fingerprintsDir(root, cid))._1.toDouble,
      "fingerprint.dup_rows" -> dups.toDouble / ops)
  }
}

/** A seeded document corpus with planted exact and near duplicates,
  * ingested in [[Batches]] batches per round (a step), each round into a
  * fresh store; each batch is one op. The first batch takes the batch path (exact dedup, MinHash
  * signatures, LSH bands and candidate pairs, cluster resolution); the
  * later ones the store-backed path (bands written and read back,
  * incremental LSH pairs against the stored bands, clusters merged into
  * the previous label generation). Nearly all the work is in
  * `graft.ops.Dedup`; the transcript pipeline does none.
  */
final class DedupBatches extends Workload {
  val name = "dedup"
  val opKind = "batch"
  val Docs = 4000
  val Batches = 4
  val ExactPct = 5
  val NearPct = 15
  val ShingleN = 3
  val NumHashes = 8
  val RowsPerBand = 2
  val Corpus = "bench"

  private var docs = ""
  private var dir = ""
  private var round = 0
  private var batch = 0
  private var root = ""

  def scanRoot: String = "\u0000" // discovery is bypassed here
  def inputFrame(spark: SparkSession): DataFrame = spark.read.parquet(docs)

  def prepare(spark: SparkSession, d: String, seed: Long): Unit = {
    docs = s"$d/docs"
    Inputs.documents(spark, seed, Docs, ExactPct, NearPct)
      .write.mode("overwrite").parquet(docs)
  }

  private def slice(spark: SparkSession, path: String, n: Int,
      b: Int): DataFrame = {
    val per = n / Batches
    spark.read.parquet(path).select("doc_id", "text")
      .filter(col("doc_id") >= b * per && col("doc_id") < (b + 1) * per)
  }

  def bandsOf(df: DataFrame): DataFrame = Dedup.lshBands(
    Dedup.minhashSignatures(df, "doc_id", "text", ShingleN, NumHashes),
    "doc_id", NumHashes, RowsPerBand)

  def clustersDir(r: String, b: Int): String =
    s"$r/_clusters/$Corpus/batch=b$b"

  /** Ingests batch `b` of the corpus at `path` into the store at `r`. */
  def ingest(spark: SparkSession, path: String, n: Int, r: String,
      b: Int): Unit = {
    val committed = (0 until b).map(i => s"b$i").toSet
    if (b == 0) {
      val exact = Dedup.dropExactDups(slice(spark, path, n, 0), "doc_id",
        "text")
      Dedup.writeBands(bandsOf(exact), r, Corpus, "b0", "doc_id")
      val bands = Dedup.readBands(spark, r, Corpus, Set("b0"),
        dedupRows = false).get
      Dedup.writeClusters(Dedup.lshCandidatePairs(bands, "doc_id"), r,
        Corpus, "b0")
    } else {
      Dedup.writeBands(bandsOf(slice(spark, path, n, b)), r, Corpus, s"b$b",
        "doc_id")
      val stored = Dedup.readBands(spark, r, Corpus, committed,
        dedupRows = false).get
      val fresh = Dedup.readBands(spark, r, Corpus, Set(s"b$b"),
        dedupRows = false).get
      val pairs = Dedup.incrementalLshPairs(stored, fresh, "doc_id")
      val merged = Dedup.mergeClusters(
        spark.read.parquet(clustersDir(r, b - 1)), pairs)
      merged.labels.write.mode("overwrite").parquet(clustersDir(r, b))
      merged.release()
    }
  }

  /** Nothing: every timed round starts from a fresh store. */
  def ready(spark: SparkSession, d: String): Unit = ()

  /** The batch path and one store-backed batch, on the corpus's first
    * two batches, into a store of their own.
    */
  override def warmUp(spark: SparkSession, d: String): Unit =
    (0 until 2).foreach(b => ingest(spark, docs, Docs, s"$d/warm-store", b))

  def start(spark: SparkSession, d: String): Unit = {
    dir = d; round = 0; batch = 0
  }

  /** One round: every batch of the corpus into a fresh store. */
  def step(spark: SparkSession): Seq[Sample] = {
    root = s"$dir/round-$round"
    round += 1
    (0 until Batches).map { b =>
      val (_, s) = timed[Unit]("batch", _ => (Docs / Batches).toLong)(
        ingest(spark, docs, Docs, root, b))
      batch = b + 1
      s
    }
  }

  /** Documents that entered the chain in batches 0..last: the first
    * batch after exact dedup, the later ones whole.
    */
  private def entered(spark: SparkSession, last: Int): DataFrame =
    (1 to last).map(b => slice(spark, docs, Docs, b))
      .foldLeft(Dedup.dropExactDups(slice(spark, docs, Docs, 0), "doc_id",
        "text"))(_ unionByName _)

  /** Labels a from-scratch resolution gives over all entered documents. */
  def fromScratch(spark: SparkSession, last: Int): DataFrame =
    Dedup.resolveClusters(
      Dedup.lshCandidatePairs(bandsOf(entered(spark, last)), "doc_id"))

  /** Batches ingested into the current store. */
  def ingested: Int = batch

  def finalLabels(spark: SparkSession): DataFrame =
    spark.read.parquet(clustersDir(root, batch - 1))

  def check(spark: SparkSession): Seq[String] =
    Checks.labels(finalLabels(spark), fromScratch(spark, batch - 1))

  val plantedWhat = "ingested documents in non-singleton clusters"
  def planted(spark: SparkSession): Double =
    finalLabels(spark).count().toDouble / (batch * (Docs / Batches))

  def layers(spark: SparkSession, ops: Int): Map[String, Double] = {
    val (files, bytes) = Workload.du(spark, Dedup.bandsDir(root, Corpus))
    Map(
      "store.bands_files" -> files.toDouble,
      "store.bands_bytes" -> bytes.toDouble)
  }

  /** Self times of the lazy chain stages on the first batch, from
    * noop-sink actions over cumulative prefixes of the chain (a cheap
    * stage's difference can come out below zero: it is under the noise),
    * and the eager stages timed directly; plus the chain's counts.
    */
  def decompose(spark: SparkSession): Map[String, Double] = {
    def noop(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val exact = Dedup.dropExactDups(slice(spark, docs, Docs, 0), "doc_id",
      "text").localCheckpoint(true)
    val sigs = Dedup.minhashSignatures(exact, "doc_id", "text", ShingleN,
      NumHashes)
    val bands = Dedup.lshBands(sigs, "doc_id", NumHashes, RowsPerBand)
    val pairs = Dedup.lshCandidatePairs(bands, "doc_id")
    val tSig = noop(sigs)
    val tBands = noop(bands)
    val tPairs = noop(pairs)
    val t0 = System.nanoTime()
    val res = Dedup.resolveClustersIter(pairs)
    res.labels.write.format("noop").mode("overwrite").save()
    val tResolve = (System.nanoTime() - t0) / 1e9
    res.release()
    val nPairs = pairs.count()
    val oversized = Dedup.lshOversizedBuckets(bands, "doc_id").count()
    val stored = bands.localCheckpoint(true)
    val tInc = noop(Dedup.incrementalLshPairs(stored,
      bandsOf(slice(spark, docs, Docs, 1)), "doc_id"))
    stored.unpersist()
    exact.unpersist()
    Map(
      "minhash.self_s" -> tSig,
      "lsh.bands_self_s" -> (tBands - tSig),
      "lsh.pairs_self_s" -> (tPairs - tBands),
      "lsh.incremental_self_s" -> tInc,
      "resolve.self_s" -> tResolve,
      "resolve.iterations" -> res.iterations.toDouble,
      "lsh.candidate_pairs" -> nPairs.toDouble,
      "lsh.oversized_buckets" -> oversized.toDouble)
  }
}
