package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The benchmark's entry point:
  *
  *   Bench --workload <polling|dedup> --seed <n> --seconds <s>
  *         --trace <0|1> --work <scratch dir> [--cores <n>]
  *
  * Runs one workload from a single process on `local[cores]`, timing the
  * program's public calls from outside. Untraced (`--trace 0`) it
  * reports the end-to-end metrics; traced (`--trace 1`) it runs the same
  * loop untraced, traced and untraced again, and reports the per-layer
  * metrics and the tracing overhead. Human-readable lines go first; the last line is
  * one JSON object. Exits non-zero when an op throws or an output check
  * fails.
  */
object Bench {

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // bounded UI-store history: retained heap must not grow with the
      // number of ops a run completes
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, cores: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"),
      m.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  /** What one timed loop did. `ops` holds, per step, its wall interval
    * (epoch ms) and the traced totals it added.
    */
  case class Loop(samples: Seq[Sample], wall: Double, attempted: Int,
      thrown: Int, ops: Seq[(Long, Long, Map[String, Long])],
      totals: Map[String, Long])

  def loop(spark: SparkSession, w: Workload, dir: String, seconds: Double,
      tracer: Option[Tracer]): Loop = {
    w.start(spark, dir)
    val samples = mutable.ArrayBuffer[Sample]()
    val ops = mutable.ArrayBuffer[(Long, Long, Map[String, Long])]()
    var thrown = 0
    var attempted = 0
    val first = tracer.map(_.snapshot(spark)).getOrElse(Map.empty)
    var before = first
    val t0 = System.nanoTime()
    var more = true
    var lastStep = 0.0
    // whole steps only, stopping at the step boundary nearest to
    // `seconds`, so every run times the same mix of ops
    while (more && (samples.isEmpty ||
        (System.nanoTime() - t0) / 1e9 + lastStep / 2 < seconds)) {
      val s0 = System.nanoTime()
      val a = System.currentTimeMillis()
      try {
        val ss = w.step(spark)
        if (ss.isEmpty) more = false
        samples ++= ss
        attempted += ss.length
      } catch {
        case e: Exception =>
          thrown += 1
          attempted += 1
          more = false
          System.err.println(s"[perfbench] op failed: $e")
          e.printStackTrace()
      }
      val b = System.currentTimeMillis()
      lastStep = (System.nanoTime() - s0) / 1e9
      tracer.foreach { t =>
        val now = t.snapshot(spark)
        ops += ((a, b, Tracer.delta(now, before)))
        before = now
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Loop(samples.toSeq, wall, attempted, thrown, ops.toSeq,
      tracer.map(t => Tracer.delta(t.snapshot(spark), first))
        .getOrElse(Map.empty))
  }

  /** Heap in use after full collections. The pauses let Spark's context
    * cleaner release the shuffles and broadcasts the first collection
    * found unreachable, so the reading does not depend on its timing.
    */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  def rowsPerS(l: Loop): Double = l.samples.map(_.rows).sum / l.wall

  def opSeconds(w: Workload, l: Loop): Seq[Double] =
    l.samples.filter(_.kind == w.opKind).map(_.seconds)

  /** Per-layer metrics of a traced loop. */
  def perLayer(spark: SparkSession, w: Workload, l: Loop, t: Tracer,
      cores: Int, prefixStagesBefore: Int): Map[String, Double] = {
    val d = l.totals.withDefaultValue(0L)
    val units = math.max(1, opSeconds(w, l).length).toDouble
    def sec(k: String) = d(k) / 1000.0 / units
    def per(k: String) = d(k) / units
    val scanned = d("scan/rows")
    val rows = l.samples.map(_.rows).sum
    val gaps = l.ops.map { case (a, b, _) => (b - a) - t.jobCoveredMs(a, b) }
    val skew = t.prefixStageTasks.drop(prefixStagesBefore)
      .filter(_.length >= 2).sortBy(-_.sum).headOption
      .map(ts => ts.max / math.max(1.0, Stats.median(ts.map(_.toDouble))))
      .getOrElse(0.0)
    val polls = l.samples.filter(_.kind == "poll").map(_.seconds)
    val ops = opSeconds(w, l)
    Map(
      "lineage.read_s" -> sec("lineage.read/job_ms"),
      "lineage.commit_s" -> sec("lineage.commit/job_ms"),
      "discover.rows_scanned" -> scanned / units,
      "discover.rows_delta" -> (if (scanned > 0) rows / units else 0.0),
      "discover.delta_share" ->
        (if (scanned > 0) rows.toDouble / scanned else 0.0),
      "discover.files_listed" -> per("scan/files"),
      "driver.gap_s" -> gaps.sum / 1000.0 / units,
      "parse.map_task_s" -> sec("parse/task_ms"),
      "prefix.task_s" -> sec("prefix/task_ms"),
      "prefix.shuffle_bytes" -> per("prefix/shuffle_read"),
      "prefix.task_skew" -> skew,
      "sinks.write_task_s" -> sec("sinks/task_ms"),
      "sinks.shuffle_bytes" -> per("sinks/shuffle_read"),
      "aggregate.task_s" -> sec("aggregate/task_ms"),
      "fingerprint.task_s" -> sec("fingerprint/task_ms"),
      "audit.task_s" -> sec("audit/task_ms"),
      "audit.cycles" -> l.ops.count { case (_, _, o) =>
        o.getOrElse("audit/jobs", 0L) > 0 }.toDouble,
      "exec.busy_share" -> d("all/task_ms") / (cores * l.wall * 1000.0),
      "shuffle.bytes" -> per("all/shuffle_write"),
      "spill.bytes" -> per("all/spill"),
      "gc_s" -> sec("all/gc_ms"),
      "plan.exchanges" -> per("plan/exchanges"),
      "persisted_rdds_end" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
      "poll_s_p50" -> (if (polls.isEmpty) 0.0 else Stats.median(polls)),
      "op_s_tail" -> Stats.tail(ops).map(_._2).getOrElse(ops.max)
    )
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] aborted: $e")
          e.printStackTrace()
          2
      }
    sys.exit(code)
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  def run(a: Args): Int = {
    val w = Workload(a.workload)
    val work = a.work
    val started = System.nanoTime()
    def line(s: String): Unit =
      println(f"# [${(System.nanoTime() - started) / 1e9}%6.1f s] $s")
    line(s"workload ${w.name} seed ${a.seed} seconds ${a.seconds} " +
      s"trace ${if (a.trace) 1 else 0} cores ${a.cores}")
    val calBefore = graft.Calibration.measure(1)
    line("calibrated")

    // set-up: session start plus the untimed warm-up, whose state the
    // first timed loop starts from; the seeded inputs are written in
    // between, outside its timing
    val t0 = System.nanoTime()
    var spark = session(a.cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    w.prepare(spark, s"$work/data", a.seed)
    val t1 = System.nanoTime()
    w.warmUp(spark, s"$work/timed")
    val setupS = sessionS + (System.nanoTime() - t1) / 1e9
    line(s"input digest ${Inputs.digest(w.inputFrame(spark))}")
    line(f"set-up $setupS%.3f s (session start $sessionS%.3f s)")

    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0
    var thrown = 0
    /** A timed loop over a freshly readied `dir`, then its output
      * checks; the loop's ops count as attempted.
      */
    def measure(dir: String, seconds: Double, tracer: Option[Tracer]): Loop = {
      w.ready(spark, dir)
      val l = loop(spark, w, dir, seconds, tracer)
      failures ++= w.check(spark)
      attempted += l.attempted
      thrown += l.thrown
      l
    }

    val off = loop(spark, w, s"$work/timed", a.seconds, None)
    val heap = retainedHeapMb()
    line(s"timed ${off.samples.length} ops in ${"%.3f".format(off.wall)} s: " +
      off.samples.map(x => f"${x.kind} ${x.seconds}%.2f s ${x.rows}").mkString(", "))
    failures ++= w.check(spark)
    attempted += off.attempted
    thrown += off.thrown
    val planted = w.planted(spark)
    line(s"checked; planted share ${fmt(planted)} (${w.plantedWhat})")
    val metrics = mutable.LinkedHashMap[String, Double]()
    val ops = opSeconds(w, off)

    if (!a.trace) {
      metrics("setup_s") = setupS
      metrics("rows_per_s") = rowsPerS(off)
      metrics("op_s_p50") = if (ops.isEmpty) 0.0 else Stats.median(ops)
      metrics("heap_retained_mb") = heap
      Stats.tail(ops) match {
        case Some((p, v)) =>
          line(s"op_s_tail p$p ${fmt(v)} s over n=${ops.length} ${w.opKind}s")
        case None =>
          line(s"op_s_tail undefined: n=${ops.length} ${w.opKind}s, " +
            "a tail needs 11 or more")
      }
      val polls = off.samples.filter(_.kind == "poll").map(_.seconds)
      if (polls.nonEmpty)
        line(s"poll_s_p50 ${fmt(Stats.median(polls))} s over n=${polls.length}")
    } else {
      // traced between two untraced loops, so the overhead is judged
      // against both sides of any warm-up drift
      val tracer = Tracer.install(spark, w.scanRoot)
      val stagesBefore = tracer.prefixStageTasks.length
      val on = measure(s"$work/traced", a.seconds, Some(tracer))
      metrics ++= perLayer(spark, w, on, tracer, a.cores, stagesBefore)
      metrics ++= w.layers(spark, math.max(1, opSeconds(w, on).length))
      metrics("planted.share") = w.planted(spark)
      tracer.remove(spark)
      val off2 = measure(s"$work/untraced-again", a.seconds, None)
      val offRate = (rowsPerS(off) + rowsPerS(off2)) / 2
      metrics("trace.overhead_share") = 1.0 - rowsPerS(on) / offRate
      line(s"rows_per_s untraced ${fmt(rowsPerS(off))} and " +
        s"${fmt(rowsPerS(off2))}, traced ${fmt(rowsPerS(on))}")
      w match {
        case d: DedupBatches =>
          metrics ++= d.decompose(spark)
          val (fails, secs) = Operators.run(spark, s"$work/operators")
          failures ++= fails
          attempted += Operators.names.length
          metrics ++= secs
          metrics("query.suite_s") = secs.values.sum
          line(s"operators: ${Operators.names.length} queries, " +
            s"${fails.length} output hashes differ from the pinned ones, " +
            s"timed pass ${fmt(secs.values.sum)} s")
        case _ =>
          // the single-core pass: same input, same loop, on local[1]
          spark.stop()
          spark = session(1, work)
          val one = measure(s"$work/one-core", a.seconds / 2, None)
          val oneRate = rowsPerS(one)
          val eff = offRate / (a.cores * oneRate)
          metrics("rows_per_s_1core") = oneRate
          metrics("scaling_efficiency") = eff
          line(s"scaling efficiency ${fmt(eff)} = ${fmt(offRate)} rows/s " +
            s"on ${a.cores} cores / (${a.cores} x ${fmt(oneRate)} rows/s " +
            "on 1 core)")
      }
    }

    val calAfter = graft.Calibration.measure(1)
    line(s"calibration cpu probe ${fmt(calBefore)} s before, " +
      s"${fmt(calAfter)} s after (reference ${graft.Calibration.ref} s)")
    if (a.trace) metrics("calibration.cpu_s") = (calBefore + calAfter) / 2
    val wanted = if (a.trace) Metrics.perLayer else Metrics.endToEnd
    wanted.foreach(m => metrics.getOrElseUpdate(m.name, 0.0))
    failures.foreach(f => line(s"CHECK FAILED: $f"))
    val failed = math.min(attempted, thrown + failures.length)
    line(s"failed_ops_share ${fmt(failed.toDouble / math.max(1, attempted))} " +
      s"= $failed failed / $attempted attempted ops")
    spark.stop()

    wanted.foreach(m =>
      line(f"${m.name}%-24s ${fmt(metrics(m.name))} ${m.unit}"))
    val correct = failures.isEmpty && thrown == 0
    val body = wanted.map { m =>
      s""""${m.name}": {"value": ${fmt(metrics(m.name))}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(1, attempted)}, """ +
      s""""failed": $failed, "metrics": {$body}}""")
    if (correct) 0 else 1
  }
}
