package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Which program module submitted a Spark job, read from the innermost
  * program frame of the job's call site (`graft.*`; harness frames are
  * `perfbench.*` and never match).
  */
object Modules {
  private val Frame = """graft\.[\w.$]+\.([\w$]+)\((\w+)\.scala:\d+\)""".r

  /** (file, method) of each program frame, innermost first; lambda and
    * nested-def decorations are stripped from the method name.
    */
  def frames(callSite: String): List[(String, String)] =
    Frame.findAllMatchIn(callSite).map { m =>
      val method = m.group(1).replace("$anonfun$", "").split('$')
        .find(_.nonEmpty).getOrElse("")
      (m.group(2), method)
    }.toList

  def of(callSite: String): String = frames(callSite) match {
    case Nil => "other"
    case (file, method) :: outer => (file, method) match {
      case ("Lineage", m) if m.startsWith("commit") ||
        m.startsWith("compact") => "lineage.commit"
      case ("Lineage", _) => "lineage.read"
      case ("Discover", _) => "discover"
      case ("Aggregate", _) => "aggregate"
      case ("Sinks", "writeStaged") => "sinks"
      case ("Sinks", m) if m.contains("Fingerprints") => "fingerprint"
      case ("Sinks", "compactNamespace")
          if outer.exists(_._2.contains("Fingerprints")) => "fingerprint"
      case ("Sinks", m) if Set("writeDeferred", "compactDeferred",
        "compactViolations", "compactNamespace", "publishedKeys")(m) => "audit"
      case ("Main", "runCycle") => "route"
      case ("Main", _) => "audit"
      case _ => "other"
    }
  }
}

/** Listener for a traced run: folds each job's task metrics into the
  * module that submitted it, keeps every job's wall interval, the task
  * times of the prefix-scan stages, and, from each executed plan, its
  * shuffle exchanges and the rows and files of scans under `scanRoot`.
  * Totals are keyed "module/field"; [[snapshot]] reads them after the
  * listener bus has drained.
  */
final class Tracer(scanRoot: String) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val totals = mutable.Map[String, Long]().withDefaultValue(0L)
  private val execSite = mutable.Map[Long, String]()
  private val stageModule = mutable.Map[Int, String]()
  private val jobModule = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()
  private val prefixTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val prefixStages = mutable.ArrayBuffer[Seq[Long]]()
  private val seenPlans = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

  private def add(key: String, v: Long): Unit = totals(key) += v

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execSite(s.executionId) = s.details }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong))
    val site = exec.getOrElse(
      j.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse(""))
    val module = Modules.of(site)
    jobModule(j.jobId) = module
    jobStart(j.jobId) = j.time
    // the routed-delta action runs the fused parse/route/enrich stage
    // (the one that scans the input) and the prefix-scan stages after it
    j.stageInfos.foreach { s =>
      stageModule.getOrElseUpdate(s.stageId,
        if (module != "route") module
        else if (s.rddInfos.exists(_.name.contains("FileScan"))) "parse"
        else "prefix")
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    val m = jobModule.getOrElse(j.jobId, "other")
    val t0 = jobStart.getOrElse(j.jobId, j.time)
    intervals += (t0 -> j.time)
    add(s"$m/jobs", 1)
    add(s"$m/job_ms", j.time - t0)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    if (t.taskMetrics != null &&
      stageModule.get(t.stageId).contains("prefix"))
      prefixTasks.getOrElseUpdate(t.stageId, mutable.ArrayBuffer())
        .append(t.taskMetrics.executorRunTime)
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = s.stageInfo
      val m = stageModule.getOrElse(info.stageId, "other")
      val tm = info.taskMetrics
      if (tm != null) for (mod <- Seq(m, "all")) {
        add(s"$mod/task_ms", tm.executorRunTime)
        add(s"$mod/gc_ms", tm.jvmGCTime)
        add(s"$mod/shuffle_read", tm.shuffleReadMetrics.totalBytesRead)
        add(s"$mod/shuffle_write", tm.shuffleWriteMetrics.bytesWritten)
        add(s"$mod/spill", tm.diskBytesSpilled)
        add(s"$mod/out_bytes", tm.outputMetrics.bytesWritten)
      }
      prefixTasks.remove(info.stageId).foreach(ts => prefixStages += ts.toSeq)
    }

  /** Plan nodes reachable from an executed plan, through adaptive query
    * stages and cached relations; each node is visited once per run, so
    * a cached plan is counted by the action that builds it.
    */
  private def fresh(plan: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = foreach(p) { n =>
      if (seenPlans.add(n)) {
        out += n
        n match {
          case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
          case _ =>
        }
      }
    }
    walk(plan)
    out.toSeq
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    fresh(qe.executedPlan).foreach {
      case _: ShuffleExchangeLike => add("plan/exchanges", 1)
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(scanRoot)) =>
        add("scan/rows", s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
        add("scan/files", s.metrics.get("numFiles").map(_.value).getOrElse(0L))
      case _ =>
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Waits for every posted event, then copies the totals. */
  def snapshot(spark: SparkSession): Map[String, Long] = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    synchronized(totals.toMap)
  }

  /** Milliseconds of [a, b] during which at least one job ran. */
  def jobCoveredMs(a: Long, b: Long): Long = synchronized {
    val xs = intervals.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var end = a
    xs.foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }

  /** Task times of the prefix-scan stages completed so far, per stage. */
  def prefixStageTasks: Seq[Seq[Long]] = synchronized(prefixStages.toSeq)

  /** Stops listening once every posted event has been seen. */
  def remove(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Tracer {
  def install(spark: SparkSession, scanRoot: String): Tracer = {
    val t = new Tracer(scanRoot)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  /** Difference of two snapshots. */
  def delta(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
      .withDefaultValue(0L)
}
