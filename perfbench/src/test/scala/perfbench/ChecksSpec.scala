package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class ChecksSpec extends BenchSpecBase {

  private def batchFiles(dir: String): Seq[java.nio.file.Path] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("batch=")).toSeq.sorted
      .flatMap(b => Files.list(b).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted)

  test("the polling check passes on a replay and fails on a planted fault") {
    val w = new Polling
    w.prepare(spark, s"$work/polling-data", 11L)
    w.ready(spark, s"$work/polling-run")
    w.start(spark, s"$work/polling-run")
    // two delta cycles and their polls: a hot conversation lands, the
    // second day seals and planted copies arrive
    w.step(spark)
    assert(w.planted(spark) > 0)
    assert(w.check(spark).isEmpty)

    // double publish: a committed sink file delivered a second time
    val file = batchFiles(s"${w.sinkRoot}/user").head
    val copy = file.resolveSibling("part-99999-double.parquet")
    Files.copy(file, copy)
    assert(w.check(spark).exists(_.contains("delivered more than once")))
    Files.delete(copy)
    assert(w.check(spark).isEmpty)

    // dropped row: one committed sink batch rewritten without one row
    val batch = file.getParent.toString
    val rows = spark.read.parquet(batch)
    spark.read.parquet(batch).limit(rows.count().toInt - 1)
      .write.parquet(s"$batch-tmp")
    Workload.delete(spark, batch)
    Files.move(Paths.get(s"$batch-tmp"), Paths.get(batch))
    val fails = w.check(spark)
    assert(fails.exists(_.contains("1 due rows never delivered")))
    assert(fails.exists(_.contains("_metrics totals differ")))
  }

  test("the dedup check passes on ingested batches and fails on a wrong label") {
    import org.apache.spark.sql.functions._
    val d = new DedupBatches
    d.prepare(spark, s"$work/dedup-data", 5L)
    d.ready(spark, s"$work/dedup-run")
    d.start(spark, s"$work/dedup-run")
    d.step(spark)
    assert(d.check(spark).isEmpty)
    val labels = d.finalLabels(spark).cache()
    val victim = labels.filter(!col("keep")).head().getAs[Long]("id")
    val wrong = labels.withColumn("cluster_id",
      when(col("id") === victim, col("id")).otherwise(col("cluster_id")))
    val fails = Checks.labels(wrong, d.fromScratch(spark, d.ingested - 1))
    assert(fails == Seq("1 labels not in the from-scratch resolution",
      "1 from-scratch labels missing"))
  }
}
