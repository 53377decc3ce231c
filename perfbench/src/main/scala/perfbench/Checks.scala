package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import graft.pipeline.{Lineage, Route, Sinks}

/** Output checks. Each returns the list of failures; empty means the
  * output is correct. They run after the timed section.
  */
object Checks {

  private val keySchema = StructType(Seq(
    StructField("batch", StringType), StructField("sink", StringType),
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType)))

  /** Every sink a cycle publishes to. */
  val sinks: Seq[String] = Route.sinkNames :+ Route.duplicateSink

  /** (batch, sink, conv_id, turn_idx) of every row in a committed batch
    * dir of any sink, plus the committed `_deferred` manifests as sink
    * `_deferred`. One lineage read serves the whole snapshot.
    */
  def delivered(spark: SparkSession, root: String,
      checkpointId: String): DataFrame = {
    val committed = Lineage.committedBatchesAt(spark, Lineage.path(root))
    val dirs = (sinks.map(s => s"$root/$s") :+
        Sinks.deferredDir(root, checkpointId))
      .flatMap(d => Sinks.partitionCommitted(Sinks.batchDirs(spark, d),
        committed)._1)
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], keySchema)
    else spark.read.parquet(dirs: _*)
      .select(
        regexp_extract(input_file_name(), "/batch=([^/]+)/[^/]+$", 1)
          .as("batch"),
        regexp_extract(input_file_name(), "/([^/]+)/batch=[^/]+/[^/]+$", 1)
          .as("sink"),
        col("conv_id"), col("turn_idx"))
      .withColumn("sink", when(col("sink") === checkpointId,
        lit("_deferred")).otherwise(col("sink")))
  }

  /** Polling: every input row due by the final clock (ts <= asOf -
    * cutoff) is delivered exactly once across the committed sinks,
    * `duplicate` and `_deferred`, no other row is delivered, and each
    * committed batch's `_metrics` per-sink totals equal the rows that
    * batch published to each sink.
    */
  def polling(spark: SparkSession, root: String, checkpointId: String,
      input: DataFrame, finalAsOf: Timestamp,
      cutoffSeconds: Int): Seq[String] = {
    val due = input
      .filter(col("ts") <= lit(
        new Timestamp(finalAsOf.getTime - cutoffSeconds * 1000L)))
      .select("conv_id", "turn_idx")
    val rows = delivered(spark, root, checkpointId).cache()
    try {
      // one outer join of the due keys with the delivery counts answers
      // all three key questions in one pass
      val keys = rows.groupBy("conv_id", "turn_idx")
        .agg(count(lit(1)).as("n"))
        .join(due.withColumn("due", lit(true)), Seq("conv_id", "turn_idx"),
          "full_outer")
        .agg(sum(when(col("n") > 1, 1).otherwise(0)),
          sum(when(col("n").isNull, 1).otherwise(0)),
          sum(when(col("due").isNull, 1).otherwise(0)))
        .head()
      val Seq(twice, missing, extra) = (0 until 3).map(i =>
        Option(keys.get(i)).map(_.toString.toLong).getOrElse(0L))
      val published = rows.filter(col("sink") =!= "_deferred")
        .groupBy("batch", "sink").agg(count(lit(1)).as("n"))
      val metrics = spark.read.parquet(s"$root/_metrics/*/by_sink_role")
        .select(regexp_extract(input_file_name(),
          "/_metrics/([^/]+)/by_sink_role/", 1).as("batch"),
          col("sink"), col("n_turns"))
        .join(published.select("batch").distinct(), Seq("batch"), "left_semi")
        .groupBy("batch", "sink").agg(sum("n_turns").as("m"))
      val unreconciled = published.join(metrics, Seq("batch", "sink"),
          "full_outer")
        .filter(!(col("n") <=> col("m"))).count()
      Seq(
        (twice != 0) -> s"$twice rows delivered more than once",
        (missing != 0) -> s"$missing due rows never delivered",
        (extra != 0) -> s"$extra delivered rows were not due",
        (unreconciled != 0) ->
          s"$unreconciled (batch, sink) _metrics totals differ from the sinks"
      ).collect { case (true, msg) => msg }
    } finally rows.unpersist()
  }

  /** Dedup: the labels (id, cluster_id) equal the expected ones. */
  def labels(got: DataFrame, expected: DataFrame): Seq[String] = {
    val g = got.select(col("id"), col("cluster_id"))
    val e = expected.select(col("id"), col("cluster_id"))
    val extra = g.except(e).count()
    val missing = e.except(g).count()
    Seq(
      (extra != 0) -> s"$extra labels not in the from-scratch resolution",
      (missing != 0) -> s"$missing from-scratch labels missing"
    ).collect { case (true, msg) => msg }
  }
}
