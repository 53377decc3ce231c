package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Per-sink aggregate metrics (SURVEY.md §2.4; north rule: "per-sink
  * aggregate counts — turns per role/tool/hour windows").
  *
  * The reference has no aggregations — event counts exist only as test
  * oracles (spec:325-339). Here they are first-class outputs.
  *
  * A cycle computes them from ONE aggregate over the routed batch, at
  * the grain [[grain]] — `(day, sink, role, tool_category, hour_start)`
  * with `max(ts)` and a row count — collected once to the driver as
  * [[Cells]]. The per-day watermarks and row counts and all three
  * metric tables roll up from those rows locally, so the tables cost no
  * shuffle of their own. The collected size is bounded by the number
  * of DISTINCT `(day, sink, role, tool_category, hour)` combinations in
  * one batch — at most 24 hours x the sink, role and tool-category
  * vocabularies per day the batch touches — never by its row count.
  *
  * [[bySinkRole]], [[bySinkToolCategory]] and [[bySinkHour]] are the
  * same tables as DataFrame functions over any routed frame (a declared
  * query and the tests use them); [[hourStart]] is the one hour bucket
  * both forms share.
  */
object Aggregate {

  /** The start of the tumbling one-hour window holding `ts` — a bucket
    * projection, still a plain groupBy key. As a grouping key it drops
    * null-ts rows from the aggregate; none reach a routed batch (the
    * discovery guards and cutoff exclude them), so [[grain]] still
    * counts every row of one.
    */
  def hourStart(ts: Column): Column = window(ts, "1 hour").getField("start")

  /** turns per (sink, role). */
  def bySinkRole(routed: DataFrame): DataFrame =
    routed.groupBy(col("sink"), col("role"))
      .agg(count(lit(1)).as("n_turns"))

  /** turns per (sink, tool_category) — null category = unmapped tool. */
  def bySinkToolCategory(routed: DataFrame): DataFrame =
    routed.groupBy(col("sink"), col("tool_category"))
      .agg(count(lit(1)).as("n_turns"))

  /** turns per (sink, hour window). */
  def bySinkHour(routed: DataFrame): DataFrame =
    routed.groupBy(col("sink"), hourStart(col("ts")).as("hour_start"))
      .agg(count(lit(1)).as("n_turns"))

  /** distinct conversations per sink — exact for correctness tests;
    * approx_count_distinct is the 100 TB-scale variant (single-pass HLL,
    * no distinct shuffle).
    */
  def convsPerSink(routed: DataFrame, approx: Boolean = false): DataFrame =
    if (approx)
      routed.groupBy(col("sink"))
        .agg(approx_count_distinct(col("conv_id")).as("n_convs"))
    else
      routed.groupBy(col("sink"))
        .agg(countDistinct(col("conv_id")).as("n_convs"))

  /** The batch's one aggregate, at the [[Cells]] grain. Lazy: the
    * caller collects it, so a traced run attributes the action (which
    * materializes the routed frame) to the cycle, not to this module.
    */
  def grain(routed: DataFrame): DataFrame =
    routed.groupBy(col("day"), col("sink"), col("role"),
        col("tool_category"), hourStart(col("ts")).as("hour_start"))
      .agg(max(col("ts")).as("max_ts"), count(lit(1)).as("n_turns"))

  /** The collected [[grain]] rows with their schema. */
  final case class Cells(schema: StructType, rows: Seq[Row]) {

    private def n(r: Row): Long = r.getLong(schema.fieldIndex("n_turns"))

    def total: Long = rows.map(n).sum

    /** (day, max ts, rows) per day — the `groupBy(day)` of the batch. */
    def byDay: Seq[(String, Timestamp, Long)] = {
      val (d, t) = (schema.fieldIndex("day"), schema.fieldIndex("max_ts"))
      rows.groupBy(_.getString(d)).toSeq.map { case (day, rs) =>
        (day, rs.map(_.getTimestamp(t)).reduce((a, b) => if (b.after(a)) b
          else a), rs.map(n).sum)
      }
    }

    /** Row counts rolled up to `keys` (null keys group like Spark's);
      * `n_turns` is the trailing column, as in the DataFrame forms.
      */
    def rollUp(keys: String*): (StructType, Seq[Row]) = {
      val idx = keys.map(schema.fieldIndex)
      val out = StructType(idx.map(schema.fields(_)) :+
        StructField("n_turns", LongType, nullable = false))
      (out, rows.groupMapReduce(r => idx.map(r.get))(n)(_ + _).toSeq
        .map { case (k, c) => Row.fromSeq(k :+ c) })
    }
  }

  /** The three metric tables under `<root>/_metrics/<batchId>/`, rolled
    * up from `cells` on the driver and written one file each: the rows
    * are already local and bounded by the grain, so a shuffle or a
    * parallel write would only add tasks.
    */
  def writeAll(spark: SparkSession, cells: Cells, root: String,
      batchId: String): Unit = {
    val base = s"$root/_metrics/$batchId"
    Seq(
      "by_sink_role" -> cells.rollUp("sink", "role"),
      "by_sink_tool_category" -> cells.rollUp("sink", "tool_category"),
      "by_sink_hour" -> cells.rollUp("sink", "hour_start")
    ).foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$base/$name")
    }
  }
}
