package perfbench

import org.apache.spark.sql.functions._

class OperatorsSpec extends BenchSpecBase {

  test("the operator set is the 36 queries no workload reaches") {
    assert(Operators.names.length == 36)
    assert(Operators.names.toSet == Operators.Pinned.keySet)
  }

  test("the operators check passes on the tables and fails on a changed row") {
    val dir = s"$work/operators"
    Operators.tables(spark, dir)
    val qs = Seq("d02_token_count", "e01_cosine_topk")
    assert(Operators.check(spark, dir, qs).isEmpty)
    // one document loses its last word
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("text", when(col("doc_id") === 7,
        regexp_replace(col("text"), " [a-z]+$", "")).otherwise(col("text")))
      .cache()
    docs.count()
    docs.coalesce(1).write.parquet(s"$dir/changed/documents.parquet")
    Workload.delete(spark, s"$dir/documents.parquet")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/changed/documents.parquet"),
      new org.apache.hadoop.fs.Path(s"$dir/documents.parquet"))
    val fails = Operators.check(spark, dir, qs)
    assert(fails.length == 1 && fails.head.startsWith("query d02_token_count"))
    docs.unpersist()
  }
}
