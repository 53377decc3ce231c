package perfbench

class InputsSpec extends BenchSpecBase {

  // enough conversations that a hot one (index 0) and planted copies
  // are in the table
  private val convs = 40L

  test("the same seed gives the same input digest, another seed another") {
    def transcripts(seed: Long) = Inputs.digest(
      Inputs.pollingTable(spark, seed, convs, 30).toDF())
    def documents(seed: Long) = Inputs.digest(
      Inputs.documents(spark, seed, 400, 5, 15))
    assert(transcripts(7) == transcripts(7))
    assert(transcripts(7) != transcripts(8))
    assert(documents(7) == documents(7))
    assert(documents(7) != documents(8))
  }

  test("the transcript table plants later copies of content turns") {
    import org.apache.spark.sql.functions._
    val t = Inputs.pollingTable(spark, 3, convs, 100).toDF().cache()
    val copies = t.filter(col("conv_id").startsWith("dup-"))
    assert(copies.count() > 0)
    val joined = copies.withColumn("orig", expr("substring(conv_id, 5)"))
      .join(t.select(col("conv_id").as("orig"), col("turn_idx"),
        col("text").as("t0"), col("ts").as("ts0")), Seq("orig", "turn_idx"))
    assert(joined.count() == copies.count())
    assert(joined.filter(col("text") =!= col("t0")).count() == 0)
    assert(joined.filter(col("ts") <= col("ts0")).count() == 0)
    t.unpersist()
  }

  test("the corpus plants exact and near copies at about the asked share") {
    import org.apache.spark.sql.functions._
    val kinds = Inputs.documents(spark, 5, 2000, 5, 15).groupBy("kind")
      .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(kinds(Inputs.ExactCopy) > 50 && kinds(Inputs.ExactCopy) < 150)
    assert(kinds(Inputs.NearCopy) > 200 && kinds(Inputs.NearCopy) < 400)
  }
}
