package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** The declared queries whose operators no workload reaches: the e, m
  * and f families and the d-queries outside the exact-dedup, MinHash,
  * LSH and cluster chain the dedup workload runs (36 queries). They run
  * over tables of the TESTDATA.md schema (documents, embeddings,
  * events) generated from one fixed seed at the sf0.1 sizes, so each
  * query's output is fixed and its md5 is pinned in [[Pinned]].
  */
object Operators {

  /** d-queries inside the chain the dedup workload times. */
  private val Chain = Set("d01", "d07", "d08", "d11", "d18", "d19", "d20",
    "d21", "d23")

  val names: Seq[String] = SparkEntry.queries.keys.toSeq.sorted.filter { n =>
    val fam = n.take(1)
    Set("e", "m", "f")(fam) || (fam == "d" && !Chain(n.take(3)))
  }

  val Seed = 42L
  val Docs = 5000
  val Vectors = 2000
  val Dims = 64
  val Labels = 10
  val Events = 100000

  private val vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val langs = Seq("en", "en", "en", "de", "fr", "es", "zh")
  private val eventTypes = Seq("signup", "click", "error", "view", "purchase")

  /** Writes the three tables under `dir`, each one parquet file, as the
    * queries expect (`<dir>/<name>.parquet`).
    */
  def tables(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val docs = (0 until Docs).map { i =>
      val rng = new java.util.Random(Seed * 1000003L + i)
      // about one document in 500 repeats an earlier one word for word
      val text =
        if (i > 0 && rng.nextInt(500) == 0) {
          val src = new java.util.Random(Seed * 1000003L + rng.nextInt(i))
          Seq.fill(10 + src.nextInt(91))(vocab(src.nextInt(vocab.length)))
        } else Seq.fill(10 + rng.nextInt(91))(vocab(rng.nextInt(vocab.length)))
      val withDup = if (rng.nextInt(20) == 0) text :+ "dup" else text
      val s = withDup.mkString(" ")
      (i.toLong, s, langs(rng.nextInt(langs.length)), s"src${i % 20}",
        s.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    // random directions, labels independent of them
    val vecs = (0 until Vectors).map { i =>
      val rng = new java.util.Random(Seed * 31337L + i)
      val v = Array.fill(Dims)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat).toSeq, rng.nextInt(Labels))
    }.toDF("vec_id", "embedding", "label")
    val start = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val span = 30L * 86400L * 1000000L // microseconds in 30 days
    val events = spark.range(0L, Events.toLong, 1L, 1).select(
      col("id").as("event_id"),
      timestamp_micros(lit(start * 1000L) + col("id") * lit(span / Events) +
        pmod(xxhash64(col("id"), lit(1)), lit(span / Events))).as("ts"),
      pmod(xxhash64(col("id"), lit(2)), lit(1500L)).as("user_id"),
      element_at(typedLit(eventTypes),
        (pmod(xxhash64(col("id"), lit(3)), lit(5L)) + 1).cast("int"))
        .as("event_type"),
      (pmod(xxhash64(col("id"), lit(4)), lit(56000L)) / 100.0).as("value"),
      concat(lit("{\"k\": "),
        pmod(xxhash64(col("id"), lit(5)), lit(100L)).cast("string"),
        lit("}")).as("props"))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("documents" -> docs, "embeddings" -> vecs, "events" -> events)
      .foreach { case (n, df) =>
        val tmp = new Path(s"$dir/_$n")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = fs.listStatus(tmp).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).head
        fs.rename(part, new Path(s"$dir/$n.parquet"))
        fs.delete(tmp, true)
      }
  }

  def output(spark: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** md5 of the query's collected rows, one `Row.toString` a line, and
    * the row count.
    */
  def hash(spark: SparkSession, dir: String, name: String): String = {
    val rows = output(spark, dir, name).collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(rows.map(_.toString).mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString + s":rows=${rows.length}"
  }

  /** The queries among `qs` whose output hash on the tables under `dir`
    * differs from the pinned one.
    */
  def check(spark: SparkSession, dir: String, qs: Seq[String]): Seq[String] =
    qs.flatMap { n =>
      val h = try hash(spark, dir, n) catch { case e: Exception => s"error: $e" }
      if (Pinned.get(n).contains(h)) None
      else Some(s"query $n output $h, pinned ${Pinned.getOrElse(n, "none")}")
    }

  /** Writes the tables under `dir`, then one pass that hashes every
    * query's output against [[Pinned]] (and warms the queries up), then
    * one timed pass that writes each output to a noop sink. Returns the
    * failures and, per query, its wall seconds as `query.<name>_s`.
    */
  def run(spark: SparkSession, dir: String): (Seq[String], Map[String, Double]) = {
    tables(spark, dir)
    val failures = check(spark, dir, names)
    val secs = names.map { n =>
      val t0 = System.nanoTime()
      output(spark, dir, n).write.format("noop").mode("overwrite").save()
      s"query.${n}_s" -> (System.nanoTime() - t0) / 1e9
    }
    (failures, secs.toMap)
  }

  /** Pinned output hashes on the generated tables, checked against the
    * DuckDB oracle with `perfbench.OperatorsOracle` and
    * `tools/check_oracle.py`.
    */
  val Pinned: Map[String, String] = Map(
    "d02_token_count" -> "71be6e431cf19311f4fe07eb5216b000:rows=5000",
    "d03_quality_score" -> "54a0ed7abc153bc3c581dbdfef40bacc:rows=5000",
    "d04_langid" -> "7d2ec4020d1333090827c1452b5ead4a:rows=10",
    "d05_fingerprint" -> "fb4d13f2dfcbe3cdca669d7fb7b375ab:rows=5000",
    "d06_ngram_jaccard" -> "cb1b649c4419dd5d0784d10b6eb216bf:rows=60",
    "d09_simhash" -> "7a7c07efb15e9742ad177a065705980f:rows=200",
    "d10_rolling_fingerprint" -> "0de8c19950fa5c27f24e509b1c0a030d:rows=500",
    "d12_simhash_neardup_pairs" -> "aeb32f98ce921fb05d0d563d66f39ec7:rows=1807",
    "d13_repetition" -> "f374b252f0a5133d89b793a2eba9ef47:rows=5000",
    "d14_chunking" -> "f2a5db9578af6d50b71c246bb2b84f6f:rows=28388",
    "d15_contamination" -> "a9a584450ece8752dd7ba3cacc7f1da6:rows=4948",
    "d16_pii_census" -> "f7983b5f4c6fc4ea53bf948e23a45128:rows=5",
    "d17_stratified_sample" -> "1a2ae5493c0cd04daf3911ca80788043:rows=5",
    "d22_bpe_tokens" -> "c67514f1e1aa8c9afd9c161c05161068:rows=31",
    "d24_lm_perplexity" -> "77e335afa3d2307e508f13dbd32e21db:rows=5000",
    "e01_cosine_topk" -> "1efa4294fc9e4a7518e94a7bc99e1e46:rows=10",
    "e02_cosine_neardup" -> "010639a38b8eb6f687056921ec7f87c8:rows=16",
    "e03_lsh_buckets" -> "f261d065d60977b5e4c36416a63e5af1:rows=2000",
    "e04_ivf_assignment" -> "b242ac0b2f92076f787773a992597d99:rows=8",
    "e05_ivf_topk" -> "2b2529b23d34ddd91e90846c52e9adbe:rows=10",
    "e06_kmeans_iteration" -> "a231b0d855f0a2966fd0fefdc1e4adc3:rows=512",
    "e07_lsh_topk" -> "cc66a1fc53a1b5fd84a96a910e482bc1:rows=10",
    "e08_kmeans_converged" -> "9b3dbed9f70055d5eb68822cb90bd3d2:rows=512",
    "e09_kmeanspp_seeding" -> "1f7abcaf37151c5570ba7af21c60e3d3:rows=4",
    "e10_incremental_ivf" -> "c50608bcdb07900f25d3ca4cdfb5d610:rows=8",
    "e11_ivf_reseed" -> "5e7e4b78f093de780649e6afb64d4680:rows=4",
    "f01_rolling_hash_native" -> "b548cf3f63d6728901025163ad1218d5:rows=669",
    "m01_multimodal_features" -> "de6d87bcbf0ca48d3c22be440cd499bd:rows=3",
    "m02_image_header_decode" -> "936c7e5ff885cbc29dc76986098da592:rows=64",
    "m03_audio_header_decode" -> "fcfbfe86cf708f089dfb3d8df0ae2b76:rows=64",
    "m04_video_header_decode" -> "612dc437e213f513cc51cc71fcea64a6:rows=64",
    "m05_png_pixel_decode" -> "f0fd0845241edad09ac88363b2877f28:rows=64",
    "m06_png_thumbnail" -> "7f3f2cdf6335ca3db1390936fea19f52:rows=1024",
    "m07_pcm_sample_decode" -> "17d07d9c3e3ea19b3660ec9ce4d95c6b:rows=64",
    "m08_jpeg_pixel_decode" -> "084897cadca1e0fc76c6831a9bd200aa:rows=64",
    "m09_mp4_sample_tables" -> "6e513ed8f688a655c10fe9d4ee0b963b:rows=64")
}

/** Writes the generated tables, each operator query's output and the
  * queries' oracle SQL for `tools/check_oracle.py`, and prints the
  * output hashes [[Operators.Pinned]] holds:
  *
  *   OperatorsOracle <tables dir> <outputs dir>
  *   python3 tools/check_oracle.py <outputs dir> <tables dir>
  */
object OperatorsOracle {
  def main(args: Array[String]): Unit = {
    val Array(tables, out) = args
    val spark = Bench.session(4, out)
    Operators.tables(spark, tables)
    import scala.jdk.CollectionConverters._
    val sql = Operators.names.map(n => n -> SparkEntry.oracleSql(n))
    Operators.names.foreach(n => Operators.output(spark, tables, n)
      .write.mode("overwrite").parquet(s"$out/$n"))
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(
      new java.io.File(s"$out/oracle_sql.json"),
      sql.toMap.asJava)
    Operators.names.foreach(n =>
      println(s"""    "$n" -> "${Operators.hash(spark, tables, n)}","""))
    spark.stop()
  }
}
