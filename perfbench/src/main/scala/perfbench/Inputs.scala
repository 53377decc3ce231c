package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Synth, Turn}

/** Seeded input generators. Every input is a pure function of its seed
  * and size, and is written fresh under the run's own scratch root.
  */
object Inputs {

  val HourMs: Long = 3600L * 1000L
  val DayMs: Long = 24L * HourMs

  /** How far after its original a planted duplicate lands: a day plus
    * an hour, so the original is always published by an earlier cycle.
    */
  val DupShiftMs: Long = DayMs + HourMs

  /** A grok-conformant content line (starts with its ISO timestamp);
    * headers, continuations and garbage lines are not content.
    */
  def isContent(text: String): Boolean =
    text != null && text.nonEmpty && Character.isDigit(text.charAt(0))

  /** Seeded choice of roughly `permille` / 1000 of the keys. */
  def picked(seed: Long, convId: String, turnIdx: Int,
      permille: Int): Boolean =
    Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(
      s"$seed|$convId|$turnIdx"), 1000) < permille

  /** The polling table: Synth's transcripts for `nConvs` conversations
    * (`Synth.turns`: one conversation a minute from Synth's epoch, every
    * thousandth one hot), plus a copy of about `dupPermille` / 1000 of
    * their content turns under conversation `dup-<id>`, with the same
    * text and turn index, [[DupShiftMs]] later.
    */
  def pollingTable(spark: SparkSession, seed: Long, nConvs: Long,
      dupPermille: Int): Dataset[Turn] = {
    import spark.implicits._
    val base = Synth.turns(spark, seed, nConvs)
    val dups = base
      .filter(t => isContent(t.text) &&
        picked(seed, t.conv_id, t.turn_idx, dupPermille))
      .map(t => t.copy(conv_id = "dup-" + t.conv_id,
        ts = new Timestamp(t.ts.getTime + DupShiftMs)))
    base.union(dups)
  }

  /** Write turns as a day-partitioned table (the layout Synth.writeTable
    * uses).
    */
  def writeTurns(turns: Dataset[Turn], path: String): Unit =
    turns.withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .repartition(col("day"))
      .write.mode("overwrite").partitionBy("day").parquet(path)

  /** Words of the document corpus: 4000 distinct tokens, so fresh
    * documents share almost no 3-shingles.
    */
  private def word(i: Int): String = {
    val cons = "bcdfghjklmnprstvz"
    val vows = "aeiou"
    val sb = new StringBuilder
    var x = i
    do {
      sb += cons(x % cons.length); x /= cons.length
      sb += vows(x % vows.length); x /= vows.length
    } while (x > 0)
    sb.toString
  }
  private val Vocab = 4000

  /** Document kinds, planted by seed. */
  val Fresh = 0
  val ExactCopy = 1
  val NearCopy = 2

  /** Seeded corpus of `n` documents (doc_id 0..n-1, text, kind). About
    * `exactPct` % are exact copies of an earlier document (upper-cased
    * and re-spaced, which normalization undoes) and `nearPct` % are near
    * copies (two tokens replaced). Built on the driver: the corpus is
    * small and each text depends on earlier ones.
    */
  def documents(spark: SparkSession, seed: Long, n: Int, exactPct: Int,
      nearPct: Int): DataFrame = {
    import spark.implicits._
    val texts = new Array[String](n)
    val kinds = new Array[Int](n)
    for (i <- 0 until n) {
      val rng = new java.util.Random(seed * 1000003L + i)
      val r = rng.nextInt(100)
      if (i > 0 && r < exactPct) {
        texts(i) = "  " + texts(rng.nextInt(i)).toUpperCase
          .replace(" ", "   ")
        kinds(i) = ExactCopy
      } else if (i > 0 && r < exactPct + nearPct) {
        val toks = texts(rng.nextInt(i)).trim.toLowerCase.split("\\s+")
        for (_ <- 0 until 2)
          toks(rng.nextInt(toks.length)) = word(rng.nextInt(Vocab))
        texts(i) = toks.mkString(" ")
        kinds(i) = NearCopy
      } else {
        texts(i) = Seq.fill(40 + rng.nextInt(41))(word(rng.nextInt(Vocab)))
          .mkString(" ")
        kinds(i) = Fresh
      }
    }
    (0 until n).map(i => (i.toLong, texts(i), kinds(i)))
      .toDF("doc_id", "text", "kind")
  }

  /** Order-independent digest of a frame's rows: row count plus the sum
    * of a 64-bit hash of every row.
    */
  def digest(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*)
      .cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }
}
