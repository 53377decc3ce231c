package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.ops.Dedup

/** The committed-batch store, table-driven: the same gate and fold cases
  * run over every lineage-gated namespace, plus the guard that keeps the
  * `batch=` layout in the store's file alone.
  */
class BatchStoreSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val scratch = graft.TestDirs.temp("batchstore").toString

  override def afterAll(): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))

  private val cid = "0123456789abcdef0123456789abcdef"

  /** Every namespace gated on committed lineage batches, by the path
    * function the engine itself resolves it with.
    */
  private val namespaces: Seq[(String, String => String)] = Seq(
    "sink" -> (root => s"$root/user"),
    "archive" -> (root => s"$root/archive"),
    "_consumed" -> (root => s"$root/_consumed"),
    "_deferred" -> (root => Sinks.deferredDir(root, cid)),
    "_redriven" -> (root => Sinks.redrivenDir(root, cid)),
    "_violations" -> (root => Sinks.violationsDir(root, cid)),
    "_fingerprints" -> (root => Sinks.fingerprintsDir(root, cid)),
    "_pairs" -> (root => Dedup.pairsDir(root, "corpus")),
    "_bands" -> (root => Dedup.bandsDir(root, "corpus")))

  private def rows(ids: String*): DataFrame =
    ids.map(id => (id, 0)).toDF("conv_id", "turn_idx")

  private def keys(df: Option[DataFrame]): Seq[String] =
    df.toSeq.flatMap(_.collect().map(_.getString(0))).sorted

  /** A fresh store holding committed batches a, b and an orphan. */
  private def seeded(name: String, dirOf: String => String): BatchStore = {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(scratch), name.stripPrefix("_")).toString
    val store = BatchStore(dirOf(root))
    store.write(rows("a1", "a2"), "a")
    store.write(rows("b1"), "b")
    store.write(rows("o1"), "orphan")
    store
  }

  private val committed = Set("a", "b")

  for ((name, dirOf) <- namespaces) {
    test(s"$name: committed dirs are read, orphans are invisible, " +
        "compacted- survivors are read") {
      val store = seeded(name, dirOf)
      assert(keys(store.read(spark, committed)) == Seq("a1", "a2", "b1"))
      assert(store.read(spark, Set.empty).isEmpty,
        "nothing committed: no readable dir")
      store.write(rows("c1"), "compacted-1")
      assert(keys(store.read(spark, committed)) ==
        Seq("a1", "a2", "b1", "c1"),
        "a fold survivor is readable without a lineage entry")
    }

    test(s"$name: the fold deletes exactly the pre-listed dirs and the " +
        "orphans") {
      val store = seeded(name, dirOf)
      val (dirs, orphans) =
        BatchStore.partitionCommitted(store.list(spark), committed)
      assert(dirs.map(BatchStore.idOf).sorted == Seq("a", "b") &&
        orphans.map(BatchStore.idOf) == Seq("orphan"))
      // a batch landing after the listing is not the fold's to delete
      store.write(rows("l1"), "late")
      store.fold(spark, dirs, orphans)(ds => spark.read.parquet(ds: _*))
      val left = store.list(spark).map(BatchStore.idOf)
      assert(left.count(_.startsWith("compacted-")) == 1 &&
        left.filterNot(_.startsWith("compacted-")) == Seq("late"),
        s"one snapshot plus the unlisted batch, got $left")
      assert(keys(store.read(spark, committed + "late")) ==
        Seq("a1", "a2", "b1", "l1"))
      // the threshold entry point folds through the same body
      assert(!store.compact(spark, committed + "late", maxDirs = 64))
      assert(store.compact(spark, committed + "late", maxDirs = 1))
      assert(store.list(spark).map(BatchStore.idOf)
        .forall(_.startsWith("compacted-")))
      assert(keys(store.read(spark, Set.empty)) == Seq("a1", "a2", "b1", "l1"))
    }

    test(s"$name: a crash between the snapshot write and the deletes only " +
        "duplicates rows") {
      val store = seeded(name, dirOf)
      val dirs = store.committedDirs(spark, committed)
      // a dir whose delete throws stands in for the crash: it is first
      // in line, so the snapshot is written and no input is deleted
      val crash = "unreachable-scheme:/crash"
      intercept[java.io.IOException] {
        store.fold(spark, crash +: dirs, Nil)(_ =>
          spark.read.parquet(dirs: _*))
      }
      assert(store.list(spark).length == 4, "snapshot next to every input")
      val after = keys(store.read(spark, committed))
      assert(after == Seq("a1", "a1", "a2", "a2", "b1", "b1"))
      assert(after.distinct == Seq("a1", "a2", "b1"),
        "the committed set is unchanged")
    }
  }

  test("the batch= layout is written only by BatchStore") {
    val base = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(base).iterator().asScala
      .toSeq.filter(_.toString.endsWith(".scala"))
    val hits = files.flatMap { f =>
      code(java.nio.file.Files.readString(f)).split("\n").zipWithIndex
        .collect { case (line, i) if line.contains("batch=") =>
          s"${base.relativize(f)}:${i + 1}" }
    }
    val owner = "graft/pipeline/BatchStore.scala:"
    val (own, outside) = hits.partition(_.startsWith(owner))
    assert(own.nonEmpty, "the scanner must see the store's own literal")
    assert(outside.isEmpty, s"`batch=` in code outside the store: $outside")
  }

  /** `src` with its comments blanked (line comments and nested block
    * comments; newlines kept so line numbers hold). String and char
    * literals are copied as they are, so comment markers inside one are
    * not taken for a comment.
    */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    var depth = 0
    def at(s: String) = src.startsWith(s, i)
    def copyTo(j: Int): Unit = { out ++= src.substring(i, j); i = j }
    while (i < src.length) {
      if (depth > 0) {
        if (at("/*")) { depth += 1; i += 2 }
        else if (at("*/")) { depth -= 1; i += 2 }
        else { if (src(i) == '\n') out += '\n'; i += 1 }
      } else if (at("/*")) { depth = 1; i += 2 }
      else if (at("//")) { while (i < src.length && src(i) != '\n') i += 1 }
      else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        copyTo(if (end < 0) src.length else end + 3)
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        copyTo(math.min(j + 1, src.length))
      } else if (at("'\\")) copyTo(math.max(src.indexOf('\'', i + 3), i) + 1)
      else if (src(i) == '\'' && i + 2 < src.length && src(i + 2) == '\'')
        copyTo(i + 3)
      else { out += src(i); i += 1 }
    }
    out.toString
  }
}
