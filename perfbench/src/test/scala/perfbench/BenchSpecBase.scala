package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One local session per suite, with scratch dirs under target/. */
abstract class BenchSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val work: String = {
    Files.createDirectories(Paths.get("target"))
    Files.createTempDirectory(Paths.get("target"), getClass.getSimpleName)
      .toAbsolutePath.toString
  }
  lazy val spark: SparkSession = Bench.session(2, work)

  override def afterAll(): Unit = {
    spark.stop()
    val root = Paths.get(work)
    Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
  }
}
