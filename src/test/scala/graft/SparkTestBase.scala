package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.{Outcome, TestSuite}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = Sessions.local(4)
}

/** Per-test scratch space: each test runs inside one [[Scratch.dir]],
  * so every dir a test makes with [[tempDir]] or [[tmp]] is gone when
  * the test ends, passed or failed. A suite-level fixture outlives its
  * tests and is deleted in the suite's `afterAll` instead.
  */
trait TestScratch extends TestSuite {
  @volatile private var testDir: Option[Path] = None
  private var made = 0

  override protected def withFixture(test: NoArgTest): Outcome =
    Scratch.dir("graft_test_") { d =>
      testDir = Some(d)
      try super.withFixture(test) finally testDir = None
    }

  /** A fresh empty dir `<prefix><n>` inside the running test's scratch dir. */
  protected def tempDir(prefix: String): Path = synchronized {
    val root = testDir.getOrElse(throw new IllegalStateException(
      "tempDir is for test bodies; a suite fixture deletes its own dir in afterAll"))
    made += 1
    Files.createDirectory(root.resolve(s"$prefix$made"))
  }

  /** A table path `<tempDir(prefix)>/t` that does not exist yet. */
  protected def tmp(prefix: String): String = tempDir(prefix).resolve("t").toString
}

abstract class SparkFunSuite extends AnyFunSuite with TestScratch {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sfDir = "/root/testdata/sf0.001"
}
