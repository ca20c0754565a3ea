package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide SparkSession). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  private val testDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh temp directory, deleted when the current test ends, whether
    * it passes or fails. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    testDirs.add(dir)
    dir
  }

  /** Runs `body` with the given session confs set, then restores each
    * conf's earlier value (or unsets it). */
  def withSQLConf[T](confs: (String, String)*)(body: => T): T = {
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  override def withFixture(test: NoArgTest) =
    try super.withFixture(test)
    finally while (!testDirs.isEmpty) SparkSpec.deleteTree(testDirs.poll())
}

object SparkSpec {
  /** A fresh warehouse per test JVM, deleted at exit, so the managed
    * tables suites create never pile up in the working directory. */
  private def tempWarehouse(): String = {
    val dir = Files.createTempDirectory("graft-test-warehouse")
    sys.addShutdownHook(deleteTree(dir))
    dir.toString
  }

  /** Best-effort recursive delete: a streaming thread still winding down
    * may race it, and a cleanup error must not replace a test's verdict. */
  def deleteTree(dir: Path): Unit = scala.util.Try {
    if (Files.exists(dir))
      Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", tempWarehouse())
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
