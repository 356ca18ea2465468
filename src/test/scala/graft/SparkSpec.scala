package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, one session — Spark
  * session startup is the dominant test cost).
  */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(2)
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  val sfSmoke = "/root/testdata/sf0.001"

  private val tmpDirs = new ConcurrentLinkedQueue[java.io.File]()

  /** A new temporary directory, deleted with everything in it once the
    * suite has run.
    */
  def tmpDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    tmpDirs.add(dir)
    dir.toString
  }

  override protected def afterAll(): Unit =
    try tmpDirs.forEach(FileUtils.deleteDirectory(_))
    finally super.afterAll()
}
