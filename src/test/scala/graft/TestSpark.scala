package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Test/fork gives one JVM). */
object TestSpark {
  lazy val spark: SparkSession = Tables.localSession("graft-test", "4")
  val sfDir = "/root/testdata/sf0.001"

  /** Mix into a suite for `tempDir(prefix)`: a fresh temporary directory
    * that is deleted, with everything in it, in the suite's `afterAll`.
    */
  trait TempDirs extends org.scalatest.BeforeAndAfterAll { this: org.scalatest.Suite =>
    private val made = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

    def tempDir(prefix: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
      made.add(dir)
      dir.getAbsolutePath
    }

    override def afterAll(): Unit =
      try super.afterAll()
      finally made.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
  }
}
