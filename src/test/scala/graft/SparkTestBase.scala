package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (forked JVM, see build.sbt). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `read` must fail with the one unsupported-format error, naming `file`. */
  def assertUnsupported(file: String)(read: => Any): Unit = {
    val e = org.scalatest.Assertions.intercept[IllegalStateException](read)
    org.scalatest.Assertions.assert(
      e.getMessage.contains("unsupported graft format version") &&
        e.getMessage.contains(file), e.getMessage)
  }

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.delete()
    d.getAbsolutePath
  }
}
