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

  /** Run `body` with `Decode.driverBound` at `rows` rows and the default
    * bytes: -1 sends every index run, consult and top-N to Spark.
    */
  def driverRows[T](rows: Long)(body: => T): T =
    graft.store.Decode.driverBound.withValue((rows, graft.index.Index.DriverBytes))(body)

  /** Spark jobs started while `body` runs, with their descriptions. */
  def jobsDuring(body: => Unit): Seq[String] = {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        descs.add(Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def settle(): Unit = { // listener events are async: poll until stable
      var last = -1
      var same = 0
      var spins = 0
      while (same < 3 && spins < 50) {
        val v = descs.size
        if (v == last) same += 1 else { same = 0; last = v }
        Thread.sleep(100)
        spins += 1
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try { settle(); descs.clear(); body; settle() }
    finally sc.removeSparkListener(listener)
    descs.toArray(Array.empty[String]).toSeq
  }

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.delete()
    d.getAbsolutePath
  }
}
