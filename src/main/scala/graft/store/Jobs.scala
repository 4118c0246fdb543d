package graft.store

import org.apache.spark.sql.SparkSession

/** Names the Spark jobs the engine launches on a caller's behalf, so a job
  * listing shows `graft: index build n_chars` instead of an anonymous
  * `parquet at Index.scala`.
  */
object Jobs {
  private val DescKey = "spark.job.description"

  /** Run `body` with the job description `graft: <what>`, then restore the
    * caller's description (or its absence).
    */
  def described[T](spark: SparkSession, what: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(DescKey)
    sc.setLocalProperty(DescKey, s"graft: $what")
    try body finally sc.setLocalProperty(DescKey, prev)
  }
}
