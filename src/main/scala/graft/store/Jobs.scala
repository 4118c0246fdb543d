package graft.store

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import scala.reflect.ClassTag

/** Names the Spark jobs the engine launches on a caller's behalf, so a job
  * listing shows `graft: index build n_chars` instead of an anonymous
  * `parquet at Index.scala`, and runs per-partition work: on the driver
  * when it is small enough to need no job at all.
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

  /** `f` of every task, in task order. When the `rows` and `bytes` the
    * tasks handle fit `Decode.driverBound` (the index's driver constants),
    * `f` runs on the calling thread, one task after another, with no Spark
    * job — the reference mutates in-process, and a job costs far more than
    * rewriting a few chunks. Otherwise one job described `graft: <what>`
    * runs one task per element. A throw reaches the caller either way.
    */
  def run[T: ClassTag, R: ClassTag](spark: SparkSession, what: String, tasks: Seq[T],
      rows: Long, bytes: Long)(f: T => R): Seq[R] = {
    val (maxRows, maxBytes) = Decode.driverBound.value
    if (tasks.isEmpty || rows <= maxRows && bytes <= maxBytes) tasks.map(f)
    else run(spark, what, spark.sparkContext.parallelize(tasks, tasks.size))((_, it) => f(it.next()))
  }

  /** `f(p, rows of partition p)` of every partition of `rdd`, in partition
    * order, in one job described `graft: <what>`: the runner for input only
    * a job can compute, such as a planned frame. `rdd` is built under the
    * description too, so the jobs planning it runs (a range sample, adaptive
    * query stages) carry it.
    */
  def run[T, R: ClassTag](spark: SparkSession, what: String, rdd: => RDD[T])(
      f: (Int, Iterator[T]) => R): Seq[R] =
    described(spark, what)(spark.sparkContext.runJob(rdd,
      (ctx: TaskContext, it: Iterator[T]) => f(ctx.partitionId(), it)).toSeq)
}
