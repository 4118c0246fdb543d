package graft.perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed call: `name` is `<layer>.<call>`; roots are `api.*` calls. */
final case class Span(id: Int, parent: Int, req: Int, name: String, t0: Long, t1: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def ns: Long = t1 - t0
}

/** In-memory span recorder for the single client thread. When `on` is
  * false `span` only runs its body, so the untraced run pays one branch.
  * Each root span opens a request: its id is set as a Spark local property
  * so the listener can attribute jobs and tasks to it.
  */
final class Tracer(sc: org.apache.spark.SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  var on = false
  private var nextId = 0
  private var req = -1
  private val stack = mutable.Stack.empty[Int]

  def span[T](name: String)(f: => T): T = {
    if (!on) return f
    val id = nextId
    nextId += 1
    val root = stack.isEmpty
    if (root) { req = id; sc.setLocalProperty(Tracer.ReqProp, id.toString) }
    val parent = if (root) -1 else stack.top
    stack.push(id)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      spans += Span(id, parent, req, name, t0, t1)
      if (root) sc.setLocalProperty(Tracer.ReqProp, null)
    }
  }

  def roots: Seq[Span] = spans.filter(_.parent < 0).toSeq

  /** Self time per layer: each span's duration minus its children's
    * (children of one client thread run sequentially, never overlap).
    */
  def selfNsByLayer: Map[String, Long] = {
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.ns)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => s.ns - childNs(s.id)).sum }
  }

  def writeJson(path: String): Unit = {
    val sb = new StringBuilder("[\n")
    spans.sortBy(_.id).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},""" +
        s""""name":"${s.name}","start_ns":${s.t0},"end_ns":${s.t1}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  val ReqProp = "perfbench.req"
}

/** Spark scheduling counts per traced request, from the listener bus.
  * Jobs are attributed through the request's local property; tasks through
  * their stage's job. Call-site files come from the result stage's name
  * ("collect at Index.scala:236"), which Spark takes from the innermost
  * non-Spark frame — the engine file that launched the job.
  */
final class SparkCounts extends SparkListener {
  final class Req {
    var jobs = 0
    var tasks = 0
    var runMs = 0L
    var schedMs = 0L
  }
  val byReq = new java.util.concurrent.ConcurrentHashMap[Int, Req]()
  val jobsBySite = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  private val stageReq = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  @volatile var events = 0L

  private def reqOf(id: Int): Req = byReq.computeIfAbsent(id, _ => new Req)

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val prop = Option(j.properties).flatMap(p => Option(p.getProperty(Tracer.ReqProp)))
    prop.map(_.toInt).foreach { r =>
      reqOf(r).jobs += 1
      j.stageIds.foreach(stageReq.put(_, r))
      // the result stage is named after the job's short call site
      val site = if (j.stageInfos.isEmpty) "" else j.stageInfos.maxBy(_.stageId).name
      val file = site.split(" at ").lastOption.map(_.takeWhile(_ != ':')).getOrElse("")
      jobsBySite.merge(file, 1, _ + _)
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    // tasks of untraced operations belong to no request
    if (stageReq.containsKey(t.stageId) && t.taskInfo != null && t.taskMetrics != null) {
      val q = reqOf(stageReq.get(t.stageId))
      val m = t.taskMetrics
      val i = t.taskInfo
      q.tasks += 1
      q.runMs += m.executorRunTime
      // the Spark UI's scheduler delay: wall minus executor-side work
      q.schedMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
    }
  }

  /** Wait until the listener bus has been quiet for 200 ms (max 5 s). */
  def settle(): Unit = {
    var last = -1L
    val deadline = System.nanoTime() + 5000000000L
    while (events != last && System.nanoTime() < deadline) {
      last = events
      Thread.sleep(200)
    }
  }
}
