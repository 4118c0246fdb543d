package graft

import graft.codec.{Chunk, ColVec, Fsst, IntVec, StrVec}
import graft.store.{Decode, FsIO, JObj, JVal, Json}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Developer profiler for the SparkEntry queries and the codecs; Bench and
  * Verify stay the measurement and correctness entry points.
  *
  * Query mode, over `$SPARK_GRAFT_SF_DIR` (required: a scale-factor
  * directory, see TESTDATA.md) at `local[$SPARK_GRAFT_CPUS]`:
  *
  *   runMain graft.Profile [--reps N] [--sample S] [--plans DIR] [--out FILE] [query ...]
  *
  * profiles the named queries (all of them, sorted, when none are named)
  * after one `SparkEntry.warm`. For each it prints one JSON object, and
  * `--out` writes them as a JSON array, one object per line:
  *  - `wall_s`: min of N reps, with that rep's `steal`/`ext`/`util`
  *    (ScaleProbe.timed) and its Spark `jobs`/`stages`/`tasks`;
  *  - `meta_ops`, `chunks_read`, `chunks_filter_skipped`: that rep's deltas
  *    of the JVM-wide FsIO and Decode counters (exact under local[*]);
  *  - `job_trace`: the last rep's jobs, each with its description (the
  *    call site when it has none) and duration.
  * `--plans DIR` then runs the query once more and writes `DIR/<query>.txt`:
  * the formatted final (post-AQE) plan of every action the query executed,
  * the query's own frame last. `--sample S` loops the query for S seconds
  * under an in-process stack sampler and adds the 40 hottest frames.
  *
  * Micro mode: `runMain graft.Profile micro fsio|encode|tokens` times FsIO
  * metadata ops against raw Hadoop and nio, text/int chunk codecs and FSST
  * table builds, or TokenGen-shaped token chunks; each codec line gives the
  * chosen codec with encode and decode ns per value.
  */
object Profile {

  def main(args: Array[String]): Unit = args.toList match {
    case List("micro", "fsio") => fsio()
    case List("micro", "encode") => encode()
    case List("micro", "tokens") => tokens()
    case other => queries(other)
  }

  private def queries(args: List[String]): Unit = {
    @annotation.tailrec
    def parse(as: List[String], flags: Map[String, String],
        names: Vector[String]): (Map[String, String], Vector[String]) = as match {
      case f :: v :: rest if f.startsWith("--") =>
        require(Set("--reps", "--sample", "--plans", "--out")(f), s"unknown flag $f")
        parse(rest, flags + (f -> v), names)
      case q :: rest =>
        require(SparkEntry.queries.contains(q), s"unknown query $q")
        parse(rest, flags, names :+ q)
      case Nil => (flags, names)
    }
    val (flags, names) = parse(args, Map("--reps" -> "3"), Vector.empty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a scale-factor directory (TESTDATA.md)"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-profile")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.warm(spark, sfDir)
    val out = (if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names).map { name =>
      val o = query(spark, sfDir, cpus, name, flags("--reps").toInt,
        flags.get("--sample").fold(0)(_.toInt), flags.get("--plans")).render
      println(o)
      o
    }
    flags.get("--out").foreach(f => Files.writeString(Paths.get(f), out.mkString("[\n", ",\n", "\n]\n")))
    spark.stop()
  }

  /** Profile one query on `spark` (see the object doc for the keys). */
  def query(spark: SparkSession, sfDir: String, cpus: Int, name: String, reps: Int,
      sampleSec: Int = 0, plansDir: Option[String] = None): JObj = {
    val fn = SparkEntry.queries(name)
    val log = new JobLog
    def counters() = Seq(FsIO.metaOps.get, Decode.chunksRead.get, Decode.chunksFilterSkipped.get)
    spark.sparkContext.addSparkListener(log)
    try {
      var best: (Double, Seq[(String, JVal)]) = (Double.MaxValue, Nil)
      val walls = (1 to reps).map { _ =>
        log.settle(); log.reset()
        val before = counters()
        val r = ScaleProbe.timed(cpus) { fn(spark, sfDir).count(); () }
        val deltas = counters().zip(before).map { case (a, b) => a - b }
        log.settle()
        if (r.sec < best._1) best = (r.sec,
          Seq("steal" -> r.steal, "ext" -> r.ext, "util" -> r.util)
            .map { case (k, v) => k -> Json.num(round(v)) } ++
          Seq("jobs", "stages", "tasks", "meta_ops", "chunks_read", "chunks_filter_skipped")
            .zip(Seq(log.jobs.get, log.stages.get, log.tasks.get) ++ deltas)
            .map { case (k, v) => k -> Json.num(v) })
        round(r.sec)
      }
      val trace = log.trace.asScala.toSeq.sortBy(_._1).map { case (id, label, ms) =>
        JObj("job" -> Json.num(id.toLong), "desc" -> Json.lift(label), "ms" -> Json.num(ms))
      }
      val sample = if (sampleSec <= 0) Nil else {
        val (passes, frames) = hotFrames(sampleSec)(fn(spark, sfDir).count())
        Seq("sample" -> JObj("seconds" -> Json.num(sampleSec.toLong),
          "passes" -> Json.num(passes.toLong),
          "frames" -> Json.lift(frames.map { case (f, n) => Seq(n, f) })))
      }
      plansDir.foreach { d =>
        val plans = plansOf(spark, log)(
          fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        Files.createDirectories(Paths.get(d))
        Files.writeString(Paths.get(d, s"$name.txt"), plans.mkString("\n"))
      }
      JObj((Seq("query" -> Json.lift(name), "reps" -> Json.num(reps.toLong),
        "wall_s" -> Json.num(round(best._1)), "wall_s_reps" -> Json.lift(walls)) ++
        best._2 ++ Seq("job_trace" -> Json.lift(trace)) ++ sample): _*)
    } finally spark.sparkContext.removeSparkListener(log)
  }

  private def round(v: Double): Double = math.rint(v * 1e4) / 1e4

  /** Job/stage/task counts and a per-job trace since the last reset. */
  private final class JobLog extends SparkFirehoseListener {
    val jobs, stages, tasks, events = new AtomicLong
    val trace = new ConcurrentLinkedQueue[(Int, String, Long)]()
    private val open = new ConcurrentHashMap[Int, (Long, String)]()
    private val sqlSites = new ConcurrentHashMap[Long, String]()

    override def onEvent(e: SparkListenerEvent): Unit = {
      e match {
        case j: SparkListenerJobStart =>
          // the description, else the call site ("<action> at File.scala:N")
          // of the job's SQL execution or, outside SQL, of its result stage
          def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
          val label = prop("spark.job.description")
            .orElse(prop("spark.sql.execution.id").flatMap(id => Option(sqlSites.get(id.toLong))))
            .orElse(j.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
            .getOrElse("?")
          open.put(j.jobId, (j.time, label))
          jobs.incrementAndGet()
        case j: SparkListenerJobEnd =>
          Option(open.remove(j.jobId)).foreach { case (t0, label) =>
            trace.add((j.jobId, label, j.time - t0)) }
        case _: SparkListenerStageCompleted => stages.incrementAndGet()
        case _: SparkListenerTaskEnd => tasks.incrementAndGet()
        case s: SparkListenerSQLExecutionStart => sqlSites.put(s.executionId, s.description)
        case s: SparkListenerSQLExecutionEnd => sqlSites.remove(s.executionId)
        case _ =>
      }
      events.incrementAndGet()
    }

    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0); trace.clear() }

    /** Listener events arrive asynchronously: wait until every started job
      * has ended and no event arrived for 100 ms (at most 10 s).
      */
    def settle(): Unit = {
      var last = -1L
      var quiet = 0
      val deadline = System.nanoTime() + 10000000000L
      while ((quiet < 4 || !open.isEmpty) && System.nanoTime() < deadline) {
        Thread.sleep(25)
        val v = events.get
        if (v == last) quiet += 1 else { quiet = 0; last = v }
      }
    }
  }

  /** The formatted final plan of every action `run` executes. */
  private def plansOf(spark: SparkSession, log: JobLog)(run: => Unit): Seq[String] = {
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(s"== $action ==\n${qe.explainString(FormattedMode)}")
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { run; log.settle() } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** Loop `pass` for `seconds` while a sampler thread tallies the top frame
    * of every runnable thread: for the main thread the top non-JDK frame
    * (query planning hot spots), elsewhere the top engine frame.
    */
  private def hotFrames(seconds: Int)(pass: => Unit): (Int, Seq[(String, Int)]) = {
    val counts = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    @volatile var run = true
    def jdk(c: String) = Seq("java.", "jdk.", "sun.", "scala.collection.").exists(c.startsWith)
    def name(f: StackTraceElement) = s"${f.getClassName}.${f.getMethodName}"
    val sampler = new Thread(() => {
      val self = Thread.currentThread()
      while (run) {
        Thread.getAllStackTraces.forEach { (t, st) =>
          if ((t ne self) && st.nonEmpty && t.getState == Thread.State.RUNNABLE) {
            val user = st.find(f => !jdk(f.getClassName))
            counts(
              if (t.getName == "main") "MAIN " + name(user.getOrElse(st.head))
              else name(st.find(f => f.getClassName.startsWith("graft.") ||
                f.getClassName.contains("zstd")).orElse(user).getOrElse(st.head))) += 1
          }
        }
        Thread.sleep(5)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val deadline = System.nanoTime() + seconds * 1000000000L
    var passes = 0
    try while (System.nanoTime() < deadline) { pass; passes += 1 }
    finally { run = false; sampler.join() }
    (passes, counts.toSeq.sortBy(-_._2).take(40))
  }

  // ---------------------------------------------------------------- micro

  private def timed(name: String, n: Int)(f: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    (0 until n).foreach(f)
    val dt = (System.nanoTime() - t0) / 1e6
    println(f"$name%-40s $n reps ${dt}%8.1f ms  (${dt * 1000 / n}%7.1f us/op)")
  }

  /** Encode then decode `vec` `n` times each: codec, bytes, ns per value. */
  private def codec(name: String, vec: ColVec, n: Int): Unit = {
    var blob = Chunk.encodeWithInfo(vec)
    val t0 = System.nanoTime()
    (1 to n).foreach(_ => blob = Chunk.encodeWithInfo(vec))
    val t1 = System.nanoTime()
    (1 to n).foreach(_ => Chunk.decode(blob._1))
    val per = n.toDouble * vec.n
    println(f"$name%-36s codec=${blob._2.codec} outer=${blob._2.outer} " +
      f"bytes=${blob._1.length}%8d encode ${(t1 - t0) / per}%8.2f ns/value " +
      f"decode ${(System.nanoTime() - t1) / per}%7.2f ns/value")
  }

  /** Chunks shaped like TokenGen's per-source token distributions, several
    * reps each, to expose rep-over-rep growth.
    */
  private def tokens(): Unit = {
    val n = 262144
    val rng = new java.util.Random(11)
    val web = Array.fill(n)(math.min(49999, math.exp(rng.nextDouble() * math.log(50000.0)).toInt))
    val code = new Array[Int](n)
    var k = 0
    while (k < n) {
      val v = rng.nextInt(256)
      val run = math.min(n - k, 1 + rng.nextInt(16))
      java.util.Arrays.fill(code, k, k + run, v)
      k += run
    }
    val books = Array.fill(n)(30000 + rng.nextInt(512))
    val synth = Array.fill(n)(42)
    val docIds = Array.tabulate(4096)(i => f"doc$i%012d")
    for (rep <- 1 to 4) {
      for ((nm, a) <- Seq(("web", web), ("code", code), ("books", books), ("synth", synth)))
        codec(s"rep$rep $nm", IntVec(a), 1)
      codec(s"rep$rep docid", StrVec(docIds), 1)
    }
  }

  private def fsio(): Unit = {
    val base = s"/tmp/graft-profile-${java.util.UUID.randomUUID().toString.take(8)}"
    FsIO.mkdirs(base)
    val payload = Array.fill[Byte](2000)(42)
    timed("FsIO.writeAtomic (2KB)", 200)(i => FsIO.writeAtomic(s"$base/f$i.bin", payload))
    timed("FsIO.readAll (2KB)", 200)(i => FsIO.readAll(s"$base/f$i.bin"))
    timed("FsIO.list (200 entries)", 50)(_ => FsIO.list(base))
    timed("FsIO.exists", 200)(i => FsIO.exists(s"$base/f$i.bin"))
    val fs = FsIO.fs(base)
    def hp(f: String) = new org.apache.hadoop.fs.Path(s"$base/$f")
    timed("hadoop create+close (2KB)", 200) { i =>
      val out = fs.create(hp(s"h$i.bin"), true)
      out.write(payload); out.close()
    }
    timed("hadoop open+readFully (2KB)", 200) { i =>
      val in = fs.open(hp(s"h$i.bin"))
      in.readFully(0, new Array[Byte](2000)); in.close()
    }
    timed("hadoop rename", 100)(i => fs.rename(hp(s"h$i.bin"), hp(s"r$i.bin")))
    val nio = Paths.get(base)
    timed("nio write (2KB)", 200)(i => Files.write(nio.resolve(s"n$i.bin"), payload))
    timed("nio read (2KB)", 200)(i => Files.readAllBytes(nio.resolve(s"n$i.bin")))
    timed("nio write+atomic move (2KB)", 200) { i =>
      Files.move(Files.write(nio.resolve(s"t$i.tmp"), payload), nio.resolve(s"m$i.bin"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    timed("nio list (800 entries)", 50) { _ =>
      val s = Files.list(nio)
      try s.count() finally s.close()
    }
    FsIO.delete(base, recursive = true)
  }

  private def encode(): Unit = {
    // documents-like text chunk: 512 rows x ~500 chars
    val rng = new java.util.Random(7)
    def word(): String = Seq.fill(3 + rng.nextInt(8))(('a' + rng.nextInt(26)).toChar).mkString
    val texts512 = Array.fill(512)(Seq.fill(80)(word()).mkString(" "))
    codec("text 512 rows (~40KB)", StrVec(texts512), 20)
    codec("text 64 rows (~5KB)", StrVec(texts512.take(64)), 100)
    val sample = texts512.mkString(" ").getBytes("UTF-8")
    timed("Fsst.buildTable 64KB sample", 20)(_ =>
      Fsst.buildTable(java.util.Arrays.copyOf(sample, math.min(sample.length, 1 << 16))))
    timed("Fsst.buildTable 5KB sample", 100)(_ =>
      Fsst.buildTable(java.util.Arrays.copyOf(sample, 5000)))
    // token-like int chunk
    val ints = Array.fill(262144)(rng.nextInt(50000))
    codec("i32 262144 values", IntVec(ints), 20)
    val longs = ints.map(_.toLong)
    timed("intStats 262144 longs", 50)(_ => Chunk.intStats(longs, 1 << 14))
  }
}
