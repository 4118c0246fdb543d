package graft

import graft.store.{JArr, JNum, JObj, JStr}
import org.scalatest.funsuite.AnyFunSuite

class ProfileSpec extends AnyFunSuite {
  import SparkTestBase._

  test("Profile: one rep reports every key; --plans names each query's scan") {
    import spark.implicits._
    // a small documents table (doc_id, text, lang, source, n_chars) is all
    // these queries read
    val dir = tmpDir("graft-profile-sf")
    (0L until 500L).map(i => (i, s"text $i", if (i % 3 == 0) "en" else "de", "web", 5L + i * 37 % 600))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    SparkEntry.warm(spark, dir)
    val plans = tmpDir("graft-profile-plans")
    // p4_point gathers one row id through ColumnStore.read, decoded on the
    // driver into a local relation; the DSv2 query plans a BatchScan
    for ((q, scan) <- Seq("p4_point" -> "LocalTableScan", "dsv2_scan_pushdown" -> "BatchScan graft")) {
      val o = Profile.query(spark, dir, 4, q, reps = 1, plansDir = Some(plans))
      Seq("query", "reps", "wall_s", "wall_s_reps", "steal", "ext", "util", "jobs", "stages",
        "tasks", "meta_ops", "chunks_read", "chunks_filter_skipped", "job_trace")
        .foreach(k => assert(o.fields.contains(k), s"missing $k in ${o.render}"))
      assert(o("query") == JStr(q))
      def num(k: String): BigDecimal = o(k).asInstanceOf[JNum].v
      assert(num("jobs") > 0 && num("tasks") > 0 && num("chunks_read") > 0, o.render)
      val trace = o("job_trace").asInstanceOf[JArr].items
      assert(trace.nonEmpty && trace.forall {
        case j: JObj => Seq("job", "desc", "ms").forall(j.fields.contains)
        case _ => false
      }, o.render)
      val plan = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(plans, s"$q.txt")), "UTF-8")
      assert(plan.contains(scan), plan)
    }
  }
}
