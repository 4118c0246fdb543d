package graft.streaming

import graft.api.Columns
import graft.codec.CodecConfig
import graft.store.OrderMode
import org.apache.spark.sql.DataFrame

/** Structured Streaming ingestion into a graft store — the foreachBatch
  * variant. The NATIVE sink (`df.writeStream.format("graft")`,
  * [[graft.sources.GraftStreamingWrite]]) is the first-class path; this
  * one remains for callers that need an OrderMode/CodecConfig per batch or
  * extra per-batch logic inside the same exactly-once envelope.
  *
  * The reference is batch-only (SURVEY.md §2.6), but a training-data
  * pipeline tails its corpus: `readStream → transform → writeStream
  * .foreachBatch(StreamingIngest.sink(store))`. Each micro-batch appends
  * one segment whose lineage records the batch id, giving EXACTLY-ONCE
  * appends on top of Spark's at-least-once batch replay:
  *
  *  - a replayed batch whose lineage already committed is skipped;
  *  - a batch that died mid-write left an uncommitted segment, and the
  *    replay resumes into it, skipping complete partitions via their
  *    manifest checkpoints (the same resume path as batch appends).
  */
object StreamingIngest {

  /** Lineage key = (query id, batch id). The query id is stable across
    * RESTARTS of the same checkpoint (that is what makes replayed batches
    * skippable) but differs between distinct queries and after a checkpoint
    * reset — a bare batchId would make a second stream into the same store
    * silently drop its batches 0..N as "already committed".
    */
  def lineageFor(queryId: String, batchId: Long): String =
    s"stream-batch:$queryId:$batchId"

  /** The streaming query id from the execution thread's local property
    * (set by StreamExecution for the foreachBatch body); empty for direct
    * non-streaming invocations (tests).
    */
  private def activeQueryId(df: DataFrame): String =
    Option(df.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .getOrElse("")

  /** foreachBatch sink function. */
  def sink(c: Columns, order: OrderMode = graft.store.AsIs,
      cfg: CodecConfig = CodecConfig.default): (DataFrame, Long) => Unit = {
    (df: DataFrame, batchId: Long) =>
      val lineage = lineageFor(activeQueryId(df), batchId)
      val committed = c.store.segments.exists(c.store.segmentCommit(_).lineage == lineage)
      if (!committed) c.append(df, order, lineage, cfg)
  }
}
