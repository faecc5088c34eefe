package graft.ingest

import java.util.concurrent.{ExecutionException, FutureTask}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.llm.Dedup

/** The reference's ETL service tick, end-to-end (etl_job.py:64-132,
  * SURVEY §3.1): extract (pluggable fetch, retried with linear
  * backoff) → parse JSON → transform (validate, empty-guard, rename,
  * lenient cast, tz-normalize) → within-batch fact dedup → insert-only
  * -new dim upsert → sink appends. One [[runOnce]] call = one
  * 10-minute tick of the reference's loop (dags/youbike_dag.py:135);
  * scheduling stays outside (cron / Airflow / Structured Streaming via
  * [[graft.streaming.MicroBatchIngest]], which shares the same
  * stages).
  *
  * Scale posture: the batch is map-side until the dedup shuffle on the
  * warehouse unique key; the dim upsert anti-joins against a broadcast
  * of existing keys. The tick runs as two overlapping legs: the
  * existing-key read starts on its own thread before the fetch, and
  * the fact checkpoint is built on another while the calling thread
  * builds the new-dims checkpoint and inserts it. Each sink frame is
  * counted on the job that materializes it, and freed once its sink
  * returns. The sinks are called from the calling thread, dims before
  * facts (the reference's order, etl_job.py:125-132:
  * `station_status.station_no` references `station_info`). The
  * warehouse boundary is the pluggable [[Sinks]] (JDBC in the
  * reference via loaders/Readers.appendJdbc; parquet at cluster scale;
  * in-memory collectors in EtlJobSpec).
  */
object EtlJob {

  /** Pluggable warehouse boundary. `existingDimKeys` returns a frame
    * with at least a `station_no` column (the reference's
    * `SELECT station_no FROM station_info`, etl_job.py:120-121); it
    * may be called on another thread, before the tick's fetch.
    * `insertDims` and then `appendFacts` are called in that order,
    * from the thread that runs the tick, never concurrently. */
  final case class Sinks(
    appendFacts: DataFrame => Unit,
    insertDims: DataFrame => Unit,
    existingDimKeys: () => DataFrame)

  final case class BatchResult(factsAppended: Long, dimsInserted: Long)

  /** One extract→transform→load tick. Fetch errors retry
    * `attempts`× with `backoffMs × attempt` sleeps (etl_job.py:21-23);
    * an empty or schema-broken batch fails loudly after retries, like
    * the reference's ValueError/KeyError — a silent skip would look
    * like a healthy tick to the scheduler. A failing sink or fetch
    * surfaces its own exception; every leg is joined and every
    * checkpoint freed before the tick returns or throws. */
  def runOnce(spark: SparkSession,
              fetch: () => Dataset[String],
              sinks: Sinks,
              attempts: Int = 3,
              backoffMs: Long = 2000): BatchResult = {
    // the key read (a listing or a round trip for a real warehouse)
    // overlaps the fetch and the schema-inference job
    val existingKeys = fork(sinks.existingDimKeys())
    try {
      val records = Retry.withBackoff(attempts, backoffMs)(fetch())
      val (dim, fact) = IngestBatch.transform(IngestBatch.parseJson(spark, records))
      // counted on the checkpoint job; the sink write reads the checkpoint
      val facts = fork(checkpointCounted(IngestBatch.dedupFacts(fact)))
      try {
        val (newDims, nDims) = checkpointCounted(
          IngestBatch.newDimsOnly(dim, existingKeys(), "station_no"))
        try if (nDims > 0) sinks.insertDims(newDims)
        finally Dedup.releaseCheckpoint(newDims)
        val (factFrame, nFacts) = facts()
        sinks.appendFacts(factFrame)
        BatchResult(nFacts, nDims)
      } finally settle(facts)(f => Dedup.releaseCheckpoint(f._1))
    } finally settle(existingKeys)(_ => ())
  }

  /** Eager local checkpoint of `df` with its row count observed on the
    * materialization job. The caller frees it with
    * [[Dedup.releaseCheckpoint]]. */
  private def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val obs = Observation()
    val ckpt = df.observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
    (ckpt, obs.get("n").asInstanceOf[Long])
  }

  /** Runs `body` on a new thread and returns its join. A thread made
    * here inherits the caller's SparkContext local properties (job
    * group, streaming batch id) and active session, so its jobs are
    * attributed to, and cancelled with, the caller's. The join returns
    * the value or rethrows the body's own exception, unwrapped; it
    * waits out an interrupt of the caller (restoring the flag), so no
    * leg outlives the tick. Joining again returns the same outcome. */
  private def fork[T](body: => T): () => T = {
    val task = new FutureTask[T](() => body)
    val thread = new Thread(task, "etl-tick-leg")
    thread.setDaemon(true)
    thread.start()
    () => {
      var interrupted = false
      while (thread.isAlive)
        try thread.join()
        catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread().interrupt()
      try task.get()
      catch { case e: ExecutionException => throw e.getCause }
    }
  }

  /** Joins `leg` on the way out and frees what it built. A failed leg
    * has either raised its exception already or lost to the one in
    * flight, so its failure is not raised again here. */
  private def settle[T](leg: () => T)(free: T => Unit): Unit =
    (try Some(leg()) catch { case NonFatal(_) => None }).foreach(free)
}
