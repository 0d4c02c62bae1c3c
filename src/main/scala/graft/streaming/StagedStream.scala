package graft.streaming

import graft.operators.Warehouse
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** The one runner for staged-arrival availableNow streams: a staged
  * parquet directory (the arrival files, processed in mtime order)
  * is read as a file stream `maxFilesPerTrigger` files per
  * micro-batch, the caller's sink runs the whole backlog through a
  * real `Trigger.AvailableNow` StreamExecution, and the run's
  * per-invocation state — the memory-sink view and the
  * `<checkpointBase>/<queryName>` checkpoint dir — is reclaimed in a
  * `finally`, so a failed stream leaks neither. */
object StagedStream {

  /** Run one stream to completion and return `finish(session, query
    * name)`, evaluated while the sink's output still exists.
    *
    * The stream runs in a dedicated child session whose stream
    * confs are isolated from batch work sharing the SparkContext (a
    * shared-session mutation would race concurrent entries):
    *  - `partitions` sizes state/shuffle partitioning to the
    *    micro-batch: a one-or-two-file batch gains nothing from
    *    32-way state exchanges, it just pays 32 task launches per
    *    stateful stage per batch;
    *  - `noDataBatches` enables the watermark-advance batch, needed
    *    only where an event-time timeout or an append-mode window must
    *    fire after the last data batch.
    * `schema` defaults to the staged files' own (one footer-read job);
    * a caller that already holds it saves that job. */
  def run[T](s: SparkSession, name: String, stage: String,
      maxFilesPerTrigger: Int, partitions: Int = 8,
      noDataBatches: Boolean = false, schema: Option[StructType] = None)(
      sink: (SparkSession, DataFrame) => DataStreamWriter[Row])(
      finish: (SparkSession, String) => T): T = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
      noDataBatches.toString)
    ss.conf.set("spark.sql.streaming.checkpointLocation", checkpointBase)
    val in = ss.readStream
      .schema(schema.getOrElse(ss.read.parquet(stage).schema))
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(stage)
    val qname = s"${name}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    try {
      sink(ss, in).queryName(qname).trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      finish(ss, qname)
    } finally {
      ss.catalog.dropTempView(qname)
      // an explicit checkpoint base opts out of Spark's temp
      // auto-delete, and the shutdown hook never runs on SIGKILL:
      // under the base each query checkpoints to <base>/<queryName>
      Warehouse.deleteRec(new java.io.File(checkpointBase, qname))
    }
  }

  /** [[run]] into a memory sink: `build` turns the arrival stream into
    * the streamed result, `shape` turns the sink's final table into
    * the returned DataFrame, which is localCheckpoint'ed before the
    * view is dropped (bounded: every memory-sink stream here emits a
    * small rollup/pair/digest table). */
  def toMemory(s: SparkSession, name: String, stage: String,
      maxFilesPerTrigger: Int, outputMode: String, partitions: Int = 8,
      noDataBatches: Boolean = false, schema: Option[StructType] = None)(
      build: (SparkSession, DataFrame) => DataFrame)(
      shape: DataFrame => DataFrame): DataFrame =
    run(s, name, stage, maxFilesPerTrigger, partitions, noDataBatches,
        schema)(
      (ss, in) => build(ss, in).writeStream.format("memory")
        .outputMode(outputMode))(
      (ss, qname) => shape(ss.table(qname)).localCheckpoint(true))

  /** One process-wide checkpoint base (UUID query names keep runs
    * disjoint under it), removed by a shutdown hook. Memory-backed
    * `/dev/shm` when the host offers it: every micro-batch fsyncs
    * several small offset/commit files, pure machinery for an
    * ephemeral availableNow run (a deployment points a long-lived
    * stream at durable storage for exactly-once). */
  lazy val checkpointBase: String = {
    val shm = new java.io.File("/dev/shm")
    val dir =
      if (shm.isDirectory && shm.canWrite)
        java.nio.file.Files.createTempDirectory(shm.toPath, "graft-ckpt-")
      else java.nio.file.Files.createTempDirectory("graft-ckpt-")
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => Warehouse.deleteRec(dir.toFile)))
    dir.toString
  }
}
