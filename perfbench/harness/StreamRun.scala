package perfbench

import scala.jdk.CollectionConverters._

import graft.Tables
import graft.sources.Sources
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Starts one of the paper's streaming pipelines on a file directory and
  * keeps it running until the load generator closes stdin. Latency and
  * throughput are computed afterwards from the checkpoint and the sink, so
  * the untraced run registers no listener; a traced run adds the
  * benchmark's SparkListener and StreamingQueryListener. */
object StreamRun {

  def start(spark: SparkSession, workload: String, opts: Map[String, String]): StreamingQuery = {
    val (in, sink, ckpt) = (opts("in"), opts("sink"), opts("ckpt"))
    workload match {
      case "demo1_etl_stream" => graft.tools.Demo1.build(spark, in, sink, ckpt)
      case "demo2_late_panes_stream" =>
        import spark.implicits._
        Streams.appendToParquet(Streams.latePanes(demo2Input(spark, in).as[Streams.Msg]).toDF(),
          sink, ckpt)
      case "demo2_window_count_stream" =>
        Streams.appendToParquet(Streams.demo2WindowedCounts(demo2Input(spark, in)), sink, ckpt)
      case w => throw new IllegalArgumentException(s"unknown stream workload $w")
    }
  }

  /** Demo2's typed input: well-formed wire rows as (event_time, user_id). */
  private def demo2Input(spark: SparkSession, in: String): DataFrame =
    Sources.fileStream(spark, in, Tables.wireSchema)
      .select(timestamp_seconds(col("event_time")).as("event_time"), col("user_id"))
      .filter(col("event_time").isNotNull && col("user_id").isNotNull)

  private def progressMap(p: StreamingQueryProgress): Map[String, Any] = Map(
    "batch_id" -> p.batchId,
    "timestamp" -> p.timestamp,
    "input_rows" -> p.numInputRows,
    "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
    "watermark" -> Option(p.eventTime.get("watermark")),
    "state" -> p.stateOperators.toSeq.map { s =>
      Map("rows_total" -> s.numRowsTotal, "rows_updated" -> s.numRowsUpdated,
        "rows_removed" -> s.numRowsRemoved, "memory_bytes" -> s.memoryUsedBytes,
        "commit_ms" -> s.commitTimeMs, "dropped_by_watermark" -> s.numRowsDroppedByWatermark,
        "custom" -> Option(s.customMetrics).map(_.asScala.map { case (k, v) => k -> v.longValue }.toMap)
          .getOrElse(Map.empty))
    })

  def run(opts: Map[String, String], gc: GcWatch): Map[String, Any] = {
    val workload = opts("workload")
    val spark = Harness.session(opts, stateStore = workload.startsWith("demo2"))
    val sc = spark.sparkContext
    val traced = opts("trace") == "1"
    val tracer = new Tracer(traced, opts("run_id"))
    val listener = new LayerListener(tracer)
    val streamSpan = tracer.nextId()
    val progress = new ProgressListener(tracer, streamSpan)
    if (traced) {
      sc.addSparkListener(listener)
      spark.streams.addListener(progress)
      LayerListener.mark(sc, "stream", streamSpan)
    }
    val t0 = Harness.epochNanos()
    val q = start(spark, workload, opts)
    Harness.ready()
    val gc0 = gc.gcMs
    // The generator closes stdin once every file it wrote is committed.
    while (System.in.read() != -1) {}
    q.stop()
    tracer.add(Span(streamSpan, "stream", 0, t0, Harness.epochNanos()))
    if (traced) LayerListener.drain(sc)
    val out = Map(
      "exception" -> q.exception.map(_.toString.take(500)),
      "progress" -> q.recentProgress.toSeq.map(progressMap),
      "gc_ms_run" -> (gc.gcMs - gc0),
      "phases" -> listener.byPhase.asScala.map { case (k, s) => k -> s.toMap }.toMap,
      "spans" -> tracer.toJson)
    spark.stop()
    out
  }
}
