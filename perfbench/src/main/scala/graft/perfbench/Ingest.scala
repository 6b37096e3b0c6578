package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types._
import graft.operators.EventFlattener
import graft.sources.QueueBroker
import graft.streaming.EventPipeline

/** Pieces both ingest workloads share: the broker-backed source, the
  * progress log, the publisher and the traced per-batch driver. */
object Ingest {
  val Envelope: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("event_type", StringType), StructField("props", StringType)))

  /** The enrichment columns the evolving sinks reserve (EventPipeline's list). */
  val EnrichmentCols: Seq[String] =
    Seq("received_at", "sent_at", "message_id", "timestamp", "stream_batch_id")

  /** `graft-queue` records decoded into event rows. */
  def events(spark: SparkSession, broker: QueueBroker, maxRecords: Long = 0): DataFrame = {
    val r = spark.readStream.format("graft-queue")
      .option("host", broker.host).option("port", broker.port.toString)
    (if (maxRecords > 0) r.option("maxRecordsPerTrigger", maxRecords.toString) else r)
      .load()
      .select(from_json(col("value"), Envelope).as("e")).select("e.*")
  }

  /** Publishes over the broker's network protocol, one PUBBATCH per
    * call; record `i` goes to partition `i % partitions`, so each
    * partition's log holds the events in index order. */
  final class Publisher(broker: QueueBroker) extends AutoCloseable {
    private val client = new QueueBroker.Client(broker.host, broker.port)
    private var epoch = 0L
    val partitions: Int = broker.numPartitions
    def publish(from: Long, envelopes: Seq[String]): Unit = {
      epoch += 1
      client.publishBatch("pub-perfbench", epoch, 0,
        envelopes.zipWithIndex.map { case (e, k) => (((from + k) % partitions).toInt, e) })
      ()
    }
    override def close(): Unit = client.close()
  }

  /** Envelope with the given due time in `ts`. */
  def envelope(e: GenEvent, dueNanos: Long): String =
    s"""{"event_id":${e.id},"ts":$dueNanos,"event_type":"${e.eventType}","props":${EventGen.quote(e.props)}}"""

  /** One trigger's progress report. */
  final case class Trig(batchId: Long, startMs: Long, durations: Map[String, Long],
                        rows: Long, ends: Seq[Long]) {
    def ms(k: String): Double = durations.getOrElse(k, 0L).toDouble
    def commitMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  }

  /** Collects the progress Spark reports for every micro-batch. */
  final class ProgressLog(spark: SparkSession) extends StreamingQueryListener {
    import StreamingQueryListener._
    private val seen = new ConcurrentLinkedQueue[(java.util.UUID, Trig)]()
    spark.streams.addListener(this)
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val ends = p.sources.headOption.map(s => parseOffsets(s.endOffset)).getOrElse(Nil)
        seen.add((p.id, Trig(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows, ends)))
      }
      ()
    }
    def of(q: StreamingQuery): Vector[Trig] = {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      seen.asScala.collect { case (id, t) if id == q.id => t }.toVector.sortBy(_.batchId)
    }
    def close(): Unit = spark.streams.removeListener(this)
  }

  def parseOffsets(json: String): Seq[Long] =
    Option(json).toSeq.flatMap(_.trim.stripPrefix("[").stripSuffix("]").split(","))
      .filter(_.trim.nonEmpty).map(_.trim.toLong)

  /** Records consumed so far by a running query (sum of its end offsets). */
  def consumed(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(_.sources.headOption)
      .map(s => parseOffsets(s.endOffset).sum).getOrElse(0L)

  /** The traced driver: the same per-batch sequence as the evolving
    * pipeline's prelude, with a span around each public call. `sink`
    * receives the enriched batch and its present types. */
  def tracedBatch(tracer: Tracer, means: Means, jsonCol: String = "props")
                 (sink: (DataFrame, Seq[String], Long) => Unit)
                 (batch: DataFrame, batchId: Long): Unit =
    tracer.span("trigger", traceId = batchId) {
      val (valid, types) = tracer.span("prelude") {
        val v = batch.filter(col("event_type").isNotNull && length(col("event_type")) > 0)
          .persist()
        (v, v.select(col("event_type")).distinct().collect().map(_.getString(0)).toSeq)
      }
      try if (types.nonEmpty) {
        val keep = valid.columns.filterNot(_ == jsonCol).toSeq
        val opts = EventFlattener.Options(
          reserved = EventFlattener.defaultReserved ++ keep ++ EnrichmentCols)
        val schema = tracer.span("flatten.infer") {
          EventFlattener.inferStructure(valid, jsonCol, opts)
        }
        val flat = tracer.span("flatten.stats") {
          EventFlattener.flattenWithSchema(valid, jsonCol, schema, keep, opts)
        }
        means.add("flatten.leaf_cols" -> (flat.columns.length - keep.size).toDouble)
        val enriched = tracer.span("enrich") {
          EventPipeline.enrich(flat, EventFlattener.defaultTransform)
            .withColumn("stream_batch_id", lit(batchId))
        }.persist()
        try sink(enriched, types, batchId)
        finally { enriched.unpersist(); () }
      } finally { valid.unpersist(); () }
    }

  /** Per-trigger layer metrics of a traced ingest run. */
  def layerMetrics(trigs: Seq[Trig], tracer: Tracer, tl: TraceListeners,
                   m: Means): Seq[(String, Metric)] = {
    tl.drain()
    val spans = tracer.all
    val byTrace = spans.groupBy(_.traceId)
    val self = Tracer.selfTimes(spans)
    trigs.foreach { t =>
      byTrace.get(t.batchId).foreach { ss =>
        def named(n: String) = ss.filter(_.name == n)
        def ms(n: String) = named(n).map(_.durNs).sum / 1e6
        def work(n: String) = tl.work.of(named(n).map(_.id))
        val all = tl.work.of(ss.map(_.id))
        val root = named("trigger").head
        m.add("trigger.planning_ms" -> t.ms("queryPlanning"),
          "trigger.add_batch_ms" -> t.ms("addBatch"), "trigger.wal_commit_ms" -> t.ms("walCommit"),
          "trigger.commit_offsets_ms" -> t.ms("commitOffsets"),
          "trigger.jobs" -> all.jobs.toDouble, "trigger.tasks" -> all.tasks.toDouble,
          "trigger.self_ms" -> self(root.id) / 1e6,
          "prelude.types_collect_ms" -> ms("prelude"),
          "source.latest_offset_ms" -> t.ms("latestOffset"), "source.get_batch_ms" -> t.ms("getBatch"),
          "source.rows_per_trigger" -> t.rows.toDouble,
          "flatten.infer_ms" -> ms("flatten.infer"), "flatten.stats_ms" -> ms("flatten.stats"),
          "flatten.jobs" -> (work("flatten.infer").jobs + work("flatten.stats").jobs).toDouble,
          "enrich.ms" -> ms("enrich"),
          "route.write_ms" -> ms("route.write"), "route.jobs" -> work("route.write").jobs.toDouble,
          "route.bytes_written" -> work("route.write").bytesWritten.toDouble,
          "sink.append_ms" -> ms("sink.append"), "sink.jobs" -> work("sink.append").jobs.toDouble,
          "sink.rows_inserted" -> work("sink.append").recordsWritten.toDouble,
          "spark.executor_run_ms" -> all.runMs.toDouble, "spark.executor_cpu_ms" -> all.cpuNs / 1e6,
          "spark.gc_ms" -> all.gcMs.toDouble, "spark.shuffle_read_bytes" -> all.shuffleRead.toDouble,
          "spark.shuffle_write_bytes" -> all.shuffleWrite.toDouble,
          "spark.spill_bytes" -> all.spill.toDouble, "spark.driver_gap_ms" -> Tracer.driverGapMs(root, all))
        m.unit()
      }
    }
    Seq("trigger.planning_ms", "trigger.add_batch_ms", "trigger.wal_commit_ms",
      "trigger.commit_offsets_ms", "prelude.types_collect_ms", "trigger.self_ms",
      "source.latest_offset_ms", "source.get_batch_ms", "flatten.infer_ms", "flatten.stats_ms",
      "enrich.ms", "route.write_ms", "sink.append_ms", "spark.executor_run_ms",
      "spark.executor_cpu_ms", "spark.gc_ms", "spark.driver_gap_ms")
      .map(k => k -> Metric(m.mean(k), "ms")) ++
      Seq("trigger.jobs", "trigger.tasks", "source.rows_per_trigger", "flatten.jobs",
        "flatten.leaf_cols", "route.jobs", "route.files_written", "sink.jobs",
        "sink.types_per_trigger", "sink.rows_inserted")
        .map(k => k -> Metric(m.mean(k), "count")) ++
      Seq("route.bytes_written", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
        "spark.spill_bytes").map(k => k -> Metric(m.mean(k), "bytes")) :+
      ("trigger.count" -> Metric(m.count.toDouble, "count"))
  }

  def eventIds(rows: Map[String, Seq[Row]]): Map[String, Seq[Long]] =
    rows.map { case (t, rs) => t -> rs.map(_.getAs[Long]("event_id")) }

  def distinctMessageIds(rows: Seq[Row]): Int = rows.map(_.getAs[String]("message_id")).distinct.size

  /** Lost, duplicated and misrouted events, from the event ids each
    * type's table holds against the ids the generator sent to it. */
  def deliveryFailures(expected: Map[String, Set[Long]],
                       stored: Map[String, Seq[Long]]): Long = {
    val lost = expected.map { case (t, ids) =>
      (ids -- stored.getOrElse(t, Nil)).size.toLong }.sum
    val dup = stored.values.map(ids => (ids.size - ids.distinct.size).toLong).sum
    val misrouted = stored.map { case (t, ids) =>
      ids.distinct.count(id => !expected.getOrElse(t, Set.empty[Long]).contains(id)).toLong }.sum
    lost + dup + misrouted
  }

  /** Does a stored value equal the generated leaf? Timestamps compare as
    * instants; a widened column compares by string form. */
  def sameValue(stored: Any, want: Any): Boolean = (stored, want) match {
    case (null, _) => false
    case (ts: java.sql.Timestamp, w: java.time.Instant) => ts.toInstant == w
    case (s: String, w) if !w.isInstanceOf[String] => s == String.valueOf(w)
    case (a: java.lang.Number, b: java.lang.Number) => a.doubleValue == b.doubleValue
    case (a, b) => a == b
  }

  /** Rows of a sample of event ids that do not match the generator. */
  def sampleMismatches(rows: Seq[Row], gen: Long => GenEvent): Seq[String] =
    rows.flatMap { r =>
      val e = gen(r.getAs[Long]("event_id"))
      e.leaves.collect {
        case (k, v) if !r.schema.fieldNames.contains(k) || !sameValue(r.getAs[Any](k), v) =>
          s"event ${e.id} ${e.eventType}.$k: stored ${
            if (r.schema.fieldNames.contains(k)) r.getAs[Any](k) else "<missing>"} want $v"
      }
    }

}
