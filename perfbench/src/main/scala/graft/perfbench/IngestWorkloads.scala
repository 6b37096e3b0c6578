package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.SchemaEvolution
import graft.sources.{JdbcEventSink, NetWarehouse, QueueBroker}
import graft.streaming.EventPipeline

import Ingest._

/** `ingest_wide`: a backlog of wide nested events drained with
  * AvailableNow and a fixed `maxRecordsPerTrigger`, through
  * `EventPipeline.startEvolving` into per-type parquet tables. The
  * backlog is `seconds` × [[IngestWide.NominalRate]] events, so a run
  * drains a fixed amount of work that takes about `seconds` here. */
final class IngestWide(conf: Conf) extends Workload {
  import IngestWide._
  private val total: Long =
    math.max(1L, conf.seconds * NominalRate / MaxRecords) * MaxRecords
  private var expected: Map[String, Set[Long]] = Map.empty
  private val brokers = mutable.ArrayBuffer[QueueBroker]()

  private def backlog(ids: scala.collection.immutable.NumericRange[Long]): QueueBroker = {
    val b = new QueueBroker(conf.cpus)
    brokers += b
    val pub = new Publisher(b)
    val due = Clock.now()
    try ids.grouped(5000).foreach { g =>
      pub.publish(g.head, g.map(i => envelope(EventGen.Wide.event(conf.seed, i), due)))
    } finally pub.close()
    b
  }

  private def drainPlain(spark: SparkSession, broker: QueueBroker, name: String): StreamingQuery =
    EventPipeline.startEvolving(spark,
      EventPipeline.FrameEventSource(events(spark, broker, MaxRecords)),
      EventPipeline.Config(inputDir = "", outputDir = conf.dir(s"$name-out"),
        checkpointDir = conf.dir(s"$name-ck")), "props", availableNow = true)

  private var main: QueueBroker = _
  private var traced: QueueBroker = _
  private var again: QueueBroker = _

  override def inputs(spark: SparkSession): Unit = {
    brokers.foreach(_.close()); brokers.clear()
    main = backlog(0L until total)
    if (conf.trace) {
      traced = backlog(0L until total)
      again = backlog(0L until total)
    }
    expected = (0L until total).groupBy(i => EventGen.Wide.event(conf.seed, i).eventType)
      .map { case (t, ids) => t -> ids.toSet }
  }

  /** The same path over a separate backlog, until the per-trigger time
    * has settled. */
  override def warmUp(spark: SparkSession): Unit = {
    val warm = backlog(WarmIds)
    drainPlain(spark, warm, "warm").awaitTermination()
    warm.close()
  }

  override def measure(spark: SparkSession): Outcome = {
    val log = new ProgressLog(spark)
    Heap.arm()
    val t0 = System.nanoTime()
    val q = drainPlain(spark, main, "wide")
    q.awaitTermination()
    val drainS = (System.nanoTime() - t0) / 1e9
    val heapMb = Heap.disarmMb()
    val trigs = log.of(q)
    val lat = trigs.map(_.ms("triggerExecution"))
    val e2e = Seq(
      "throughput_per_s" -> Metric(total / drainS, "1/s"),
      "latency_p50_ms" -> Metric(Stats.hd(lat, 0.5), "ms"),
      "latency_tail_ms" -> Metric(Stats.hd(lat, TailPct / 100.0), "ms"),
      "heap_peak_mb" -> Metric(heapMb, "MB"))
    Log(f"ingest_wide: $total events in $drainS%.2f s, ${trigs.size} triggers, " +
      f"p50 ${Stats.hd(lat, 0.5)}%.0f ms (tail needs ${Stats.samplesFor(TailPct)} triggers)")
    Log("ingest_wide: trigger ms " + lat.map(_.toLong).mkString(" "))
    val verdict = new Verdict
    verdict(check(spark, conf.dir("wide-out")))
    val layer =
      if (!conf.trace) Nil
      else {
        val tracer = new Tracer(spark.sparkContext)
        val tl = new TraceListeners(spark)
        val means = new Means
        val out = conf.dir("wide-traced-out")
        val t1 = System.nanoTime()
        val tq = events(spark, traced, MaxRecords).writeStream
          .option("checkpointLocation", conf.dir("wide-traced-ck"))
          .foreachBatch(tracedBatch(tracer, means) { (enriched, types, batchId) =>
            val before = partFiles(out)
            tracer.span("route.write") {
              EventPipeline.writeEvolvedBatch(spark, enriched, types, out, batchId)
            }
            means.add("route.files_written" -> (partFiles(out) - before).toDouble)
          } _).trigger(Trigger.AvailableNow()).start()
        tq.awaitTermination()
        val tracedS = (System.nanoTime() - t1) / 1e9
        val layers = layerMetrics(log.of(tq), tracer, tl, means)
        tl.remove()
        tracer.write(conf.work.resolve("spans-ingest_wide.jsonl"))
        verdict(check(spark, out))
        // the first drain still warms the JIT; compare the traced drain
        // with an untraced one after it
        val t2 = System.nanoTime()
        drainPlain(spark, again, "wide-again").awaitTermination()
        val againS = (System.nanoTime() - t2) / 1e9
        verdict(check(spark, conf.dir("wide-again-out")))
        layers ++ Seq("trace.overhead_pct" -> Metric(100 * (tracedS / againS - 1), "%"))
      }
    log.close()
    val metrics = if (conf.trace) layer else e2e
    Outcome(verdict.correct, total * (if (conf.trace) 3 else 1), verdict.failed, metrics)
  }

  private def partFiles(out: String): Int = {
    val root = new java.io.File(out)
    Option(root.listFiles()).toSeq.flatten.filter(_.getName.startsWith("event_type="))
      .map(d => Option(d.listFiles()).toSeq.flatten.count(_.getName.startsWith("part-"))).sum
  }

  /** Untimed output check; returns lost + duplicated + misrouted events
    * and throws on a schema or value mismatch. */
  private def check(spark: SparkSession, out: String): Long = {
    val tables = EventGen.Wide.Types.filter(expected.contains).map { t =>
      t -> SchemaEvolution.readEvolved(spark, s"$out/event_type=$t")
    }.toMap
    val rows = tables.map { case (t, df) => t -> df.collect().toSeq } // each table read once
    val failed = deliveryFailures(expected, eventIds(rows))
    val wantCols = EventGen.Wide.WideLeaves ++ Map("event_id" -> "bigint", "ts" -> "bigint",
      "received_at" -> "timestamp", "sent_at" -> "timestamp", "message_id" -> "string",
      "timestamp" -> "timestamp", "stream_batch_id" -> "bigint")
    tables.foreach { case (t, df) =>
      val got = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
      require(got == wantCols, s"ingest_wide: table $t schema ${got.toSeq.sorted} " +
        s"!= expected ${wantCols.toSeq.sorted}")
      val distinctIds = distinctMessageIds(rows(t))
      require(distinctIds == expected(t).size,
        s"ingest_wide: table $t has $distinctIds distinct message_id, sent ${expected(t).size}")
    }
    val r = EventGen.rng(conf.seed, 0x73616d70L, 0L)
    val sample = Seq.fill(64)(r.nextLong(total)).toSet
    val bad = sampleMismatches(rows.values.flatten.filter(x => sample(x.getAs[Long]("event_id"))).toSeq,
      EventGen.Wide.event(conf.seed, _))
    require(bad.isEmpty, s"ingest_wide: sampled values differ: ${bad.take(5).mkString("; ")}")
    failed
  }

  override def close(): Unit = brokers.foreach(_.close())
}

object IngestWide {
  /** Events per trigger (the reference's TAKE_UP_TO_PER_BATCH). */
  val MaxRecords = 1500L
  /** Backlog events per second of `--seconds`: about what this path
    * drains on a 4-core host, so a run measures for about `--seconds`. */
  val NominalRate = 2400L
  /** The tail percentile: at least ten triggers lie beyond it. */
  val TailPct = 65
  private val WarmIds = 1000000000L until (1000000000L + 6 * MaxRecords)
}

/** `ingest_many_types`: an open loop at a fixed rate for `seconds`, of
  * Zipf-skewed small events with seeded schema drift, into the network
  * warehouse through `EventPipeline.startEvolvingJdbc` with the default
  * trigger. */
final class IngestManyTypes(conf: Conf) extends Workload {
  import IngestManyTypes._
  private val total: Long = conf.seconds * Rate
  private val gen = new EventGen.Many(conf.seed, total)
  private var events0: Array[GenEvent] = Array.empty
  private var expected: Map[String, Set[Long]] = Map.empty
  private val servers = mutable.ArrayBuffer[AutoCloseable]()
  private var nextDb = 0
  private def warehouse(): NetWarehouse = {
    nextDb += 1
    val w = new NetWarehouse(s"perfbench_$nextDb")
    servers += w
    w
  }

  private def broker(): QueueBroker = {
    val b = new QueueBroker(conf.cpus)
    servers += b
    b
  }

  /** Publishes `evs` at [[Rate]] events/s from `t0`, while `q` consumes;
    * returns once `q` has consumed everything (or a deadline passes). */
  private def openLoop(spark: SparkSession, evs: Array[GenEvent], log: ProgressLog,
                       start: QueueBroker => StreamingQuery): Loop = {
    val b = broker()
    val q = start(b)
    val ready = System.nanoTime() + 30L * 1000000000L
    while (q.lastProgress == null && q.status.message != "Waiting for data to arrive" &&
      System.nanoTime() < ready) Thread.sleep(5)
    val pub = new Publisher(b)
    val periodNs = 1000000000L / Rate
    val t0 = Clock.now() + 20000000L
    var i = 0
    var late = 0L
    try while (i < evs.length) {
      val now = Clock.now()
      val upTo = math.min(evs.length.toLong, math.max(0L, (now - t0) / periodNs + 1)).toInt
      if (upTo > i) {
        pub.publish(i, (i until upTo).map(k => envelope(evs(k), t0 + k * periodNs)))
        late = math.max(late, Clock.now() - (t0 + i * periodNs))
        i = upTo
      } else Thread.sleep(1)
    } finally pub.close()
    val sent = Clock.now()
    val deadline = System.nanoTime() + CatchupLimitS * 1000000000L
    while (consumed(q) < evs.length && q.isActive && System.nanoTime() < deadline)
      Thread.sleep(5)
    q.stop()
    val trigs = log.of(q)
    val lastCommit = trigs.lastOption.map(_.commitMs * 1000000L).getOrElse(sent)
    Loop(trigs, t0, late / 1e6, math.max(0L, lastCommit - (t0 + (evs.length - 1) * periodNs)) / 1e9,
      (lastCommit - t0) / 1e9, trigs.lastOption.map(_.ends.sum).getOrElse(0L))
  }

  private def plain(spark: SparkSession, url: String, name: String)(b: QueueBroker): StreamingQuery =
    EventPipeline.startEvolvingJdbc(spark, EventPipeline.FrameEventSource(events(spark, b)),
      EventPipeline.Config(inputDir = "", outputDir = conf.dir(s"$name-out"),
        checkpointDir = conf.dir(s"$name-ck")), url, availableNow = false)

  override def inputs(spark: SparkSession): Unit = {
    events0 = Array.tabulate(total.toInt)(i => gen.event(i))
    expected = events0.groupBy(_.eventType).map { case (t, es) => t -> es.map(_.id).toSet }
  }

  /** A short open loop of another seed's events into its own warehouse,
    * so the measured run starts on a warm path. */
  override def warmUp(spark: SparkSession): Unit = {
    val warmGen = new EventGen.Many(conf.seed + 1, WarmSeconds * Rate)
    val log = new ProgressLog(spark)
    openLoop(spark, Array.tabulate((WarmSeconds * Rate).toInt)(i => warmGen.event(i)), log,
      plain(spark, warehouse().url, "warm"))
    log.close()
    servers.foreach(_.close()); servers.clear()
  }

  /** Freshness of every event (commit time of its batch minus its due
    * time), paired with its batch id. Event `i` sits at offset `i / P`
    * of partition `i % P`. */
  private def freshness(l: Loop, parts: Int): Seq[(Double, Long)] = {
    val periodNs = 1000000000L / Rate
    var prev = Seq.fill(parts)(0L)
    val all = mutable.ArrayBuffer[(Double, Long)]()
    l.trigs.foreach { t =>
      (0 until parts).foreach { p =>
        (prev(p) until t.ends(p)).foreach { k =>
          val i = k * parts + p
          all += (((t.commitMs * 1000000L - (l.t0 + i * periodNs)) / 1e6, t.batchId))
        }
      }
      prev = t.ends
    }
    all.toSeq
  }

  override def measure(spark: SparkSession): Outcome = {
    val log = new ProgressLog(spark)
    val wh = warehouse()
    Heap.arm()
    val l = openLoop(spark, events0, log, plain(spark, wh.url, "many"))
    val heapMb = Heap.disarmMb()
    val fb = freshness(l, conf.cpus)
    val fresh = fb.map(_._1)
    val p50 = Stats.hd(fresh, 0.5)
    val tail = Stats.hd(fresh, TailPct / 100.0)
    val tailTrigs = fb.collect { case (f, b) if f > tail => b }.distinct.size
    Log(f"ingest_many_types: ${l.consumed}/$total events, ${l.trigs.size} triggers, " +
      f"late max ${l.lateMaxMs}%.1f ms, catch-up ${l.catchupS}%.2f s, " +
      f"freshness p50 $p50%.0f ms, p$TailPct $tail%.0f ms " +
      s"(events beyond it come from $tailTrigs triggers)")
    Log("ingest_many_types: trigger ms " + l.trigs.map(_.ms("triggerExecution").toLong).mkString(" "))
    val e2e = Seq(
      "throughput_per_s" -> Metric(l.consumed / l.wallS, "1/s"),
      "latency_p50_ms" -> Metric(p50, "ms"),
      "latency_tail_ms" -> Metric(tail, "ms"),
      "heap_peak_mb" -> Metric(heapMb, "MB"))
    val verdict = new Verdict
    verdict(check(spark, wh.url))
    val layer =
      if (!conf.trace) Nil
      else {
        val tracer = new Tracer(spark.sparkContext)
        val tl = new TraceListeners(spark)
        val means = new Means
        val twh = warehouse()
        val evolution = mutable.Map("sink.tables_created" -> 0.0,
          "sink.columns_added" -> 0.0, "sink.widen_rewrites" -> 0.0)
        def schemas(types: Seq[String]) = types.map(t =>
          t -> JdbcEventSink.tableSchema(spark, twh.url, JdbcEventSink.tableName(t))).toMap
        val tl2 = openLoop(spark, events0, log, b =>
          events(spark, b).writeStream.option("checkpointLocation", conf.dir("many-traced-ck"))
            .foreachBatch(tracedBatch(tracer, means) { (enriched, types, _) =>
              val before = schemas(types)
              tracer.span("sink.append") {
                JdbcEventSink.routeAndAppend(spark, enriched, twh.url, knownTypes = Some(types))
              }
              val after = schemas(types)
              types.foreach { t =>
                (before(t), after(t)) match {
                  case (None, _) => evolution("sink.tables_created") += 1
                  case (Some(b0), Some(a)) =>
                    evolution("sink.columns_added") += a.fieldNames.count(!b0.fieldNames.contains(_))
                    if (b0.fields.exists(f => a.fieldNames.contains(f.name) &&
                        a(f.name).dataType != f.dataType)) evolution("sink.widen_rewrites") += 1
                  case _ => ()
                }
              }
              means.add("sink.types_per_trigger" -> types.size.toDouble)
            } _).start())
        val layers = layerMetrics(tl2.trigs, tracer, tl, means)
        tl.remove()
        tracer.write(conf.work.resolve("spans-ingest_many_types.jsonl"))
        verdict(check(spark, twh.url))
        val tracedP50 = Stats.hd(freshness(tl2, conf.cpus).map(_._1), 0.5)
        // compare with an untraced loop after the traced one, as warm
        val awh = warehouse()
        val again = openLoop(spark, events0, log, plain(spark, awh.url, "many-again"))
        verdict(check(spark, awh.url))
        val againP50 = Stats.hd(freshness(again, conf.cpus).map(_._1), 0.5)
        layers ++ evolution.toSeq.sortBy(_._1).map { case (k, v) => k -> Metric(v, "count") } ++
          Seq("gen.late_max_ms" -> Metric(l.lateMaxMs, "ms"),
            "gen.catchup_s" -> Metric(l.catchupS, "s"),
            "trace.overhead_pct" -> Metric(100 * (tracedP50 / againP50 - 1), "%"))
      }
    log.close()
    val metrics = if (conf.trace) layer else e2e
    Outcome(verdict.correct, total * (if (conf.trace) 3 else 1), verdict.failed, metrics)
  }

  /** Untimed output check over the warehouse tables. */
  private def check(spark: SparkSession, url: String): Long = {
    val tables = expected.keys.toSeq.sorted.map { t =>
      t -> JdbcEventSink.readTable(spark, url, JdbcEventSink.tableName(t))
    }.toMap
    val rows = tables.map { case (t, df) => t -> df.collect().toSeq } // each table read once
    val failed = deliveryFailures(expected, eventIds(rows))
    val shared = Map("user_id" -> "bigint", "label" -> "string", "ratio" -> "double",
      "at" -> "timestamp")
    tables.foreach { case (t, df) =>
      val distinctIds = distinctMessageIds(rows(t))
      require(distinctIds == expected(t).size,
        s"ingest_many_types: table $t has $distinctIds distinct message_id, sent ${expected(t).size}")
      val got = df.schema.fields.map(f => f.name -> f).toMap
      val gained = expected(t).exists(_ >= gen.gainAt(gen.types.indexOf(t)))
      val want = shared ++ Map(s"${t}_n" -> (if (t == gen.widenType) "string" else "bigint")) ++
        (if (gained) Map(s"${t}_x" -> "bigint") else Map.empty)
      want.foreach { case (c, tpe) =>
        require(got.get(c).exists(_.dataType.simpleString == tpe),
          s"ingest_many_types: table $t column $c is ${got.get(c).map(_.dataType.simpleString)}, want $tpe")
        require(got(c).nullable, s"ingest_many_types: table $t column $c is not nullable")
      }
      // a props column of another type is that type's, or the one widened
      gen.types.foreach { o =>
        got.get(s"${o}_n").foreach { f =>
          require(f.dataType.simpleString == "bigint" ||
            (o == gen.widenType && f.dataType.simpleString == "string"),
            s"ingest_many_types: table $t column ${o}_n is ${f.dataType.simpleString}")
        }
      }
    }
    val r = EventGen.rng(conf.seed, 0x73616d70L, 0L)
    val sample = Seq.fill(64)(events0(r.nextInt(events0.length)).id).toSet
    val bad = sampleMismatches(rows.values.flatten.filter(x => sample(x.getAs[Long]("event_id"))).toSeq,
      i => events0(i.toInt))
    require(bad.isEmpty, s"ingest_many_types: sampled values differ: ${bad.take(5).mkString("; ")}")
    failed
  }

  override def close(): Unit = servers.foreach(_.close())
}

object IngestManyTypes {
  /** Result of one open-loop run. */
  final case class Loop(trigs: Vector[Trig], t0: Long, lateMaxMs: Double, catchupS: Double,
                        wallS: Double, consumed: Long)

  /** Offered load, events/s: about half of what this path drains on a
    * 4-core host. */
  val Rate = 1500L
  /** The tail percentile of event freshness, over events: a run has too
    * few triggers for ten to lie beyond any percentile of them. */
  val TailPct = 75
  val WarmSeconds = 1L
  val CatchupLimitS = 60L
}
