package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import graft.SparkEntry

/** `query_suite`: one closed-loop client runs a fixed subset of the
  * oracle-checked `SparkEntry.queries` over the committed sf0.1 tables,
  * in an order shuffled by the seed. Each query's timed action is a full
  * collect (every output column, the final ordering); its result is then
  * checked against the recorded content hash. */
final class QuerySuite(conf: Conf) extends Workload {
  import QuerySuite._
  private val dir = conf.dataDir.toString
  private var order: Seq[String] = Nil
  private lazy val expected: Map[String, Expected] =
    Expected.load(conf.dataDir.resolveSibling("expected_results.tsv"))

  override def inputs(spark: SparkSession): Unit =
    order = new scala.util.Random(conf.seed).shuffle(Subset)

  /** Touch every table and the streaming path, run every batch query of
    * the subset once, then drop what the queries cached. Without the
    * batch queries the first few timed queries of a pass still paid for
    * the JIT, whichever they were, and the pass's median followed the
    * shuffled order. */
  override def warmUp(spark: SparkSession): Unit = {
    Warmup.foreach(n => SparkEntry.queries(n)(spark, dir).collect())
    spark.catalog.clearCache()
  }

  /** Runs one query, in a span of its own when traced; returns
    * (seconds, failure). */
  private def runOne(spark: SparkSession, name: String, tracer: Option[Tracer]): (Double, Option[String]) = {
    def collect() = try Right(SparkEntry.queries(name)(spark, dir).collect())
                    catch { case e: Throwable => Left(e) }
    val t0 = System.nanoTime()
    val res = tracer.fold(collect())(_.span(name)(collect()))
    val sec = (System.nanoTime() - t0) / 1e9
    // untimed: sample the heap while the result is still held, so the
    // peak does not depend on where the collections happened to fall
    val heapMb = Heap.sample()
    spark.catalog.clearCache()
    val err = res match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      case Right(rows) => expected.get(name) match {
        case None => Some("no recorded result")
        case Some(want) => want.mismatch(rows)
      }
    }
    err.foreach(e => Log(s"query_suite: $name FAILED: $e"))
    Log(f"query_suite: $name%-26s ${sec * 1000}%8.1f ms, heap $heapMb%.0f MB")
    (sec, err)
  }

  /** Whole passes over the shuffled subset, while another pass fits in
    * the time budget (at least one). Returns each query's time, the
    * failures, and the median pass's summed query time. */
  private def passes(spark: SparkSession, tracer: Option[Tracer]): (Seq[(String, Double)], Int, Double) = {
    val t0 = System.nanoTime()
    val times = Seq.newBuilder[(String, Double)]
    var failed = 0
    var passWalls = List.empty[Double]
    var passSums = List.empty[Double]
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passWalls.isEmpty || elapsed + passWalls.head <= conf.seconds) {
      val p0 = System.nanoTime()
      val pass = order.map { n =>
        val (s, err) = runOne(spark, n, tracer)
        if (err.isDefined) failed += 1
        n -> s
      }
      times ++= pass
      passWalls ::= (System.nanoTime() - p0) / 1e9
      passSums ::= pass.map(_._2).sum
    }
    (times.result(), failed, Stats.median(passSums))
  }

  override def measure(spark: SparkSession): Outcome = {
    Heap.arm(full = true)
    val (times, failed, passS) = passes(spark, None)
    val heapMb = Heap.disarmMb()
    val secs = times.map(_._2 * 1000)
    Log(f"query_suite: ${times.size} queries in ${times.size / Subset.size} pass(es), " +
      f"pass $passS%.2f s (tail needs ${Stats.samplesFor(TailPct)} queries)")
    val e2e = Seq(
      "throughput_per_s" -> Metric(Subset.size / passS, "1/s"),
      "latency_p50_ms" -> Metric(Stats.hd(secs, 0.5), "ms"),
      "latency_tail_ms" -> Metric(Stats.hd(secs, TailPct / 100.0), "ms"),
      "heap_peak_mb" -> Metric(heapMb, "MB"))
    if (!conf.trace) Outcome(failed == 0, times.size, failed, e2e)
    else {
      val tracer = new Tracer(spark.sparkContext)
      val tl = new TraceListeners(spark)
      val (ttimes, tfailed, tpassS) = passes(spark, Some(tracer))
      tl.drain()
      val spans = tracer.all
      val fam = Map("a" -> new Means, "b" -> new Means, "c" -> new Means)
      val all = new Means
      spans.foreach { s =>
        val w = tl.work.of(Seq(s.id))
        val (fromMs, toMs) = (s.startNs / 1000000L, s.endNs / 1000000L)
        val vals = Seq("planning_ms" -> tl.phases.planningMs(fromMs, toMs),
          "jobs" -> w.jobs.toDouble, "stages" -> w.stages.toDouble, "tasks" -> w.tasks.toDouble,
          "driver_gap_ms" -> Tracer.driverGapMs(s, w),
          "streaming_starts" -> tl.streamStarts.asScala.count(t => t >= fromMs && t <= toMs).toDouble,
          "executor_run_ms" -> w.runMs.toDouble, "executor_cpu_ms" -> w.cpuNs / 1e6,
          "gc_ms" -> w.gcMs.toDouble, "shuffle_read_bytes" -> w.shuffleRead.toDouble,
          "shuffle_write_bytes" -> w.shuffleWrite.toDouble, "spill_bytes" -> w.spill.toDouble)
        Seq(all, fam(s.name.take(1))).foreach { m => m.add(vals: _*); m.unit() }
      }
      tl.remove()
      tracer.write(conf.work.resolve("spans-query_suite.jsonl"))
      // the first pass runs each query cold; compare the traced pass with
      // an untraced pass after it
      val (utimes, ufailed, upassS) = passes(spark, None)
      def unitOf(k: String) =
        if (k.endsWith("_ms")) "ms" else if (k.endsWith("_bytes")) "bytes" else "count"
      val queryKeys = Seq("planning_ms", "jobs", "stages", "tasks", "driver_gap_ms")
      val layers =
        (queryKeys :+ "streaming_starts").map(k => s"query.$k" -> Metric(all.mean(k), unitOf(k))) ++
        Seq("a", "b", "c").flatMap(f => queryKeys.map(k =>
          s"query.$f.$k" -> Metric(fam(f).mean(k), unitOf(k)))) ++
        Seq("executor_run_ms", "executor_cpu_ms", "gc_ms", "shuffle_read_bytes",
          "shuffle_write_bytes", "spill_bytes").map(k => s"spark.$k" -> Metric(all.mean(k), unitOf(k))) ++
        Seq("spark.driver_gap_ms" -> Metric(all.mean("driver_gap_ms"), "ms"),
          "trace.overhead_pct" -> Metric(100 * (tpassS / upassS - 1), "%"))
      val allFailed = failed + tfailed + ufailed
      Outcome(allFailed == 0, times.size + ttimes.size + utimes.size, allFailed, layers)
    }
  }
}

object QuerySuite {
  /** The tail percentile: at least ten queries of a pass lie beyond it. */
  val TailPct = 60

  /** The streaming queries, and a spread of the a (ingest), b (analytics)
    * and c (training-data) families that fits one pass in a run. */
  val Streaming: Seq[String] = Seq("a19_stream_compact", "b23_stream_sessions",
    "b33_streaming_rollup", "c81_streaming_ingest", "c106_index_append")
  val Subset: Seq[String] = Streaming ++ Seq(
    "a2_route_counts", "a6_schema_evolution", "a13_legacy_normalize",
    "b6_sessionize", "b14_top_k", "b7_funnel", "b12_window_funnel", "b13_retention",
    "b16_rollup", "b18_moving_sum", "b20_argmax", "b25_histogram", "b42_cohort",
    "b56_entropy", "b63_corr_matrix",
    "c1_dedup_exact", "c3_dedup_simhash", "c6_ann_topk",
    "c10_token_count", "c15_chunks", "c18_vocab", "c20_split", "c25_token_budget")

  /** Untimed warm-up queries: three outside the subset, then the
    * subset's batch queries in list order. */
  val Warmup: Seq[String] = Seq("a16_broker_roundtrip", "c9_quality", "c5_embed_neardup") ++
    Subset.filterNot(Streaming.contains)

  /** A recorded result: row count, and a content hash of the rows in
    * order ("ordered"), of the sorted rows ("unordered"), or none
    * ("rows") where even the sorted content does not reproduce. */
  final case class Expected(rows: Long, check: String, hash: String) {
    def mismatch(got: Array[Row]): Option[String] =
      if (got.length != rows) Some(s"rows ${got.length} != $rows")
      else {
        val h = check match {
          case "ordered" => Canon.ordered(got)
          case "unordered" => Canon.unordered(got)
          case _ => hash
        }
        if (h == hash) None else Some(s"$check hash $h != $hash")
      }
  }

  object Expected {
    def load(p: java.nio.file.Path): Map[String, Expected] =
      if (!Files.exists(p)) Map.empty
      else Files.readAllLines(p, StandardCharsets.UTF_8).asScala
        .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t")).map { f =>
          f(0) -> Expected(f(1).toLong, f(2), f(3))
        }.toMap
  }
}

/** Canonical text of result rows, and hashes over it. */
object Canon {
  def value(v: Any): String = v match {
    case null => "\\N"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case t: java.sql.Timestamp => t.toInstant.toString
    case other => other.toString
  }

  def row(r: Row): String = r.toSeq.map(value).mkString("\t")

  private def sha(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  def ordered(rows: Array[Row]): String = sha(rows.iterator.map(row))
  def unordered(rows: Array[Row]): String = sha(rows.map(row).sorted.iterator)
}
