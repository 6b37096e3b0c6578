package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.commons.math3.special.Beta
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** Command-line settings of one benchmark run. */
final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, dataDir: Path, launchMs: Long) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  def dir(name: String): String = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d.toString
  }
}

object Conf {
  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Conf(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("data")).toAbsolutePath,
      m.get("launch-ms").map(_.toLong).getOrElse(System.currentTimeMillis()))
  }
}

/** A measured value and its unit, as printed in the result line. */
final case class Metric(value: Double, unit: String)

/** What one run reports: correctness, ops attempted and failed, metrics. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                         metrics: Seq[(String, Metric)]) {
  def json: String = {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
    val ms = metrics.map { case (k, m) => s""""$k":{"value":${num(m.value)},"unit":"${m.unit}"}""" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }
}

object Stats {
  /** Linear-interpolated quantile (the common "type 7" definition). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell-Davis estimate of quantile `q`: the mean of every order
    * statistic, weighted by a beta distribution centred on `q`. Unlike
    * [[quantile]] it does not jump when the sample has a gap at `q`, as
    * a pass's 28 distinct query times often have at their median; the
    * reported latencies use it. */
  def hd(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
      val cdf = (0 to n).map(i => Beta.regularizedBeta(i.toDouble / n, a, b))
      s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
    }

  /** Samples needed so that at least ten lie beyond percentile `p`. */
  def samplesFor(p: Int): Int = math.ceil(10.0 * 100 / (100 - p)).toInt
}

/** Largest used heap seen right after a garbage collection, while armed;
  * after full collections only, when armed with `full`. */
object Heap {
  @volatile private var armed = false
  @volatile private var fullOnly = false
  @volatile private var peak = 0L
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: javax.management.NotificationEmitter =>
      em.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (armed && n.getType ==
            com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          if (!fullOnly || info.getGcAction == "end of major GC") {
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { peak = math.max(peak, used) }
          }
        }
      }, null, null)
    case _ => ()
  }

  /** Starts tracking from a collected heap, so set-up's garbage is not
    * counted. A young collection's "after" still holds whatever garbage
    * the old generation has gathered; `full` counts only full ones, which
    * the caller then forces at the points it wants sampled. */
  def arm(full: Boolean = false): Unit = {
    System.gc()
    synchronized { peak = 0L; fullOnly = full; armed = true }
  }

  /** Collects now, so the heap's live size at this point is sampled;
    * returns the used heap after the collection, in MB. */
  def sample(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Stops tracking after one last collection, and returns the peak in MB. */
  def disarmMb(): Double = {
    System.gc()
    Thread.sleep(200) // notifications arrive on their own thread
    synchronized { armed = false; peak / 1048576.0 }
  }
}

object Session {
  /** The session users get from the shipped factory, plus only what a
    * benchmark run needs: no UI, and scratch space inside the run's
    * work directory. */
  def build(conf: Conf): SparkSession = {
    val spark = GraftSession.builder(s"local[${conf.cpus}]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", conf.dir("spark-local"))
      .config("spark.sql.warehouse.dir", conf.dir("spark-warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** One benchmark workload. `inputs` (servers and generated inputs) runs
  * once per set-up repetition and replaces the previous repetition's;
  * `warmUp` and `measure` then run once. */
trait Workload {
  def inputs(spark: SparkSession): Unit
  def warmUp(spark: SparkSession): Unit
  def measure(spark: SparkSession): Outcome
  def close(): Unit = ()
}

object Log {
  def apply(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** Per-key sums of named per-unit values, reported as means per unit. */
final class Means {
  private val sums = mutable.LinkedHashMap[String, Double]()
  private var units = 0
  def add(values: (String, Double)*): Unit = values.foreach { case (k, v) =>
    sums(k) = sums.getOrElse(k, 0.0) + v
  }
  def unit(): Unit = units += 1
  def count: Int = units
  def mean(k: String): Double = if (units == 0) 0.0 else sums.getOrElse(k, 0.0) / units
}

/** Output-check results: events or queries that failed, and checks
  * (schema, sampled values) that did not hold. */
final class Verdict {
  var failed = 0L
  var problems = 0
  def apply(check: => Long): Unit =
    try failed += check
    catch { case e: IllegalArgumentException => Log(s"check failed: ${e.getMessage}"); problems += 1 }
  def correct: Boolean = failed == 0 && problems == 0
}
