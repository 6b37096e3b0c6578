package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own accounting: self time, Spark work attribution,
  * percentiles, and the generator's determinism. */
class AccountingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("self time subtracts the union of direct children, clipped to the parent") {
    val spans = Seq(
      Span(1, 0, 1, "root", 0, 100),
      Span(2, 1, 1, "a", 10, 40),
      Span(3, 1, 1, "b", 30, 60), // overlaps a: 10..60 counts once
      Span(4, 2, 1, "a.child", 15, 20),
      Span(5, 1, 1, "late", 90, 120)) // runs past the root: 90..100 counts
    val self = Tracer.selfTimes(spans)
    assert(self == Map(1L -> 40L, 2L -> 25L, 3L -> 30L, 4L -> 5L, 5L -> 30L))
  }

  test("interval union merges overlaps and ignores empty intervals") {
    assert(Tracer.union(Seq((0L, 10L), (5L, 15L), (20L, 25L), (30L, 30L))) == 20L)
    assert(Tracer.union(Nil) == 0L)
  }

  test("jobs, stages and tasks are attributed to the span that ran them") {
    val tracer = new Tracer(spark.sparkContext)
    val work = new WorkListener
    spark.sparkContext.addSparkListener(work)
    try {
      tracer.span("scan")(spark.range(0, 100, 1, 4).collect())
      // a shuffle: 4 map tasks, then 3 reduce tasks, in one job
      tracer.span("shuffle")(spark.range(0, 100, 1, 4).repartition(3).collect())
      spark.range(0, 10, 1, 2).collect() // outside any span
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val ids = tracer.all.map(s => s.name -> s.id).toMap
      val scan = work.of(Seq(ids("scan")))
      val shuffle = work.of(Seq(ids("shuffle")))
      assert((scan.jobs, scan.stages, scan.tasks) == ((1L, 1L, 4L)))
      assert((shuffle.jobs, shuffle.stages, shuffle.tasks) == ((1L, 2L, 7L)))
      assert(shuffle.shuffleWrite > 0 && shuffle.shuffleRead == shuffle.shuffleWrite)
      assert(work.of(Seq(0L)).tasks == 2L)
      assert(scan.jobIntervals.size == 1)
    } finally spark.sparkContext.removeSparkListener(work)
  }

  test("nested spans share the trace id and restore the outer span's tag") {
    val tracer = new Tracer(spark.sparkContext)
    tracer.span("outer", traceId = 7) {
      tracer.span("inner")(())
      assert(spark.sparkContext.getLocalProperty(Tracer.SpanKey) ==
        tracer.all.find(_.name == "inner").map(_.parent.toString).get)
    }
    assert(tracer.all.map(_.traceId).toSet == Set(7L))
    assert(spark.sparkContext.getLocalProperty(Tracer.SpanKey) == null)
  }

  test("quantiles interpolate, and the tail rule's sample counts") {
    val xs = (1 to 11).map(_.toDouble)
    assert(Stats.median(xs) == 6.0)
    assert(Stats.quantile(xs, 0.9) == 10.0)
    assert(Stats.quantile(Seq(1.0, 2.0), 0.5) == 1.5)
    assert(Stats.samplesFor(90) == 100 && Stats.samplesFor(65) == 29)
  }

  test("the Harrell-Davis median is the centre of a symmetric sample and moves less at a gap") {
    val xs = Seq(1.0, 2.0, 3.0, 10.0, 11.0, 12.0)
    assert(math.abs(Stats.hd(xs, 0.5) - 6.5) < 1e-9)
    assert(math.abs(Stats.hd((1 to 11).map(_.toDouble), 0.5) - 6.0) < 1e-9)
    assert(math.abs(Stats.hd(Seq(5.0), 0.6) - 5.0) < 1e-9)
    // one value crossing the gap moves the type 7 median by 3 and the
    // Harrell-Davis median by less
    val ys = xs.updated(2, 9.0)
    assert(Stats.quantile(ys, 0.5) - Stats.quantile(xs, 0.5) == 3.0)
    val moved = Stats.hd(ys, 0.5) - Stats.hd(xs, 0.5)
    assert(moved > 0 && moved < 2.5)
  }

  test("the generator makes the same events for the same seed") {
    def wide(seed: Long) = (0L until 50L).map(EventGen.Wide.event(seed, _))
    assert(wide(11) == wide(11))
    assert(wide(11).map(_.props) != wide(12).map(_.props))
    def many(seed: Long) = {
      val g = new EventGen.Many(seed, 1000)
      ((0L until 1000L).map(g.event), g.widenType, g.widenAt, g.gainAt)
    }
    assert(many(5) == many(5))
    assert(many(5)._1 != many(6)._1)
  }

  test("generated leaves match the flattened column shapes") {
    val e = EventGen.Wide.event(3, 42)
    assert(e.leaves.size == 32 && EventGen.Wide.WideLeaves.size == 32)
    assert(EventGen.Wide.WideLeaves("created_at") == "timestamp")
    assert(EventGen.Wide.WideLeaves("items_1_qty") == "bigint")
    val g = new EventGen.Many(9, 10000)
    val widened = (g.widenAt until 10000L).map(g.event).find(_.eventType == g.widenType).get
    assert(widened.leaves(s"${g.widenType}_n").isInstanceOf[String])
    val before = (0L until g.widenAt).map(g.event).find(_.eventType == g.widenType).get
    assert(before.leaves(s"${g.widenType}_n").isInstanceOf[Long])
  }

  test("BENCHMARK.json lists exactly the per-layer metrics a traced run reports") {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    val listed = root.get("per_layer").elements().asScala.map(m => Layers.Def(
      m.get("name").asText, m.get("unit").asText, m.get("better").asText)).toSeq
    assert(listed == Layers.all)
    assert(Layers.complete(Seq("trigger.jobs" -> Metric(3, "count"))).map(_._1) ==
      Layers.all.map(_.name))
  }
}
