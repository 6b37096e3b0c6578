package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Runs one workload and writes its result line to `<work>/result.json`.
  *
  * Set-up is the JVM's start, the session's start, input generation
  * (servers and generated inputs) [[SetupReps]] times, and one warm-up;
  * `setup_s` counts the median input generation. */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val entered = System.currentTimeMillis()
    val conf = Conf.parse(args)
    Heap.install()
    val wl: Workload = conf.workload match {
      case "ingest_wide" => new IngestWide(conf)
      case "ingest_many_types" => new IngestManyTypes(conf)
      case "query_suite" => new QuerySuite(conf)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t0 = System.nanoTime()
    val spark = Session.build(conf)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val reps = (1 to SetupReps).map { _ =>
      val t1 = System.nanoTime()
      wl.inputs(spark)
      (System.nanoTime() - t1) / 1e9
    }
    val t2 = System.nanoTime()
    wl.warmUp(spark)
    val warmS = (System.nanoTime() - t2) / 1e9
    val jvmS = (entered - conf.launchMs) / 1e3
    Log(f"set-up: JVM $jvmS%.2f s, session $sessionS%.2f s, inputs " +
      reps.map(r => f"$r%.2f").mkString(" ") + f" s, warm-up $warmS%.2f s")
    val setupS = jvmS + sessionS + Stats.median(reps) + warmS
    val out = wl.measure(spark)
    val result = if (conf.trace) out.copy(metrics = Layers.complete(out.metrics))
      else out.copy(metrics = ("setup_s" -> Metric(setupS, "s")) +: out.metrics)
    Files.write(conf.work.resolve("result.json"), result.json.getBytes(StandardCharsets.UTF_8))
    wl.close()
    spark.stop()
  }
}
