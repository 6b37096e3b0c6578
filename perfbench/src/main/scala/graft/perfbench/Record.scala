package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkEntry}

/** Records the query subset's results: each result as parquet plus
  * `oracle_sql.json` (the layout `tools/check.py` compares against its
  * DuckDB oracles), and `hashes.tsv` with each result's row count and
  * its ordered and unordered content hashes.
  *
  * Usage: Record <data dir> <out dir> */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(data, out) = args
    val spark = GraftSession.builder(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(out))
    val lines = QuerySuite.Subset.sorted.map { n =>
      val df = SparkEntry.queries(n)(spark, data)
      val rows = df.collect()
      spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$n")
      spark.catalog.clearCache()
      Log(s"recorded $n: ${rows.length} rows")
      s"$n\t${rows.length}\t${Canon.ordered(rows)}\t${Canon.unordered(rows)}"
    }
    Files.write(Paths.get(out, "hashes.tsv"), lines.asJava, StandardCharsets.UTF_8)
    val oracle = QuerySuite.Subset.map(n => n -> SparkEntry.oracleSql(n)).toMap.asJava
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(Paths.get(out, "oracle_sql.json").toFile, oracle)
    spark.stop()
  }
}
