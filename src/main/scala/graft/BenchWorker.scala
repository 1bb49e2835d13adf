package graft

import graft.pipeline.{Extract, ExtractConf}
import graft.sources.Io
import org.apache.spark.sql.SparkSession

/** Child JVM for one `Bench` leg: extract the warm corpus once (JIT warm-up;
  * every child is a fresh JVM), then time the main corpus at
  * `local[cores]` and print exactly one line, `RATE <docs/sec>`.
  *
  * `Bench` launches it under `taskset -c 0..cores-1`, so executor threads,
  * GC and JIT all share the advertised cores, as on a real N-core executor.
  * The corpora are parquet written by `Bench` outside the timing; a run
  * covers scan → skew probe → extract (shuffle-free common path plus the
  * salted mega-doc path) → noop sink.
  *
  * Usage: BenchWorker <cores> <warmCorpus> <mainCorpus> <mainDocs>
  */
object BenchWorker {
  def main(args: Array[String]): Unit = {
    val Array(coresS, warmPath, mainPath, numDocsS) = args
    val cores = coresS.toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-worker-$cores")
      .config("spark.sql.shuffle.partitions", math.max(cores, 32).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val conf = ExtractConf(level = "medium", numPartitions = 128)
    def run(path: String): Unit =
      Extract.extractDS(spark, Io().readDocs(spark, path), conf = conf)
        .write.format("noop").mode("overwrite").save()
    run(warmPath)
    val t0 = System.nanoTime()
    run(mainPath)
    println(f"RATE ${numDocsS.toInt / ((System.nanoTime() - t0) / 1e9)}%.1f")
    spark.stop()
    sys.exit(0)
  }
}
