package perfbench

import graft.{GraftSession, SparkEntry}

/** The benchmark's JVM side. Runs one workload and writes the run record
  * (timed operations, pass times, set-up time, spans and Spark job counters
  * when traced) as JSON to `--out`; `perfbench/run.py` turns the record
  * into metrics. With `--reference DIR` it instead writes every analytic
  * query's result and digest under DIR (see `crosscheck.py`).
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1 --data DIR
  *            --scratch DIR --out FILE [--reference DIR]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = GraftSession.get("perfbench")
    val sc = spark.sparkContext
    try opts.get("reference") match {
      case Some(dir) => reference(spark, opts("data"), dir)
      case None =>
        val traced = opts("trace") == "1"
        val listener = new JobListener
        if (traced) sc.addSparkListener(listener)
        val ctx = new Ctx(spark, opts("data"), opts("seed").toLong, opts("seconds").toDouble,
          new Tracer(traced, sc), opts("scratch"))
        val result = opts("workload") match {
          case "analytic" => Analytic.run(ctx)
          case "cql-mixed" => CqlMixed.run(ctx)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        if (traced) org.apache.spark.ListenerBusDrain(sc)
        val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
        val startupMs = System.currentTimeMillis() - jvmStart -
          (System.nanoTime() - result.windowStartNs) / 1000000L
        val record = Map[String, Any](
          "workload" -> opts("workload"), "seed" -> ctx.seed, "traced" -> traced,
          "setup_s" -> startupMs / 1000.0,
          "pass_ns" -> result.passNs, "window_ns" -> result.windowNs, "ops" -> result.ops.map(_.record),
          "facts" -> result.facts,
          "jvm" -> Map("peak_rss_mb" -> Jvm.peakRssMb()),
          "meta" -> Map("spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
            "master" -> sc.master, "heap_max_bytes" -> Runtime.getRuntime.maxMemory),
          "spans" -> ctx.tracer.records,
          "jobs" -> (if (traced) listener.records else Nil))
        val out = java.nio.file.Paths.get(opts("out"))
        java.nio.file.Files.write(out, Json(record).getBytes("UTF-8"))
    } finally spark.stop()
  }

  /** Writes each analytic query's result (parquet) and digest, plus the
    * oracle SQL of the queries whose oracle reads only the base tables.
    */
  private def reference(spark: org.apache.spark.sql.SparkSession, data: String, dir: String): Unit = {
    val impls = SparkEntry.queries
    val names = Analytic.queries
    val digests = names.map { q =>
      val (df, digest) = Digest.observed(impls(q)(spark, data))
      df.write.mode("overwrite").parquet(s"$dir/$q")
      val (n, d) = digest()
      q -> Map("rows" -> n, "digest" -> d)
    }.toMap
    val oracle = SparkEntry.oracleSql.filter { case (q, sql) => names.contains(q) && !sql.contains("{FIX}") }
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "digests.json"), Json(digests).getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "oracle_sql.json"), Json(oracle).getBytes("UTF-8"))
  }
}
