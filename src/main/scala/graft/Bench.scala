package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev timer: `runMain graft.Bench [q1,q2,...]` times the named queries
  * (default [[headline]]) on SPARK_GRAFT_SF_DIR through a noop write (which
  * materializes every projected column, unlike a count), prints one JSON
  * line to stdout and lists each query's fastest run job by job on stderr.
  * The performance record is `perfbench/run.py`.
  */
object Bench {

  /** Headline subset: one representative per operator family — the
    * round-1 regression set, then the ANN-index / graph / tokenizer /
    * sessionization / profiling tiers (r13) and the media tiers (r14-r16).
    */
  val headline: Seq[String] = Seq(
    "q_group_pk_prefix",      // shuffle aggregation
    "q_join_multiway",        // multiway join, broadcast dims
    "q_per_partition_limit",  // bounded top-k aggregate (CqlOps.perPartitionLimit)
    "q_lww_compact",          // LWW compaction window
    "q_orderby_limit",        // top-k
    "q_dedup_exact",          // digest group-by
    "q_dedup_minhash_lsh",    // MinHash+LSH dedup (sketch + bucket join)
    "q_ann_topk",             // brute-force ANN baseline
    "q_text_fingerprint",     // text canonicalization + digest
    "q_json_extract",         // JSON path extraction
    "q_ann_ivf_sq8",          // composed persistent ANN index (train+save+append+probe)
    "q_host_pagerank",        // iterative graph analytics
    "q_bpe_encode_ids",       // trained-tokenizer codegen encode
    "q_sessionize",           // event-stream sessionization window
    "q_profile",              // one-pass column profiling
    "q_multimodal_features",  // image tier: PNG decode + pixel statistics
    "q_subtitles_parse",      // caption tier: SRT/VTT parse fan-out
    "q_multimodal_mp4",       // MP4 tier: ISO-BMFF box walk (r15)
    "q_pdf_extract",          // PDF tier: xref walk + Flate + text ops (r15)
    "q_multimodal_webp")      // WebP tier: full VP8L lossless decode (r16)

  /** The query list argument (comma-separated, default [[headline]]).
    * Unknown names are rejected here, before any session starts: a typo
    * must not surface only after the other queries have run.
    */
  def selection(arg: Option[String]): Seq[String] = {
    val names = arg.fold(headline)(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct)
    require(names.nonEmpty, "bench: no query names given")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"bench: unknown queries ${unknown.mkString(", ")}")
    names
  }

  /** Median and min seconds of a query's timed runs, and the min run's job count. */
  final case class Timing(name: String, med: Double, min: Double, jobs: Int)

  private final case class Job(id: Int, desc: String, start: Long, end: Long)
  private val Marker = "graft.Bench listener drain"

  /** Logs every job the scheduler runs, with its scheduler timestamps (ms). */
  private final class JobLog extends SparkListener {
    private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
    private var marker = -1
    private var markerEnded = false

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      if (desc.contains(Marker)) marker = e.jobId
      else jobs(e.jobId) = Job(e.jobId, desc.orElse(e.stageInfos.lastOption.map(si =>
        s"${si.name.takeWhile(_ != '\n')} [${e.stageInfos.size} stages, " +
          s"${e.stageInfos.map(_.numTasks).sum} tasks]")).getOrElse(""), e.time, -1L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (e.jobId == marker) { markerEnded = true; notifyAll() }
      else jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    }

    /** Returns and forgets the logged jobs once the bus has delivered their
      * events: it keeps order, so they precede a marker job's end. */
    def drain(sc: SparkContext): Seq[Job] = {
      synchronized { markerEnded = false }
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(null)
      synchronized {
        val deadline = System.currentTimeMillis() + 30000L
        while (!markerEnded && System.currentTimeMillis() < deadline) wait(1000L)
        try jobs.values.toVector finally jobs.clear()
      }
    }
  }

  /** One noop-sink run: wall seconds from building the plan (eager index
    * builds included) to the last job. */
  private def run(spark: SparkSession, name: String, sfDir: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** One untimed warm pass (JIT, codegen), then three timed passes in
    * rotated order — the r12 position-bias fix: in a fixed order every query
    * runs in the same JVM/GC state each pass (q_json_extract read 0.53 s
    * first-in-JVM vs 0.96 s run tenth). A failing query throws.
    */
  def timeQueries(spark: SparkSession, names: Seq[String], sfDir: String): Seq[Timing] = {
    val sc = spark.sparkContext
    val log = new JobLog
    sc.addSparkListener(log)
    try {
      names.foreach(run(spark, _, sfDir))
      log.drain(sc)
      val runs = (0 until 3).flatMap { pass =>
        // clamped so that two or three names still land in distinct slots
        val off = (pass * names.size / 3).max(pass).min(math.max(names.size - 1, 0))
        (names.drop(off) ++ names.take(off)).map { name =>
          val t0 = System.currentTimeMillis()
          val sec = run(spark, name, sfDir)
          (name, sec, t0, log.drain(sc))
        }
      }
      names.map { name =>
        val rs = runs.filter(_._1 == name).sortBy(_._2)
        val (_, best, t0, jobs) = rs.head
        System.err.println(f"[bench] $name min $best%.3f s, ${jobs.size} jobs")
        var prevEnd = t0
        jobs.sortBy(_.start).foreach { j =>
          System.err.println(f"  job ${j.id}%5d gap ${(j.start - prevEnd) / 1e3}%7.3f " +
            f"dur ${(j.end - j.start) / 1e3}%7.3f  ${j.desc.take(90)}")
          prevEnd = math.max(prevEnd, j.end)
        }
        Timing(name, rs(1)._2, best, jobs.size)
      }
    } finally sc.removeSparkListener(log)
  }

  def main(args: Array[String]): Unit = {
    require(args.length <= 1, "usage: graft.Bench [q1,q2,...]")
    val names = selection(args.headOption)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get("graft-bench")
    val ts = timeQueries(spark, names, sfDir)
    // locale-pinned: a comma decimal separator would break the JSON
    def n3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def obj(f: Timing => String) = ts.map(t => "\"" + t.name + "\":" + f(t)).mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${n3(ts.map(_.med).sum)},"unit":"sec",""" +
      s""""min":${n3(ts.map(_.min).sum)},"queries":${obj(t => n3(t.med))},""" +
      s""""queries_min":${obj(t => n3(t.min))},"queries_jobs":${obj(_.jobs.toString)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
