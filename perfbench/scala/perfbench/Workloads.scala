package perfbench

import graft.{SparkEntry, Tables}
import graft.operators.{Mp4, Multimodal, Pdf, Png, Subtitles, Webp}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One timed operation: a query run, a CQL statement, flush or compact.
  * `got` is the digest of what the program returned and `expect` the
  * digest it should have returned, when the JVM knows it (CQL reads;
  * analytic digests are checked against `reference.json` by run.py).
  */
final case class Op(kind: String, cls: String, pass: Int, ns: Long, trace: Int,
                    rows: Long = -1L, got: String = null, expect: String = null,
                    error: String = null, allocBytes: Long = -1L,
                    segments: Int = -1) {
  def record: Map[String, Any] = Map("kind" -> kind, "cls" -> cls, "pass" -> pass,
    "ns" -> ns, "trace" -> trace, "rows" -> rows, "got" -> Option(got),
    "expect" -> Option(expect), "error" -> Option(error), "alloc_bytes" -> allocBytes,
    "segments" -> segments)
}

/** What a workload hands back: its timed ops, the time of each pass, the
  * timed window (every timed op, passes and all), and facts about its
  * inputs.
  */
final case class Result(ops: Seq[Op], passNs: Seq[Long], windowStartNs: Long,
                        windowNs: Long, facts: Map[String, Any])

/** The timed window: a fixed number of passes for the run's `seconds`.
  * The count is `seconds` over the workload's nominal pass time on a
  * 4-vCPU VM, rounded down, and at least `minPasses`. It does not depend on
  * how fast this run goes, so every run with the same `seconds` does the
  * same work; a pass count that followed the clock would flip between runs
  * as the host speeds up and slows down. Returns each pass's duration.
  */
object Loop {
  def passes(seconds: Double, nominalPassS: Double, minPasses: Int)(pass: Int => Unit): Seq[Long] =
    (0 until math.max(minPasses, (seconds / nominalPassS).toInt)).map { i =>
      val p0 = System.nanoTime()
      pass(i)
      System.nanoTime() - p0
    }
}

final class Ctx(val spark: SparkSession, val dataDir: String, val seed: Long,
                val seconds: Double, val tracer: Tracer, val scratch: String) {
  def traced: Boolean = tracer.enabled
}

object Digest {
  /** `df` with an observation that yields its order-insensitive digest once
    * an action has run it: row count plus two sums of per-row hashes over
    * the columns in name order (the canonical form of
    * `scripts/oracle_check.py`: columns sorted by name, rows unordered).
    * The observation rides the action's own jobs, so every timed query run
    * checks its own result without a second execution.
    */
  def observed(df: DataFrame): (DataFrame, () => (Long, String)) = {
    val cols = df.columns.sorted.map(c => df.col(s"`$c`"))
    val js = to_json(struct(cols: _*))
    val obs = org.apache.spark.sql.Observation()
    val out = df.observe(obs, count(lit(1)).as("n"), sum(xxhash64(js)).as("a"),
      sum(hash(js).cast("long")).as("b"))
    (out, () => {
      val m = obs.get
      val n = m("n").asInstanceOf[Long]
      (n, s"$n:${Option(m("a")).getOrElse(0)}:${Option(m("b")).getOrElse(0)}")
    })
  }

  /** Order-insensitive digest of collected rows (CQL reads). */
  def ofRows(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    s"${rows.size}:" + md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }
}

/** analytic: twenty headline queries, each materialized through the noop
  * sink with its result digest observed. An untimed warm pass, then timed
  * passes, one query at a time (see [[Loop]]). The seed rotates the query
  * order of every pass.
  */
object Analytic {
  /** Catalyst planning, jobs, stages and shuffle, little per-row work. */
  val relational: Seq[String] = Seq("q_group_pk_prefix", "q_join_multiway",
    "q_per_partition_limit", "q_lww_compact", "q_orderby_limit", "q_dedup_exact",
    "q_json_extract", "q_host_pagerank", "q_sessionize", "q_profile")
  /** Per-row kernels in mapPartitions: decoders, tokenizer, sketches, ANN. */
  val mediaText: Seq[String] = Seq("q_multimodal_features", "q_multimodal_webp",
    "q_multimodal_mp4", "q_pdf_extract", "q_subtitles_parse", "q_text_fingerprint",
    "q_bpe_encode_ids", "q_dedup_minhash_lsh", "q_ann_topk", "q_ann_ivf_sq8")

  val queries: Seq[String] = relational ++ mediaText

  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] = {
    val k = Math.floorMod(seed + pass, names.size.toLong).toInt
    names.drop(k) ++ names.take(k)
  }

  def run(ctx: Ctx): Result = {
    import ctx._
    val names = queries
    val impls = SparkEntry.queries
    /** One query run through the noop sink, with its result digest observed
      * on the same jobs: (rows, digest), or the error it threw. */
    def execute(q: String): Either[String, (Long, String)] =
      try tracer.span("query", root = true) {
        val built = tracer.span("query.build") { impls(q)(spark, dataDir) }
        val (df, digest) = Digest.observed(built)
        if (traced) tracer.span("catalyst.plan") { df.queryExecution.executedPlan }
        tracer.span("sink.write") { df.write.format("noop").mode("overwrite").save() }
        Right(digest())
      } catch { case NonFatal(e) => Left(e.toString) }
    // untimed warm-up: one pass on the client thread, like the timed passes;
    // its results are not checked (every timed run checks its own)
    val warmNs = order(names, seed, -1).map { q =>
      val t0 = System.nanoTime()
      execute(q)
      q -> (System.nanoTime() - t0)
    }.toMap
    val ops = ArrayBuffer.empty[Op]
    val jvm0 = Jvm.snapshot()
    val start = System.nanoTime()
    val passes = Loop.passes(seconds, nominalPassS = 15.0, minPasses = 1) { pass =>
      for (q <- order(names, seed, pass)) {
        val a0 = if (traced) Jvm.allocatedBytes() else 0L
        val t0 = System.nanoTime()
        val out = execute(q)
        val ns = System.nanoTime() - t0
        val alloc = if (traced) Jvm.allocatedBytes() - a0 else -1L
        ops += Op(q, "query", pass, ns, tracer.lastTrace, rows = out.map(_._1).getOrElse(-1L),
          got = out.map(_._2).toOption.orNull, error = out.left.toOption.orNull,
          allocBytes = alloc)
      }
    }
    val windowNs = System.nanoTime() - start
    val facts = Jvm.since(jvm0) ++ Map[String, Any]("queries" -> names,
      "warm_ns" -> warmNs,
      "tables" -> Tables.all.map(t => t -> Map("partitions" ->
        Tables(spark, dataDir, t).rdd.getNumPartitions)).toMap) ++
      (if (traced) Map("codecs" -> Codecs.measure(ctx)) else Map.empty)
    Result(ops.toSeq, passes, start, windowNs, facts)
  }
}

/** Single-thread loops over graft's codec entry points, on payloads planted
  * by the `*FromDocuments` helpers and collected to the driver. Traced
  * analytic runs only.
  */
object Codecs {
  private val Sample = 48

  def measure(ctx: Ctx): Map[String, Any] = {
    import ctx._
    import spark.implicits._
    val docs = Tables(spark, dataDir, "documents").filter(col("doc_id") < Sample)
    def bytes(ds: org.apache.spark.sql.Dataset[Multimodal.MediaItem]): Seq[Array[Byte]] =
      ds.map(_.payload).collect().toSeq
    val png = bytes(Multimodal.mediaFromDocuments(spark, docs))
    // the ids q_multimodal_webp decodes: the others plant lossy VP8, which
    // graft reads for metadata only
    val webp = bytes(Webp.webpFromDocuments(spark,
      docs.filter(pmod(col("doc_id"), lit(11)) =!= 5 && pmod(col("doc_id"), lit(11)) =!= 7)))
    val mp4 = bytes(Mp4.mp4FromDocuments(spark, docs))
    val pdf = Pdf.pdfFromDocuments(spark, docs).map(_.payload).collect().toSeq
    val subs = Subtitles.subtitlesFromDocuments(spark, docs).collect().toSeq
      .map(s => (s.media_id, s.payload))
    /** ns and bytes of a single-thread loop over `items` lasting at least
      * 0.3 s; a payload the codec rejects ends the loop with `error`. */
    def loop[T](name: String, items: Seq[T], size: T => Long)(f: T => Any): Map[String, Any] =
      tracer.span(s"codec.$name", root = true) {
        var n = 0L; var b = 0L
        val t0 = System.nanoTime()
        val error = try {
          while (n == 0 || System.nanoTime() - t0 < 300000000L) {
            items.foreach { it => f(it); b += size(it) }
            n += 1
          }
          None
        } catch { case NonFatal(e) => Some(e.toString) }
        val ns = System.nanoTime() - t0
        Map("payloads" -> items.size, "payload_bytes" -> items.map(size).sum,
          "loops" -> n, "ns" -> ns, "bytes" -> b, "error" -> error)
      }
    val arr = (a: Array[Byte]) => a.length.toLong
    Map(
      "png" -> loop("png", png, arr)(Png.decode),
      "webp" -> loop("webp", webp, arr)(Webp.decodeImage),
      "mp4" -> loop("mp4", mp4, arr)(Mp4.parse),
      "pdf" -> loop("pdf", pdf, arr) { p =>
        val doc = Pdf.open(p)
        Pdf.pageObjects(doc).map(Pdf.pageText(doc, _))
      },
      "subtitles" -> loop("subtitles", subs,
        (s: (Long, String)) => s._2.getBytes("UTF-8").length.toLong) { s =>
        Subtitles.parse(s._1, s._2)
      })
  }
}
