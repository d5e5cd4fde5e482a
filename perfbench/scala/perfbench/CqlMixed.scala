package perfbench

import graft.cql.{CqlEngine, CqlParser}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The rows the benchmark expects in table `kv`: the seeded rows (a pure
  * function of the seed) overlaid with every statement written since, last
  * write wins. Statement writes are issued one at a time from one client,
  * and the engine stamps each with a newer timestamp than the bulk load,
  * so statement order is timestamp order.
  */
final class KvModel(val seed: Long, val partitions: Long) {
  import KvModel._

  /** (pk, ck) → live (v, s), or None once deleted; absent = seeded state. */
  private val overlay = mutable.HashMap.empty[Long, mutable.HashMap[Int, Option[(Long, String)]]]
  val written = ArrayBuffer.empty[Long]

  def seeded(pk: Long, ck: Int): Option[(Long, String)] =
    if (pk < partitions && ck < SeededCks) Some((seededV(seed, pk, ck), s"s$pk.$ck")) else None

  private def cell(pk: Long, ck: Int): Option[(Long, String)] =
    overlay.get(pk).flatMap(_.get(ck)).getOrElse(seeded(pk, ck))

  private def put(pk: Long, ck: Int, v: Option[(Long, String)]): Unit = {
    overlay.getOrElseUpdate(pk, mutable.HashMap.empty)(ck) = v
    written += pk
  }

  def insert(pk: Long, ck: Int, v: Long, s: String): Unit = put(pk, ck, Some((v, s)))
  /** UPDATE sets `v` only; on a missing or deleted row `s` stays null. */
  def update(pk: Long, ck: Int, v: Long): Unit = put(pk, ck, Some((v, cell(pk, ck).map(_._2).orNull)))
  def delete(pk: Long, ck: Int): Unit = put(pk, ck, None)

  /** Live rows of one partition with lo <= ck < hi, as canonical strings. */
  def slice(pk: Long, lo: Int, hi: Int): Seq[String] = {
    val cks = (0 until SeededCks).toSet ++ overlay.get(pk).map(_.keySet).getOrElse(Set.empty)
    cks.toSeq.filter(ck => ck >= lo && ck < hi).flatMap(ck =>
      cell(pk, ck).map { case (v, s) => canon(Seq(pk, ck, v, s)) })
  }

  def aggregate(pk: Long): Seq[String] = {
    val vs = slice(pk, Int.MinValue, Int.MaxValue).map(_.split('|')(2).toLong)
    if (vs.isEmpty) Nil else Seq(canon(Seq(pk, vs.size.toLong, vs.sum)))
  }
}

object KvModel {
  val SeededCks = 10

  def seededV(seed: Long, pk: Long, ck: Long): Long =
    Math.floorMod(pk * 1000003L + ck * 7919L + seed * 104729L, 1000000L)

  def canon(vs: Seq[Any]): String = vs.map(v => if (v == null) "null" else v.toString).mkString("|")
}

/** cql-mixed: one closed-loop client against a `CqlEngine` with storage
  * attached. Setup bulk-loads the seeded table and warms every statement
  * kind and read plan shape. The timed window opens with one compact; then
  * passes run (see [[Loop]]), each a seed-shuffled block of reads and
  * writes followed by a flush.
  */
object CqlMixed {
  val Partitions = 60000L
  /** One pass. Reads and writes are half each, the read/update proportions
    * of YCSB core workload A (Cooper et al., SoCC 2010). As there, half the
    * reads are whole-partition point reads and half the writes updates; the
    * rest of each half is split over the other statement kinds so that each
    * kind runs every pass. That split is a coverage choice, not traffic data.
    */
  val Block: Seq[String] = Seq("point", "point", "slice", "aggregate",
    "update", "update", "insert", "delete")

  def run(ctx: Ctx): Result = {
    import ctx._
    val engine = new CqlEngine(spark)
    val root = new java.io.File(scratch, "cql-storage")
    engine.attachStorage(root.getPath)
    engine.execute("CREATE TABLE kv (pk bigint, ck int, v bigint, s text, PRIMARY KEY (pk, ck))")
    val model = new KvModel(seed, Partitions)
    val rng = new scala.util.Random(seed)
    var userBytes = 0L
    var writtenBytes = 0L
    val segDir = new java.io.File(new java.io.File(root, "kv"), "segments")

    def dirBytes(): Map[String, Long] =
      if (!root.exists()) Map.empty
      else {
        val s = java.nio.file.Files.walk(root.toPath)
        try s.filter(p => java.nio.file.Files.isRegularFile(p)).toArray
          .map(_.asInstanceOf[java.nio.file.Path])
          .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
        finally s.close()
      }
    /** Runs a storage call, counting the bytes of the files it created. */
    def storage[T](body: => T): T = {
      val before = if (traced) dirBytes() else Map.empty[String, Long]
      val r = body
      if (traced) writtenBytes += dirBytes().collect {
        case (p, n) if !before.get(p).contains(n) => n
      }.sum
      r
    }

    val bulkNs = {
      val rows = Partitions * KvModel.SeededCks
      val df = spark.range(rows).select(
        (col("id") / KvModel.SeededCks).cast("long").as("pk"),
        (col("id") % KvModel.SeededCks).cast("int").as("ck"))
        .select(col("pk"), col("ck"),
          pmod(col("pk") * 1000003L + col("ck") * 7919L + lit(seed * 104729L), lit(1000000L)).as("v"),
          concat(lit("s"), col("pk").cast("string"), lit("."), col("ck").cast("string")).as("s"))
      // 20 key and value bytes per row, plus s = "s<pk>.<ck>"
      userBytes += (0L until Partitions).map(pk => 20L + 3L + pk.toString.length).sum * KvModel.SeededCks
      val t0 = System.nanoTime()
      tracer.span("cql.bulk_insert", root = true) { storage(engine.bulkInsert("kv", df)) }
      System.nanoTime() - t0
    }

    def segments(): Int = Option(segDir.list()).map(_.count(_.endsWith(".parquet"))).getOrElse(0)

    def readKey(): Long =
      if (model.written.nonEmpty && rng.nextBoolean()) model.written(rng.nextInt(model.written.size))
      else rng.nextLong(Partitions)

    /** One statement: its text, its class, and for reads the expected rows. */
    def next(kind: String): (String, String, () => Seq[String]) = kind match {
      case "point" =>
        val pk = readKey()
        (s"SELECT pk, ck, v, s FROM kv WHERE pk = $pk", "read", () => model.slice(pk, Int.MinValue, Int.MaxValue))
      case "slice" =>
        val pk = readKey(); val lo = rng.nextInt(8); val hi = lo + 1 + rng.nextInt(4)
        (s"SELECT pk, ck, v, s FROM kv WHERE pk = $pk AND ck >= $lo AND ck < $hi", "read",
          () => model.slice(pk, lo, hi))
      case "aggregate" =>
        val pk = readKey()
        (s"SELECT pk, count(*) AS n, sum(v) AS sv FROM kv WHERE pk = $pk GROUP BY pk", "read",
          () => model.aggregate(pk))
      case w =>
        // a third of the writes go back to a partition written earlier, so
        // overwrites of statement writes (not only of seeded rows) occur
        val pk = if (model.written.nonEmpty && rng.nextInt(3) == 0) model.written(rng.nextInt(model.written.size))
                 else rng.nextLong(Partitions)
        val ck = rng.nextInt(KvModel.SeededCks + 2)
        val v = rng.nextLong(1000000L)
        w match {
          case "insert" =>
            val s = s"w$v"
            userBytes += 20L + s.length
            model.insert(pk, ck, v, s)
            (s"INSERT INTO kv (pk, ck, v, s) VALUES ($pk, $ck, $v, '$s')", "write", null)
          case "update" =>
            userBytes += 20L
            model.update(pk, ck, v)
            (s"UPDATE kv SET v = $v WHERE pk = $pk AND ck = $ck", "write", null)
          case "delete" =>
            userBytes += 12L
            model.delete(pk, ck)
            (s"DELETE FROM kv WHERE pk = $pk AND ck = $ck", "write", null)
        }
    }

    def statement(kind: String, pass: Int): Op = {
      val (text, cls, expected) = next(kind)
      val segs = if (traced && cls == "read") segments() else -1
      var rows: Array[Row] = null
      var err: String = null
      val t0 = System.nanoTime()
      try tracer.span("statement", root = true) {
        val stmt = tracer.span("cql.parse") { CqlParser.parse(text) }
        val df = tracer.span("cql.run") { engine.run(stmt) }
        if (cls == "read") {
          tracer.span("catalyst.plan") { df.queryExecution.executedPlan }
          rows = tracer.span("spark.collect") { df.collect() }
        }
      } catch { case NonFatal(e) => err = e.toString }
      val ns = System.nanoTime() - t0
      if (cls == "read" && err == null) {
        val got = rows.toSeq.map(r => KvModel.canon(r.toSeq))
        Op(kind, cls, pass, ns, tracer.lastTrace, rows = rows.length,
          got = Digest.ofRows(got), expect = Digest.ofRows(expected()), segments = segs)
      } else Op(kind, cls, pass, ns, tracer.lastTrace, error = err, segments = segs)
    }

    def timedStorage(kind: String, pass: Int)(body: => Unit): Op = {
      val t0 = System.nanoTime()
      var err: String = null
      try tracer.span(s"cql.$kind", root = true) { storage(body) }
      catch { case NonFatal(e) => err = e.toString }
      Op(kind, kind, pass, System.nanoTime() - t0, tracer.lastTrace, error = err)
    }

    // untimed warm-up: every statement kind once, then one compact and a
    // point read on each read plan shape the timed window meets (checkpoint
    // and tail, then checkpoint, segments and tail), so no timed read pays
    // for a first execution
    Block.distinct.foreach(k => statement(k, -1))
    engine.flush("kv")
    engine.compact("kv")
    statement("point", -1)
    statement("insert", -1)
    engine.flush("kv")
    statement("point", -1)
    val ops = ArrayBuffer.empty[Op]
    val jvm0 = Jvm.snapshot()
    val start = System.nanoTime()
    // the compaction opens the timed window, so every timed read merges
    // the checkpoint with the segments flushed after it and the tail
    ops += timedStorage("compact", -1) { engine.compact("kv") }
    // two passes at least: a pass holds only four reads
    val passes = Loop.passes(seconds, nominalPassS = 6.5, minPasses = 2) { pass =>
      rng.shuffle(Block).foreach(k => ops += statement(k, pass))
      ops += timedStorage("flush", pass) { engine.flush("kv") }
    }
    val windowNs = System.nanoTime() - start
    val diskBytes = dirBytes().values.sum
    Result(ops.toSeq, passes, start, windowNs, Jvm.since(jvm0) ++ Map(
      "seeded_rows" -> Partitions * KvModel.SeededCks, "partitions" -> Partitions,
      "bulk_insert_ns" -> bulkNs, "user_bytes" -> userBytes, "disk_bytes" -> diskBytes,
      "bytes_written" -> writtenBytes))
  }
}
