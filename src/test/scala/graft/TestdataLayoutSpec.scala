package graft

import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Pin the driver testdata physical layout assumptions that the engine
  * adapts around, so a silent regeneration fails HERE with a readable
  * message instead of as an analyzer error deep inside a query (round 8:
  * events.ts flipped TIMESTAMP(NANOS)→micros after the last commit and the
  * hardcoded nanos arithmetic zeroed the oracle gate).
  */
class TestdataLayoutSpec extends SparkSpec {

  test("events.ts physical type is one of the forms Tables.tsEpochUs adapts to") {
    val schema = Tables.events(spark, sf).schema
    val dt = schema("ts").dataType
    assert(
      dt == LongType || dt == TimestampType || dt == TimestampNTZType,
      s"events.ts arrived as ${dt.catalogString} — the driver regenerated " +
        s"/root/testdata with a NEW physical layout; teach Tables.tsEpochUs/" +
        s"tsEpochMs/tsAsTimestamp the new form. Full schema: ${schema.treeString}")
  }

  test("every driver table reads with the column names and value semantics " +
    "the queries assume (regeneration tripwire)") {
    // Pin names + a semantic type class per column (exact physical types
    // may legitimately drift between generations — e.g. timestamps — but a
    // renamed/retyped-beyond-recognition column must fail HERE, not as a
    // scattered analyzer error). Timestamp-or-long unions cover the known
    // regeneration history.
    import org.apache.spark.sql.types._
    def cls(dt: DataType): String = dt match {
      case _: IntegerType | _: LongType | _: ShortType => "int"
      case _: DoubleType | _: FloatType | _: DecimalType => "fp"
      case _: StringType => "str"
      case _: TimestampType | _: TimestampNTZType | _: DateType => "time"
      case ArrayType(e, _) => s"arr<${cls(e)}>"
      case other => other.catalogString
    }
    val expected = Map(
      "region" -> "r_regionkey:int,r_name:str",
      "nation" -> "n_nationkey:int,n_name:str,n_regionkey:int",
      "customer" -> "c_custkey:int,c_name:str,c_nationkey:int,c_acctbal:fp,c_mktsegment:str",
      "supplier" -> "s_suppkey:int,s_name:str,s_nationkey:int,s_acctbal:fp",
      "part" -> "p_partkey:int,p_name:str,p_brand:str,p_type:str,p_size:int,p_retailprice:fp",
      "orders" -> ("o_orderkey:int,o_custkey:int,o_orderstatus:str,o_totalprice:fp," +
        "o_orderdate:time,o_orderpriority:str"),
      "lineitem" -> ("l_orderkey:int,l_partkey:int,l_suppkey:int,l_linenumber:int," +
        "l_quantity:fp,l_extendedprice:fp,l_discount:fp,l_tax:fp,l_returnflag:str," +
        "l_linestatus:str,l_shipdate:time"),
      // ts admits int OR time: the TIMESTAMP(NANOS) generations read as
      // long nanos under nanosAsLong (Tables.tsEpochUs adapts)
      "events" -> "event_id:int,ts:int|time,user_id:int,event_type:str,value:fp,props:str",
      "documents" -> "doc_id:int,text:str,lang:str,source:str,n_chars:int",
      "embeddings" -> "vec_id:int,embedding:arr<fp>,label:int")
    // every SF dir present: the gate runs at 0.01, bench at 0.1 — a
    // generation that drifted only one SF must still trip here
    val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
      .filter(d => new java.io.File(d).isDirectory)
    assert(sfDirs.nonEmpty, "no testdata dirs found")
    val problems = for {
      dir <- sfDirs
      t <- Tables.all
      got = Tables(spark, dir, t).schema.map(f => s"${f.name}:${cls(f.dataType)}")
      want = expected(t).split(",").toSeq
      mismatch = (g: String, w: String) => {
        val Array(gName, gType) = g.split(":", 2)
        val Array(wName, wTypes) = w.split(":", 2)
        gName != wName || !wTypes.split("\\|").contains(gType)
      }
      if got.size != want.size || got.zip(want).exists(mismatch.tupled)
    } yield s"$dir/$t: expected [${want.mkString(", ")}] but the parquet " +
      s"reads as [${got.mkString(", ")}]"
    assert(problems.isEmpty,
      "driver testdata layout drifted — adapt the affected readers " +
        "(see Tables.tsEpochUs for the pattern):\n" + problems.mkString("\n"))
  }

  test("query inventory names are unique (SparkEntry.queries is a Map — a " +
    "duplicate name would silently drop a query from the oracle gate)") {
    val names = Queries.all.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, occ) if occ.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size === names.size)
  }

  test("the bench and scale-proof query lists name only inventory queries " +
    "(a typo would otherwise surface only after ScaleProof built its 10x data)") {
    val unknown = (Bench.headline ++ graft.tools.ScaleProof.extended)
      .filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")
  }

  test("Bench rejects an unknown query name before running anything") {
    assert(Bench.selection(None) === Bench.headline)
    assert(Bench.selection(Some(" q_json_extract,,q_profile ")) === Seq("q_json_extract", "q_profile"))
    Seq(Some("q_json_extract,q_nope"), Some(" , ")).foreach { arg =>
      intercept[IllegalArgumentException](Bench.selection(arg))
    }
    // main validates before it starts a session or runs a query: the
    // valid name listed first must not run, and the shared session lives on
    val e = intercept[IllegalArgumentException](Bench.main(Array("q_json_extract,q_nope")))
    assert(e.getMessage.contains("unknown queries q_nope"))
    assert(!spark.sparkContext.isStopped)
  }

  test("tsEpochUs/tsEpochMs/tsAsTimestamp agree with each other on events") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
    val r = ev.select(
        Tables.tsEpochUs(ev).as("us"),
        Tables.tsEpochMs(ev).as("ms"),
        unix_micros(Tables.tsAsTimestamp(ev)).as("ts_us"))
      .filter(col("us") =!= col("ts_us") || expr("us div 1000") =!= col("ms"))
    val bad = r.take(1)
    assert(bad.isEmpty, "epoch derivations disagree: " + bad.mkString(","))
    // and the instants are in a sane modern range (catches unit mixups:
    // nanos read as micros would land in 1970, micros as nanos in year 56k)
    val mm = ev.agg(
      min(Tables.tsEpochMs(ev)), max(Tables.tsEpochMs(ev))).head()
    assert(mm.getLong(0) > 1000000000000L && mm.getLong(1) < 4102444800000L,
      s"events.ts epoch millis outside 2001..2100: $mm — unit mixup in the " +
        "adaptive derivation or a new testdata layout")
  }
}
