"""Turns one JVM run record into the benchmark's metrics.

Every timing is taken from the record's timed operations (`ops`): a query
run (analytic) or a CQL statement, flush or compact
(cql-mixed). The per-layer numbers come from the spans and Spark job
records of a traced run; see perfbench/README.md for the layer map.
"""
import json
import math
import os

HERE = os.path.dirname(os.path.abspath(__file__))
# the analytic workload's queries (perfbench.Analytic.queries)
QUERIES = ["q_group_pk_prefix", "q_join_multiway", "q_per_partition_limit",
           "q_lww_compact", "q_orderby_limit", "q_dedup_exact", "q_json_extract",
           "q_host_pagerank", "q_sessionize", "q_profile",
           "q_multimodal_features", "q_multimodal_webp", "q_multimodal_mp4",
           "q_pdf_extract", "q_subtitles_parse", "q_text_fingerprint",
           "q_bpe_encode_ids", "q_dedup_minhash_lsh", "q_ann_topk", "q_ann_ivf_sq8"]
CODECS = ["png", "webp", "mp4", "pdf", "subtitles"]
READ_CLASSES = ("query", "read")
EXECUTE_SPANS = ("sink.write", "spark.collect")


def load_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


# ── arithmetic ────────────────────────────────────────────────────────────

def median(xs):
    xs = sorted(xs)
    if not xs:
        return 0.0
    m = len(xs) // 2
    return float(xs[m]) if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


def _rank(p, n):
    """1-based nearest rank of percentile p among n samples (rounded before
    the ceiling, so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(xs[_rank(p, len(xs)) - 1])


def tail_percentile(n, candidates=(99.9, 99, 95, 90, 75, 50)):
    """Highest candidate percentile with at least ten samples beyond it, or
    None when n < 20."""
    for p in candidates:
        if n - _rank(p, n) >= 10:
            return p
    return None


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of the given intervals."""
    total, cur = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= cur:
            continue
        total += e - max(s, cur)
        cur = e
    return total


def self_times(spans):
    """Span id → duration minus the part of it covered by its children
    (children may overlap each other; covered time counts once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(s["start"], s["end"], kids.get(s["id"], []))
            for s in spans}


# ── correctness accounting ────────────────────────────────────────────────

def load_reference():
    with open(os.path.join(HERE, "reference.json")) as f:
        return json.load(f)


def op_failed(op, reference):
    """An operation fails when it threw, or when its result digest differs
    from the expected one: the committed reference for analytic queries,
    the in-benchmark model of table `kv` for CQL reads."""
    if op.get("error"):
        return True
    if op["cls"] == "query":
        return op.get("got") != reference.get(op["kind"], {}).get("digest")
    if op["cls"] == "read":
        return op.get("got") is None or op.get("got") != op.get("expect")
    return False


def account(record, reference):
    """(attempted, failed) over the timed operations and, in traced analytic
    runs, the codec loops (one operation each; a loop fails when the codec
    rejects a payload it planted)."""
    ops = record["ops"]
    codecs = record["facts"].get("codecs", {}).values()
    return (len(ops) + len(codecs),
            sum(1 for op in ops if op_failed(op, reference)) +
            sum(1 for c in codecs if c.get("error")))


# ── end-to-end metrics ────────────────────────────────────────────────────

def end_to_end(record):
    ops = record["ops"]
    passes = [ns / 1e9 for ns in record["pass_ns"]]
    by_kind = {}
    for op in ops:
        if op["cls"] in READ_CLASSES:
            by_kind.setdefault(op["kind"], []).append(op["ns"] / 1e9)
    done = sum(1 for op in ops if not op.get("error"))
    return {
        "setup_s": (record["setup_s"], "s"),
        "pass_s": (median(passes), "s"),
        "query_geomean_s": (geomean([median(v) for v in by_kind.values()]), "s"),
        "ops_per_s": (done / (record["window_ns"] / 1e9), "1/s"),
    }


def samples(record):
    """Sample counts and tail percentiles behind the timings (run metadata)."""
    ops = record["ops"]
    out = {"passes": len(record["pass_ns"])}
    for cls in ("query", "read", "write", "flush", "compact"):
        ms = [op["ns"] / 1e6 for op in ops if op["cls"] == cls]
        if not ms:
            continue
        p = tail_percentile(len(ms))
        out[cls] = {"n": len(ms), "p50_ms": median(ms),
                    "tail": None if p is None else {"p": p, "ms": percentile(ms, p)}}
    return out


# ── per-layer metrics ─────────────────────────────────────────────────────

def per_layer(record):
    ops = record["ops"]
    spans = record["spans"]
    jobs = record["jobs"]
    facts = record["facts"]
    npass = max(1, len(record["pass_ns"]))
    trace_of = {s["id"]: s["trace"] for s in spans}
    timed_traces = {op["trace"] for op in ops}
    timed_spans = [s for s in spans if s["trace"] in timed_traces]

    def span_s(name):
        return [(s["end"] - s["start"]) / 1e9 for s in timed_spans if s["name"] == name]

    jobs_by_trace = {}
    for j in jobs:
        jobs_by_trace.setdefault(trace_of.get(j["span"], 0), []).append(j)
    op_jobs = [jobs_by_trace.get(op["trace"], []) for op in ops]
    nops = max(1, len(ops))

    def per_op(key, scale=1.0):
        return sum(j[key] for js in op_jobs for j in js) * scale / nops

    # driver gap: execute-span time that no job of the span's trace covers
    gaps = []
    for s in timed_spans:
        if s["name"] in EXECUTE_SPANS:
            iv = [(j["start"], j["end"]) for j in jobs_by_trace.get(s["trace"], [])]
            gaps.append((s["end"] - s["start"] - covered(s["start"], s["end"], iv)) / 1e9)

    reads = [op for op in ops if op["cls"] in READ_CLASSES and op["rows"] >= 0]
    if record["workload"] == "cql-mixed":
        reads = [op for op in reads if op["kind"] == "point"]
    scanned = sum(j["records_read"] for op in reads for j in jobs_by_trace.get(op["trace"], []))
    returned = sum(op["rows"] for op in reads)

    def cls_ms(cls):
        return [op["ns"] / 1e6 for op in ops if op["cls"] == cls]

    read_ms = cls_ms("read")
    cql_user = facts.get("user_bytes", 0)
    m = {
        "cql.parse_ms": median(span_s("cql.parse")) * 1e3,
        "cql.run_ms": median([(s["end"] - s["start"]) / 1e6 for s in timed_spans
                              if s["name"] == "cql.run" and
                              any(o["trace"] == s["trace"] and o["cls"] == "read" for o in ops)]),
        "cql.segments_at_read": (sum(op["segments"] for op in ops if op["cls"] == "read")
                                 / max(1, sum(1 for op in ops if op["cls"] == "read"))),
        "cql.flush_ms": median(cls_ms("flush")),
        "cql.compact_s": sum(cls_ms("compact")) / 1e3,
        "cql.bulk_insert_s": facts.get("bulk_insert_ns", 0) / 1e9,
        "cql.bytes_written_per_user_byte": facts.get("bytes_written", 0) / cql_user if cql_user else 0.0,
        "cql.read_p50_ms": median(read_ms),
        "cql.read_p90_ms": percentile(read_ms, 90),
        "cql.write_p50_ms": median(cls_ms("write")),
        "cql.flush_compact_s": (sum(cls_ms("flush")) + sum(cls_ms("compact"))) / 1e3,
        "cql.storage_bytes_per_user_byte": facts.get("disk_bytes", 0) / cql_user if cql_user else 0.0,
        "catalyst.plan_ms": median(span_s("catalyst.plan")) * 1e3,
        "catalyst.plan_s": sum(span_s("catalyst.plan")) / npass,
        "spark.jobs": sum(len(js) for js in op_jobs) / nops,
        "spark.stages": per_op("stages"),
        "spark.tasks": per_op("tasks"),
        "spark.driver_gap_s": sum(gaps) / max(1, len(gaps)),
        "spark.rows_scanned_per_row_returned": scanned / returned if returned else 0.0,
        "spark.task_cpu_s": per_op("task_cpu_ns", 1e-9),
        "spark.task_run_s": per_op("task_run_ms", 1e-3),
        "spark.shuffle_read_bytes": per_op("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": per_op("shuffle_write_bytes"),
        "spark.spill_bytes": per_op("spill_bytes"),
        "jvm.alloc_bytes": facts.get("timed_alloc_bytes", 0) / npass,
        "jvm.gc_s": facts.get("timed_gc_ms", 0) / 1e3 / npass,
        "jvm.peak_rss_mb": record["jvm"]["peak_rss_mb"],
        "query.build_s": sum(span_s("query.build")) / npass,
    }
    for q in QUERIES:
        mine = [op for op in ops if op["kind"] == q]
        m[f"query.{q}.s"] = median([op["ns"] / 1e9 for op in mine])
        m[f"query.{q}.jobs"] = median([len(jobs_by_trace.get(op["trace"], [])) for op in mine])
        m[f"query.{q}.alloc_bytes"] = median([op["alloc_bytes"] for op in mine])
    codecs = facts.get("codecs", {})
    for c in CODECS:
        r = codecs.get(c)
        m[f"codec.{c}.ns_per_byte"] = (r["ns"] / r["bytes"]
                                       if r and r["bytes"] and not r.get("error") else 0.0)
    return m


def units():
    return {x["name"]: x["unit"] for x in load_spec()["per_layer"] + load_spec()["end_to_end"]}
