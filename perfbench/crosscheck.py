#!/usr/bin/env python3
"""Recomputes the analytic queries' reference digests and cross-checks the
results behind them against DuckDB.

Usage (from the repository root):
  python3 perfbench/crosscheck.py            # check reference.json
  python3 perfbench/crosscheck.py --write    # rewrite it (all checks must pass)

The JVM writes every analytic query's result (parquet) and digest, in the
layout scripts/oracle_check.py reads. That script runs each query whose
oracle SQL reads only the base tables (no `{FIX}` fixture) in DuckDB over
the same generated parquet and compares columns, dtypes and values exactly
after its canonicalisation (columns by name, rows sorted). The remaining
queries' digests rest on graft's own oracle gate (graft.Verify fixtures).
"""
import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

sys.path.insert(0, os.path.join(build.ROOT, "scripts"))
import oracle_check  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--write", action="store_true")
    a = ap.parse_args()

    cp, _ = build.build()
    data = run.ensure_data()
    scratch = os.path.join(build.WORK, "crosscheck")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    out = os.path.join(scratch, "results")
    if run.run_jvm(cp, ["--reference", out, "--data", data], scratch, timeout=1200) != 0:
        sys.stderr.write(open(os.path.join(scratch, "jvm.log")).read()[-6000:])
        raise SystemExit("crosscheck: JVM failed")
    digests = json.load(open(os.path.join(out, "digests.json")))
    bad = oracle_check.main(data, out)
    ref = metrics.load_reference()
    drift = sorted(q for q in digests if ref.get(q) != digests[q])
    print(f"{len(digests)} digests, {len(drift)} differ from reference.json {drift}")
    if a.write and not bad:
        with open(os.path.join(build.BENCH, "reference.json"), "w") as f:
            json.dump(digests, f, indent=1, sort_keys=True)
            f.write("\n")
    shutil.rmtree(scratch, ignore_errors=True)
    return 1 if bad or (drift and not a.write) else 0


if __name__ == "__main__":
    sys.exit(main())
