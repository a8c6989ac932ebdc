"""Regenerate ``fingerprints.json``: for every key any workload can run,
the row count and canonical hash of its DuckDB oracle's result at the
bench scale, after checking with ``oracle.compare`` that Spark's result
matches the oracle. ``sec`` is the key's Spark time here, which
``workloads.evt_sample`` uses to stratify the evt_* sample.

The dedup_lsh keys (``workloads.ROWS_ONLY``) return millions of pairs
at this scale: too many to canonicalise in Python, and their DuckDB
oracles do not finish within minutes here. They are stored with Spark's
row count and checked on it alone; the repository's tests hold them to
their oracles at the smaller scales.

Usage (from the repository root):
    python3 perfbench/make_fingerprints.py [key ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import measure  # noqa: E402
import workloads  # noqa: E402


def save(fingerprints: dict) -> None:
    with open(workloads.FINGERPRINTS, "w") as fh:
        json.dump(dict(sorted(fingerprints.items())), fh, indent=1)
        fh.write("\n")


def main(argv: list[str]) -> int:
    from hive_test_spark import api, io
    from hive_test_spark.oracle import compare, duck_connect
    from hive_test_spark.session import get_spark

    spark = get_spark("perfbench-fingerprints")
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = api.queries(), api.oracle_sql()
    keys = argv or (
        workloads.HEADLINE + workloads.evt_keys(qs) + workloads.ITERATIVE
        + workloads.DEDUP + workloads.write_keys(qs)
    )
    sf_dir = workloads.sf_dir(io)
    con = duck_connect(sf_dir)
    try:
        out = workloads.load_fingerprints()
    except FileNotFoundError:
        out = {}
    bad = []
    for key in keys:
        t0 = time.perf_counter()
        if key in workloads.ROWS_ONLY:
            rows = qs[key](spark, sf_dir).count()
            sec = time.perf_counter() - t0
            out[key] = {"rows": rows, "hash": None, "sec": round(sec, 3)}
            print(f"{key}: {rows} rows {sec:.2f}s rows only", flush=True)
            save(out)
            continue
        spdf = qs[key](spark, sf_dir).toPandas()
        sec = time.perf_counter() - t0
        got = measure.fingerprint(spdf)
        entry = {"rows": got["rows"], "hash": None, "sec": round(sec, 3)}
        note = "rows-only (no oracle)"
        if key in oracles:
            dpdf = con.execute(oracles[key]).df()
            res = compare(key, spdf, dpdf)
            want = measure.fingerprint(dpdf)
            entry.update(want)
            note = "ok" if res["ok"] and want == got else f"MISMATCH {res['notes'][:2]} spark={got} duck={want}"
            if note != "ok":
                bad.append(key)
        out[key] = entry
        print(f"{key}: {entry['rows']} rows {sec:.2f}s {note}", flush=True)
        save(out)
    print(f"{len(keys)} keys, {len(bad)} mismatches: {bad}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
