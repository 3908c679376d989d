"""Per-query SHUFFLE-VOLUME ledger: the number that forecasts 100 TB.

Wall time on local[32] conflates CPU, Python workers, and host jitter;
what transfers to a 1000-executor cluster is the SHUFFLE each query
moves per unit of input.  This tool executes every batch query and sums
its executed plan's Exchange metrics (`shuffleBytesWritten`,
`shuffleRecordsWritten`, distinct exchange count) from SQLMetrics —
measured, not estimated, and AQE-aware (metrics are read from the
adaptive plan actually run).

Streaming twins are skipped (their sinks outlive the measurement —
e-batch forms cover the logic); ReusedExchange dedups by plan-node id
so a reused shuffle counts once, mirroring what the cluster would move.

KNOWN BLIND SPOT: only the RETURNED DataFrame's executed plan is
measured.  Queries that eagerly materialize during construction
(``materialize`` barriers — d23's and ``ingest_dedup_decisions``'
checkpointed ``minhash_shared`` signature frame, ``shingle_frame``'s
output barrier, d28's day-1 leg) run those shuffles before the profile
collects, so their ledger rows UNDER-report.  The batch MinHash-LSH
path (d3) is one lazy plan: its row covers the band-key exchange that
carries every document's hashed shingles once per band.  For the
checkpointed family the incremental-rehearsal wall times
(``BENCH_sf1.json["incremental_ingest_*"]``) are the authoritative
cost receipts; this ledger's strength is the 250+ declarative queries
whose whole plan is the returned frame.

Usage: python tools/shuffle_audit.py [sf_dir] [query ...] [--json out]
Defaults: /root/testdata/sf0.1, all batch queries.
"""

from __future__ import annotations

import gc
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
import explain_audit as EA  # noqa: E402
from projet_graphdb_spark.engine import get_spark  # noqa: E402


def _metric(node, key):
    try:
        return node.metrics().apply(key).value()
    except Exception:
        return None


def shuffle_profile(df) -> dict:
    """Execute ``df`` and sum its exchanges' write metrics (each
    distinct exchange once, via plan-node id)."""
    df.collect()
    seen = set()
    bytes_w = records_w = n_ex = 0
    for node in EA._walk_jplan(df._jdf.queryExecution().executedPlan(), []):
        if node.nodeName() != "Exchange":
            continue
        nid = node.id()
        if nid in seen:
            continue
        seen.add(nid)
        b = _metric(node, "shuffleBytesWritten")
        r = _metric(node, "shuffleRecordsWritten")
        if b is not None:
            bytes_w += b
            n_ex += 1
        if r is not None:
            records_w += r
    return {
        "shuffle_mb": round(bytes_w / 1e6, 3),
        "shuffle_records": records_w,
        "n_exchanges": n_ex,
    }


def main():
    args = sys.argv[1:]
    out_json = None
    if "--json" in args:
        i = args.index("--json")
        out_json = args[i + 1]
        args = args[:i] + args[i + 2:]
    # a path-looking first arg that doesn't exist is an ERROR, not a
    # query filter: silently matching zero queries would print a clean
    # empty ledger for a typo'd sf dir
    if args and os.sep in args[0] and not os.path.isdir(args[0]):
        sys.exit(f"shuffle_audit: {args[0]} is not a directory")
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    only = set(a for a in args if not os.path.isdir(a))
    spark = get_spark(app_name="shuffle-audit")
    streaming = getattr(E, "STREAMING_QUERIES", frozenset()) | EA.SKIP
    results = {}
    fails = 0
    for name, fn in E.queries().items():
        if name in streaming or (only and name not in only):
            continue
        try:
            results[name] = shuffle_profile(fn(spark, sf_dir))
            print(
                f"{name:<28} {results[name]['shuffle_mb']:>10.3f} MB  "
                f"{results[name]['shuffle_records']:>10} rec  "
                f"x{results[name]['n_exchanges']}",
                flush=True,
            )
        except Exception as ex:
            fails += 1
            print(f"{name:<28} ERROR {type(ex).__name__}: {str(ex)[:120]}", flush=True)
        gc.collect()
    if out_json:
        with open(out_json, "w") as fh:
            json.dump({"sf_dir": sf_dir, "queries": results}, fh, indent=1)
    top = sorted(results.items(), key=lambda kv: -kv[1]["shuffle_mb"])[:10]
    print("\n# top shuffle movers:")
    for name, p in top:
        print(f"#   {name:<28} {p['shuffle_mb']:>10.3f} MB x{p['n_exchanges']}")
    print(f"FAILURES: {fails}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()


