"""JVM-side discipline audit: which query plans touch Python at all?

"UDFs are the slow path" is this repo's rule; this tool verifies it
mechanically.  For every batch query it builds the DataFrame and greps
the physical plan for Python evaluation operators:

- ``BatchEvalPython`` — row-at-a-time Python UDF: FORBIDDEN anywhere
  (exit 1).  ~10-100× slower than Arrow; there is always a built-in or
  pandas_udf alternative.
- every other Python node (``ArrowEvalPython``, ``MapInPandas``,
  ``MapInArrow``, the grouped and windowed pandas/Arrow nodes) is
  Arrow-batched: allowed, but every plan containing one is LISTED with
  its node kinds by name, so the Python surface stays deliberate and
  reviewable (each listed query documents why JVM built-ins can't
  express it, e.g. the BLAS cell assignment, the blocked verify
  kernels, the MinHash signature pass, or media decode stubs).

KNOWN BLIND SPOT (shared with shuffle_audit): only the returned
DataFrame's plan is grepped, so a Python operator upstream of an eager
barrier (``materialize``) is invisible here.  The MinHash pipeline
(d-family) is one lazy plan with its two Python nodes (signatures,
bucket verify) in the returned frame, except where ``minhash_shared``
is checkpointed for several consumers (d23, ``ingest_dedup_decisions``):
there the signature pass runs in that barrier and only the verify is
listed.

DOUBLE EVALUATION (exit 1): each listed plan reports its count of
Python nodes, and one Python UDF call appearing in two
``ArrowEvalPython``/``BatchEvalPython`` nodes of the same plan fails the
audit.  The usual cause is a filter over a projected UDF column (e.g.
the ``size(...) > 0`` Catalyst infers below an ``explode``) pushed
through the projection: the UDF is then evaluated once for the filter
and again for the projection, and every node is one more Python runner
paying the per-task start-up cost.  A call is the same call when its
text matches with attribute ids, so the two sides of a self-join (whose
inputs are re-aliased) are not flagged.

Usage: python tools/python_audit.py [sf_dir] [query ...] [--json out]
Default sf_dir: /root/testdata/sf0.001 (plan SHAPE is SF-independent).
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
import explain_audit as EA  # noqa: E402
from projet_graphdb_spark.engine import get_spark  # noqa: E402

# physical node names that run a Python worker
PYTHON_NODES = frozenset({
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
    "AggregateInPandas",
    "ArrowWindowPython",
    "WindowInPandas",
})
# every Python node but the row-at-a-time one is Arrow-batched
ARROW_NODES = PYTHON_NODES - {"BatchEvalPython"}
_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]\w*)")


def _top_level_items(s: str, start: int) -> list[str]:
    """The comma-separated items of the bracketed list opening at
    ``s[start]``, split at bracket depth 1."""
    items, depth, cur = [], 0, []
    for ch in s[start:]:
        if ch in "[(":
            depth += 1
            if depth == 1:
                continue
        elif ch in "])":
            depth -= 1
            if depth == 0:
                break
        if ch == "," and depth == 1:
            items.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    items.append("".join(cur).strip())
    return [i for i in items if i]


def python_nodes(plan: str) -> list[tuple[str, list[str]]]:
    """``(node, udf_calls)`` for every Python node of a plan string;
    ``udf_calls`` is the evaluated-UDF list of an ``*EvalPython`` node
    (empty for the other Python nodes)."""
    out = []
    for line in plan.splitlines():
        m = _NODE.match(line)
        if not m or m.group(1) not in PYTHON_NODES:
            continue
        node = m.group(1)
        calls = []
        if node.endswith("EvalPython"):
            i = line.find("[", m.end())
            if i >= 0:
                calls = _top_level_items(line, i)
        out.append((node, calls))
    return out


def double_evaluated(plan: str) -> list[str]:
    """UDF calls that appear in more than one evaluation node."""
    seen = Counter(c for _, calls in python_nodes(plan) for c in set(calls))
    return sorted(c for c, n in seen.items() if n > 1)


def main():
    args = sys.argv[1:]
    out_json = None
    if "--json" in args:
        i = args.index("--json")
        out_json = args[i + 1]
        args = args[:i] + args[i + 2:]
    only = {a for a in args if not os.path.isdir(a)}
    args = [a for a in args if os.path.isdir(a)]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    spark = get_spark(app_name="python-audit")
    streaming = getattr(E, "STREAMING_QUERIES", frozenset()) | EA.SKIP
    arrow_users: dict = {}
    node_counts: dict = {}
    doubled: dict = {}
    row_at_a_time: dict = {}
    n_pure_jvm = 0
    errors = 0
    for name, fn in E.queries().items():
        if name in streaming or (only and name not in only):
            continue
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:
            errors += 1
            print(f"{name:<28} ERROR {type(ex).__name__}: {str(ex)[:120]}", flush=True)
            continue
        nodes = python_nodes(plan)
        if any(n == "BatchEvalPython" for n, _ in nodes):
            row_at_a_time[name] = True
            print(f"{name:<28} ROW-AT-A-TIME BatchEvalPython — forbidden", flush=True)
        found = sorted({n for n, _ in nodes if n in ARROW_NODES})
        if not nodes:
            n_pure_jvm += 1
            continue
        node_counts[name] = len(nodes)
        if found:
            arrow_users[name] = found
        print(f"{name:<28} python nodes: {len(nodes)} ({','.join(found)})", flush=True)
        dup = double_evaluated(plan)
        if dup:
            doubled[name] = dup
            for call in dup:
                print(f"{name:<28} DOUBLE EVALUATION {call}", flush=True)
    summary = {
        "sf_dir": sf_dir,
        "pure_jvm": n_pure_jvm,
        "arrow_batched": arrow_users,
        "python_nodes": node_counts,
        "double_evaluated": doubled,
        "row_at_a_time": sorted(row_at_a_time),
        "errors": errors,
    }
    if out_json:
        with open(out_json, "w") as fh:
            json.dump(summary, fh, indent=1)
    print(
        f"\n# {n_pure_jvm} pure-JVM plans, {len(arrow_users)} Arrow-batched, "
        f"{len(row_at_a_time)} row-at-a-time, {len(doubled)} double-evaluating, "
        f"{errors} errors"
    )
    sys.exit(1 if (row_at_a_time or doubled or errors) else 0)


if __name__ == "__main__":
    main()
