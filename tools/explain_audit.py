"""Physical-plan audit for every named query.

Greps each query's executed plan for the scale anti-patterns that
correctness tests cannot catch:

* CartesianProduct / BroadcastNestedLoopJoin — quadratic joins.  Only
  queries in ``NL_ALLOWED`` may contain one (a deliberate
  broadcast-tiny-side design, e.g. brute-force kNN scoring a handful of
  query vectors against the corpus).
* un-pruned parquet scans — every FileScan's ReadSchema must be narrower
  than the table when the query only needs some columns (audited via a
  per-query max-column budget where declared).
* unpartitioned Window operators (``WindowExec: No Partition Defined``)
  — a global window funnels its ENTIRE input through one task, the
  round-8 class that shipped invisibly in four queries.  Only queries in
  ``WINDOW_ALLOWED`` may contain one, and their window INPUT is measured
  from the executed plan's SQLMetrics against ``WINDOW_INPUT_CAP`` — an
  allow-listed frame that silently grows with the data fails the audit.

Run: ``python tools/explain_audit.py [sf_dir] [query ...]``
Exit code 1 if any query violates the audit.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from projet_graphdb_spark.engine import get_spark  # noqa: E402
from projet_graphdb_spark.functions import graph_algos as GA  # noqa: E402

# queries whose plan legitimately contains a nested-loop join: the
# broadcast side is a handful of rows by construction
NL_ALLOWED = {
    "s1_knn_bruteforce",  # corpus x ~5 broadcast query vectors
    "s15_mmr_rerank",  # candidate stage IS s1's broadcast-5-queries scan;
    # the MMR greedy runs per-query over <=10 candidate rows
    "s16_knn_hamming",  # same shape: exhaustive 1-bit scoring of ~5
    # broadcast query signatures against the corpus scan
    "t27_mixture_rates",  # 1-row corpus-total and 1-row redistribution
    # aggregates broadcast into the |sources|-row frame — constant sides
    "s17_crossmodal_recall",  # ~50 broadcast query vectors x corpus scan
    # (the s1 allowance)
    "s21_mips_vs_cosine",  # same shape: ~5 broadcast query vectors x
    # corpus scan, scored twice off one join
    "t30_bigram_perplexity",  # 1-row (total, vocab) aggregate broadcast
    # into the scored validation bigrams — constant side
    "t34_keyword_extraction",  # 1-row corpus doc-count broadcast into the
    # tf x df join — constant side
    "t41_temperature_mixing",  # 1-row normalizing-total aggregate
    # broadcast into the |sources|-row weight frame — constant side
    "s23_dup_strategy_report",  # 1-row corpus-count aggregate broadcast
    # into the 44-row literal construction table — constant sides
    "s28_incremental_strategy_report",  # the same shape for the ingest
    # tier: 1-row N and S aggregates broadcast into the ≤3-row-per-
    # threshold artifact table — constant sides
    "s31_cell_occupancy_report",  # 1-row occupancy aggregate — constant
    "s32_embedding_drift_report",  # three 1-row aggregates (mean-vector
    # arrays, counts, max shift) cross-joined into the single report
    # row — constant sides
    "s33_index_rebuild_policy",  # the s31+s32 gauges (1-row each)
    # cross-joined into the single decision row — constant sides
    "m17_maintenance_decision_table",  # UNIONs the s33 decision row
    # (same 1-row-gauge cross joins as above) with the Hamming tier's
    # 1-row policy aggregates (identity + persisted-layout rows) —
    # constant sides, 3-row output
    "x75_fk_integrity_audit",  # five 1-row orphan-count aggregates
    # cross-joined into five 1-row report rows — all constant sides
    "m10_cutmix_plan",  # 1-row image-count broadcast into the partner
    # arithmetic — constant side
    "x79_ewma_revenue",  # months x months triangular term join — both
    # sides are the |months|-row pre-aggregate (bounded by the calendar,
    # not the data volume)
    "g26_save_load_roundtrip",  # 1-row binding seed x label table over a
    # script-mutated graph (the g11 allowance)
    "g25_self_loop",  # same shape: 1-row matched binding x nation label
    # scan feeding the created self-loop's match
    "a24_bipartiteness",  # two 1-row aggregates (color counts x conflict
    # count) cross-joined into the single report row — constant sides
    "a27_transitivity",  # 1-row triangle total x 1-row wedge total —
    # constant sides of the single summary row
    "x90_incremental_load",  # 1-row high-water-mark aggregate broadcast
    # into the delta predicate — constant side (the pushdown gate)
    "x92_benford",  # 1-row digit-total aggregate x the 9-row digit table
    "t37_pareto_tail",  # 1-row median aggregate broadcast into the tail
    # filter — constant side
    "t36_dedup_length_bias",  # 1-row quartile-bounds percentile aggregate
    # broadcast into the comparison binning — constant side (the x60 shape)
    "t38_vocab_coverage",  # 1-row token-total aggregate x the 3-row
    # coverage slice
    "t40_labeler_agreement",  # 1-row medians aggregate broadcast into
    # the labeling pass — constant side
    "s5_knn_quantized",  # same shape: exhaustive int8 scoring of ~5 queries
    "s7_ann_recall",  # composes s1's exact side — same broadcast-5-queries scan
    "s8_knn_rerank",  # coarse stage IS s5's int8 scan — same constant side
    "g11_transitive",  # 1-row binding seed x label table (broadcast of ONE row
    # feeding the first match over a script-created graph) — constant side
    "g29_mixed_varlength",  # same g11 shape over the mixed-label chain
    "x17_inactive_rich",  # 1-row global-threshold aggregate x customer —
    # the broadcast side is a single row by construction
    "g21_merge",  # binding x matched-key nodes: the broadcast side is the
    # constant-keyed lookup result (a handful of rows) — the cross join IS
    # the merge semantics (each binding row binds each matched node)
    "t18_unigram_logprob",  # 1-row corpus-total aggregate folded into the
    # vocabulary table before broadcast — the NL join is vocab × 1 row and
    # never touches exploded corpus tokens
    "t19_tfidf_pairs",  # same shape: 1-row doc-count folded into the
    # DF-capped vocabulary table pre-broadcast
    "t20_source_kl",  # same shape: 1-row corpus-total folded into the
    # vocabulary-sized corpus-frequency table pre-broadcast
    "x48_rolling_wau",  # 1-row (min, max) date-bounds aggregate broadcast
    # into the window fan-out — constant side by construction
    "x60_equidepth_histogram",  # 1-row quantile-edges aggregate broadcast
    # into the bucket assignment — constant side (the x50 shape)
    "x50_revenue_pareto",  # 1-row percentile-thresholds + 1-row total
    # aggregates broadcast into the decile assignment — constant sides
    "s13_matryoshka_recall",  # the s1 exact-kNN shape per dim setting:
    # corpus × ~5 broadcast query vectors (same allowance as s1/s5/s7/s8)
    "t23_corpus_card",  # the output IS one row: every NL join crosses
    # 1-row aggregates (token stats, dup rate, quality, entropy)
    "t24_bigram_pmi",  # 1-row corpus totals (n_tokens, n_bigrams) folded
    # into the min-count-filtered pair table — constant sides
    "t7_bm25_search",  # 1-row corpus-stats aggregate (N, avgdl) broadcast
    # into the per-doc scorer — constant side by construction
    "x26_important_parts",  # 1-row global-revenue-total aggregate broadcast
    # into the per-part threshold filter (inequality can't become a hash
    # join key) — constant side by construction
    "t13_doc_frequency",  # 1-row corpus-size aggregate broadcast into the
    # IDF projection — constant side by construction
}

# e5-e8 EXECUTE a streaming query on build — their batch twins e1-e4
# carry the same logical shapes through the audit.  Iterative graph
# algorithms are NOT skipped: their supersteps run while the query
# DataFrame is being built, and graph_algos.PLAN_PROBE captures each
# per-iteration plan for the same anti-pattern grep (the final plan alone
# is just the last checkpoint's scan and says nothing).
SKIP = {
    "e5_window_stream",
    "e6_dedup_stream",
    "e7_join_stream",
    "e8_sessionize_stream",
}


# Queries whose plan legitimately contains an UNPARTITIONED Window: the
# window's input must be bounded BY CONSTRUCTION (post-limit top-k
# slices, calendar spines, per-group pre-aggregates over enum-sized
# domains).  Membership is necessary but not sufficient — the measured
# input-row check below verifies the claim from the executed plan's
# SQLMetrics.  EMPTY as of round 9: the four SF-linear funnels
# (t38/x88/t36/m10) and g24's bulk-merge rank were rebuilt on
# TakeOrdered / partition_offset_rank / percentile binning, and the
# five provably-bounded windows (t26/t38 top-100 ranks, x79/x94 month
# spines, e24's arrival buckets) became sorted-array HOF math — so the
# whole bench runs with ZERO `No Partition Defined` warnings, and any
# new one is a regression, not noise.
WINDOW_ALLOWED = set()

# Measured ceiling for an allow-listed unpartitioned window's input rows
# at audit scale: post-limit ranks are <= 100, month/day spines are
# calendar-bounded, percentile/calibration tables are <= 4096.
WINDOW_INPUT_CAP = 4096


def _is_global_window(node) -> bool:
    """True when a Window/WindowGroupLimit node funnels all rows into
    one task: the partitionSpec is EMPTY, or every partition expression
    is a LITERAL (the repo's bounded-window marker — `partitionBy(
    F.lit(0))` silences Spark's log warning without changing execution,
    so the audit must keep seeing through it)."""
    try:
        spec = node.partitionSpec()
        n = spec.size()
    except Exception:
        return True  # can't prove partitioned -> treat as a hit
    if n == 0:
        return True
    for i in range(n):
        try:
            if spec.apply(i).getClass().getSimpleName() != "Literal":
                return False
        except Exception:
            return False
    return True


def find_unpartitioned_windows(df) -> list:
    """All Window/WindowGroupLimit nodes in ``df``'s executed plan that
    are single-partition global windows (empty OR literal-only
    partitionSpec — see ``_is_global_window``).  Structure-only — no
    execution needed."""
    hits = []
    for node in _walk_jplan(df._jdf.queryExecution().executedPlan(), []):
        nm = node.nodeName()
        if nm not in ("Window", "WindowGroupLimit"):
            continue
        if _is_global_window(node):
            hits.append(nm)
    return hits


def audit_window_input_caps(df, execute: bool = True) -> list:
    """For an allow-listed query: execute, then require every
    unpartitioned window's measured INPUT (its child's numOutputRows)
    under ``WINDOW_INPUT_CAP`` — the same measured-not-asserted
    discipline as ``audit_nl_build_sides``."""
    if execute:
        df.collect()
    problems = []
    for node in _walk_jplan(df._jdf.queryExecution().executedPlan(), []):
        nm = node.nodeName()
        if nm not in ("Window", "WindowGroupLimit"):
            continue
        if not _is_global_window(node):
            continue
        child = _unwrap_child(node.children().apply(0))
        rows = _num_output_rows(child)
        if rows is None:
            problems.append(f"unpartitioned {nm}: input rows unmeasurable")
        elif rows > WINDOW_INPUT_CAP:
            problems.append(
                f"unpartitioned {nm} input {rows} rows > cap {WINDOW_INPUT_CAP}"
            )
    return problems


# A nested-loop join is only tolerable when its broadcast/smaller side is
# tiny BY CONSTRUCTION (1-row aggregates, ~5 query vectors, calendar-bounded
# frames).  The allow-list docstrings claim that; this cap VERIFIES it from
# the executed plan's SQLMetrics, so an allow-listed side that silently
# grows with the data fails the audit instead of going quadratic at scale.
NL_BUILD_SIDE_CAP = 2048


def audit_plan(name: str, plan: str) -> list:
    problems = []
    if name not in NL_ALLOWED:
        for pat in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            if pat in plan:
                problems.append(f"{pat} in plan")
    return problems


def _walk_jplan(node, acc):
    """Flatten a JVM SparkPlan tree, descending through AQE wrappers and
    query stages (py4j: Scala Seq via .size()/.apply(i))."""
    acc.append(node)
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        try:
            _walk_jplan(node.executedPlan(), acc)
            return acc
        except Exception:
            pass
    for i in range(node.children().size()):
        _walk_jplan(node.children().apply(i), acc)
    if name.endswith("QueryStage"):
        try:
            _walk_jplan(node.plan(), acc)
        except Exception:
            pass
    return acc


def _num_output_rows(node):
    """numOutputRows of ``node``, or of its nearest pre-order descendant
    that carries the metric (WholeStageCodegen / InputAdapter wrappers
    don't; the op inside does).  Follows ReusedExchange to the measured
    original — the reused side itself carries no metrics."""
    stack = [node]
    while stack:
        n = stack.pop(0)
        try:
            return n.metrics().apply("numOutputRows").value()
        except Exception:
            pass
        if n.nodeName() == "ReusedExchange":
            try:
                stack.insert(0, n.child())
                continue
            except Exception:
                continue
        stack = _walk_jplan_children(n) + stack
    return None


def _walk_jplan_children(node):
    """Immediate logical descendants of ``node`` for the metric walk:
    plan children, plus the materialized plan inside AQE wrappers and
    query stages."""
    out = []
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        try:
            return [node.executedPlan()]
        except Exception:
            pass
    for i in range(node.children().size()):
        out.append(node.children().apply(i))
    if name.endswith("QueryStage"):
        try:
            out.append(node.plan())
        except Exception:
            pass
    return out


def _unwrap_child(node):
    """Descend through pure wrappers (codegen, adapters, query stages,
    exchange reuse) to the first operator that does work."""
    while True:
        nm = node.nodeName()
        if nm.endswith("QueryStage"):
            node = node.plan()
        elif nm == "ReusedExchange":
            node = node.child()
        elif nm == "InputAdapter" or nm.startswith("WholeStageCodegen"):
            node = node.children().apply(0)
        else:
            return node


def audit_nl_build_sides(df, execute: bool = True) -> list:
    """Assert every nested-loop join's build side in ``df``'s executed
    plan stayed tiny.  ``execute=True`` collects first — on the
    DataFrame's OWN QueryExecution (collect, not count — count plans a
    fresh query whose metrics stay zero); pass False for a frame whose
    plan already ran (a captured superstep materialized by its
    checkpoint).  Only the join's OWN build-side exchange is measured —
    a BroadcastExchange belonging to a nested hash join deeper in the
    probe subtree is that join's business, not this one's."""
    if execute:
        df.collect()
    problems = []
    nodes = _walk_jplan(df._jdf.queryExecution().executedPlan(), [])
    for node in nodes:
        nm = node.nodeName()
        if nm == "BroadcastNestedLoopJoin":
            builds = []
            for i in range(node.children().size()):
                c = _unwrap_child(node.children().apply(i))
                if c.nodeName() == "BroadcastExchange":
                    builds.append(c)
            if not builds:
                problems.append("BNLJ build side not found")
            for b in builds:
                rows = _num_output_rows(b)
                if rows is None:
                    problems.append("BNLJ build side has no numOutputRows metric")
                elif rows > NL_BUILD_SIDE_CAP:
                    problems.append(
                        f"BNLJ build side {rows} rows > cap {NL_BUILD_SIDE_CAP}"
                    )
        elif nm == "CartesianProduct":
            sides = []
            for i in range(node.children().size()):
                sides.append(_num_output_rows(node.children().apply(i)))
            known = [s for s in sides if s is not None]
            if len(known) < len(sides):
                # a metric-less side is UNKNOWN, not droppable: if the
                # genuinely tiny side lacks the metric, min(known) would
                # be the big probe side and the audit would false-fail —
                # report the gap instead of guessing either way
                problems.append(
                    f"CartesianProduct: {len(sides) - len(known)} side(s) "
                    f"missing numOutputRows metric (known sides: {known})"
                )
            elif min(known) > NL_BUILD_SIDE_CAP:
                problems.append(
                    f"CartesianProduct smaller side {min(known)} rows "
                    f"> cap {NL_BUILD_SIDE_CAP}"
                )
    return problems


def main():
    args = [a for a in sys.argv[1:]]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.001"
    only = set(a for a in args if not os.path.isdir(a))
    spark = get_spark(app_name="explain-audit")
    failures = 0
    for name, fn in E.queries().items():
        if name in SKIP or (only and name not in only):
            continue
        GA.PLAN_PROBE = supersteps = []
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:
            print(f"{name:<24} ERROR {type(ex).__name__}: {str(ex)[:120]}")
            failures += 1
            continue
        finally:
            GA.PLAN_PROBE = None
        problems = audit_plan(name, plan)
        # Supersteps already executed (their checkpoints materialized
        # them), so a nested-loop join found in one is judged by its
        # MEASURED build-side rows, not by allow-list membership.
        for i, sdf in enumerate(supersteps):
            try:
                sp = sdf._jdf.queryExecution().executedPlan().toString()
                if "CartesianProduct" in sp or "BroadcastNestedLoopJoin" in sp:
                    probs = audit_nl_build_sides(sdf, execute=False)
                    problems += [f"superstep {i}: {p}" for p in probs]
                problems += [
                    f"superstep {i}: unpartitioned {w} (never allowed in "
                    f"iterative supersteps)"
                    for w in find_unpartitioned_windows(sdf)
                ]
            except Exception as ex:
                problems.append(f"superstep {i}: audit error {type(ex).__name__}")
        if name in NL_ALLOWED and not problems:
            try:
                problems += audit_nl_build_sides(df)
            except Exception as ex:
                problems.append(f"build-side audit error {type(ex).__name__}: {str(ex)[:80]}")
        try:
            wins = find_unpartitioned_windows(df)
        except Exception as ex:
            wins, problems = [], problems + [
                f"window audit error {type(ex).__name__}"
            ]
        if wins and name not in WINDOW_ALLOWED:
            problems += [f"unpartitioned {w} (not in WINDOW_ALLOWED)" for w in wins]
        elif wins:
            try:
                problems += audit_window_input_caps(df)
            except Exception as ex:
                problems.append(f"window-cap audit error {type(ex).__name__}: {str(ex)[:80]}")
        joins = sorted(set(re.findall(r"(\w*Join\w*)\s", plan)))
        scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        widths = [len(s.split(",")) if s else 0 for s in scans]
        status = "FAIL " + "; ".join(problems) if problems else "ok"
        print(f"{name:<24} {status:<8} joins={','.join(joins) or '-'} scan_widths={widths}")
        failures += bool(problems)
    print(f"FAILURES: {failures}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
