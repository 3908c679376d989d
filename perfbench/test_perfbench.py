"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import statistics

import pytest

import checks
import gen
import run
import tracing

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _files(d: str) -> dict:
    out = {}
    for base, _, names in os.walk(d):
        for n in names:
            p = os.path.join(base, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = f.read()
    return out


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_generator_is_deterministic(tmp_path, workload):
    a = gen.make_inputs(workload, 7, str(tmp_path / "a"))
    b = gen.make_inputs(workload, 7, str(tmp_path / "b"))
    c = gen.make_inputs(workload, 8, str(tmp_path / "c"))
    assert a["stream"] == b["stream"]
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    assert a["stream"] != c["stream"]
    assert _files(str(tmp_path / "a")) != _files(str(tmp_path / "c"))


def test_every_cycle_holds_every_shape_once(tmp_path):
    m = gen.make_inputs("gql_read", 1, str(tmp_path))
    shapes = sorted(gen.GQL_READ)
    n = len(shapes)
    for i in range(0, len(m["stream"]), n):
        assert sorted(q["shape"] for q in m["stream"][i:i + n]) == shapes


def test_printed_result_carries_every_metric_and_unit():
    spec = _spec()
    e2e = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
    assert e2e == run.END_TO_END
    metrics = {n: {"value": 1.5, "unit": u} for n, u in e2e}
    line = json.loads(run.result_line(True, 3, 0, metrics))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == metrics
    per_layer = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    assert per_layer == tracing.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(gen.WORKLOADS)


def test_p90_rule():
    lat = [float(i) for i in range(1, 101)]
    m = run.latency_metrics(lat)
    assert m["latency_p50_s"] == statistics.median(lat)
    # with at least P90_MIN_SAMPLES samples, ten or more lie beyond the p90
    assert len(lat) >= run.P90_MIN_SAMPLES
    assert sum(1 for x in lat if x > m["latency_p90_s"]) >= 10
    assert run.latency_metrics([2.0])["latency_p90_s"] == 2.0


def test_gql_checker_accepts_replay_and_rejects_perturbation(tmp_path):
    m = gen.make_inputs("gql_read", 3, str(tmp_path))
    ck = checks.Checker(m)
    for q in m["stream"][: len(gen.GQL_READ)]:
        sql = checks.READ_SQL[q["shape"]]
        cols = ck.db.columns(sql, q["params"])
        rows = [dict(zip(cols, r)) for r in ck.db.rows(sql, q["params"])]
        assert ck.check(q, rows)[0], q["shape"]
        bad = [dict(r) for r in rows]
        bad[0][cols[0]] = -1
        assert not ck.check(q, bad)[0], q["shape"]
        assert not ck.check(q, rows[1:])[0], q["shape"]


def test_write_checker_rejects_perturbation(tmp_path):
    m = gen.make_inputs("gql_write", 3, str(tmp_path))
    ck = checks.Checker(m)
    for q in m["stream"][: len(gen.GQL_WRITE)]:
        if q["shape"] in ("create_node", "literal_script"):
            continue
        rows = [tuple(r) for r in ck.db.rows(checks.WRITE_SQL[q["shape"]], q["params"])]
        assert ck.check(q, rows)[0], q["shape"]
        bad = [(r[0] + 1,) + r[1:] for r in rows]
        assert not ck.check(q, bad)[0], q["shape"]
    q = next(q for q in m["stream"] if q["shape"] == "literal_script")
    good = checks.closure_pairs(q["params"]["edges"], q["params"]["lo"])
    assert ck.check(q, good)[0]
    assert not ck.check(q, good[:-1])[0]


def test_graph_checker_rejects_perturbation(tmp_path):
    m = gen.make_inputs("graph_iter", 3, str(tmp_path))
    ck = checks.Checker(m)
    for q in m["stream"][: len(gen.GRAPH_ALGOS)]:
        ref = getattr(ck, f"_ref_{q['shape']}")(**q["params"])
        rows = list(ref.items()) if isinstance(ref, dict) else list(ref)
        assert ck.check(q, rows)[0], q["shape"]
        a = rows[0]
        bad = [(a[0], a[1] + 1 if a[1] is not None else 0) + tuple(a[2:])] + rows[1:]
        assert not ck.check(q, bad)[0], q["shape"]


def _pair_rows(ck, pairs) -> list:
    return [(a, b, float(ck.cos[a, b])) for a, b in sorted(pairs)]


@pytest.mark.parametrize("op", ["lsh_cosine_dups", "ivf_cosine_dups"])
def test_vector_checker_rejects_false_positive_and_lost_recall(tmp_path, op):
    m = gen.make_inputs("vector_dedup", 3, str(tmp_path))
    ck = checks.Checker(m)
    q = {"shape": op, "params": {"threshold": gen.VEC_THRESHOLD}}
    truth = ck._true_pairs(gen.VEC_THRESHOLD)
    planted = {(a, b) for a, b in truth if ck.cos[a, b] >= checks.PLANTED_COS}
    assert len(planted) >= gen.VEC_SHAPE["groups"]
    rows = _pair_rows(ck, truth)
    ok, info = ck.check(q, rows)
    assert ok and info == {"found": len(truth), "true": len(truth)}
    assert not ck.check(q, [])[0]  # an empty result has lost every pair
    floor = checks.RECALL_FLOOR[op]
    # planted pairs plus just enough random ones to meet the floor pass ...
    keep = sorted(planted) + sorted(truth - planted)
    n_ok = max(len(planted), int(floor * len(truth)) + 1)
    assert ck.check(q, _pair_rows(ck, keep[:n_ok]))[0]
    # ... one planted pair missing, or a recall below the floor, fails
    assert not ck.check(q, _pair_rows(ck, keep[1:]))[0]
    if floor * len(truth) > len(planted):
        assert not ck.check(q, _pair_rows(ck, keep[: n_ok - 2]))[0]
    lone = next((a, b) for a in range(5) for b in range(a + 1, 50) if (a, b) not in truth)
    assert not ck.check(q, rows + _pair_rows(ck, [lone]))[0]


def test_vector_checker_exact_and_minhash(tmp_path):
    m = gen.make_inputs("vector_dedup", 3, str(tmp_path))
    ck = checks.Checker(m)
    exact = {"shape": "embedding_cosine_dups", "params": {"threshold": gen.EXACT_THRESHOLD}}
    rows = _pair_rows(ck, ck._true_pairs(gen.EXACT_THRESHOLD, same_block=True))
    assert ck.check(exact, rows)[0]
    assert not ck.check(exact, rows[1:])[0]  # exact: a missing pair fails
    q = {"shape": "minhash_lsh_pairs", "params": {"threshold": gen.MINHASH_THRESHOLD}}
    truth = ck._true_doc_pairs(gen.MINHASH_THRESHOLD)
    assert len(truth) >= gen.VEC_SHAPE["doc_groups"]
    rows = [(a, b, j) for (a, b), j in sorted(truth.items())]
    assert ck.check(q, rows)[0]
    assert not ck.check(q, [])[0]
    n_ok = int(checks.RECALL_FLOOR["minhash_lsh_pairs"] * len(rows)) + 1
    assert ck.check(q, rows[:n_ok])[0]
    assert not ck.check(q, rows[: n_ok - 2])[0]  # recall below the floor
    assert not ck.check(q, [(a, b, j + 0.01) for a, b, j in rows])[0]


def test_self_time_subtracts_children_and_jobs():
    spans = [("engine.run_program", 0.0, 10.0, None), ("frontend.parse", 1.0, 2.0, "x"),
             ("engine.binding_table", 12.0, 13.0, None)]
    jobs = [(5.0, 7.0), (6.0, 8.0), (20.0, 30.0)]
    got = tracing.self_time(
        spans, {"engine.run_program", "engine.binding_table"}, {"frontend.parse"}, jobs
    )
    assert got == pytest.approx(11.0 - 1.0 - 3.0)
