"""Property tier (SURVEY §5): randomized small programs, invariants from
the reference implementation:

* edge-set uniqueness (graphstruct.ml:30-32)
* delete-node cascade removes all incident edges (sem.ml:212-215)
* match-rel result ⊆ cross-product of the label scans (sem.ml:317-329)
* the frontend round-trips: normalize is deterministic; typechecker
  accepts exactly the declared-label universe

Hypothesis drives the *program generation*; execution checks run the
full Spark engine, so examples are kept small and deadline disabled.
"""

import hypothesis.strategies as st
from hypothesis import HealthCheck, given, settings

from conftest import REFERENCE_TESTS, needs_reference
from projet_graphdb_spark.engine import binding_table, run_program
from projet_graphdb_spark.frontend import compile_program, normalize, parse

SCHEMA = """
(:A {x int})
(:B {y int})
(:A) -[:r]-> (:B)
(:A) -[:s]-> (:A)
"""

# small deterministic pool of variable names
VARS = ["v0", "v1", "v2", "v3", "v4", "v5"]


@st.composite
def create_programs(draw):
    """A random literal create/set/create-rel program over the schema."""
    n_a = draw(st.integers(1, 4))
    n_b = draw(st.integers(1, 3))
    a_vars = VARS[:n_a]
    b_vars = [f"b{i}" for i in range(n_b)]
    lines = ["create " + ", ".join(f"({v}: A)" for v in a_vars)]
    lines.append("create " + ", ".join(f"({v}: B)" for v in b_vars))
    # random r-edges A->B (with possible duplicates — must dedup)
    n_edges = draw(st.integers(0, 6))
    edges = [
        (draw(st.sampled_from(a_vars)), draw(st.sampled_from(b_vars)))
        for _ in range(n_edges)
    ]
    for s, t in edges:
        lines.append(f"create ({s}) -[:r]-> ({t})")
    n_self = draw(st.integers(0, 3))
    selfs = [
        (draw(st.sampled_from(a_vars)), draw(st.sampled_from(a_vars)))
        for _ in range(n_self)
    ]
    for s, t in selfs:
        lines.append(f"create ({s}) -[:s]-> ({t})")
    sets = [f"set {v}.x = {draw(st.integers(0, 9))}" for v in a_vars]
    return SCHEMA + "\n".join(lines + sets), n_a, n_b, edges, selfs


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(data=create_programs())
def test_edge_set_uniqueness_and_counts(spark, data):
    src, n_a, n_b, edges, selfs = data
    state, b = run_program(spark, src)
    got_edges = state.collect_edges()
    # set semantics: duplicates collapse; every edge corresponds to a var pair
    var_ids = {v: i for i, v in enumerate(VARS[:n_a])}
    var_ids.update({f"b{i}": n_a + i for i in range(n_b)})
    expect = {(var_ids[s], "r", var_ids[t]) for s, t in edges} | {
        (var_ids[s], "s", var_ids[t]) for s, t in selfs
    }
    assert got_edges == expect
    nodes = state.collect_nodes()
    assert len(nodes["A"]) == n_a and len(nodes["B"]) == n_b


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(data=create_programs())
def test_match_rel_subset_of_cross_product(spark, data):
    src, n_a, n_b, edges, selfs = data
    q = src + "\nmatch (p: A) -[:r]-> (q: B) return p, q"
    state, b = run_program(spark, q)
    got = {tuple(r) for r in binding_table(b).collect()}
    cross = {(i, n_a + j) for i in range(n_a) for j in range(n_b)}
    assert got <= cross
    # exactness: results are exactly the created (deduped) edges
    var_ids = {v: i for i, v in enumerate(VARS[:n_a])}
    var_ids.update({f"b{i}": n_a + i for i in range(n_b)})
    assert got == {(var_ids[s], var_ids[t]) for s, t in edges}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(data=create_programs(), victim=st.integers(0, 3))
def test_delete_cascade(spark, data, victim):
    src, n_a, n_b, edges, selfs = data
    v = VARS[: n_a][victim % n_a]
    q = src + f"\ndelete {v}"
    state, b = run_program(spark, q)
    var_ids = {vv: i for i, vv in enumerate(VARS[:n_a])}
    vid = var_ids[v]
    assert vid not in state.collect_nodes()["A"]
    for s, _, t in state.collect_edges():
        assert s != vid and t != vid


@needs_reference
def test_normalize_deterministic():
    for name in ["test1", "test2", "entreprise"]:
        src = open(f"{REFERENCE_TESTS}/{name}.q").read()
        a = normalize(parse(src)).instructions
        b = normalize(parse(src)).instructions
        assert a == b


@given(label=st.sampled_from(["A", "B", "C", "Zz"]))
@settings(max_examples=8, deadline=None)
def test_typechecker_label_universe(label):
    src = SCHEMA + f"create (n: {label})"
    if label in ("A", "B"):
        compile_program(src)
    else:
        import pytest

        from projet_graphdb_spark.frontend import TypeCheckError

        with pytest.raises(TypeCheckError):
            compile_program(src)


@given(
    vals=st.lists(
        st.sampled_from(["aa", "bb", "cc"]), min_size=1, max_size=5
    )
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_merge_idempotent_per_key(spark, vals):
    """Merging the same key any number of times creates exactly one node
    per distinct key (the upsert invariant)."""
    clauses = " ".join(
        f'merge (m{i}: A {{nom = "{v}"}})' for i, v in enumerate(vals)
    )
    src = "(:A {nom string})\n" + clauses
    state, _ = run_program(spark, src)
    noms = [a.get("nom") for a in state.collect_nodes()["A"].values()]
    assert sorted(noms) == sorted(set(vals))


@given(n_nodes=st.integers(1, 4))
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_return_projection_matches_attrs(spark, n_nodes):
    """return v, v.f projects exactly the stored attribute per row."""
    creates = " ".join(f"create (p{i}: A)" for i in range(n_nodes))
    sets = " ".join(f'set p{i}.nom = "v{i}"' for i in range(n_nodes))
    src = f"(:A {{nom string}})\n{creates} {sets} match (q: A) return q, q.nom"
    state, b = run_program(spark, src)
    got = dict(tuple(r) for r in binding_table(b).collect())
    attrs = state.collect_nodes()["A"]
    assert got == {nid: a["nom"] for nid, a in attrs.items()}


# ---------------------------------------------------------------------------
# _star_reachable (closure endpoint typecheck) vs brute-force enumeration
# ---------------------------------------------------------------------------

@st.composite
def label_graphs(draw):
    n = draw(st.integers(2, 5))
    labels = [f"L{i}" for i in range(n)]
    n_edges = draw(st.integers(1, 8))
    edges = [
        (labels[draw(st.integers(0, n - 1))], labels[draw(st.integers(0, n - 1))])
        for _ in range(n_edges)
    ]
    src = labels[draw(st.integers(0, n - 1))]
    tgt = labels[draw(st.integers(0, n - 1))]
    lo = draw(st.integers(1, 4))
    hi = draw(st.one_of(st.none(), st.integers(lo, 6)))
    undirected = draw(st.booleans())
    return labels, edges, src, tgt, lo, hi, undirected


def _brute_reachable(labels, edges, src, tgt, lo, hi, undirected, cap=24):
    """Exact-length BFS over the label multigraph, lengths 1..cap."""
    step = {}
    for a, b in edges:
        step.setdefault(a, set()).add(b)
        if undirected:
            step.setdefault(b, set()).add(a)
    frontier = {src}
    top = hi if hi is not None else cap
    for k in range(1, top + 1):
        frontier = {d for s in frontier for d in step.get(s, ())}
        if not frontier:
            return False
        if k >= lo and tgt in frontier:
            return True
    return False


@given(label_graphs())
@settings(max_examples=200, deadline=None)
def test_star_reachable_matches_bruteforce(data):
    """The typechecker's closure-reachability must agree with exhaustive
    path-length enumeration — for unbounded hi, the lo+|labels| cap must
    not reject a reachable pair (pump-down) nor accept an unreachable
    one (brute force runs far past the cap to witness agreement)."""
    import projet_graphdb_spark.frontend.ast as A
    from projet_graphdb_spark.frontend.typecheck import _star_reachable

    labels, edges, src, tgt, lo, hi, und = data
    tg = A.TypeGraph(
        nodes=[A.NodeTypeDecl(lbl, ()) for lbl in labels],
        rels=[A.RelTypeDecl(a, "r", b) for a, b in edges],
    )
    got = _star_reachable(tg, src, "r", tgt, lo, hi, und)
    want = _brute_reachable(labels, edges, src, tgt, lo, hi, und)
    assert got == want, (edges, src, tgt, lo, hi, und, got, want)
