"""Operator tier: each §2 operator through the *DataFrame* execution path.

``fold_prefix=False`` forces literal creates/sets through the DataFrame
implementations (union / join / anti-join), and post-``match``
instructions exercise the data-dependent paths the folder never sees:
multi-row create, per-row set, deletes driven by a matched binding.
"""

import pytest

from projet_graphdb_spark.engine import binding_table, run_program

SCHEMA = """
(:P {nom string, age int})
(:E {nom string, pme bool})
(:P) -[:ami]-> (:P)
(:P) -[:emp]-> (:E)
"""

BASE = (
    SCHEMA
    + """
create (a: P) -[:emp]-> (x: E), (b: P) -[:emp]-> (y: E), (c: P)
set a.nom = "Alice", a.age = 30,
    b.nom = "Bob", b.age = 20,
    c.nom = "Carol", c.age = 41,
    x.nom = "Xco", x.pme = true,
    y.nom = "Yco", y.pme = false
create (a) -[:ami]-> (b), (b) -[:ami]-> (c)
"""
)


def rows(b):
    return sorted(tuple(r) for r in binding_table(b).collect())


def test_unfolded_create_set_match(spark):
    # same literal program through the DataFrame mutation path
    state, b = run_program(spark, BASE + "match (p:P) where p.age > 25 return p",
                           fold_prefix=False)
    assert rows(b) == [(0,), (4,)]  # Alice(id 0), Carol(id 4)
    nodes = state.collect_nodes()
    assert nodes["P"][0] == {"nom": "Alice", "age": 30}


def test_match_rel_semijoin(spark):
    state, b = run_program(spark, BASE + "match (p:P) -[:emp]-> (e:E) return p, e")
    assert rows(b) == [(0, 1), (2, 3)]


def test_where_arith_exprs(spark):
    # age mod 7 = 6 and (age * 2) / 4 >= 10  → Bob (20 mod 7 = 6, 40/4 = 10)
    # and Carol (41 mod 7 = 6, 82/4 = 20 truncated)
    q = "match (p:P) where p.age mod 7 = 6 and p.age * 2 / 4 >= 10 return p"
    state, b = run_program(spark, BASE + q)
    assert rows(b) == [(2,), (4,)]


def test_where_bool_and_string(spark):
    q = 'match (p:P) -[:emp]-> (e:E) where e.pme or p.nom = "Bob" return p'
    state, b = run_program(spark, BASE + q)
    assert rows(b) == [(0,), (2,)]


def test_delete_node_cascades(spark):
    # delete Bob: his emp + ami edges must go
    q = 'match (p:P) where p.nom = "Bob" delete p'
    state, b = run_program(spark, BASE + q)
    nodes = state.collect_nodes()
    assert 2 not in nodes["P"] and len(nodes["P"]) == 2
    edges = state.collect_edges()
    assert edges == {(0, "emp", 1)}  # both ami edges and Bob's emp edge gone
    assert "p" not in binding_table(b).columns  # only p's column dropped


def test_delete_rel(spark):
    q = "match (p:P) -[:ami]-> (q:P) delete p -[:ami]-> q"
    state, b = run_program(spark, BASE + q)
    assert state.collect_edges() == {(0, "emp", 1), (2, "emp", 3)}


def test_multi_row_create_allocates_distinct_ids(spark):
    # create from a 3-row binding: one fresh E node per row (sane counter
    # semantics — the reference's mn+1 bug would collide, sem.ml:45-51)
    q = "match (p:P) create (z:E) create (p) -[:emp]-> (z) match (w:E) return w"
    state, b = run_program(spark, BASE + q)
    nodes = state.collect_nodes()
    assert len(nodes["E"]) == 5  # 2 original + 3 fresh
    assert state.next_id == 8
    new_emp = {e for e in state.collect_edges() if e[1] == "emp"} - {(0, "emp", 1), (2, "emp", 3)}
    assert len(new_emp) == 3
    assert len({t for _, _, t in new_emp}) == 3  # distinct targets


def test_set_after_match_updates_all_bound(spark):
    # reference first-row semantics: single value written to all bound nodes
    q = "match (p:P) set p.age = 9 match (q:P) where q.age = 9 return q"
    state, b = run_program(spark, BASE + q)
    # 3 p-rows × 3 q-matches, no dedup (sem.ml:303-307)
    assert rows(b) == sorted([(0,), (2,), (4,)] * 3)
    ages = {nid: attrs["age"] for nid, attrs in state.collect_nodes()["P"].items()}
    assert ages == {0: 9, 2: 9, 4: 9}


def test_set_expr_from_attribute(spark):
    # non-const RHS: p.age + 1 evaluated on first row (sem.ml:371-372)
    q = 'match (p:P) where p.nom = "Alice" set p.age = p.age + 1 match (r:P) where r.age = 31 return r'
    state, b = run_program(spark, BASE + q)
    assert rows(b) == [(0,)]


def test_set_per_row_mode(spark):
    q = "match (p:P) set p.age = p.age + 1 match (r:P) return r"
    state, b = run_program(spark, BASE + q, set_eval="per_row")
    ages = {nid: attrs["age"] for nid, attrs in state.collect_nodes()["P"].items()}
    assert ages == {0: 31, 2: 21, 4: 42}


def test_rebinding_most_recent_wins(spark):
    # second `match (p:E)` shadows the P binding; where resolves to E attrs
    q = "match (p:P) match (p:E) where p.pme return p"
    state, b = run_program(spark, BASE + q)
    # 3 P rows × 1 pme-true E node
    assert rows(b) == [(1,), (1,), (1,)]


def test_return_reorders_and_projects(spark):
    q = "match (p:P) -[:emp]-> (e:E) return e, p"
    state, b = run_program(spark, BASE + q)
    tbl = binding_table(b)
    assert tbl.columns == ["e", "p"]


def test_empty_match_yields_empty(spark):
    q = 'match (p:P) where p.nom = "Nobody" return p'
    state, b = run_program(spark, BASE + q)
    assert rows(b) == []


def test_cross_product_semantics(spark):
    # two unconstrained matches = cartesian product (sem.ml:303-307)
    q = "match (p:P), (q:P) return p, q"
    state, b = run_program(spark, BASE + q)
    assert len(rows(b)) == 9


def test_merge_upsert_semantics(spark):
    from projet_graphdb_spark.engine import binding_table, run_program

    state, b = run_program(
        spark,
        """
(:P {nom string, age int})

create (x: P)
set x.nom = "alice"
merge (a: P {nom = "alice"})
merge (b: P {nom = "bob"})
merge (c: P {nom = "bob"})
return a, b, c
""",
    )
    rows = [tuple(r) for r in binding_table(b).collect()]
    assert rows == [(0, 1, 1)]  # a matched, b created, c matched b's node
    nodes = state.collect_nodes()
    assert nodes["P"][1] == {"nom": "bob"}  # key attrs set atomically


def test_merge_binds_all_matches_per_row(spark):
    from projet_graphdb_spark.engine import binding_table, run_program

    state, b = run_program(
        spark,
        """
(:P {nom string, age int})

create (x: P) create (y: P)
set x.nom = "dup"
set y.nom = "dup"
merge (m: P {nom = "dup"})
return m
""",
    )
    # both matching nodes bind, like match
    assert sorted(r["m"] for r in binding_table(b).collect()) == [0, 1]


def test_merge_type_errors(spark):
    import pytest as _pytest

    from projet_graphdb_spark.engine import run_program
    from projet_graphdb_spark.frontend.typecheck import TypeCheckError

    for bad in [
        '(:P {n string})\nmerge (a: Q {n = "x"})',      # undeclared label
        '(:P {n string})\nmerge (a: P {z = "x"})',      # undeclared attr
        '(:P {n string})\nmerge (a: P {n = 4})',        # type mismatch
        '(:P {n string})\nmerge (a: P {n = "x", n = "y"})',  # dup keys
    ]:
        with _pytest.raises(TypeCheckError):
            run_program(spark, bad)


def test_return_attribute_projection(spark):
    from projet_graphdb_spark.engine import binding_table, run_program

    _, b = run_program(
        spark,
        """
(:P {nom string, age int})
(:E {dept string})
(:P) -[:emp]-> (:E)

create (p1: P) -[:emp]-> (e1: E)
create (p2: P) -[:emp]-> (e1)
set p1.nom = "alice", p1.age = 23, p2.nom = "bob", p2.age = 30, e1.dept = "R"
match (p: P) -[:emp]-> (e: E)
return p, p.nom, e.dept
""",
    )
    df = binding_table(b)
    assert df.columns == ["p", "p_nom", "e_dept"]
    assert sorted(tuple(r) for r in df.collect()) == [(0, "alice", "R"), (2, "bob", "R")]


def test_return_attr_distinct_dedups(spark):
    from projet_graphdb_spark.engine import binding_table, run_program

    _, b = run_program(
        spark,
        """
(:P {nom string})

create (p1: P) create (p2: P)
set p1.nom = "x", p2.nom = "x"
match (q: P)
return distinct q.nom
""",
    )
    assert [tuple(r) for r in binding_table(b).collect()] == [("x",)]


def test_set_per_row_differs_from_first_row(spark):
    from projet_graphdb_spark.engine import run_program
    from projet_graphdb_spark.engine.state import GraphState  # noqa: F401

    prog = """
(:P {nom string, age int})

create (p1: P) create (p2: P)
set p1.age = 10, p2.age = 20
match (q: P)
set q.age = q.age + 1
return q, q.age
"""
    state, b = run_program(spark, prog, set_eval="per_row", fold_prefix=False)
    from projet_graphdb_spark.engine import binding_table

    got = dict(tuple(r) for r in binding_table(b).collect())
    assert got == {0: 11, 1: 21}
    # first-row mode writes ONE value (deterministically the first
    # binding row's) to every bound node
    state2, b2 = run_program(spark, prog, set_eval="first_row", fold_prefix=False)
    got2 = dict(tuple(r) for r in binding_table(b2).collect())
    assert got2 == {0: 11, 1: 11}


def test_schema_extension_on_loaded_graph(spark):
    """A program may extend a preloaded graph's schema with new labels
    and relations; conflicting re-declarations are rejected; the shared
    TypeGraph object is never mutated."""
    import pytest as _pytest

    from conftest import SF_TINY
    from projet_graphdb_spark.engine import run_program, binding_table
    from projet_graphdb_spark.frontend.typecheck import TypeCheckError
    from projet_graphdb_spark.sources.parquet_graph import TPCH_TYPE_GRAPH, load_tpch_graph

    before_nodes = len(TPCH_TYPE_GRAPH.nodes)
    before_rels = len(TPCH_TYPE_GRAPH.rels)
    state = load_tpch_graph(spark, SF_TINY)
    _, b = run_program(
        spark,
        "(:Tag {label string})\n"
        "(:Tag) -[:tags]-> (:Nation)\n"
        'create (t: Tag) set t.label = "hot"\n'
        'match (n: Nation) where n.name = "NATION_1" create (t) -[:tags]-> (n)\n'
        "match (x: Tag) -[:tags]-> (m: Nation) return x, m",
        initial_state=state,
    )
    rows = binding_table(b).collect()
    assert len(rows) == 1
    # the module-level schema object is untouched (copy-on-write merge)
    assert len(TPCH_TYPE_GRAPH.nodes) == before_nodes
    assert len(TPCH_TYPE_GRAPH.rels) == before_rels
    # conflicting re-declaration rejected
    with _pytest.raises(TypeCheckError):
        run_program(
            spark,
            "(:Nation {name bool})\nmatch (n: Nation) return n",
            initial_state=load_tpch_graph(spark, SF_TINY),
        )


def test_bind_params_typed_and_injection_proof(spark):
    import pytest as _pytest

    from projet_graphdb_spark.engine.executor import bind_params

    out = bind_params('where r.name = $x and r.ok = $b and r.n = $k',
                      {"x": "ASIA", "b": True, "k": 7})
    assert out == 'where r.name = "ASIA" and r.ok = true and r.n = 7'
    # injection: the quote character is outside the miniGQL charset
    with _pytest.raises(ValueError):
        bind_params("where r.name = $x", {"x": 'A" and r.name = "B'})
    with _pytest.raises(KeyError):
        bind_params("where r.name = $x", {})
    with _pytest.raises(KeyError):
        bind_params("where r.name = $x", {"x": "A", "zz": 1})


def test_failed_program_leaves_state_untouched(spark):
    """Typecheck/parse failures happen BEFORE any execution, so a bad
    program is atomic: the loaded graph is unchanged (no partial
    creates)."""
    import pytest as _pytest

    from conftest import SF_TINY
    from projet_graphdb_spark.engine import run_program
    from projet_graphdb_spark.frontend.typecheck import TypeCheckError
    from projet_graphdb_spark.sources.parquet_graph import load_tpch_graph

    state = load_tpch_graph(spark, SF_TINY)
    n_edges = state.edges.count()
    with _pytest.raises(TypeCheckError):
        run_program(
            spark,
            'match (r: Region) create (r) -[:no_such_rel]-> (r)',
            initial_state=state,
        )
    assert state.edges.count() == n_edges


def test_checkpoint_every_sink_backed(spark, both_modes):
    """Twelve DataFrame-path mutations trip ``checkpoint_every`` (12) on
    the last one, so the returned edge table IS the barrier: a lazy
    checkpoint RDD by default, a parquet sink with SPARK_GRAFT_CKPT_DIR
    set — and both modes return the same rows and graph."""
    from projet_graphdb_spark.functions import materialize as M

    prog = (
        SCHEMA
        + "\n".join(f"create (n{i}: P)" for i in range(6))
        + "\n"
        + "\n".join(f"set n{i}.age = {20 + i}" for i in range(5))
        + "\ncreate (n0) -[:ami]-> (n1)"
        + "\nmatch (x: P) -[:ami]-> (y: P) where x.age < y.age return x, y"
    )

    def run():
        state, b = run_program(spark, prog, fold_prefix=False)
        h = M.handle(state.edges)
        kind = "sink" if isinstance(h, str) else ("rdd" if h is not None else None)
        return rows(b), state.collect_nodes(), state.collect_edges(), kind

    default, sink = both_modes(run)
    assert sink[:3] == default[:3] and default[0] == [(0, 1)]
    assert (default[3], sink[3]) == ("rdd", "sink")
