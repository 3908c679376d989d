"""Conformance tier: the reference's own query corpus, golden-checked.

Goldens come from the reference's machine-checked artifacts:
  * entreprise.t:2-22 — exact final graph + binding table
  * table.tex:5-7    — test2's result row (18, 10, 19, 13)
  * graph.dot        — test2's 20-node graph incl. orphan re-bound E nodes
  * test3.q          — duplicate edge create is a no-op (graphstruct.ml:30-32)
"""

import pytest

from conftest import REFERENCE_TESTS, needs_reference
from projet_graphdb_spark.engine import binding_table, run_program

pytestmark = needs_reference


def run(spark, name):
    src = open(f"{REFERENCE_TESTS}/{name}.q").read()
    return run_program(spark, src)


def test_entreprise_golden(spark):
    state, b = run(spark, "entreprise")
    # binding table: Table(["p"; "e"], [[2; 3]])  (entreprise.t:22)
    tbl = binding_table(b)
    assert tbl.columns == ["p", "e"]
    assert [tuple(r) for r in tbl.collect()] == [(2, 3)]
    # final graph: 4 nodes with exact attrs (entreprise.t:2-21)
    nodes = state.collect_nodes()
    assert nodes["P"] == {
        0: {"nom": "Marie Dubois", "age": 25},
        2: {"nom": "Pierre Dupont", "age": 24},
    }
    assert nodes["E"] == {
        1: {"nom": "Airbus", "pme": False},
        3: {"nom": "Petit Pain", "pme": True},
    }
    assert state.collect_edges() == {
        (0, "ami", 2),
        (3, "f", 1),
        (2, "emp", 3),
        (0, "emp", 1),
    }


def test_test1_same_as_entreprise(spark):
    state, b = run(spark, "test1")
    assert [tuple(r) for r in binding_table(b).collect()] == [(2, 3)]


def test_test2_golden(spark):
    state, b = run(spark, "test2")
    # result row pinned by the committed artifact table.tex:5-7
    tbl = binding_table(b)
    assert tbl.columns == ["p1", "p2", "e", "e2"]
    assert [tuple(r) for r in tbl.collect()] == [(18, 10, 19, 13)]
    nodes = state.collect_nodes()
    # 20 nodes total: 10 P + 10 E (incl. orphan empty E from `ab` rebinding,
    # graph.dot:4 — `ab` declared twice leaves node 1 as E{})
    assert len(nodes["P"]) == 10 and len(nodes["E"]) == 10
    assert nodes["E"][1] == {}  # the orphan: created, shadowed before set


def test_test3_edge_dedup(spark):
    state, b = run(spark, "test3")
    # re-creating (marie)-[:emp]->(ab) must not duplicate the edge
    assert state.collect_edges() == {(0, "emp", 1)}


def test_tiny(spark):
    state, b = run(spark, "tiny")
    nodes = state.collect_nodes()
    assert set(nodes["A"]) == {0} and set(nodes["B"]) == {1}
    assert state.collect_edges() == set()
