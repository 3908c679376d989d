"""Display sinks (dot / LaTeX / show) and the CLI driver."""

import os

import pytest

from conftest import REFERENCE_TESTS
from projet_graphdb_spark.display import graph_to_dot, show_state, table_to_latex
from projet_graphdb_spark.engine import run_program

ENTREPRISE = os.path.join(REFERENCE_TESTS, "entreprise.q")

needs_entreprise = pytest.mark.skipif(
    not os.path.isfile(ENTREPRISE), reason=f"reference program {ENTREPRISE} is absent"
)


def entreprise_src():
    with open(ENTREPRISE) as f:
        return f.read()


@needs_entreprise
def test_dot_output(spark):
    SRC = entreprise_src()
    state, b = run_program(spark, SRC)
    dot = graph_to_dot(state)
    assert dot.startswith("digraph G {") and dot.endswith("}")
    # 4 nodes with label text id:Label{attrs}, 4 edges
    assert 'n0 [label="0:P{age: 25, nom: Marie Dubois}"];' in dot
    assert "n0 -> n2 [label=ami];" in dot
    assert dot.count("->") == 4


@needs_entreprise
def test_latex_table(spark):
    SRC = entreprise_src()
    state, b = run_program(spark, SRC)
    tex = table_to_latex(b)
    assert "\\begin{tabular}{|c|c|}" in tex
    assert "p & e \\\\" in tex
    assert "2 & 3 \\\\" in tex


@needs_entreprise
def test_show_state(spark):
    SRC = entreprise_src()
    state, b = run_program(spark, SRC)
    txt = show_state(state, b)
    assert "(0:P {age=25, nom=Marie Dubois})" in txt
    assert "(0)-[:emp]->(1)" in txt
    assert "table: ['p', 'e']" in txt


def test_cli_main_help_and_interactive(monkeypatch, capsys):
    import io

    from projet_graphdb_spark.__main__ import main

    assert main([]) == 0
    out = capsys.readouterr().out
    assert "python -m projet_graphdb_spark" in out

    monkeypatch.setattr("sys.stdin", io.StringIO("(:P {})\ncreate (a:P)"))
    assert main(["i"]) == 0
    out = capsys.readouterr().out
    assert "IActOnNode" in out
