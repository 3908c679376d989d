"""The engine's one lineage barrier (``functions/materialize.py``): the
routing guard, the handle/release contract on a ``file://`` sink root,
and empty / zero-survivor frames in the default and the sink-backed
mode."""

import ast
import pathlib

from pyspark.sql import functions as F

from projet_graphdb_spark.functions import graph_algos, text
from projet_graphdb_spark.functions import materialize as M

from conftest import SF_TINY

ROOT = pathlib.Path(__file__).resolve().parents[1]
BARRIER = ROOT / "projet_graphdb_spark" / "functions" / "materialize.py"


def test_localcheckpoint_only_in_materialize():
    """No module cuts lineage on its own: every ``.localCheckpoint(``
    call in the engine, the tools, the entry module and bench.py is the
    one inside ``materialize()``."""
    files = [
        *(ROOT / "projet_graphdb_spark").rglob("*.py"),
        *(ROOT / "tools").rglob("*.py"),
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
    ]
    hits = [
        (f.relative_to(ROOT).as_posix(), node.lineno)
        for f in files
        for node in ast.walk(ast.parse(f.read_text(), str(f)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "localCheckpoint"
    ]
    assert [path for path, _ in hits] == [
        BARRIER.relative_to(ROOT).as_posix()
    ], hits


def test_sink_file_uri_root_is_released(spark, tmp_path, monkeypatch):
    """A URI sink root: the path is joined as a string (no ``file:``
    tree under the cwd) and ``release`` deletes it through the path's
    Hadoop FileSystem."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    root = tmp_path / "sinks"
    monkeypatch.setenv("SPARK_GRAFT_CKPT_DIR", root.as_uri())
    out = M.materialize(spark.range(5))
    h = M.handle(out)
    assert h.startswith("file:/")
    assert sorted(r.id for r in out.collect()) == list(range(5))
    assert [p.name for p in root.iterdir()] == [h.rsplit("/", 1)[1]]
    M.release(h)
    assert list(root.iterdir()) == []
    assert list(cwd.iterdir()) == []  # no ./file:/… junk tree


def test_pagerank_empty_edges(spark, both_modes):
    """An empty edge frame has no nodes: pagerank returns an empty
    (id, rank) frame instead of dividing by zero; empty frames
    round-trip the barrier with their schema."""
    edges = spark.createDataFrame([], "src long, dst long")
    frames = [
        spark.range(0),
        spark.createDataFrame([], "id long, v array<float>"),
    ]

    def run():
        out = graph_algos.pagerank(edges, num_iter=3)
        # sink mode reads parquet back, which relaxes NOT NULL flags
        got = [M.materialize(df) for df in frames]
        return out.columns, out.collect(), [
            (g.schema.simpleString(), g.collect()) for g in got
        ]

    default, sink = both_modes(run)
    assert sink == default == (
        ["id", "rank"], [], [(f.schema.simpleString(), []) for f in frames]
    )


def test_corpus_build_funnel_zero_survivors(spark, both_modes):
    """t42 with every document failing the quality gate, and with no
    documents at all: counts stay 0 and the ratio details over a zero
    denominator (stage 1's mean quality, stage 3's train fraction) are
    NULL instead of an ANSI DIVIDE_BY_ZERO."""
    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    n_raw = docs.count()
    inputs = [(docs.withColumn("text", F.lit("too short")), n_raw), (docs.limit(0), 0)]

    def run():
        return [
            {r["stage"]: r.asDict() for r in text.corpus_build_funnel(src).collect()}
            for src, _ in inputs
        ]

    default, sink = both_modes(run)
    assert sink == default
    for out, (_, n0) in zip(default, inputs):
        assert out["0_raw"]["n_out"] == n0
        for stage in ("1_quality", "2_exact_dedup", "3_train_split",
                      "4_decontam", "5_mixture", "6_packing"):
            assert out[stage]["n_out"] == 0, stage
        assert out["1_quality"]["n_removed"] == n0
        assert out["1_quality"]["detail"] is None
        assert out["3_train_split"]["detail"] is None
