import pytest

from projet_graphdb_spark.engine import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


REFERENCE_TESTS = "/root/reference/graphDB/test"
SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


@pytest.fixture
def both_modes(monkeypatch, tmp_path):
    """``run(fn)`` calls ``fn()`` with ``SPARK_GRAFT_CKPT_DIR`` unset,
    then set to a fresh directory, and returns ``(default, sink)``.  It
    asserts that the sink-backed call wrote at least one barrier."""

    def run(fn):
        monkeypatch.delenv("SPARK_GRAFT_CKPT_DIR", raising=False)
        default = fn()
        root = tmp_path / "ckpt"
        monkeypatch.setenv("SPARK_GRAFT_CKPT_DIR", str(root))
        try:
            sink = fn()
        finally:
            monkeypatch.delenv("SPARK_GRAFT_CKPT_DIR")
        assert any(root.glob("mat_*")), "no barrier reached the sink"
        return default, sink

    return run
