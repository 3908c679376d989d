"""The Python worker daemon (``projet_graphdb_spark/pyworker.py``): zip
directories stay cached across ``importlib.invalidate_caches()`` until
the archive changes on disk, and every Spark Python worker runs with
that patch.  The patch tests run in a subprocess, so the pytest process
keeps the stock ``zipimporter``."""

import json
import os
import subprocess
import sys
import textwrap
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# counts zipimport._read_directory calls around invalidate_caches();
# argv: the zip path.  Prints one JSON object.
_PROBE = textwrap.dedent(
    """
    import importlib, json, sys, zipfile, zipimport

    from projet_graphdb_spark import pyworker

    zpath = sys.argv[1]
    sys.path.insert(0, zpath)
    sys.path.insert(0, zpath + "/zpkg")
    import zmod, zpkg.inner  # two importers over one archive

    pyworker.install()
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    zipimport._read_directory = counting
    out = {}
    importlib.invalidate_caches()  # first call stamps the archive
    out["first"] = len(reads)
    for _ in range(3):
        importlib.invalidate_caches()
    out["unchanged"] = len(reads) - out["first"]
    if len(sys.argv) > 2:
        with zipfile.ZipFile(zpath, "a") as z:
            z.writestr("zadded.py", "VALUE = 7\\n")
        n = len(reads)
        importlib.invalidate_caches()
        out["rewritten"] = len(reads) - n
        import zadded
        out["added_value"] = zadded.VALUE
        n = len(reads)
        importlib.invalidate_caches()
        out["after_rewrite"] = len(reads) - n
    print(json.dumps(out))
    """
)


def _run_probe(tmp_path, *extra):
    zpath = tmp_path / "lib.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("zmod.py", "X = 1\n")
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/inner.py", "Y = 2\n")
    env = dict(os.environ, PYTHONPATH=ROOT)
    res = subprocess.run(
        [sys.executable, "-c", _PROBE, str(zpath), *extra],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr
    return json.loads(res.stdout.strip().splitlines()[-1])


def test_unchanged_zip_is_not_reread(tmp_path):
    out = _run_probe(tmp_path)
    # one read per archive on the first call, whatever its importer count
    assert out["first"] == 1, out
    assert out["unchanged"] == 0, out


def test_rewritten_zip_is_reread(tmp_path):
    out = _run_probe(tmp_path, "rewrite")
    assert out["rewritten"] == 1, out
    assert out["added_value"] == 7, out
    assert out["after_rewrite"] == 0, out


def test_spark_workers_run_the_engine_daemon(spark):
    """Inside a Python task, ``zipimporter.invalidate_caches`` is the
    engine's wrapper: ``get_spark`` starts its workers from
    ``projet_graphdb_spark.pyworker``."""
    assert spark.conf.get("spark.python.daemon.module") == "projet_graphdb_spark.pyworker"

    def probe(batches):
        import zipimport

        import pandas as pd

        from projet_graphdb_spark import pyworker

        ok = zipimport.zipimporter.invalidate_caches is pyworker._invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"ok": [ok]})

    rows = spark.range(8).repartition(2).mapInPandas(probe, "ok boolean").collect()
    assert rows and all(r.ok for r in rows)
