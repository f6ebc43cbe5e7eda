"""The Python worker daemon: zip directories are re-read only when the
archive changed, and get_spark runs the daemon only when workers can
import sketchlib at daemon launch."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from sketchlib.spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def patched(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon._invalidate_caches)


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _import_from(archive, monkeypatch, name):
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, name, raising=False)
    return importlib.import_module(name)


def test_unchanged_archive_is_not_reread(patched, tmp_path, monkeypatch):
    archive = str(tmp_path / "unchanged.zip")
    _write_zip(archive, {"wd_unchanged": "X = 1\n"})
    assert _import_from(archive, monkeypatch, "wd_unchanged").X == 1
    importlib.invalidate_caches()  # the stamped read
    files = zipimport._zip_directory_cache[archive]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is files


def test_archive_rewritten_in_place_is_reread(patched, tmp_path,
                                              monkeypatch):
    archive = str(tmp_path / "rewritten.zip")
    _write_zip(archive, {"wd_first": "X = 1\n"})
    assert _import_from(archive, monkeypatch, "wd_first").X == 1
    importlib.invalidate_caches()  # stamps the first version
    _write_zip(archive, {"wd_first": "X = 1\n", "wd_second": "Y = 2\n"})
    importlib.invalidate_caches()
    monkeypatch.delitem(sys.modules, "wd_second", raising=False)
    assert importlib.import_module("wd_second").Y == 2


def test_session_workers_run_the_daemon(spark):
    import pandas as pd

    def probe(batches):
        import sys
        import zipimport
        wd = sys.modules.get("sketchlib.spark.worker_daemon")
        ok = wd is not None and \
            zipimport.zipimporter.invalidate_caches is wd._invalidate_caches
        for b in batches:
            yield pd.DataFrame({"ok": [ok] * len(b)})

    rows = spark.range(4).repartition(2).mapInPandas(probe, "ok boolean") \
        .collect()
    assert rows and all(r["ok"] for r in rows)


def test_default_daemon_without_repo_on_pythonpath(tmp_path):
    """Workers that cannot import sketchlib at daemon launch (the repo
    root is not on PYTHONPATH) keep Spark's own daemon, and pandas
    UDFs still run through the shipped package zip."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SKETCHLIB_DRIVER_MEM"] = "1g"
    code = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "from sketchlib.spark.session import get_spark\n"
        "spark = get_spark('no-daemon', cpus=1)\n"
        "conf = spark.sparkContext.getConf()\n"
        "assert conf.get('spark.python.daemon.module') is None\n"
        "n = spark.range(3).mapInPandas(lambda it: it, 'id long').count()\n"
        "assert n == 3\n"
        "spark.stop()\n"
        "print('DEFAULT_DAEMON_OK')\n")
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=300, cwd=str(tmp_path), env=env)
    assert "DEFAULT_DAEMON_OK" in out.stdout, (out.stdout, out.stderr[-3000:])
