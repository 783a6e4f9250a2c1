"""The Python worker daemon's zipimport guard (``worker_daemon``) and the
session wiring that makes every worker fork from it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from spark_streaming_test_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def guard(monkeypatch):
    """worker_daemon with fresh stamps; the zipimporter method it
    replaces is restored afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    return worker_daemon


@pytest.fixture
def reads(monkeypatch):
    """Archive paths in the order zipimport read their index."""
    seen: list[str] = []
    read = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _write_zip(path, modules: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    return str(path)


def _import_from(monkeypatch, archive: str, name: str):
    monkeypatch.syspath_prepend(archive)
    return importlib.import_module(name)


def test_unchanged_zip_keeps_its_index(tmp_path, monkeypatch, guard, reads):
    archive = _write_zip(tmp_path / "a.zip", {"wd_a": "X = 1\n"})
    _import_from(monkeypatch, archive, "wd_a")
    guard.install()  # stamps the archive read so far
    files = zipimport._zip_directory_cache[archive]
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert zipimport._zip_directory_cache[archive] is files
    assert sys.path_importer_cache[archive]._files is files


def test_rewritten_zip_is_read_again(tmp_path, monkeypatch, guard, reads):
    archive = _write_zip(tmp_path / "b.zip", {"wd_b1": "X = 1\n"})
    _import_from(monkeypatch, archive, "wd_b1")
    guard.install()
    _write_zip(archive, {"wd_b1": "X = 1\n", "wd_b2": "Y = 2\n"})
    del reads[:]
    importlib.invalidate_caches()
    assert reads == [archive]
    assert _import_from(monkeypatch, archive, "wd_b2").Y == 2


def test_zip_first_seen_after_start_is_read_once(tmp_path, monkeypatch, guard, reads):
    guard.install()
    archive = _write_zip(tmp_path / "c.zip", {"wd_c": "X = 1\n"})
    _import_from(monkeypatch, archive, "wd_c")
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    # the first call cannot know whether the archive changed since the
    # importer read it, so it reads it once and stamps it
    assert reads == [archive]


def _worker_zip_index(batches):
    """(pid, id of the pyspark.zip index) as the Python worker sees it."""
    import os
    import sys
    import zipimport

    import pyspark

    archive = os.path.dirname(os.path.dirname(pyspark.__file__))
    finder = sys.path_importer_cache.get(archive)
    index = id(finder._files) if isinstance(finder, zipimport.zipimporter) else -1
    for pdf in batches:
        yield pdf.assign(pid=os.getpid(), zip_index=index)


def test_reused_worker_keeps_the_pyspark_zip_index(spark):
    """A worker that runs tasks of two jobs does not re-read pyspark.zip
    between them."""
    n = 4 * spark.sparkContext.defaultParallelism
    pids, indexes = [], {}
    for _ in range(2):
        rows = (
            spark.range(0, n, 1, n)
            .mapInPandas(_worker_zip_index, "id long, pid long, zip_index long")
            .collect()
        )
        pids.append({r.pid for r in rows})
        for r in rows:
            indexes.setdefault(r.pid, set()).add(r.zip_index)
    if {-1} in indexes.values():
        pytest.skip("Python workers do not import pyspark from a zip")
    assert pids[0] & pids[1], "no worker ran tasks of both jobs"
    assert {pid: len(ids) for pid, ids in indexes.items()} == dict.fromkeys(indexes, 1)


_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    import pandas as pd
    from pyspark.sql import functions as F
    from spark_streaming_test_spark.session import get_spark

    spark = get_spark("worker-daemon-smoke")

    @F.pandas_udf("string")
    def where(x: pd.Series) -> pd.Series:
        import zipimport
        from spark_streaming_test_spark.sources.kafka_wire import MiniKafkaBroker
        guard = zipimport.zipimporter.invalidate_caches.__code__.co_filename
        return x.map(lambda _: guard + "|" + MiniKafkaBroker.__module__)

    print("RESULT", spark.range(1).select(where("id")).first()[0])
    spark.stop()
    """
)


def test_workers_import_the_package_from_any_cwd(tmp_path):
    """get_spark makes the package importable by Python workers on its
    own: from an unrelated cwd with PYTHONPATH unset, a pandas UDF runs
    on the worker daemon and can import the program's modules."""
    script = tmp_path / "smoke.py"
    script.write_text(_SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "1"
    proc = subprocess.run(
        [sys.executable, str(script), REPO],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    [line] = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    guard, module = line[len("RESULT "):].split("|")
    assert os.path.samefile(guard, worker_daemon.__file__)
    assert module == "spark_streaming_test_spark.sources.kafka_wire"
