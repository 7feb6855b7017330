"""The engine's Python worker daemon: zip archives are re-read only when
they change, engine sessions run their workers under it, and UDF
workers import the package whatever the driver's working directory."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

from nova_pulsar_spark import worker_daemon
from nova_pulsar_spark.plans.fixtures import STATUS_EVENTS
from nova_pulsar_spark.session import CHECKOUT_ROOT
from nova_pulsar_spark.streaming.state import lifecycle_batch


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_archive_is_reread_only_when_it_changed(tmp_path, monkeypatch):
    old = str(tmp_path / "old.zip")  # importer created before install()
    new = str(tmp_path / "new.zip")  # importer created by the swapped path hook
    _write_zip(old, {"npsz_old": "X = 1\n"})
    _write_zip(new, {"npsz_a": "X = 1\n"})
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(old)
    names = ("npsz_old", "npsz_a", "npsz_b")
    try:
        import npsz_old  # noqa: F401

        assert type(sys.path_importer_cache[old]) is zipimport.zipimporter
        worker_daemon.install()
        monkeypatch.syspath_prepend(new)
        import npsz_a  # noqa: F401

        for archive in (old, new):
            assert isinstance(sys.path_importer_cache[archive], worker_daemon.StampedZipImporter)

        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p))
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(new, {"npsz_a": "X = 1\n", "npsz_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [new]
        import npsz_b

        assert npsz_b.Y == 2
    finally:
        for name in names:
            sys.modules.pop(name, None)


def test_engine_session_workers_run_under_the_engine_daemon(spark):
    @F.pandas_udf("string")
    def zip_importer_kinds(ids: pd.Series) -> pd.Series:
        import sys
        import zipimport

        kinds = {type(f).__name__ for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)}
        return pd.Series([",".join(sorted(kinds))] * len(ids))

    got = {r[0] for r in spark.range(4).select(zip_importer_kinds("id")).collect()}
    assert got == {"StampedZipImporter"}


_LIFECYCLE_SCRIPT = """
import json, sys
sys.path.insert(0, {root!r})
from nova_pulsar_spark.plans.fixtures import STATUS_EVENTS
from nova_pulsar_spark.session import get_spark
from nova_pulsar_spark.streaming.state import lifecycle_batch
rows = lifecycle_batch(STATUS_EVENTS.spark_df(get_spark("cwd-check"))).collect()
print(json.dumps(sorted([str(v) for v in r] for r in rows)))
"""


def test_udf_workers_import_the_package_from_any_cwd(spark, tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _LIFECYCLE_SCRIPT.format(root=CHECKOUT_ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    want = sorted([str(v) for v in r] for r in lifecycle_batch(STATUS_EVENTS.spark_df(spark)).collect())
    assert len(got) == 19
    assert got == want
