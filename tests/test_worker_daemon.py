"""The library's Python worker daemon: unchanged zip archives are not
re-read on every task, changed ones are, and the engine's sessions fork
their workers from it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

from weather_etl_docker_airflow_project_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_daemon_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    mod_a, mod_b = (f"m_{uuid.uuid4().hex}" for _ in range(2))
    _write_zip(archive, {mod_a: "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setitem(sys.path_importer_cache, archive, importer)
    monkeypatch.syspath_prepend(archive)
    worker_daemon.install()
    try:
        assert importlib.import_module(mod_a).X == 1
        files = importer._files
        importlib.invalidate_caches()
        assert importer._files is files  # unchanged archive: not re-read

        _write_zip(archive, {mod_a: "X = 1\n", mod_b: "Y = 2\n"})
        importlib.invalidate_caches()
        assert importer._files is not files
        assert importlib.import_module(mod_b).Y == 2
    finally:
        sys.modules.pop(mod_a, None)
        sys.modules.pop(mod_b, None)


def test_session_workers_run_the_library_daemon(spark):
    def patched_module(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(patched_module)
    assert got.collect() == [worker_daemon.__name__]


def test_daemon_starts_outside_the_repo(tmp_path):
    """Workers find the daemon module from any driver cwd, with no
    PYTHONPATH: ``build_session`` puts the package root on their path."""
    script = (
        f"import sys; sys.path.insert(0, {ROOT!r})\n"
        "from weather_etl_docker_airflow_project_spark.session import build_session\n"
        "s = build_session(master='local[1]')\n"
        "assert s.createDataFrame([(1,)], 'k long').count() == 1\n"
        "s.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
