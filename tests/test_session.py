"""Session defaults that must fit the host they run on."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest


def test_driver_heap_fits_host_memory(spark):
    """The local-mode driver heap may not exceed the host's physical memory:
    a larger heap lets the shared JVM grow until the kernel OOM-kills it."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    heap_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(heap)
    assert heap_bytes <= total_kb * 1024, (heap, total_kb)


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_lazy_zip_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """``invalidate_caches`` re-reads a zip archive's directory only after
    the archive changed; importing the daemon module patches nothing."""
    original = zipimport.zipimporter.invalidate_caches
    from datapipeline_omnichanneltobigquery_spark import worker_daemon

    assert zipimport.zipimporter.invalidate_caches is original
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("a.py", "A = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    monkeypatch.syspath_prepend(archive)
    try:
        import a  # noqa: F401

        worker_daemon.install()
        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory", lambda path: reads.append(path) or read_directory(path)
        )
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("a.py", "A = 1\n")
            z.writestr("b.py", "B = 2\n")
        importlib.invalidate_caches()
        import b

        assert b.B == 2
    finally:
        for name in ("a", "b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13 invalidates zip imports lazily; nothing is patched"
)
def test_python_tasks_run_under_the_engine_daemon(spark):
    """Python workers fork from the engine's daemon, whose lazy
    ``invalidate_caches`` they inherit."""

    def patched_by(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    got = spark.range(1).mapInPandas(patched_by, "m string").collect()
    assert [r.m for r in got] == ["datapipeline_omnichanneltobigquery_spark.worker_daemon"]


def test_daemon_imports_outside_the_repo(tmp_path):
    """A driver started outside the repo, without ``PYTHONPATH``, still runs
    Python tasks: ``get_spark`` puts the package on the workers' path, or
    the daemon could not start."""
    script = tmp_path / "drive.py"
    script.write_text(
        f"import sys\nsys.path.insert(0, {ROOT!r})\n"
        "from datapipeline_omnichanneltobigquery_spark.session import get_spark\n"
        "from datapipeline_omnichanneltobigquery_spark.sources.paginated import paginated_to_df\n"
        "spark = get_spark(master='local[2]')\n"
        "df = paginated_to_df(spark, lambda p: [{'id': p * 10 + i} for i in range(3)], 3, 'id long')\n"
        "print(sorted(r.id for r in df.collect()))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.splitlines()[-1] == str([10, 11, 12, 20, 21, 22, 30, 31, 32])


def test_cast_columns_py4j_round_trips_are_bounded(spark, monkeypatch):
    """With DataFrame call-site capture off, one 14-column ``cast_columns``
    projection sends about 230 py4j commands; with it on, 760-940."""
    from pyspark.errors import utils

    from datapipeline_omnichanneltobigquery_spark.operators.normalize import cast_columns
    from perfbench.deals import SCHEMA_DDL

    monkeypatch.setattr(utils, "_enable_debugging_cache", None)  # re-read the conf
    assert utils.is_debugging_enabled() is False

    df = spark.createDataFrame([], SCHEMA_DDL)
    assert len(df.columns) == 14
    cast_columns(df)  # the first call also pays one-time lookups
    client = spark.sparkContext._gateway._gateway_client
    commands = []
    send = client.send_command
    monkeypatch.setattr(client, "send_command", lambda *a, **k: commands.append(1) or send(*a, **k))
    cast_columns(df)
    assert len(commands) <= 300, len(commands)


def test_scoped_conf_restores_set_and_unset_keys(spark):
    """``scoped_conf`` sets its keys inside the block; afterwards a key the
    session had set gets its value back and an unset key is unset again,
    also when the block raises."""
    from datapipeline_omnichanneltobigquery_spark.session import scoped_conf

    key, tz = "spark.sql.files.maxRecordsPerFile", "spark.sql.session.timeZone"
    before = spark.conf.get(tz)
    assert spark.conf.get(key, None) is None
    with scoped_conf(spark, {key: "7", tz: "America/Los_Angeles"}):
        assert spark.conf.get(key) == "7"
        assert spark.conf.get(tz) == "America/Los_Angeles"
    assert spark.conf.get(key, None) is None
    assert spark.conf.get(tz) == before

    with pytest.raises(RuntimeError, match="body failed"):
        with scoped_conf(spark, {key: "7", tz: "America/Los_Angeles"}):
            raise RuntimeError("body failed")
    assert spark.conf.get(key, None) is None
    assert spark.conf.get(tz) == before
