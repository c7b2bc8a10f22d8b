"""Spark's own Python processes import the installed, byte-compiled pyspark.

Spark starts the `create_data_source` and `plan_data_source_read` planners,
the streaming source runner and the `pyspark.daemon` task workers with
`$SPARK_HOME/python/lib/pyspark.zip` first on their PYTHONPATH. The zip holds
sources only, so a process that imports pyspark from it compiles pyspark
again. `session.get_spark` starts them through `session.WORKER_PYTHON`,
which moves the zips behind site-packages when the installed pyspark has the
zip's version. A probe data source reports, from each process it runs in,
where pyspark came from.

The launcher's fallback (another version in the zip) and its `-m`/`-c`
semantics are checked in subprocesses, without a JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pyspark
import pytest
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from flink_job_spark.session import WORKER_PYTHON


def _report(out_dir: str, role: str) -> None:
    import pyspark as worker_pyspark

    zipped = sorted(n for n, m in sys.modules.items()
                    if n.partition(".")[0] in ("pyspark", "py4j")
                    and ".zip" in (getattr(m, "__file__", None) or ""))
    with open(os.path.join(out_dir, f"{role}-{os.getpid()}.json"), "w") as f:
        json.dump({"role": role, "file": worker_pyspark.__file__,
                   "version": worker_pyspark.__version__,
                   "zipped_modules": zipped}, f)


class _ProbeReader(DataSourceReader):
    def __init__(self, options):
        self.out = options["out"]

    def partitions(self):
        _report(self.out, "partitions")
        return [InputPartition(0)]

    def read(self, partition):
        _report(self.out, "read")
        yield ("x",)


class _ProbeStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.out = options["out"]

    def initialOffset(self):
        return {"n": 0}

    def latestOffset(self):
        _report(self.out, "latestOffset")
        return {"n": 1}

    def partitions(self, start, end):
        return [InputPartition(0)]

    def read(self, partition):
        _report(self.out, "stream_read")
        yield ("x",)

    def commit(self, end):
        pass


class _ProbeDataSource(DataSource):
    @classmethod
    def name(cls):
        return "worker_python_probe"

    def schema(self):
        _report(self.options["out"], "schema")
        return "v STRING"

    def reader(self, schema):
        return _ProbeReader(self.options)

    def streamReader(self, schema):
        return _ProbeStreamReader(self.options)


def _reports(out_dir) -> dict[str, list[dict]]:
    by_role: dict[str, list[dict]] = {}
    for name in os.listdir(out_dir):
        with open(os.path.join(out_dir, name)) as f:
            r = json.load(f)
        by_role.setdefault(r["role"], []).append(r)
    return by_role


def test_spark_python_processes_import_installed_pyspark(spark, tmp_path):
    out = tmp_path / "reports"
    out.mkdir()
    spark.dataSource.register(_ProbeDataSource)
    fmt = _ProbeDataSource.name()
    assert spark.read.format(fmt).option("out", str(out)).load().count() == 1
    (spark.readStream.format(fmt).option("out", str(out)).load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "checkpoint"))
        .trigger(availableNow=True).start().awaitTermination())

    by_role = _reports(out)
    # schema() in create_data_source, partitions() in plan_data_source_read,
    # latestOffset() in the stream source runner, read() in task workers
    assert {"schema", "partitions", "latestOffset", "read",
            "stream_read"} <= set(by_role)
    for reports in by_role.values():
        for r in reports:
            assert ".zip" not in r["file"], r
            assert r["zipped_modules"] == [], r
            assert r["version"] == pyspark.__version__, r


def _fake_spark_zip(path, version: str) -> str:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py",
                   "from pyspark.version import __version__\n")
        z.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    return str(path)


def _launch(args, pythonpath, cwd):
    env = dict(os.environ, PYTHONPATH=pythonpath,
               SPARK_GRAFT_PYSPARK_PYTHON=sys.executable)
    done = subprocess.run([WORKER_PYTHON, *args], env=env, cwd=cwd,
                          capture_output=True, text=True, timeout=60)
    assert done.returncode == 0, done.stderr
    return json.loads(done.stdout)


_SHOW = ("import json, sys, pyspark; print(json.dumps({'argv': sys.argv, "
         "'path': sys.path, 'pyspark': pyspark.__file__, "
         "'version': pyspark.__version__}))")


@pytest.fixture()
def probe_module(tmp_path):
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    (cwd / "probe_main.py").write_text(
        _SHOW.replace("'argv'", "'name': __name__, 'argv'") + "\n")
    return cwd


def test_launcher_keeps_a_zip_of_another_version_first(tmp_path, probe_module):
    zp = _fake_spark_zip(tmp_path / "pyspark.zip", "0.0.1")
    got = _launch(["-c", _SHOW, "a"], zp, probe_module)
    assert got["argv"] == ["-c", "a"]
    assert got["path"][:2] == ["", zp]  # the cwd, then Spark's order
    assert (got["pyspark"], got["version"]) == (
        os.path.join(zp, "pyspark", "__init__.py"), "0.0.1")

    got = _launch(["-m", "probe_main", "b"], zp, probe_module)
    assert got["name"] == "__main__"
    assert got["argv"] == [str(probe_module / "probe_main.py"), "b"]
    assert got["path"][:2] == [str(probe_module), zp]
    assert got["version"] == "0.0.1"


def test_launcher_moves_a_zip_of_the_installed_version_behind(tmp_path,
                                                             probe_module):
    zp = _fake_spark_zip(tmp_path / "pyspark.zip", pyspark.__version__)
    for args, first in ((["-c", _SHOW], ""),
                        (["-m", "probe_main"], str(probe_module))):
        got = _launch(args, zp, probe_module)
        assert got["path"][0] == first
        assert got["path"][-1] == zp
        assert got["pyspark"] == pyspark.__file__
