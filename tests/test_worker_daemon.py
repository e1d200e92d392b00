"""Python workers of engine-built local sessions run the engine's daemon module
(``rsbd_worker_daemon``): zipimporter invalidation is a no-op in every worker,
a module shipped with ``addPyFile`` after the first task still imports, and
the workers find the daemon module whatever the driver's working directory
and wherever the caller's own worker path comes from. A cluster master keeps
PySpark's daemon."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import uuid
import zipfile

import pytest

from recommendation_system_big_data_spark.session import (
    PACKAGE_PARENT,
    WORKER_DAEMON,
    build_conf,
    put_daemon_on_worker_path,
)

DAEMON_KEY = "spark.python.daemon.module"
WORKER_PATH_KEY = "spark.executorEnv.PYTHONPATH"


def test_python_tasks_run_the_engine_daemon(spark):
    def probe(_):
        import sys
        import zipimport

        main = sys.modules["__main__"]
        yield (
            main.__spec__.name,
            zipimport.zipimporter.invalidate_caches is main.keep_zip_directory,
        )

    got = spark.sparkContext.parallelize(range(4), 2).mapPartitions(probe).collect()
    assert got == [(WORKER_DAEMON, True)] * 2


class _Context:
    """The two SparkContext members put_daemon_on_worker_path reads."""

    def __init__(self, daemon, worker_path=None):
        self._conf = {DAEMON_KEY: daemon} if daemon else {}
        self.environment = {"PYTHONPATH": worker_path} if worker_path else {}

    def getConf(self):
        return self._conf


@pytest.mark.parametrize("master", ["spark://head:7077", "yarn", "k8s://https://api:6443"])
def test_cluster_master_keeps_pysparks_daemon_and_worker_path(master):
    conf = build_conf(master, {"spark.ui.enabled": "true"})
    assert DAEMON_KEY not in conf and WORKER_PATH_KEY not in conf
    assert conf["spark.ui.enabled"] == "true"
    sc = _Context(conf.get(DAEMON_KEY), "/caller")
    put_daemon_on_worker_path(sc)
    assert sc.environment == {"PYTHONPATH": "/caller"}


def test_local_master_runs_the_engine_daemon_first_on_the_worker_path():
    conf = build_conf("local[2]")
    assert conf[DAEMON_KEY] == WORKER_DAEMON and WORKER_PATH_KEY not in conf
    bare, caller = _Context(WORKER_DAEMON), _Context(WORKER_DAEMON, "/caller")
    for sc in (bare, caller, caller):  # a second get_spark adds nothing
        put_daemon_on_worker_path(sc)
    assert bare.environment == {"PYTHONPATH": PACKAGE_PARENT}
    assert caller.environment == {"PYTHONPATH": os.pathsep.join([PACKAGE_PARENT, "/caller"])}


def test_files_added_after_the_first_task_still_import(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.parallelize([1], 1).map(lambda x: x + 1).collect() == [2]

    tag = uuid.uuid4().hex
    py_mod, zip_mod = f"addpy_{tag}", f"addzip_{tag}"
    py_path = tmp_path / f"{py_mod}.py"
    py_path.write_text("VALUE = 41\n")
    zip_path = tmp_path / f"{zip_mod}.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.writestr(f"{zip_mod}.py", "VALUE = 1\n")
    sc.addPyFile(str(py_path))
    sc.addPyFile(str(zip_path))

    def use(x):
        import importlib

        return x + importlib.import_module(py_mod).VALUE + importlib.import_module(zip_mod).VALUE

    assert sc.parallelize([0, 1], 1).map(use).collect() == [42, 43]


_FOREIGN_CWD_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from recommendation_system_big_data_spark.session import get_spark

extra = {"spark.executorEnv.PYTHONPATH": sys.argv[2]} if len(sys.argv) > 2 else None
spark = get_spark(
    app_name="foreign-cwd", master="local[2]", shuffle_partitions=2, extra_conf=extra,
)
spark.sparkContext.setLogLevel("ERROR")
rows = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string").collect()

def plus_caller_value(x):
    import caller_mod
    return x + caller_mod.VALUE

udf_rows = spark.range(3).select(F.udf(plus_caller_value, "long")("id").alias("v")).collect()
print(json.dumps({
    "rows": [list(r) for r in rows],
    "udf": [r.v for r in udf_rows],
    "worker_path": spark.sparkContext.environment["PYTHONPATH"],
}))
spark.stop()
"""


@pytest.mark.parametrize("source", ["extra_conf", "submit_conf", "spark_defaults"])
def test_workers_import_the_daemon_from_a_foreign_cwd(tmp_path, source):
    # The package is on the driver's sys.path only: not in the working
    # directory, not in PYTHONPATH. The caller's own worker path is kept,
    # whether it comes from extra_conf, a spark-submit --conf or
    # spark-defaults.conf.
    caller = tmp_path / "caller"
    caller.mkdir()
    (caller / "caller_mod.py").write_text("VALUE = 10\n")
    script = tmp_path / "drive.py"
    script.write_text(_FOREIGN_CWD_SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    args = [sys.executable, str(script), PACKAGE_PARENT]
    if source == "extra_conf":
        args.append(str(caller))
    elif source == "submit_conf":
        env["PYSPARK_SUBMIT_ARGS"] = f"--conf {WORKER_PATH_KEY}={caller} pyspark-shell"
    else:
        conf_dir = tmp_path / "conf"
        conf_dir.mkdir()
        (conf_dir / "spark-defaults.conf").write_text(f"{WORKER_PATH_KEY} {caller}\n")
        env["SPARK_CONF_DIR"] = str(conf_dir)
    out = subprocess.run(
        args, cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["rows"] == [[1, "a"], [2, "b"]]
    assert got["udf"] == [10, 11, 12]
    assert got["worker_path"] == os.pathsep.join([PACKAGE_PARENT, str(caller)])
