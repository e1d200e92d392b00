"""Python workers of engine-built local sessions run the engine's daemon module
(``rsbd_worker_daemon``) when it is there, over Unix domain sockets when a
socket path fits: zipimporter invalidation is a no-op in every worker, a
module shipped with ``addPyFile`` after the first task still imports, the
workers find the daemon module whatever the driver's working directory and
wherever the caller's own worker path comes from, and UDFs, accumulators and
local data reach the workers over the sockets. A cluster master keeps
PySpark's daemon and TCP. Every master's launch conf holds Spark's
generated-class cache at 1,000 classes unless the caller sets it."""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys
import tempfile
import uuid
import zipfile

import pytest
from pyspark.accumulators import AccumulatorUnixServer
from pyspark.errors import IllegalArgumentException
from pyspark.sql import functions as F

from recommendation_system_big_data_spark import session
from recommendation_system_big_data_spark.session import (
    MAX_SOCKET_DIR,
    PACKAGE_PARENT,
    WORKER_DAEMON,
    build_conf,
    put_daemon_on_worker_path,
    uds_dir,
)

DAEMON_KEY = "spark.python.daemon.module"
WORKER_PATH_KEY = "spark.executorEnv.PYTHONPATH"
UDS_KEY = "spark.python.unix.domain.socket.enabled"
UDS_DIR_KEY = "spark.python.unix.domain.socket.dir"
CODEGEN_CACHE_KEY = "spark.sql.codegen.cache.maxEntries"


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
    assert UDS_KEY not in conf and UDS_DIR_KEY not in conf  # TCP
    assert conf["spark.ui.enabled"] == "true"
    sc = _Context(conf.get(DAEMON_KEY), "/caller")
    put_daemon_on_worker_path(sc)
    assert sc.environment == {"PYTHONPATH": "/caller"}


@pytest.mark.parametrize("master", ["local[2]", "spark://head:7077", "yarn", "k8s://https://api:6443"])
def test_every_master_holds_a_codegen_cache_of_1000_classes(master):
    assert build_conf(master)[CODEGEN_CACHE_KEY] == "1000"
    assert build_conf(master, {CODEGEN_CACHE_KEY: "50"})[CODEGEN_CACHE_KEY] == "50"


def test_local_master_runs_the_engine_daemon_first_on_the_worker_path():
    conf = build_conf("local[2]")
    assert conf[DAEMON_KEY] == WORKER_DAEMON and WORKER_PATH_KEY not in conf
    bare, caller = _Context(WORKER_DAEMON), _Context(WORKER_DAEMON, "/caller")
    for sc in (bare, caller, caller):  # a second get_spark adds nothing
        put_daemon_on_worker_path(sc)
    assert bare.environment == {"PYTHONPATH": PACKAGE_PARENT}
    assert caller.environment == {"PYTHONPATH": os.pathsep.join([PACKAGE_PARENT, "/caller"])}


def test_local_master_without_the_daemon_file_keeps_pysparks_daemon(monkeypatch, tmp_path):
    # A copy of the package without the top-level module: selecting it
    # would fail every Python task at the daemon's start.
    monkeypatch.setattr(session, "PACKAGE_PARENT", str(tmp_path))
    assert DAEMON_KEY not in build_conf("local[2]")


def test_local_master_uses_a_private_socket_dir():
    conf = build_conf("local[2]")
    path = conf[UDS_DIR_KEY]
    assert conf[UDS_KEY] == "true" and path == uds_dir()
    assert stat.S_IMODE(os.stat(path).st_mode) == 0o700
    assert os.path.dirname(path) in (tempfile.gettempdir(), session.FALLBACK_TEMP_DIR)
    off = {UDS_KEY: "false"}
    assert build_conf("local[2]", off)[UDS_KEY] == "false"  # the caller's conf wins


@pytest.fixture
def temp_dirs(monkeypatch):
    """Set tempfile's directory and the fallback, on a fresh uds_dir."""

    def use(temp, fallback=session.FALLBACK_TEMP_DIR):
        monkeypatch.setattr(tempfile, "tempdir", temp)
        monkeypatch.setattr(session, "FALLBACK_TEMP_DIR", fallback)
        uds_dir.cache_clear()

    yield use
    uds_dir.cache_clear()


def _dir_of_length(base: str, made: str, total: int, fill: str) -> str:
    """A new directory under ``base`` such that a directory named like
    ``made`` under it has a path of ``total`` bytes."""
    path = os.path.join(base, fill * (total - len(base + "/" + "/" + made)))
    os.mkdir(path)
    return path


def _spark_accepts_socket_dir(spark, path: str) -> bool:
    jvm = spark._jvm
    entry = jvm.org.apache.spark.internal.config.Python.PYTHON_UNIX_DOMAIN_SOCKET_DIR()
    conf = jvm.org.apache.spark.SparkConf(False).set(UDS_DIR_KEY, path)
    try:
        conf.get(entry)
    except IllegalArgumentException:
        return False
    return True


@pytest.mark.parametrize("extra", [0, 1])
def test_socket_dir_too_long_keeps_tcp(spark, temp_dirs, extra):
    """A socket dir of MAX_SOCKET_DIR bytes keeps UDS; one byte more, which
    Spark's own conf check refuses, keeps TCP when the fallback is as long
    too."""
    base = tempfile.mkdtemp(prefix="u")
    made = os.path.basename(tempfile.mkdtemp(prefix="uds", dir=base))
    temp = _dir_of_length(base, made, MAX_SOCKET_DIR + extra, "t")
    fallback = _dir_of_length(base, made, MAX_SOCKET_DIR + 1, "f")
    try:
        temp_dirs(temp, fallback)
        conf = build_conf("local[2]")
        if extra:
            assert UDS_KEY not in conf and UDS_DIR_KEY not in conf
            assert not _spark_accepts_socket_dir(spark, os.path.join(temp, made))
        else:
            assert os.path.dirname(conf[UDS_DIR_KEY]) == temp
            assert _spark_accepts_socket_dir(spark, conf[UDS_DIR_KEY])
        assert os.listdir(fallback) == []
    finally:
        shutil.rmtree(base)


def test_long_temp_dir_falls_back_to_a_short_one(temp_dirs, tmp_path):
    temp = tmp_path / ("d" * MAX_SOCKET_DIR)
    temp.mkdir()
    temp_dirs(str(temp))
    conf = build_conf("local[2]")
    assert conf[UDS_KEY] == "true"
    assert os.path.dirname(conf[UDS_DIR_KEY]) == session.FALLBACK_TEMP_DIR
    assert os.listdir(temp) == []


def test_python_work_runs_over_unix_sockets(spark):
    """The shared session: a Python UDF's worker holds Unix sockets and no
    TCP one, accumulator updates come back through the driver's Unix socket
    server, and a frame made from a local list reads back."""
    sc = spark.sparkContext
    sockets = sc.getConf().get(UDS_DIR_KEY)
    assert sc.getConf().get(UDS_KEY) == "true"
    assert stat.S_IMODE(os.stat(sockets).st_mode) == 0o700

    def socket_families(_):
        import os
        import socket

        families = set()
        for fd in os.listdir("/proc/self/fd"):
            try:
                s = socket.socket(fileno=int(fd))
            except OSError:
                continue
            families.add(s.family.name)
            s.detach()
        return "/".join(sorted(families))

    got = spark.range(2).select(F.udf(socket_families, "string")("id").alias("f")).collect()
    assert [r.f for r in got] == ["AF_UNIX", "AF_UNIX"]

    server = sc._accumulatorServer
    assert isinstance(server, AccumulatorUnixServer)
    assert os.path.dirname(server.server_address) == sockets
    total = sc.accumulator(0)
    sc.parallelize(range(10), 2).foreach(lambda x: total.add(x))
    assert total.value == 45

    rows = spark.createDataFrame([(1, "a"), (2, None)], "id int, s string").collect()
    assert [tuple(r) for r in rows] == [(1, "a"), (2, None)]


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
