"""The engine's session options: ``get_spark`` caps the JIT at one C1
and one C2 compiler thread, and a caller's own driver Java options add
to that cap instead of replacing it; streaming checkpoint files go
through Hadoop's FileSystem API, so a stream commits without forking
``readlink``, and a caller can put another manager in its place."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
from collections import Counter
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mimir_spark.session import CHECKPOINT_MANAGER_KEY, FS_CHECKPOINT_MANAGER

JIT_CAP = "-XX:CICompilerCount=2"
FC_CHECKPOINT_MANAGER = ("org.apache.spark.sql.execution.streaming."
                         "checkpointing.FileContextBasedCheckpointFileManager")
REPO = Path(__file__).resolve().parent.parent


def test_session_jvm_caps_jit_compiler_threads(spark):
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    assert JIT_CAP in list(mx.getRuntimeMXBean().getInputArguments())


@pytest.fixture(scope="module")
def caller_session(tmp_path_factory):
    """A fresh driver whose ``extra_conf`` passes its own
    ``spark.driver.extraJavaOptions`` (as the benchmark does for
    ``java.io.tmpdir``) and its own checkpoint manager; yields its
    tmp dir, JVM arguments and the manager its streams would use."""
    tmp_path = tmp_path_factory.mktemp("caller")
    driver = textwrap.dedent(f"""
        import json, sys
        from mimir_spark.session import get_spark

        spark = get_spark("jit-cap", cpus=1, extra_conf={{
            "spark.driver.memory": "512m",
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + sys.argv[1],
            "{CHECKPOINT_MANAGER_KEY}": "{FC_CHECKPOINT_MANAGER}",
        }})
        mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        hconf = spark._jsparkSession.sessionState().newHadoopConf()
        print(json.dumps({{
            "args": list(mx.getRuntimeMXBean().getInputArguments()),
            "manager": hconf.get("{CHECKPOINT_MANAGER_KEY}")}}))
        spark.stop()
    """)
    env = dict(os.environ, TMPDIR=str(tmp_path),
               PYTHONPATH=os.pathsep.join(
                   [str(REPO), os.environ.get("PYTHONPATH", "")]))
    out = subprocess.run([sys.executable, "-c", driver, str(tmp_path)],
                         cwd=tmp_path, env=env, capture_output=True,
                         text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    return tmp_path, json.loads(out.stdout.strip().splitlines()[-1])


def test_caller_java_options_keep_jit_cap(caller_session):
    """The caller's Java option and the cap both reach the JVM."""
    tmp_path, got = caller_session
    assert JIT_CAP in got["args"], got
    assert f"-Djava.io.tmpdir={tmp_path}" in got["args"], got


def test_session_sets_filesystem_checkpoint_manager(spark):
    """The manager reaches the Hadoop conf a stream's checkpoint and
    state store are built from."""
    assert spark.conf.get(CHECKPOINT_MANAGER_KEY) == FS_CHECKPOINT_MANAGER
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    assert hconf.get(CHECKPOINT_MANAGER_KEY) == FS_CHECKPOINT_MANAGER


def test_caller_overrides_checkpoint_manager(caller_session):
    _, got = caller_session
    assert got["manager"] == FC_CHECKPOINT_MANAGER, got


def test_stream_commit_forks_no_readlink(spark, tmp_path):
    """A stateful stream's commits (offset, commit and source logs,
    state deltas) start no ``readlink`` process. FileContext's rename
    asks for each path's link status, which Hadoop answers without its
    native library by forking ``readlink``: over 300 of them for
    this stream under Spark's default manager. The JVM's own flight
    recorder counts every process it starts."""
    src = tmp_path / "src"
    for i in range(3):
        pdf = pd.DataFrame({
            "conv_id": [f"c{i}-{j}" for j in range(20)],
            "ts": pd.date_range(f"2026-01-01 0{i}:00", periods=20,
                                freq="1min")})
        spark.createDataFrame(pdf).write.mode("append").parquet(str(src))
    stream = (
        spark.readStream.schema("conv_id string, ts timestamp")
        .parquet(str(src))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["conv_id"])
        .groupBy(F.window("ts", "5 minutes")).count())

    jvm = spark.sparkContext._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        q = (stream.writeStream.outputMode("append").format("memory")
             .queryName("fork_guard")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        rec.stop()
    dump = jvm.java.io.File(str(tmp_path / "forks.jfr")).toPath()
    rec.dump(dump)
    rec.close()
    assert spark.table("fork_guard").count() > 0
    spark.catalog.dropTempView("fork_guard")
    started = Counter(
        str(ev.getString("command")).split()[0]
        for ev in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump))
    assert started["readlink"] == 0, started
