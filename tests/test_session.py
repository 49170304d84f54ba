"""The engine's JVM launch options: ``get_spark`` caps the JIT at one
C1 and one C2 compiler thread, and a caller's own driver Java options
add to that cap instead of replacing it."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

JIT_CAP = "-XX:CICompilerCount=2"
REPO = Path(__file__).resolve().parent.parent


def test_session_jvm_caps_jit_compiler_threads(spark):
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    assert JIT_CAP in list(mx.getRuntimeMXBean().getInputArguments())


def test_caller_java_options_keep_jit_cap(tmp_path):
    """A driver passing ``spark.driver.extraJavaOptions`` (as the
    benchmark does for ``java.io.tmpdir``) gets both its option and
    the cap."""
    driver = textwrap.dedent(f"""
        import json, sys
        from mimir_spark.session import get_spark

        spark = get_spark("jit-cap", cpus=1, extra_conf={{
            "spark.driver.memory": "512m",
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + sys.argv[1],
        }})
        mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        print(json.dumps(list(mx.getRuntimeMXBean().getInputArguments())))
        spark.stop()
    """)
    env = dict(os.environ, TMPDIR=str(tmp_path),
               PYTHONPATH=os.pathsep.join(
                   [str(REPO), os.environ.get("PYTHONPATH", "")]))
    out = subprocess.run([sys.executable, "-c", driver, str(tmp_path)],
                         cwd=tmp_path, env=env, capture_output=True,
                         text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    args = json.loads(out.stdout.strip().splitlines()[-1])
    assert JIT_CAP in args, args
    assert f"-Djava.io.tmpdir={tmp_path}" in args, args
