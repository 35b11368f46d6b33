"""get_spark's driver JVM flags: the JIT defaults reach the JVM it launches,
ahead of a caller's own ``spark.driver.extraJavaOptions``, and a site's
``spark.driver.defaultJavaOptions`` from spark-defaults.conf is left alone.

JVM options only apply when the session launches its JVM, so the session
under test runs in a fresh Python process, not in the suite's shared one.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from spark_pit.session import DRIVER_JIT_OPTIONS

REPO = Path(__file__).resolve().parents[1]
SITE_FLAG = "-Dspark_pit.site_default=1"

PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from spark_pit.session import get_spark
spark = get_spark(app_name="jvm_flags", master="local[1]",
                  extra_conf={"spark.driver.extraJavaOptions": "-Xms256m"})
mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps(list(mx.getInputArguments())))
spark.stop()
"""


def test_driver_jit_flags_merge_with_caller_java_options(tmp_path):
    # a site-wide default, as an administrator sets it
    (tmp_path / "spark-defaults.conf").write_text(
        f"spark.driver.defaultJavaOptions {SITE_FLAG}\n"
    )
    env = dict(os.environ, SPARK_PIT_DRIVER_MEM="512m", SPARK_CONF_DIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", PROBE, str(REPO)],
        env=env, capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    args = json.loads(out.strip().splitlines()[-1])
    for flag in DRIVER_JIT_OPTIONS.split():
        assert flag in args, (flag, args)
    assert SITE_FLAG in args, args
    # the caller's flags come last, so they win any clash with the defaults
    last_jit = DRIVER_JIT_OPTIONS.split()[-1]
    assert "-Xms256m" in args and args.index(last_jit) < args.index("-Xms256m"), args
