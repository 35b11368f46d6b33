"""spark-submit entry script. Usage:

    JIT="$(python -c 'from spark_pit.session import DRIVER_JIT_OPTIONS as o; print(o)')"
    spark-submit --py-files dist/spark_pit.zip \
        --driver-java-options "$JIT" \
        tools/run_job.py --events <parquet> --out <dir> [...]

The zip from tools/build_pyfiles.py puts spark_pit on every executor's
PYTHONPATH; this script is driver-side plumbing only. The driver JVM is
already running when the job calls ``get_spark``, so its JVM flags
(``spark_pit.session.DRIVER_JIT_OPTIONS``, the one source of ``$JIT``)
must come from ``--driver-java-options``; append your own flags after
``$JIT`` to keep both.
"""

import os
import sys

# allow plain `python tools/run_job.py` in the sandbox (repo-root import)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_pit.job import main  # noqa: E402

if __name__ == "__main__":
    main()
