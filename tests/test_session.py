"""Session defaults fit the host they start on."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_parallelism_is_the_usable_cpu_count():
    """With SPARK_GRAFT_CPUS unset, get_spark runs one task thread and
    plans one shuffle partition per CPU this process may run on."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["S4SPARK_DRIVER_MEM"] = "1g"
    code = (
        "import os\n"
        "from super_speedy_syslog_searcher_spark.session import get_spark\n"
        "s = get_spark()\n"
        "print(s.sparkContext.master,"
        " s.conf.get('spark.sql.shuffle.partitions'),"
        " len(os.sched_getaffinity(0)))\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    master, partitions, cpus = out.stdout.split()[-3:]
    assert master == f"local[{cpus}]"
    assert partitions == cpus
