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


def test_workers_keep_their_zip_importer_caches(spark):
    """A get_spark worker runs under the package's daemon: its cached
    zipimporters (pyspark.zip, py4j) stay, and the per-task
    invalidate_caches() leaves their archive directories unread."""

    def probe(_):
        import sys
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        yield (
            sum(
                isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values()
            ),
            fn.__name__,
            fn.__code__.co_filename,
        )

    for n, name, filename in spark.sparkContext.parallelize([0], 1).mapPartitions(
        probe
    ).collect():
        assert n >= 1
        assert name == "_keep_cache"
        assert filename == os.path.join(
            REPO, "super_speedy_syslog_searcher_spark", "_daemon.py"
        )


def test_zip_added_mid_session_imports_in_the_next_task(spark, tmp_path):
    """addPyFile behind a live worker: the next task imports the new
    zip's module (a fresh path gets a fresh zipimporter)."""
    import uuid
    import zipfile

    mod = f"s4_addpyfile_{uuid.uuid4().hex}"
    zpath = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"{mod}.py", "VALUE = 42\n")
    sc = spark.sparkContext
    assert sc.parallelize([1], 1).map(lambda x: x + 1).collect() == [2]
    sc.addPyFile(str(zpath))

    def load(_):
        import importlib

        yield importlib.import_module(mod).VALUE

    assert sc.parallelize([0], 1).mapPartitions(load).collect() == [42]
