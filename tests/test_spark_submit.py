"""north_rule deployment shape: the job runs via
``spark-submit --py-files <zip>`` with NO package checkout visible —
the zip is the only code-delivery channel, exactly how a
multi-executor cluster receives it."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = "/opt/spark/bin/spark-submit"

pytestmark = pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not found"
)


def test_submit_with_py_files_zip(tmp_path):
    from tools.build_pyfiles import build

    zip_path = build(str(tmp_path / "s4spark.zip"))
    # scratch CWD: the package is importable ONLY through --py-files
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    out = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[8]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", zip_path,
            os.path.join(REPO, "tools", "submit_job.py"),
            "/root/testdata/sf0.001",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=str(tmp_path),
        env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [
        ln for ln in out.stdout.strip().splitlines()
        if ln.startswith("{")
    ][-1]
    res = json.loads(line)
    assert res["rows"] > 0
    assert res["master"] == "local[8]"
    # same dt window as q:merge_ordered at this sf → same row count
    # (3354 at sf0.01; sf0.001 scales with the corpus)
    assert res["parallelism"] == 8
