"""The session factory outside the repository: a script started from any
directory, with the repository on its own ``sys.path`` only, must be able
to run package code in Python workers."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_python_workers_import_the_package_from_any_directory(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from airflow_project_flight_price_analysis_spark.operators.multimodal import (
            extract_features)
        from airflow_project_flight_price_analysis_spark.session import get_spark

        spark = get_spark(app_name="fpa-outside-repo", cpus=1)
        media = spark.createDataFrame([(1, b"abc")], "media_id long, payload binary")
        (row,) = extract_features(media).collect()
        print("bytes", row.n_bytes)
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "bytes 3"
