"""Python workers must import the engine package from wherever the driver
runs: a driver that only puts the repo on its own ``sys.path`` (no
``PYTHONPATH``, another working directory) still runs pandas UDFs."""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_package_without_pythonpath(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from table_annotation_spark.session import get_spark
        from table_annotation_spark.sources.embedded_tables import extract_cells

        spark = get_spark(master="local[1]", shuffle_partitions=1)
        src = spark.createDataFrame(
            [("r", "t.csv", "c", "csv", "a,b\\n1,2\\n")],
            "repo string, path string, commit string, lang string, content string",
        )
        print("cells", extract_cells(src).count())
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "cells 4" in proc.stdout
