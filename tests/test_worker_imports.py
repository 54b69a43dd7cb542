"""Which copy of jigsaw_spark a Python worker runs.

Kernels reference module-level helpers (e.g. `dedup._simhash_batch`) that
cloudpickle ships by reference, so the worker imports them itself. Each
test starts its own driver in a subprocess: they change the working
directory or the loaded package, which the shared test session must not
see.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap
from pathlib import Path

from tests.conftest import SF_SMOKE

REPO = Path(__file__).resolve().parents[1]


def _run_driver(script: str, cwd: Path) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    return subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_kernels_import_package_from_any_cwd(tmp_path):
    """`get_spark` puts the package on the workers' path: a mapInPandas
    kernel runs with the driver outside the repo and no PYTHONPATH."""
    proc = _run_driver(
        f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from jigsaw_spark.operators.dedup import simhash
        from jigsaw_spark.session import get_spark

        spark = get_spark("any-cwd", cpus=1)
        df = spark.createDataFrame([(1, "alpha beta gamma")], "doc_id long, text string")
        print("ROWS", simhash(df, "doc_id").count())
        """,
        cwd=tmp_path,
    )
    assert "ROWS 1" in proc.stdout, proc.stderr[-3000:]


def test_ab_side_kernels_run_that_sides_helpers(tmp_path):
    """tools/ab_interleave.py's loader: after it loads a side, that side's
    module-level kernel helpers are what the workers run, even though the
    working tree sits on the workers' path."""
    side = tmp_path / "side"
    shutil.copytree(
        REPO / "jigsaw_spark",
        side / "jigsaw_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    with open(side / "jigsaw_spark" / "operators" / "dedup.py", "a") as f:
        f.write(
            "\n\ndef _simhash_batch(*args, **kwargs):\n"
            "    raise RuntimeError('side-copy kernel ran')\n"
        )
    proc = _run_driver(
        f"""
        import sys
        sys.path[:0] = [{str(REPO)!r}, {str(REPO / "tools")!r}]
        from ab_interleave import _load_queries
        from jigsaw_spark.session import get_spark

        spark = get_spark("ab-side", cpus=1)
        _load_queries({str(side)!r})
        from jigsaw_spark.operators.dedup import simhash
        from jigsaw_spark.session import load_table

        simhash(load_table(spark, {SF_SMOKE!r}, "documents"), "doc_id").count()
        """,
        cwd=REPO,
    )
    assert proc.returncode != 0, "the working tree's kernel ran, not the side's"
    assert "side-copy kernel ran" in proc.stderr, proc.stderr[-3000:]
