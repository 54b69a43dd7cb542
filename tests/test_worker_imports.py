"""Which copy of jigsaw_spark a Python worker runs, and whether every
module imports on its own.

Kernels reference module-level helpers (e.g. `dedup._simhash_batch`) that
cloudpickle ships by reference, so the worker imports them itself. Each
test starts its own interpreter in a subprocess: they change the working
directory or the loaded package, which the shared test session must not
see.
"""

from __future__ import annotations

import os
import pkgutil
import shutil
import subprocess
import sys
import textwrap
import zipfile
import zipimport
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


def test_every_plans_module_imports_first():
    """Any `jigsaw_spark.plans` module works as the first import of a fresh
    interpreter: the registry is a leaf and no family module needs another
    to be loaded before it."""
    import jigsaw_spark.plans as plans

    names = [m.name for m in pkgutil.iter_modules(plans.__path__)]
    failed = {}
    for name in names:
        proc = subprocess.run(
            [sys.executable, "-c", f"import jigsaw_spark.plans.{name}"],
            cwd=REPO,
            capture_output=True,
            text=True,
            timeout=120,
        )
        if proc.returncode != 0:
            failed[name] = proc.stderr.strip().splitlines()[-1]
    assert not failed, f"{len(failed)} of {len(names)} modules: {failed}"


def _zip_with(path: Path, *modules: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for m in modules:
            z.writestr(f"{m}.py", "X = 1\n")


def _count_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    orig = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_daemon_rereads_a_zip_only_when_it_changes(tmp_path, monkeypatch):
    """`jigsaw_spark.daemon`'s guard: importers of archives read before
    `install()` skip the re-read; a rewritten archive (new mtime) is read
    again, once, and every importer of it finds the new modules."""
    from jigsaw_spark import daemon

    archive = tmp_path / "lib.zip"
    _zip_with(archive, "a")
    imp = zipimport.zipimporter(str(archive))
    monkeypatch.setattr(daemon, "_stamps", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", daemon._invalidate)
    daemon.install()
    reads = _count_reads(monkeypatch)
    imp.invalidate_caches()
    assert reads == []
    other = zipimport.zipimporter(str(archive))
    st = os.stat(archive)
    _zip_with(archive, "a", "b")
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    imp.invalidate_caches()
    imp.invalidate_caches()
    other.invalidate_caches()  # takes the directory imp just read
    assert reads == [str(archive)]
    assert imp.find_spec("b") is not None
    assert other.find_spec("b") is not None


def test_worker_keeps_its_archive_directories_across_tasks(spark):
    """In a task on `get_spark`'s workers, `importlib.invalidate_caches()`
    (which pyspark's worker runs before every task) reads no zip directory."""

    def probe(_):
        import importlib
        import zipimport

        reads = []
        orig = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or orig(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        yield reads

    for _ in range(2):
        assert spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect() == [[]]
