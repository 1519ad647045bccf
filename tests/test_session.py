"""Python-worker import setup in ``session``: zip importers re-read their
archive's directory only when the archive changed on disk."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pyarrow as pa
import pytest

REPO = Path(__file__).resolve().parents[1]

eager_stdlib = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport invalidation is lazy from 3.13 on"
)


def _run(code: str, tmp_path: Path) -> None:
    """Run ``code`` in a fresh interpreter, so the patch state of this process
    (a driver, never patched) cannot leak in or out."""
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": str(REPO)},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr


_ZIP_WITH_A = """
import importlib, os, sys, zipfile, zipimport

archive = os.path.abspath("mods.zip")

def write_zip(**modules):
    with zipfile.ZipFile(archive, "w") as z:
        for name, src in modules.items():
            z.writestr(name + ".py", src)

write_zip(a="X = 1\\n")
sys.path.insert(0, archive)
import a

reads = []
read_directory = zipimport._read_directory

def counting(path):
    reads.append(path)
    return read_directory(path)
"""


@eager_stdlib
def test_zip_directories_reread_only_when_changed(tmp_path):
    _run(
        _ZIP_WITH_A
        + """
import pyspark.worker_util
import fs2_kinesis_firehose_spark

zipimport._read_directory = counting
importlib.invalidate_caches()
assert reads.count(archive) == 0, reads      # importer recorded at install
reads.clear()
importlib.invalidate_caches()
importlib.invalidate_caches()
assert reads == [], reads                     # unchanged archive: no re-read

write_zip(a="X = 1\\n", b="Y = 2\\n")           # size changes with b
importlib.invalidate_caches()
assert reads.count(archive) == 1, reads
import b
assert b.Y == 2
""",
        tmp_path,
    )


@eager_stdlib
def test_driver_keeps_stdlib_zip_invalidation(tmp_path):
    _run(
        _ZIP_WITH_A
        + """
eager = zipimport.zipimporter.invalidate_caches
import fs2_kinesis_firehose_spark

assert "pyspark.worker_util" not in sys.modules
assert zipimport.zipimporter.invalidate_caches is eager
zipimport._read_directory = counting
importlib.invalidate_caches()
importlib.invalidate_caches()
assert reads.count(archive) == 2, reads
""",
        tmp_path,
    )


@eager_stdlib
def test_spark_worker_skips_unchanged_zip_rereads(spark):
    """Inside a real Python worker task, the first
    ``importlib.invalidate_caches()`` after the package is imported reads no
    archive directory; the worker's importers cover pyspark.zip, py4j and
    the spark-core jar."""

    def count_reads(batches):
        import importlib
        import zipimport

        import fs2_kinesis_firehose_spark  # noqa: F401

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"reads": [len(reads)]})

    rows = spark.range(1, numPartitions=1).mapInArrow(count_reads, "reads long").collect()
    assert [r.reads for r in rows] == [0]
