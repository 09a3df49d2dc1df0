"""The extraction UDF drops its Python worker's cached zip importers, so
the ``importlib.invalidate_caches()`` PySpark's worker runs before each
task re-reads no zip archive, and imports from a zip still work."""

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from importlib import resources

import pytest

from material_parsers_spark.pipeline.extraction import _drop_zip_importers

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PACKAGE = "zip_importer_probe_pkg"


def _write_package_zip(path):
    with zipfile.ZipFile(path, "w") as archive:
        archive.writestr(f"{PACKAGE}/__init__.py", "")
        archive.writestr(f"{PACKAGE}/sub/__init__.py", "")
        archive.writestr(f"{PACKAGE}/sub/first.py", "VALUE = 1\n")
        archive.writestr(f"{PACKAGE}/sub/second.py", "VALUE = 2\n")
        archive.writestr(f"{PACKAGE}/sub/data.txt", "payload")


def test_invalidate_caches_rereads_no_zip_after_the_drop(tmp_path,
                                                         monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_package_zip(archive)
    monkeypatch.syspath_prepend(archive)
    reads = []
    original = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        first = importlib.import_module(f"{PACKAGE}.sub.first")
        assert isinstance(first.__loader__, zipimport.zipimporter)

        reads.clear()
        importlib.invalidate_caches()
        assert archive in reads

        _drop_zip_importers()
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        # a module not imported before still imports from the zip, and
        # the new importer reads zipimport's directory cache, not the zip
        second = importlib.import_module(f"{PACKAGE}.sub.second")
        assert (first.VALUE, second.VALUE) == (1, 2)
        assert isinstance(second.__loader__, zipimport.zipimporter)
        assert reads == []
        # a loaded package keeps its loader, so resources still read
        assert (resources.files(f"{PACKAGE}.sub").joinpath("data.txt")
                .read_text()) == "payload"
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == PACKAGE]:
            del sys.modules[name]
        for path in [p for p in sys.path_importer_cache
                     if p.startswith(archive)]:
            del sys.path_importer_cache[path]


WORKER_PROBE = """\
from typing import Iterator
import pyarrow as pa
from pyspark.sql import functions as F
from material_parsers_spark.pipeline.extraction import (
    build_default_patterns, extract_ordered)
from material_parsers_spark.pipeline.session import build_session
from material_parsers_spark.pipeline.transcripts import generate_turns

spark = build_session(app_name="worker-import-cache", master="local[1]",
                      shuffle_partitions=1)
turns = generate_turns(spark, 200, partitions=1)
for _ in range(2):
    extract_ordered(turns, patterns=build_default_patterns(),
                    include_tokens=False).write.format("noop") \\
        .mode("overwrite").save()


@F.arrow_udf("string")
def zip_importers(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
    import json
    import sys
    import zipimport
    import pyspark
    probe = json.dumps({
        "pyspark": pyspark.__file__,
        "zip_importers": sorted(
            p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter))})
    for batch in batches:
        yield pa.array([probe] * len(batch))


row = spark.range(1, numPartitions=1).select(
    zip_importers(F.col("id").cast("string")).alias("probe")).first()
print("PROBE:" + row.probe)
spark.stop()
"""


def test_worker_keeps_no_pyspark_subpackage_zip_importer():
    """In a local[1] session one reused Python worker runs both
    extraction passes and then the probe: it holds no zip importer for a
    pyspark.zip subpackage, each of which the worker would otherwise
    re-read before every task."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        filter(None, [REPO, os.environ.get("PYTHONPATH")])))
    proc = subprocess.run([sys.executable, "-c", WORKER_PROBE], cwd=REPO,
                          env=env, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [x for x in proc.stdout.splitlines() if x.startswith("PROBE:")]
    probe = json.loads(line[-1][len("PROBE:"):])
    if "pyspark.zip" not in probe["pyspark"]:
        pytest.skip("the Python worker imports pyspark from "
                    + probe["pyspark"] + ", not from pyspark.zip")
    assert [p for p in probe["zip_importers"] if "pyspark.zip/" in p] == []
