"""The row driver's per-task drop of the worker's cached zipimporters:
a reused Python worker starts its next task with none (so pyspark's
per-task ``importlib.invalidate_caches()`` re-reads no archive), and a
kernel run on bare pandas leaves the import machinery as it was.
Deterministic: counts cache entries, never times anything."""

from __future__ import annotations

import sys

import pandas as pd
import pytest

pyspark = pytest.importorskip("pyspark")


@pytest.fixture(scope="module")
def spark():
    from html_parser_spark.plans.pipeline import configure
    s = configure(cpus=1)  # one worker, reused by every task
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _probe(spark):
    """(pid, zipimporters cached) of the worker that runs a one-task
    ``mapInPandas``, read as the task's function starts."""
    def count(batches):
        import os
        import zipimport
        n = sum(isinstance(f, zipimport.zipimporter)
                for f in list(sys.path_importer_cache.values()))
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "zips": [n]})

    (row,) = (spark.range(1, numPartitions=1)
              .mapInPandas(count, schema="pid long, zips long").collect())
    return row["pid"], row["zips"]


def test_a_spark_task_leaves_no_zipimporter_for_the_next(spark):
    from html_parser_spark.operators.extract import _map_rows

    assert spark.sparkContext.defaultParallelism == 1
    pid0, zips0 = _probe(spark)
    assert zips0 > 0  # a fresh worker caches pyspark's zips

    def per_row(row):  # ``id`` passes through by name
        import os
        return [(os.getpid(),)]

    got = _map_rows(spark.range(3, numPartitions=1), "id long, pid long",
                    per_row).collect()
    assert {r["pid"] for r in got} == {pid0}  # the same reused worker
    assert _probe(spark) == (pid0, 0)


def test_bare_pandas_leaves_the_importer_cache_alone(tmp_path):
    import zipfile
    import zipimport

    from html_parser_spark.operators.extract import _row_kernel

    archive = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("mod.py", "")
    sys.path_importer_cache[archive] = zipimport.zipimporter(archive)
    try:
        before = dict(sys.path_importer_cache)
        kernel = _row_kernel("id long, n long", lambda row: [(row[0] + 1,)])
        out = list(kernel(iter([pd.DataFrame({"id": [1, 2]})])))
        assert list(out[0]["n"]) == [2, 3]
        assert sys.path_importer_cache == before
    finally:
        del sys.path_importer_cache[archive]
