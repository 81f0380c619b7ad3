"""Python worker task set-up: a reused worker does not re-read Spark's own
archives (pyspark.zip, py4j, the spark-core jar) at every task, and zips
shipped with addPyFile are still re-read and importable."""

import zipfile
from collections import defaultdict


def _package_tasks(spark, tasks: int, module: str | None = None):
    """Run ``tasks`` tasks that import the package (and ``module``, if
    given).  Each reports ``(pid, spark_reads, other_reads,
    spark_importers, value)``: the zip directories the worker read since
    its previous report -- a count for archives under the worker's
    ``SPARK_HOME``, a {path: count} map for the others; both ``None`` in
    the first task that counts in a worker -- the number of cached
    zipimporters over Spark's archives, and ``module.VALUE``."""

    def task(_):
        import os
        import sys
        import zipimport

        import crrf_det_spark  # noqa: F401  (what makes it a package task)

        value = getattr(__import__(module), "VALUE") if module else None
        reads = getattr(zipimport, "_reads_since_report", None)
        first = reads is None
        if first:
            reads = zipimport._reads_since_report = defaultdict(int)
            read = zipimport._read_directory

            def counted(archive):
                reads[os.path.realpath(archive)] += 1
                return read(archive)

            zipimport._read_directory = counted
        home = os.path.join(os.path.realpath(os.environ["SPARK_HOME"]), "")
        spark_importers = sum(
            isinstance(f, zipimport.zipimporter)
            and os.path.realpath(f.archive).startswith(home)
            for f in sys.path_importer_cache.values()
        )
        spark_reads = other_reads = None
        if not first:
            spark_reads = sum(n for a, n in reads.items() if a.startswith(home))
            other_reads = {a: n for a, n in reads.items()
                           if not a.startswith(home)}
        reads.clear()
        yield os.getpid(), spark_reads, other_reads, spark_importers, value

    sc = spark.sparkContext
    return sc.parallelize(range(tasks), tasks).mapPartitions(task).collect()


def test_reused_worker_skips_spark_archive_rereads(spark):
    reports = _package_tasks(spark, 12) + _package_tasks(spark, 12)
    spark_reads = defaultdict(list)
    for pid, n, _, spark_importers, _ in reports:
        # pyspark really is imported from zips here, so a per-task
        # invalidate_caches() would have archives to re-read
        assert spark_importers > 0
        if n is not None:
            spark_reads[pid].append(n)
    # the second and third package task of one reused worker
    assert max(map(len, spark_reads.values())) >= 2, dict(spark_reads)
    assert all(n == 0 for ns in spark_reads.values() for n in ns), \
        dict(spark_reads)


def test_addpyfile_zip_imports_after_package_tasks(spark, tmp_path):
    _package_tasks(spark, 8)  # the workers already run with the guard
    dep = tmp_path / "late_dep.zip"
    with zipfile.ZipFile(dep, "w") as z:
        z.writestr("crrf_late_dep.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(dep))

    first = _package_tasks(spark, 8, "crrf_late_dep")
    assert [r[4] for r in first] == [42] * 8
    # a later task re-reads the shipped zip: non-Spark archives are still
    # invalidated at every task
    again = _package_tasks(spark, 8, "crrf_late_dep")
    assert [r[4] for r in again] == [42] * 8
    assert any(
        n > 0
        for _, _, other, _, _ in again if other
        for a, n in other.items() if a.endswith("/late_dep.zip")
    ), again
