"""The Python daemon that get_spark selects (longqc_spark.worker_daemon).

One local[1] session in a subprocess, started from a neutral cwd with
PYTHONPATH unset: the workers must find the package through get_spark's
executorEnv, skip only the zipimporter re-reads, and keep FileFinder
invalidation (a .py shipped with addPyFile after the worker is warm still
imports). local[1] runs one task at a time on reused workers, so the late
import runs in a worker that already cached the files directory.
"""

import json
import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = textwrap.dedent(
    """
    import json, os, sys
    sys.path.insert(0, sys.argv[1])  # the driver only; workers get get_spark's path
    import zipimport

    from longqc_spark.corpus import generate_corpus
    from longqc_spark.labeler import label_corpus
    from longqc_spark.pipeline import qc_pipeline
    from longqc_spark.session import get_spark

    out = {"driver_invalidate": zipimport.zipimporter.invalidate_caches.__qualname__}
    spark = get_spark("worker-daemon-test", cores=1)
    sc = spark.sparkContext

    out["rdd_sum"] = sc.parallelize(range(8), 4).map(lambda x: x * x).sum()

    pdf = generate_corpus(40, seed=7)[["url", "text"]]
    got = qc_pipeline(spark.createDataFrame(pdf)).select(
        "url", "keep", "reasons", "scrubbed_text"
    ).toPandas()
    ref = label_corpus(pdf)
    out["labels"] = sorted((r.url, bool(r.keep), list(r.reasons), r.scrubbed_text)
                           for r in got.itertuples())
    out["ref_labels"] = sorted((r.url, bool(r.keep), list(r.reasons), r.scrubbed_text)
                               for r in ref.itertuples())

    def zip_probe(_):
        import importlib
        import zipimport

        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or real(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield zipimport.zipimporter.invalidate_caches.__qualname__, len(zips), len(reads)

    out["worker_invalidate"], out["worker_zips"], out["worker_zip_reads"] = (
        sc.parallelize([0], 1).mapPartitions(zip_probe).collect()[0]
    )

    def warm(_):
        from pyspark import SparkFiles

        try:
            import late_mod  # noqa: F401
            found = True
        except ModuleNotFoundError:
            found = False
        yield os.getpid(), found, os.stat(SparkFiles.getRootDirectory()).st_mtime_ns

    # several one-at-a-time tasks, so every idle worker caches the listing
    warmed = sc.parallelize(range(8), 8).mapPartitions(warm).collect()
    out["found_before"] = any(found for _, found, _ in warmed)
    mtime = max(m for _, _, m in warmed)
    # not in the cwd: workers run there, and it is on their path
    os.mkdir("ship")
    with open("ship/late_mod.py", "w") as f:
        f.write("VALUE = 42\\n")
    sc.addPyFile(os.path.abspath("ship/late_mod.py"))

    def late(_):
        from pyspark import SparkFiles

        # the directory listing the warm task cached is then only refreshed
        # by the invalidation, not by a changed mtime
        os.utime(SparkFiles.getRootDirectory(), ns=(mtime, mtime))
        try:
            import late_mod
        except ModuleNotFoundError:
            yield os.getpid(), None
        else:
            yield os.getpid(), late_mod.VALUE

    pid, out["late_value"] = sc.parallelize([0], 1).mapPartitions(late).collect()[0]
    out["warm_worker"] = pid in {p for p, _, _ in warmed}
    spark.stop()
    print("RESULT " + json.dumps(out))
    """
)


@pytest.fixture(scope="module")
def result(tmp_path_factory):
    cwd = tmp_path_factory.mktemp("neutral_cwd")
    (cwd / "probe.py").write_text(SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "probe.py", REPO], cwd=str(cwd), env=env,
        capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("RESULT ")]
    assert r.returncode == 0 and lines, (r.stdout + r.stderr)[-3000:]
    return json.loads(lines[-1][len("RESULT "):])


def test_neutral_cwd_rdd_and_qc_pipeline(result):
    assert result["rdd_sum"] == sum(x * x for x in range(8))
    assert len(result["labels"]) == 40
    assert result["labels"] == result["ref_labels"]


def test_workers_keep_zip_directories(result):
    # the worker has zip-backed importers, and invalidation re-reads none of them
    assert result["worker_invalidate"] == "_keep_zip_directory"
    assert result["worker_zips"] > 0
    assert result["worker_zip_reads"] == 0
    # the driver process keeps the stock behaviour
    assert result["driver_invalidate"] == "zipimporter.invalidate_caches"


def test_late_py_file_imports_in_warm_worker(result):
    assert result["found_before"] is False
    assert result["warm_worker"] is True
    assert result["late_value"] == 42
