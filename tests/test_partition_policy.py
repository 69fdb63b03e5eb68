"""The Python stage's task layout (``pipeline.python_stage_partitions``) and
its Arrow batch byte cap (``spark.sql.execution.arrow.maxBytesPerBatch`` in
``session.get_spark``).

Task counts are read as the distinct ``spark_partition_id`` values seen
right after the ``mapInPandas`` stage: every task of that stage holds docs.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from longqc_spark.ccsource import CCSynthDataSource
from longqc_spark.config import DEFAULT_CONFIG as CFG
from longqc_spark.corpus import generate_corpus
from longqc_spark.kernels import compute_stats, extract_text_batch, scrub_batch
from longqc_spark.pipeline import python_stage_partitions, qc_pipeline, with_stats_and_scrub

N_FILES = 16
DOCS_PER_FILE = 24


@pytest.fixture(scope="module")
def tiny_files(tmp_path_factory):
    d = tmp_path_factory.mktemp("tiny_splits")
    pdf = generate_corpus(N_FILES * DOCS_PER_FILE, seed=5)
    for i in range(N_FILES):
        part = pdf.iloc[i * DOCS_PER_FILE : (i + 1) * DOCS_PER_FILE]
        part.to_parquet(d / f"part-{i:02d}.parquet", index=False, coerce_timestamps="us")
    return sorted(str(p) for p in d.iterdir())


@pytest.fixture
def one_split_per_file(spark):
    """Spark packs small files into one split per core by default; ask for
    one split per file, as a many-file scan of tiny files would give."""
    key = "spark.sql.files.minPartitionNum"
    spark.conf.set(key, str(N_FILES))
    yield
    spark.conf.unset(key)


def _tasks(labels) -> int:
    return labels.select(F.spark_partition_id().alias("p")).distinct().count()


def _sorted(labels) -> pd.DataFrame:
    pdf = labels.toPandas()
    return pdf.sort_values("url").reset_index(drop=True)


def test_tiny_splits_merge_into_one_task_per_core(spark, tiny_files, one_split_per_file):
    docs = spark.read.parquet(*tiny_files)
    cores = spark.sparkContext.defaultParallelism
    assert docs.rdd.getNumPartitions() == N_FILES > cores
    assert python_stage_partitions(docs) == cores
    assert _tasks(qc_pipeline(docs, num_partitions=0)) <= cores
    # the default finds a split per core and takes the same no-shuffle path
    assert _tasks(qc_pipeline(docs)) <= cores


def test_fewer_splits_than_cores_are_kept(spark, tiny_files, one_split_per_file):
    docs = spark.read.parquet(*tiny_files[:2])
    assert docs.rdd.getNumPartitions() == 2
    assert _tasks(qc_pipeline(docs, num_partitions=0)) == 2


def test_explicit_count_is_exact(spark, tiny_files, one_split_per_file):
    docs = spark.read.parquet(*tiny_files)
    assert _tasks(qc_pipeline(docs, num_partitions=8)) == 8


def test_size_unknown_source_keeps_its_layout(spark):
    spark.dataSource.register(CCSynthDataSource)
    n = spark.sparkContext.defaultParallelism + 4
    cc = (
        spark.read.format("ccsynth")
        .option("n_docs", 12 * n)
        .option("seed", 3)
        .option("num_partitions", n)
        .load()
    )
    assert python_stage_partitions(cc) == 0
    assert _tasks(qc_pipeline(cc, num_partitions=0)) == n


def test_merged_splits_give_the_same_labels(spark, tiny_files, one_split_per_file):
    docs = spark.read.parquet(*tiny_files)
    got = _sorted(qc_pipeline(docs, num_partitions=0))
    want = _sorted(qc_pipeline(docs, num_partitions=16))
    assert len(got) == N_FILES * DOCS_PER_FILE
    pd.testing.assert_frame_equal(got, want)


def test_arrow_batches_are_capped_by_bytes(spark):
    """~100 KB docs: the 256 KB cap closes a batch after at most three,
    far below the 2048-record cap."""
    def batch_sizes(batches):  # local, so the workers get it by value
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    n_docs = 24
    docs = spark.range(0, n_docs, 1, 1).select(
        F.repeat(F.lit("word "), 20_000).alias("text")
    )
    sizes = [r["n"] for r in docs.mapInPandas(batch_sizes, "n long").collect()]
    assert sum(sizes) == n_docs
    assert max(sizes) <= 3


def test_hostile_docs_run_through_stats_and_scrub(spark):
    """Null, empty, invalid-UTF-8 and 1 MB payloads in one task: the
    capped batches give the same stats and scrub as the kernels over the
    whole column in one call."""
    big = ("lorem ipsum dolor sit amet, contact bob@example.com today.\n" * 18_000).encode()
    html = [None, b"", b"<p>caf\xe9 \xff\xfe broken</p>", b"<p>" + big + b"</p>", big, b"<p>ok</p>"]
    pdf = pd.DataFrame({"url": [f"u{i}" for i in range(len(html))], "html": html})
    docs = spark.createDataFrame(pdf, "url string, html binary").coalesce(1)
    got = with_stats_and_scrub(docs, CFG, html_col="html").toPandas().sort_values("url")
    texts = extract_text_batch(pdf["html"])
    stats = compute_stats(texts, langid_max_chars=CFG.langid_max_chars)
    want = pd.concat([pdf[["url"]], stats, scrub_batch(texts, CFG)], axis=1)
    assert len(big) > 2**20
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want[got.columns].reset_index(drop=True), check_dtype=False
    )


def test_joined_input_is_salted_to_two_tasks_per_core(spark, tiny_files):
    """A join's size estimate is the product of its sides' sizes, far above
    the real input: the default's salt for a plan with an exchange stays
    at two tasks per core instead of following that estimate."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.read.parquet(*tiny_files)
        hosts = docs.select("url", F.length("url").alias("url_len"))
        joined = docs.join(hosts, "url", "left")
        cores = spark.sparkContext.defaultParallelism
        assert python_stage_partitions(joined) > 2 * cores
        assert _tasks(qc_pipeline(joined)) <= 2 * cores
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
