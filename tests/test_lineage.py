"""Checkpoint/resume semantics (north_rule resumability; SURVEY.md §7.5.7):
kill mid-run → restart → exact resume, committed partitions are no-ops,
final output identical to an uninterrupted run."""

import os

import pandas as pd

import pytest
from pyspark.sql import functions as F

from longqc_spark.lineage import (
    audit_table,
    load_manifest,
    read_labels,
    run_qc_with_lineage,
)


@pytest.fixture()
def docs(spark, corpus_path):
    return spark.read.parquet(corpus_path)


def test_kill_and_resume_exact(spark, docs, tmp_path):
    out = str(tmp_path / "run")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_qc_with_lineage(docs, out, n_buckets=4, fail_after_bucket=1)
    m = load_manifest(out)
    assert set(m["committed"]) == {"0", "1"}

    # restart: only buckets 2,3 run; 0,1 untouched (mtime unchanged)
    mtimes = {
        b: os.path.getmtime(os.path.join(out, "data", f"bucket={b}")) for b in (0, 1)
    }
    m2 = run_qc_with_lineage(docs, out, n_buckets=4)
    assert set(m2["committed"]) == {"0", "1", "2", "3"}
    assert m2["run_id"] == m["run_id"]
    for b in (0, 1):
        assert os.path.getmtime(os.path.join(out, "data", f"bucket={b}")) == mtimes[b]

    # resumed output == uninterrupted run
    clean = str(tmp_path / "clean")
    run_qc_with_lineage(docs, clean, n_buckets=4)
    a = read_labels(spark, out).select("url", "keep", "scrubbed_text").toPandas()
    b = read_labels(spark, clean).select("url", "keep", "scrubbed_text").toPandas()
    pa = a.sort_values("url").reset_index(drop=True)
    pb = b.sort_values("url").reset_index(drop=True)
    assert pa.equals(pb)
    assert len(pa) == docs.count()


def test_input_scanned_once(spark, docs, tmp_path):
    """100-TB scan discipline: an N-bucket run must scan the input ONCE (one
    partitionBy job), not once per bucket. The accumulator counts every row
    materialized from the source; with 4 buckets the old per-bucket loop
    would read 4×."""
    n = docs.count()
    schema = docs.schema

    acc = spark.sparkContext.accumulator(0)

    def count_rows(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    counted = docs.mapInPandas(count_rows, schema)
    run_qc_with_lineage(counted, str(tmp_path / "once"), n_buckets=4)
    assert acc.value == n

    # dedup=True is also ONE scan: the pre-dedup bucket counts ride the
    # main job as an Observation instead of a separate key-only pass
    acc2 = spark.sparkContext.accumulator(0)

    def count_rows2(it):
        for pdf in it:
            acc2.add(len(pdf))
            yield pdf

    counted2 = docs.mapInPandas(count_rows2, schema)
    run_qc_with_lineage(counted2, str(tmp_path / "once_dedup"), n_buckets=4, dedup=True)
    assert acc2.value == n


def test_wave_staging(spark, docs, tmp_path):
    """wave_buckets=k trades scans for intra-run checkpoints: a 4-bucket run
    in waves of 2 scans the input exactly twice (one job per wave), a crash
    loses at most the current wave, and the committed output is identical to
    the single-wave run."""
    n = docs.count()
    schema = docs.schema
    acc = spark.sparkContext.accumulator(0)

    def count_rows(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    counted = docs.mapInPandas(count_rows, schema)
    out = str(tmp_path / "waves")
    run_qc_with_lineage(counted, out, n_buckets=4, wave_buckets=2)
    assert acc.value == 2 * n  # ceil(4/2) staged jobs, one scan each
    m = load_manifest(out)
    assert set(m["committed"]) == {"0", "1", "2", "3"}

    # crash after bucket 1 (end of wave 1): wave-1 buckets survive, the
    # resume completes only wave 2, and output == a clean single-wave run
    out2 = str(tmp_path / "waves_crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_qc_with_lineage(docs, out2, n_buckets=4, wave_buckets=2, fail_after_bucket=1)
    assert set(load_manifest(out2)["committed"]) == {"0", "1"}
    run_qc_with_lineage(docs, out2, n_buckets=4, wave_buckets=2)

    clean = str(tmp_path / "waves_clean")
    run_qc_with_lineage(docs, clean, n_buckets=4)
    a = read_labels(spark, out2).select("url", "keep", "scrubbed_text").toPandas()
    b = read_labels(spark, clean).select("url", "keep", "scrubbed_text").toPandas()
    assert a.sort_values("url").reset_index(drop=True).equals(
        b.sort_values("url").reset_index(drop=True)
    )

    # dedup metrics survive waves: n_dup_dropped totals agree with the
    # single-wave dedup run
    outd = str(tmp_path / "waves_dedup")
    outs = str(tmp_path / "single_dedup")
    run_qc_with_lineage(docs, outd, n_buckets=4, dedup=True, wave_buckets=3)
    run_qc_with_lineage(docs, outs, n_buckets=4, dedup=True)
    md, ms = load_manifest(outd), load_manifest(outs)
    tot = lambda m: sum(v["metrics"]["n_dup_dropped"] for v in m["committed"].values())
    assert tot(md) == tot(ms)
    assert read_labels(spark, outd).count() == read_labels(spark, outs).count()


def test_rerun_completed_is_noop(spark, docs, tmp_path):
    out = str(tmp_path / "run")
    run_qc_with_lineage(docs, out, n_buckets=2)
    m1 = load_manifest(out)
    m2 = run_qc_with_lineage(docs, out, n_buckets=2)
    assert m1 == m2  # identical manifests — nothing recomputed


def test_audit_table_consistent(spark, docs, tmp_path):
    out = str(tmp_path / "run")
    run_qc_with_lineage(docs, out, n_buckets=4)
    audit = audit_table(spark, out)
    total = audit.agg(F.sum("n_in"), F.sum("n_kept")).collect()[0]
    labels = read_labels(spark, out)
    assert total[0] == labels.count()
    assert total[1] == labels.filter(F.col("keep")).count()
    assert audit.count() == 4


def test_bucket_mismatch_rejected(spark, docs, tmp_path):
    out = str(tmp_path / "run")
    run_qc_with_lineage(docs, out, n_buckets=2)
    with pytest.raises(ValueError, match="n_buckets"):
        run_qc_with_lineage(docs, out, n_buckets=4)


def test_snapshot_history_and_time_travel(spark, docs, tmp_path):
    """Every bucket commit is an immutable snapshot version; read_labels(as_of=N)
    sees exactly the buckets committed at vN (Iceberg time-travel semantics)."""
    from longqc_spark.lineage import snapshots

    out = str(tmp_path / "run")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_qc_with_lineage(docs, out, n_buckets=4, fail_after_bucket=1)
    run_qc_with_lineage(docs, out, n_buckets=4)

    hist = snapshots(out)
    assert [s["version"] for s in hist] == [1, 2, 3, 4]
    assert [s["n_committed_buckets"] for s in hist] == [1, 2, 3, 4]
    assert len({s["run_id"] for s in hist}) == 1

    m = load_manifest(out)
    full = read_labels(spark, out)
    v2 = read_labels(spark, out, as_of=2)
    assert v2.count() == sum(m["committed"][b]["n_in"] for b in ("0", "1"))
    assert read_labels(spark, out, as_of=4).count() == full.count()
    # snapshot rows are a subset of the final table (reader isolation)
    assert v2.join(full, "url", "left_anti").count() == 0


def test_dedup_and_html_funnel_lineage(spark, docs, tmp_path, corpus_pdf):
    """Full production posture: html payloads in, exact dedup before QC,
    per-bucket n_dup_dropped in the lineage metrics, resumable as ever."""
    # plant exact duplicates: 10 docs re-appended under fresh urls
    dup = docs.limit(10).withColumn("url", F.concat(F.lit("zdup://"), "url"))
    with_dups = docs.unionByName(dup)

    out = str(tmp_path / "dedup_run")
    m = run_qc_with_lineage(
        with_dups.drop("text"), out, n_buckets=4, html_col="html", dedup=True
    )
    dropped = sum(v["metrics"]["n_dup_dropped"] for v in m["committed"].values())
    assert dropped == 10.0
    labels = read_labels(spark, out)
    assert labels.count() == docs.count()
    # min-key winner: the original url survives, the zdup:// clone never does
    assert labels.filter(F.col("url").startswith("zdup://")).count() == 0
    # labels from the html funnel match the pandas labeler exactly
    got = labels.select("url", "keep").toPandas().set_index("url").sort_index()
    from longqc_spark.labeler import label_corpus

    ref = label_corpus(corpus_pdf).set_index("url").sort_index()
    assert (got.keep == ref.keep.loc[got.index]).all()


def test_compaction_and_expiry(spark, docs, tmp_path):
    """rewrite_data_files analog: compaction rewrites into a new data root
    behind an atomic pointer swap — rows identical, old snapshots still
    time-travel until expire_snapshots reclaims them."""
    from longqc_spark.lineage import compact_labels, expire_snapshots, snapshots

    out = str(tmp_path / "compact")
    run_qc_with_lineage(docs, out, n_buckets=4)
    v_pre = load_manifest(out)["version"]
    before = (
        read_labels(spark, out).select("url", "keep", "scrubbed_text").toPandas()
        .sort_values("url").reset_index(drop=True)
    )

    m = compact_labels(spark, out, files_per_bucket=1)
    assert m["data_root"].startswith("data-v")
    assert m["compaction"]["n_files_after"] <= m["compaction"]["n_files_before"]
    after = (
        read_labels(spark, out).select("url", "keep", "scrubbed_text").toPandas()
        .sort_values("url").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(before, after)

    # snapshot isolation: pre-compaction version reads the OLD root, identical
    old = (
        read_labels(spark, out, as_of=v_pre).select("url", "keep", "scrubbed_text")
        .toPandas().sort_values("url").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(before, old)
    assert len(snapshots(out)) == v_pre + 1

    # expiry: old root reclaimed, current read unaffected, expired as_of fails
    removed = expire_snapshots(out, keep_last=1)
    assert removed == ["data"]
    assert not os.path.exists(os.path.join(out, "data"))
    assert read_labels(spark, out).count() == len(before)
    with pytest.raises(FileNotFoundError):
        read_labels(spark, out, as_of=v_pre)


def test_labels_partition_pruning(spark, docs, tmp_path):
    """The bucket= layout is a real partition column: a bucket filter must
    prune at the file level (PartitionFilters in the scan), the read-side
    twin of the resume anti-join."""
    out = str(tmp_path / "prune")
    run_qc_with_lineage(docs, out, n_buckets=4)
    labels = read_labels(spark, out).filter(F.col("bucket") == 2)
    jvm = spark._jvm
    plan = jvm.PythonSQLUtils.explainString(labels._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1][:120]
    n2 = labels.count()
    assert 0 < n2 < read_labels(spark, out).count()


def test_resume_with_different_config_rejected(spark, docs, tmp_path):
    """The run config is checkpoint identity: resuming with different
    dedup/cfg flags must refuse rather than mix incompatible buckets."""
    out = str(tmp_path / "cfgguard")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_qc_with_lineage(docs, out, n_buckets=4, fail_after_bucket=0)
    with pytest.raises(ValueError, match="run config differs"):
        run_qc_with_lineage(docs, out, n_buckets=4, dedup=True)
    # same config → resumes fine
    m = run_qc_with_lineage(docs, out, n_buckets=4)
    assert len(m["committed"]) == 4


def test_resume_with_different_hygiene_config_rejected(spark, docs, tmp_path):
    """Caller-side input reshaping (the CLI's web-hygiene stage 0) happens
    before lineage sees the rows, so it must be checkpoint identity too:
    resuming a --domain-cap run without the cap would commit the remaining
    buckets from a differently-filtered row set."""
    out = str(tmp_path / "hygguard")
    capped = {"hygiene": {"domain_cap": 100}}
    with pytest.raises(RuntimeError, match="injected failure"):
        run_qc_with_lineage(
            docs, out, n_buckets=4, fail_after_bucket=0, extra_config=capped
        )
    with pytest.raises(ValueError, match="run config differs"):
        run_qc_with_lineage(
            docs, out, n_buckets=4, extra_config={"hygiene": {"domain_cap": None}}
        )
    with pytest.raises(ValueError, match="run config differs"):
        run_qc_with_lineage(docs, out, n_buckets=4)  # no hygiene marker at all
    m = run_qc_with_lineage(docs, out, n_buckets=4, extra_config=capped)
    assert len(m["committed"]) == 4


def test_time_travel_schema_matches_current(spark, docs, tmp_path):
    """as_of reads carry the same schema as current reads (bucket partition
    column included via basePath)."""
    out = str(tmp_path / "ttschema")
    run_qc_with_lineage(docs, out, n_buckets=2)
    v = load_manifest(out)["version"]
    cur, old = read_labels(spark, out), read_labels(spark, out, as_of=v)
    assert cur.schema == old.schema
    assert "bucket" in old.columns


def _jobs(spark, group: str, fn) -> int:
    """Spark jobs ``fn()`` runs, counted under a test-owned job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_labels_uses_the_stored_schema(spark, docs, tmp_path):
    """The manifest stores the committed schema, so read_labels (current and
    as_of) runs no Spark job and summarize over it stays within its five;
    the schema is the one inference gives, and a manifest without a stored
    schema still reads by inference."""
    import json

    from longqc_spark.report import summarize

    out = str(tmp_path / "stored_schema")
    run_qc_with_lineage(docs, out, n_buckets=2)
    v = load_manifest(out)["version"]
    inferred = spark.read.parquet(os.path.join(out, "data")).schema
    for tag, read in (
        ("current", lambda: read_labels(spark, out)),
        ("as_of", lambda: read_labels(spark, out, as_of=v)),
    ):
        assert _jobs(spark, f"read_labels_{tag}", read) == 0
        assert read().schema == inferred
        assert 0 < _jobs(spark, f"summarize_{tag}", lambda: summarize(read())) <= 5
    assert read_labels(spark, out).count() == docs.count()

    for name in ("manifest.json", f"manifest-v{v}.json"):
        path = os.path.join(out, name)
        with open(path) as f:
            m = json.load(f)
        del m["labels_schema"]
        with open(path, "w") as f:
            json.dump(m, f)
    assert read_labels(spark, out).schema == inferred
    assert read_labels(spark, out, as_of=v).schema == inferred
    assert read_labels(spark, out).count() == docs.count()


def test_incremental_cross_run_dedup(spark, docs, tmp_path):
    """Run 2 (a re-crawl overlapping run 1) admits only genuinely new
    payloads: its batch is anti-joined against run 1's COMMITTED labels on
    the stored payload_md5 — run-1 input is never rescanned (accumulator
    stays frozen during run 2)."""
    import hashlib

    h = F.crc32(F.col("url"))
    docs_a = docs.filter(h % 2 == 0)
    overlap = docs_a.filter(h % 7 == 0)  # re-crawled subset of run 1
    docs_b = docs.filter(h % 2 == 1).unionByName(overlap)

    acc = spark.sparkContext.accumulator(0)
    schema = docs.schema

    def count_rows(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    out1, out2 = str(tmp_path / "run1"), str(tmp_path / "run2")
    run_qc_with_lineage(docs_a.mapInPandas(count_rows, schema), out1, n_buckets=4)
    n_run1_scans = acc.value
    assert n_run1_scans == docs_a.count()

    run_qc_with_lineage(docs_b, out2, n_buckets=4, exclude_labels_dir=out1)
    assert acc.value == n_run1_scans  # run-1 input untouched by run 2

    # expected admissions, computed independently in pandas: EXCLUSION-ONLY
    # semantics — every batch-B doc whose digest is absent from A survives
    # (intra-batch duplicates are dedup=True's separately-audited job and
    # must NOT be silently collapsed by the exclude-list)
    md5 = lambda t: hashlib.md5(t.encode()).hexdigest()
    pa = docs_a.select("url", "text").toPandas()
    pb = docs_b.select("url", "text").toPandas()
    known = {md5(t) for t in pa.text}
    pb["d"] = pb.text.map(md5)
    expect = sorted(pb[~pb.d.isin(known)].url)

    got = sorted(r["url"] for r in read_labels(spark, out2).select("url").collect())
    assert got == expect
    # labels carry the digest column runs downstream can exclude against
    assert "payload_md5" in read_labels(spark, out2).columns

    # every excluded row is in the audit trail: n_excluded sums to the
    # exclude-list's drop count
    m2 = load_manifest(out2)
    n_excluded = sum(v["metrics"]["n_excluded"] for v in m2["committed"].values())
    assert n_excluded == len(pb) - len(expect) > 0

    # a rerun with a DIFFERENT exclude config must be refused (checkpoint
    # identity includes the exclude-list)
    with pytest.raises(ValueError, match="run config"):
        run_qc_with_lineage(docs_b, out2, n_buckets=4)


def test_dedup_empty_input_observation_guard(spark, docs, tmp_path):
    """ADVICE r3: a dedup=True run whose input is runtime-empty (no
    exclusion configured) carries the pre_dedup_counts Observation on the
    staged write; AQE's empty-relation propagation would eliminate the
    CollectMetrics node and the harvest would die. The guard must cover any
    observation-bearing wave, not just the exclusion one."""
    empty = docs.filter(F.length("text") < -1)  # runtime-empty, not constant-folded
    out = str(tmp_path / "emptydedup")
    m = run_qc_with_lineage(empty, out, n_buckets=3, dedup=True)
    assert len(m["committed"]) == 3
    assert all(v["n_in"] == 0 for v in m["committed"].values())
    assert all(v["metrics"]["n_dup_dropped"] == 0 for v in m["committed"].values())


def test_label_schema_version_in_checkpoint_identity(spark, docs, tmp_path):
    """ADVICE r3: resuming a run whose buckets were committed by an older
    label schema (manifest run_config lacks/has a different label_schema)
    must be rejected like any other config change — never silently mix
    per-bucket schemas."""
    import json

    out = str(tmp_path / "schemaver")
    run_qc_with_lineage(docs, out, n_buckets=2)
    mpath = os.path.join(out, "manifest.json")
    m = json.load(open(mpath))
    assert m["run_config"]["label_schema"] == 2
    m["run_config"].pop("label_schema")  # simulate a pre-versioning manifest
    json.dump(m, open(mpath, "w"))
    with pytest.raises(ValueError, match="run config differs"):
        run_qc_with_lineage(docs, out, n_buckets=2)
