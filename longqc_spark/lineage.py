"""Checkpoint / resume: per-partition lineage + metric aggregates.

north_rule: "every stage writes per-partition lineage rows and metric
aggregates to an Iceberg audit table so the job resumes exactly from the last
committed checkpoint." The sandbox has no Iceberg runtime jar (SURVEY.md
§7.5.6), so this module implements the same commit semantics over a parquet
directory + JSON manifest:

* the input is split into ``n_buckets`` deterministic url-hash buckets
  (reference analog: chunk numbering, ``longQC.py:298-359``);
* each bucket's labels are written to a temp dir, fsync'd, renamed into
  place, and only then recorded in the manifest with its lineage row
  (n_in/n_kept/metrics/input fingerprint) — the manifest update (atomic
  ``os.replace``) is the commit point, like an Iceberg snapshot swap;
* resume = skip buckets present in the manifest; a half-written uncommitted
  bucket dir is discarded and re-run (idempotent re-commit);
* the audit table itself is queryable: ``audit_table(spark, out_dir)``.

At 100 TB: buckets are the unit of restart; bucket count is chosen so one
bucket ≈ executor-fleet-minutes of work (e.g. 4096). All uncommitted buckets
are produced by ONE job (``partitionBy("bucket")`` into a staging root —
the input is scanned once per run, never once per bucket), then committed
bucket-by-bucket with per-bucket lineage rows; per-bucket metric aggregates
come from a column-pruned read of the staged OUTPUT's numeric columns
(a few % of the written bytes, zero input rescan).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, Window, functions as F, types as T

from .config import DEFAULT_CONFIG, QCConfig
from .pipeline import LABEL_SCHEMA_VERSION, qc_pipeline

_SALT = 1337


def bucket_expr(key_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key_col), F.lit(_SALT)), F.lit(n_buckets))


def _bucket_count_exprs(bucket, n_buckets: int):
    """Per-bucket row-count aggregates for an Observation. count_if, not
    sum(when): returns 0 (not NULL) on all-empty input — shared by the
    pre-dedup and pre-exclusion audits so the two cannot diverge."""
    return [F.count_if(bucket == b).alias(f"b{b}") for b in range(n_buckets)]


def _harvest_bucket_counts(obs: Observation, n_buckets: int) -> dict[int, int]:
    got = obs.get
    return {b: int(got[f"b{b}"]) for b in range(n_buckets)}


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "manifest.json")


def load_manifest(out_dir: str) -> dict:
    p = _manifest_path(out_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"run_id": None, "committed": {}}


def _commit_manifest(out_dir: str, manifest: dict) -> None:
    """Atomic commit, Iceberg-style: every commit first writes an immutable
    versioned snapshot file (``manifest-v{N}.json`` — the metadata.json
    chain), then swaps the current pointer (``manifest.json`` — the
    version-hint). Old snapshots stay readable: bucket data dirs are
    append-only, so ``read_labels(as_of=N)`` is true time travel."""
    manifest["version"] = int(manifest.get("version", 0)) + 1
    body = json.dumps(manifest, indent=1, sort_keys=True)
    vpath = os.path.join(out_dir, f"manifest-v{manifest['version']}.json")
    for path in (vpath, _manifest_path(out_dir)):
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(body)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)  # atomic commit point


def snapshots(out_dir: str) -> list[dict]:
    """Snapshot history (Iceberg ``table.history()`` analog): one row per
    committed version, oldest first."""
    out = []
    for name in sorted(
        (n for n in os.listdir(out_dir) if n.startswith("manifest-v") and n.endswith(".json")),
        key=lambda n: int(n[len("manifest-v") : -len(".json")]),
    ):
        with open(os.path.join(out_dir, name)) as f:
            m = json.load(f)
        out.append(
            {
                "version": m["version"],
                "run_id": m["run_id"],
                "n_committed_buckets": len(m["committed"]),
                "committed_at": max(
                    (v["committed_at"] for v in m["committed"].values()), default=None
                ),
            }
        )
    return out


def run_qc_with_lineage(
    docs: DataFrame,
    out_dir: str,
    cfg: QCConfig = DEFAULT_CONFIG,
    key_col: str = "url",
    text_col: str = "text",
    n_buckets: int = 8,
    fail_after_bucket: int | None = None,
    html_col: str | None = None,
    dedup: bool = False,
    wave_buckets: int | None = None,
    exclude_labels_dir: str | None = None,
    extra_config: dict | None = None,
) -> dict:
    """Run the QC pipeline bucket-by-bucket with committed checkpoints.

    Returns the final manifest. ``fail_after_bucket`` injects a crash after
    that bucket's commit (kill/restart testing, SURVEY.md §7.5.7).
    ``html_col``: start from raw payload bytes (extraction fused into the
    Arrow pass). ``dedup``: GLOBAL exact-dedup stage before QC — keep one doc
    per distinct payload, min key wins (deterministic, so a resumed run
    recomputes identical winners and committed buckets stay consistent);
    per-bucket ``n_dup_dropped`` is recorded in the lineage row.

    Scan discipline (100 TB posture, test-asserted by
    ``test_input_scanned_once``): all uncommitted buckets are computed and
    written by ONE Spark job (``partitionBy("bucket")`` into a staging dir),
    so the input is scanned once per run — not once per bucket — and the
    dedup window, when enabled, is evaluated once inside that same job; the
    pre-dedup bucket counts ride the SAME job via ``Observation`` (no extra
    key-only scan). Per-bucket metrics then come from a column-pruned read
    of the staged output (numeric columns only). Commits stay per-bucket:
    each staged ``bucket=b`` dir is renamed into the data root and recorded
    as its own manifest snapshot, preserving bucket-granular restart/
    time-travel.

    ``wave_buckets``: stage-and-commit in waves of that many buckets
    (``ceil(len(todo)/wave_buckets)`` staged jobs) instead of one job for
    everything. The single-job default minimizes scans but makes the whole
    compute one crash window — a failure mid-compute commits nothing and the
    resume rescans everything. Waves trade scan count for intra-run
    checkpoints: a crash loses at most the current wave; earlier waves are
    already committed. At 100 TB pick waves sized to fleet-minutes of work
    (and on Iceberg the per-wave bucket predicate prunes partitions, so a
    wave does NOT rescan the whole input the way the local parquet dir
    does).
    """
    # the run config is part of the checkpoint identity: resuming with a
    # different cfg/dedup/extraction/key would silently mix incompatible
    # buckets under one manifest
    run_config = {
        "cfg": repr(cfg),
        "key_col": key_col,
        "text_col": text_col,
        "html_col": html_col,
        "dedup": dedup,
        # label-schema version is part of the checkpoint identity: resuming a
        # run whose earlier buckets were committed by an older qc_pipeline
        # (e.g. pre-payload_md5 labels) would produce a dataset with mixed
        # per-bucket schemas, and read_labels-based exclusion would silently
        # see NULL digests for the old buckets. A version bump rejects the
        # resume the same way a cfg change does.
        "label_schema": LABEL_SCHEMA_VERSION,
        **({"exclude_labels_dir": exclude_labels_dir} if exclude_labels_dir else {}),
        # caller-side input reshaping (e.g. the CLI's web-hygiene stage 0)
        # happens BEFORE this function sees the rows, so it must be part of
        # the checkpoint identity too — resuming with different hygiene
        # flags would commit buckets from a differently-filtered row set.
        **(extra_config or {}),
    }
    manifest = load_manifest(out_dir)
    if manifest["run_id"] is None:
        manifest["run_id"] = uuid.uuid4().hex
        manifest["n_buckets"] = n_buckets
        manifest["data_root"] = "data"
        manifest["run_config"] = run_config
    if manifest.get("n_buckets") != n_buckets:
        raise ValueError("n_buckets differs from the manifest's — cannot resume")
    if manifest.get("run_config", run_config) != run_config:
        raise ValueError(
            "run config differs from the manifest's — cannot resume: "
            f"{manifest['run_config']} vs {run_config}"
        )
    root = manifest.get("data_root", "data")
    os.makedirs(os.path.join(out_dir, root), exist_ok=True)

    todo = [b for b in range(n_buckets) if str(b) not in manifest["committed"]]
    if not todo:
        return manifest  # exact resume: fully committed run is a no-op
    spark = docs.sparkSession
    bucket = bucket_expr(key_col, n_buckets)

    excl_obs: Observation | None = None
    excl_counts: dict[int, int] = {}
    if exclude_labels_dir:
        # incremental cross-run dedup: anti-join this batch against the
        # PREVIOUS run's committed labels on their stored payload_md5 —
        # run-1 input is never rescanned, only its label table's digest
        # column (projection-pruned read). Part of run_config identity so a
        # resume can't silently change the exclude-list. within_batch=False:
        # intra-batch dedup is dedup=True's separately-audited job, and an
        # exclusion-only run must not silently collapse batch duplicates.
        # The pre-exclusion per-bucket counts ride the first staged job as
        # an Observation so every excluded row lands in the audit trail
        # (metric n_excluded) — a lineage system accounts for every drop.
        from .operators.dedup import incremental_dedup

        excl_obs = Observation("pre_exclusion_counts")
        docs = docs.observe(excl_obs, *_bucket_count_exprs(bucket, n_buckets))
        docs = incremental_dedup(
            docs,
            read_labels(spark, exclude_labels_dir),
            key_col=key_col,
            text_col=text_col,
            html_col=html_col,
            within_batch=False,
        )

    # uncommitted leftovers from a crashed run → idempotent redo
    for b in todo:
        final_dir = os.path.join(out_dir, root, f"bucket={b}")
        if os.path.exists(final_dir):
            shutil.rmtree(final_dir)
    for name in os.listdir(os.path.join(out_dir, root)):
        if name.startswith(".staging-"):
            shutil.rmtree(os.path.join(out_dir, root, name))

    pre_counts: dict[int, int] = {}
    obs: Observation | None = None

    def _build_src(need_obs: bool) -> DataFrame:
        """The (optionally deduped) source plan. The pre-dedup per-bucket
        counts ride the job as an ``Observation`` on the pre-window rows —
        the bucket filter sits ABOVE the md5 window (it keys on url-hash,
        not the window's partition key, so Catalyst cannot push it below),
        meaning every input row flows through the observe node exactly once
        per staged job and the counts cover ALL buckets. Net: dedup adds
        ZERO extra input scans (test-asserted)."""
        nonlocal obs
        if not dedup:
            return docs
        base = docs
        if need_obs:
            obs = Observation("pre_dedup_counts")
            base = docs.observe(obs, *_bucket_count_exprs(bucket, n_buckets))
        wide = html_col or text_col
        w = Window.partitionBy(F.md5(F.col(wide).cast("binary"))).orderBy(key_col)
        return (
            base.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    # Waves: the default is ONE wave = one staged job = one input scan (the
    # minimum); wave_buckets=k checkpoints every k buckets so a mid-compute
    # crash loses at most one wave instead of the whole run.
    if wave_buckets is not None and wave_buckets < 1:
        raise ValueError(f"wave_buckets must be >= 1, got {wave_buckets}")
    step = len(todo) if wave_buckets is None else wave_buckets
    waves = [todo[i : i + step] for i in range(0, len(todo), step)]

    for w_i, wave in enumerate(waves):
        # ONE job computes this wave's buckets: the input is scanned once
        # per wave, the dedup window (if any) evaluated inside that job, and
        # the shuffle writer lays rows out by bucket dir. (A fresh
        # single-wave run filters nothing; a resume or later wave filters to
        # its bucket set — still a single scan per job.)
        src = _build_src(need_obs=dedup and w_i == 0)
        part = (
            src
            if len(wave) == n_buckets
            else src.filter(bucket.isin([int(b) for b in wave]))
        )
        labels = qc_pipeline(
            part, cfg, text_col=text_col, key_cols=[key_col], html_col=html_col
        )
        # the committed table's schema, as a read infers it (the bucket
        # partition column as an int): read_labels passes it to the reader,
        # which then needs no Spark job to read a parquet footer
        manifest["labels_schema"] = T.StructType(
            labels.schema.fields + [T.StructField("bucket", T.IntegerType())]
        ).jsonValue()
        staging = os.path.join(out_dir, root, f".staging-{uuid.uuid4().hex[:8]}")
        # With an exclusion observation attached, AQE's empty-relation
        # propagation must be excluded for this one write: when the WHOLE
        # batch is already committed (the no-op re-crawl), the anti-join
        # output is empty at runtime and AQEPropagateEmptyRelation would
        # replace the subtree INCLUDING the CollectMetrics node — the
        # observation never fires and obs.get dies. Scoped set/restore.
        rules_key = "spark.sql.adaptive.optimizer.excludedRules"
        empty_rule = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
        # Guard ANY wave carrying an observation: the dedup pre_dedup_counts
        # Observation rides the same staged write as the exclusion one, and a
        # dedup=True run whose input is empty at runtime hits the identical
        # AQE empty-relation elimination. Later waves: obs already harvested.
        guard_obs = w_i == 0 and (excl_obs is not None or dedup)
        prev_rules = spark.conf.get(rules_key, None) if guard_obs else None
        if guard_obs:
            spark.conf.set(
                rules_key, f"{prev_rules},{empty_rule}" if prev_rules else empty_rule
            )
        try:
            labels.withColumn("bucket", bucket).write.partitionBy("bucket").mode(
                "overwrite"
            ).parquet(staging)
        finally:
            if guard_obs:
                if prev_rules is None:
                    spark.conf.unset(rules_key)
                else:
                    spark.conf.set(rules_key, prev_rules)
        if dedup and w_i == 0:
            # harvest the observations the staged write just populated —
            # per-bucket counts with no second scan
            pre_counts = _harvest_bucket_counts(obs, n_buckets)
        if excl_obs is not None and w_i == 0:
            excl_counts = _harvest_bucket_counts(excl_obs, n_buckets)

        # per-bucket lineage metrics from the staged OUTPUT, column-pruned
        # to the numeric stat columns (+key) — a few % of the written bytes,
        # and the input is never rescanned
        staged_any = any(
            n.startswith("bucket=") for n in os.listdir(staging)
        )  # all-empty input → no partition dirs, nothing to aggregate
        # int() the partition-column key: with
        # spark.sql.sources.partitionColumnTypeInference.enabled=false the
        # read yields STRING buckets and every met.get(b) would silently
        # miss, committing lineage rows with n_in=0
        met = {} if not staged_any else {
            int(r["bucket"]): r
            for r in spark.read.parquet(staging)
            .select("bucket", "keep", "pii_match_count", "perplexity", "n_words", key_col)
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_in"),
                F.count_if(F.col("keep")).alias("n_kept"),
                F.count_if(F.col("pii_match_count") > 0).alias("n_scrubbed"),
                # xor-fold: order-independent, overflow-free (ANSI) key digest
                F.bit_xor(F.xxhash64(key_col)).alias("input_fingerprint"),
                F.avg("perplexity").alias("avg_perplexity"),
                F.avg("n_words").alias("avg_words"),
            )
            .collect()
        }

        empty_labels = labels.limit(0)
        try:
            for b in wave:
                final_dir = os.path.join(out_dir, root, f"bucket={b}")
                staged = os.path.join(staging, f"bucket={b}")
                if os.path.exists(staged):
                    os.replace(staged, final_dir)
                else:
                    # empty bucket: partitionBy wrote no dir — materialize an
                    # empty parquet dir so time-travel reads find every
                    # committed bucket path
                    empty_labels.write.mode("overwrite").parquet(final_dir)
                row = met.get(b)
                manifest["committed"][str(b)] = {
                    "partition_id": b,
                    "n_in": row["n_in"] if row else 0,
                    "n_kept": row["n_kept"] if row else 0,
                    "n_scrubbed": row["n_scrubbed"] if row else 0,
                    "input_fingerprint": str(row["input_fingerprint"]) if row else "0",
                    "metrics": {
                        "avg_perplexity": row["avg_perplexity"] if row else None,
                        "avg_words": row["avg_words"] if row else None,
                        **(
                            {
                                "n_dup_dropped": float(
                                    pre_counts.get(b, 0) - (row["n_in"] if row else 0)
                                )
                            }
                            if dedup
                            else {}
                        ),
                        **(
                            {
                                # pre-exclusion minus post-exclusion count:
                                # every row the exclude-list dropped, audited
                                "n_excluded": float(
                                    excl_counts.get(b, 0)
                                    - (
                                        pre_counts.get(b, 0)
                                        if dedup
                                        else (row["n_in"] if row else 0)
                                    )
                                )
                            }
                            if excl_obs is not None
                            else {}
                        ),
                    },
                    "committed_at": time.time(),
                }
                _commit_manifest(out_dir, manifest)
                if fail_after_bucket is not None and b == fail_after_bucket:
                    raise RuntimeError(f"injected failure after bucket {b}")
        finally:
            if os.path.exists(staging):
                shutil.rmtree(staging)
    return manifest


def compact_labels(spark: SparkSession, out_dir: str, files_per_bucket: int = 1) -> dict:
    """Bin-packing compaction (Iceberg ``rewrite_data_files`` analog): rewrite
    every committed bucket's small files into ``files_per_bucket`` files under
    a NEW data root, then swap the manifest's ``data_root`` pointer in one
    commit. Old roots stay on disk untouched, so earlier snapshot versions
    still time-travel (``read_labels(as_of=N)``) until ``expire_snapshots``
    reclaims them — the same snapshot-isolation contract Iceberg gives.

    At 100 TB: run per-bucket with a file-size threshold (only rewrite
    buckets whose file count/size ratio is bad) — here the whole root is
    rewritten because sandbox buckets are single-digit MB.
    """
    manifest = load_manifest(out_dir)
    if not manifest["committed"]:
        raise ValueError("nothing committed — nothing to compact")
    old_root = manifest.get("data_root", "data")
    new_root = f"data-v{int(manifest.get('version', 0)) + 1}"
    n_before = n_after = 0
    for b in sorted(manifest["committed"], key=int):
        src = os.path.join(out_dir, old_root, f"bucket={b}")
        dst_tmp = os.path.join(out_dir, new_root, f".tmp-bucket-{b}")
        dst = os.path.join(out_dir, new_root, f"bucket={b}")
        n_before += sum(1 for f in os.listdir(src) if f.endswith(".parquet"))
        spark.read.parquet(src).coalesce(files_per_bucket).write.mode("overwrite").parquet(
            dst_tmp
        )
        os.replace(dst_tmp, dst)
        n_after += sum(1 for f in os.listdir(dst) if f.endswith(".parquet"))
    manifest["data_root"] = new_root
    manifest["compaction"] = {"from": old_root, "n_files_before": n_before, "n_files_after": n_after}
    _commit_manifest(out_dir, manifest)  # atomic pointer swap
    return manifest


def expire_snapshots(out_dir: str, keep_last: int = 2) -> list[str]:
    """Reclaim data roots referenced only by expired snapshot versions
    (Iceberg ``expire_snapshots`` analog). Keeps the newest ``keep_last``
    manifest versions; any ``data*`` root no longer referenced by a kept
    version is deleted. Time travel to expired versions then fails (by
    design — same as Iceberg)."""
    if keep_last < 1:
        # versions[-0:] would keep EVERYTHING (silent no-op) and negatives
        # keep a surprising subset — refuse instead
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    versions = sorted(
        (
            int(n[len("manifest-v") : -len(".json")])
            for n in os.listdir(out_dir)
            if n.startswith("manifest-v") and n.endswith(".json")
        )
    )
    keep = set(versions[-keep_last:])
    kept_roots = set()
    for v in keep:
        with open(os.path.join(out_dir, f"manifest-v{v}.json")) as f:
            kept_roots.add(json.load(f).get("data_root", "data"))
    removed = []
    for v in versions:
        if v not in keep:
            with open(os.path.join(out_dir, f"manifest-v{v}.json")) as f:
                root = json.load(f).get("data_root", "data")
            os.remove(os.path.join(out_dir, f"manifest-v{v}.json"))
            if root not in kept_roots and os.path.exists(os.path.join(out_dir, root)):
                shutil.rmtree(os.path.join(out_dir, root))
                removed.append(root)
    return removed


def audit_table(spark: SparkSession, out_dir: str) -> DataFrame:
    """The lineage rows as a queryable DataFrame (FIXTURES.md §6 shape)."""
    m = load_manifest(out_dir)
    rows = [
        {
            "run_id": m["run_id"],
            "stage": "qc_pipeline",
            "partition_id": v["partition_id"],
            "input_fingerprint": v["input_fingerprint"],
            "n_in": v["n_in"],
            "n_kept": v["n_kept"],
            "n_scrubbed": v["n_scrubbed"],
            "metrics": v["metrics"],
            "committed_at": float(v["committed_at"]),
        }
        for v in m["committed"].values()
    ]
    schema = (
        "run_id string, stage string, partition_id int, input_fingerprint string, "
        "n_in long, n_kept long, n_scrubbed long, metrics map<string,double>, "
        "committed_at double"
    )
    return spark.createDataFrame(rows, schema=schema)


def _labels_reader(spark: SparkSession, manifest: dict):
    """A reader with the schema the manifest stored at commit time; a
    manifest written before schemas were stored keeps inference (one Spark
    job reading a parquet footer)."""
    schema = manifest.get("labels_schema")
    return spark.read.schema(T.StructType.fromJson(schema)) if schema else spark.read


def read_labels(spark: SparkSession, out_dir: str, as_of: int | None = None) -> DataFrame:
    """Read the committed labels; ``as_of`` time-travels to snapshot version N
    (reads exactly the buckets committed in ``manifest-v{N}.json`` — reader
    isolation: buckets committed later are invisible)."""
    if as_of is None:
        m = load_manifest(out_dir)
        root = m.get("data_root", "data")
        return _labels_reader(spark, m).parquet(os.path.join(out_dir, root))
    vpath = os.path.join(out_dir, f"manifest-v{as_of}.json")
    with open(vpath) as f:
        m = json.load(f)
    root = m.get("data_root", "data")
    paths = [
        os.path.join(out_dir, root, f"bucket={b}") for b in sorted(m["committed"], key=int)
    ]
    if not paths:
        raise ValueError(f"snapshot v{as_of} has no committed buckets")
    # basePath keeps the bucket partition column in time-travel reads, so
    # as_of and current reads have IDENTICAL schemas
    return (
        _labels_reader(spark, m).option("basePath", os.path.join(out_dir, root)).parquet(*paths)
    )


def write_digest_index(
    spark: SparkSession,
    out_dir: str,
    table: str = "longqc_digest_index",
    n_buckets: int = 32,
) -> str:
    """Materialize the committed labels store's ``payload_md5`` column as a
    digest-BUCKETED catalog table — the exact (non-probabilistic) answer to
    the cross-run dedup shuffle: a bucketed scan reports
    ``hashpartitioning(payload_md5, n_buckets)``, so both the distinct and
    the anti-join in ``incremental_dedup`` consume it with ZERO corpus-side
    Exchange; only the (small) re-crawl batch shuffles. Choose ``n_buckets``
    equal to ``spark.sql.shuffle.partitions`` at dedup time and the batch
    side's within-batch window exchange is REUSED for the join — one
    exchange in the whole plan (pinned in test_plans).

    This is storage-layout-for-compute: the reference pre-sorts its
    exclude-list per chunk (``longQC.py:376-389``); at 10^12 docs the
    analogous move is bucketing the digest column once at commit time so
    every later re-crawl pays no corpus shuffle at all. Complements
    ``incremental_dedup(bloom_fpp=)`` (probabilistic, zero-prep): the index
    costs one corpus-wide write but makes every subsequent dedup exact AND
    exchange-free.

    Returns the table name (read back with ``spark.table(name)``).
    """
    labels = read_labels(spark, out_dir)
    if "payload_md5" not in labels.columns:
        raise ValueError(
            "labels store predates payload digests (label_schema v1); "
            "re-run QC to add payload_md5 before indexing"
        )
    (
        labels.select("payload_md5")
        .filter(F.col("payload_md5").isNotNull())
        .write.bucketBy(n_buckets, "payload_md5")
        .mode("overwrite")
        .saveAsTable(table)
    )
    return table


def write_band_index(
    spark: SparkSession,
    out_dir: str,
    table: str = "longqc_band_index",
    n_buckets: int = 32,
    n_hashes: int = 64,
    bands: int = 16,
    shingle: int = 3,
    scope_col: str | None = None,
) -> str:
    """Materialize the committed labels store's minhash BAND buckets as a
    ``bhash``-bucketed catalog table — the fuzzy twin of
    ``write_digest_index``: where the digest index answers "was this exact
    payload committed before?", the band index answers "was something NEAR
    this committed before?" (``operators.dedup.incremental_neardup``).

    Built over the stored ``scrubbed_text`` (the raw payload is not
    retained in the labels store, only its digest); a probe against raw
    re-crawl text loses a little recall on docs the scrubber actually
    edited — for most of a corpus the two are identical. The
    n_hashes/bands/shingle used here MUST be repeated at probe time (the
    band hashing is parameter-dependent); they default to the
    ``lsh_candidate_pairs`` defaults.

    One corpus-scale signature pass at commit time; every later re-crawl
    probes the bucketed table with zero corpus-side exchange on the
    ``bhash`` join key and pays only its own (small) shuffle.

    ``scope_col`` (a column on the labels store, e.g. a dump id the input
    carried) persists distinct (scope, band, bhash) rows instead, for
    per-dump probes via ``incremental_neardup(scope_col=)``.

    Returns the table name (read back with ``spark.table(name)``)."""
    from .operators.dedup import minhash_band_table

    labels = read_labels(spark, out_dir)
    key = "url" if "url" in labels.columns else labels.columns[0]
    (
        minhash_band_table(
            labels,
            key_col=key,
            text_col="scrubbed_text",
            n_hashes=n_hashes,
            bands=bands,
            shingle=shingle,
            scope_col=scope_col,
        )
        # bucketed on BOTH join keys: the probe's (band, bhash) semi-join
        # consumes the scan directly (ClusteredDistribution satisfied), so
        # the committed side has ZERO Exchange — only the batch shuffles
        # (plan-pinned in test_plans)
        .write.bucketBy(n_buckets, "band", "bhash")
        .mode("overwrite")
        .saveAsTable(table)
    )
    return table


def write_line_counts(
    spark: SparkSession,
    out_dir: str,
    table: str = "longqc_line_counts",
    n_buckets: int = 32,
    sep: str = "\n",
) -> str:
    """Materialize the committed labels store's per-line distinct-doc
    counts as a ``line_md5``-bucketed catalog table — the line-grain member
    of the committed-index family (``write_digest_index`` = exact payloads,
    ``write_band_index`` = LSH bands): it answers "how many committed docs
    already carry this line?", so ``operators.web.incremental_line_dedup``
    can apply the C4 global line rule to a re-crawl batch against the WHOLE
    corpus history with zero corpus rescan.

    Built over the stored ``scrubbed_text`` (the raw payload is not
    retained); ``sep`` must be repeated at probe time (same contract as the
    band index's LSH params). One corpus-scale line pass at commit time;
    every later batch's count lookup consumes the bucketed scan directly
    (zero committed-side exchange — only the batch shuffles).

    Returns the table name (read back with ``spark.table(name)``)."""
    from .operators.web import line_doc_counts

    labels = read_labels(spark, out_dir)
    key = "url" if "url" in labels.columns else labels.columns[0]
    (
        line_doc_counts(labels, text_col="scrubbed_text", key_col=key, sep=sep)
        .write.bucketBy(n_buckets, "line_md5")
        .mode("overwrite")
        .saveAsTable(table)
    )
    return table
