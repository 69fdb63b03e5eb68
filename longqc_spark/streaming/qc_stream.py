"""Streaming facade for the full QC pipeline.

The reference's chunk loop (``longQC.py:299-360``) is a hand-rolled
micro-batch pipeline: bounded-memory chunks flow through the stat/scrub
kernels while running accumulators carry state across chunks, and append-mode
sinks (``lq_utils.py:363-365``) make each chunk's output durable as it lands.
This module is that loop as real Structured Streaming:

* ``readStream`` over the documents directory with ``maxFilesPerTrigger``
  = the chunk size knob (``-m`` mem budget, ``longQC.py:932-934``);
* ``Trigger.AvailableNow`` = drain the backlog then stop (batch parity);
* ``foreachBatch`` runs the SAME ``qc_pipeline`` DAG per micro-batch — one
  code path for batch and stream, so stream==batch equality is testable;
* exactly-once sink: each epoch writes to an epoch-suffixed dir with atomic
  rename; a retried epoch overwrites its own dir, never duplicates
  (Iceberg-append analog);
* resume: Spark's streaming checkpoint (offsets + commits WAL) makes a
  restarted query continue from the first uncommitted micro-batch — the
  streaming twin of ``lineage.run_qc_with_lineage``'s manifest resume.

At scale: the same code runs against a cloud landing bucket or Kafka source;
epoch dirs become Iceberg appends inside the ``foreachBatch`` transaction,
and the per-epoch metric rows land in the audit table with the epoch id as
the lineage key.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import DEFAULT_CONFIG, QCConfig
from ..pipeline import qc_pipeline


def stream_qc(
    spark: SparkSession,
    input_dir: str,
    schema,
    out_dir: str,
    cfg: QCConfig = DEFAULT_CONFIG,
    key_col: str = "url",
    text_col: str = "text",
    html_col: str | None = None,
    max_files_per_trigger: int = 1,
    fail_after_batches: int | None = None,
):
    """Micro-batched QC over a document directory; returns the running
    StreamingQuery (AvailableNow — terminates once the backlog drains).

    ``fail_after_batches=n`` injects a crash after n epochs have committed
    (kill/restart testing): restart with the same ``out_dir`` and the query
    resumes from the checkpoint without recomputing committed epochs.
    """
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if fail_after_batches is not None:
            n_done = len(
                [n for n in os.listdir(out_dir) if n.startswith("epoch=")]
            ) if os.path.exists(out_dir) else 0
            if n_done >= fail_after_batches:
                raise RuntimeError(f"injected failure before epoch {epoch_id}")
        # inside foreachBatch the micro-batch is a plain DataFrame: the exact
        # batch qc_pipeline DAG runs per chunk (num_partitions=0: no
        # shuffle; a micro-batch is already small and file-partitioned, and
        # its tiny file splits are merged into at most one task per core)
        labels = qc_pipeline(
            batch_df,
            cfg,
            num_partitions=0,
            text_col=text_col,
            key_cols=[key_col],
            html_col=html_col,
        )
        tmp = os.path.join(out_dir, f".tmp-epoch-{epoch_id}")
        final = os.path.join(out_dir, f"epoch={epoch_id}")
        # lineage metrics ride the write pass itself (Observation) — one scan
        # per epoch, mirroring the batch path's single-scan commit; a
        # read-back of the just-written parquet would double each epoch's IO
        from pyspark.sql import Observation

        obs = Observation(f"qc-epoch-{epoch_id}")
        labels = labels.observe(
            obs,
            F.count(F.lit(1)).alias("n_in"),
            F.count_if(F.col("keep")).alias("n_kept"),
            F.bit_xor(F.xxhash64(key_col)).alias("input_fingerprint"),
        )
        labels.write.mode("overwrite").parquet(tmp)
        row = obs.get
        with open(os.path.join(tmp, "_lineage.json"), "w") as f:
            json.dump(
                {
                    "epoch_id": epoch_id,
                    "n_in": row["n_in"],
                    "n_kept": row["n_kept"],
                    "input_fingerprint": str(row["input_fingerprint"]),
                },
                f,
            )
        if os.path.exists(final):  # retried epoch: idempotent overwrite
            import shutil

            shutil.rmtree(final)
        os.replace(tmp, final)  # atomic commit point

    return (
        docs.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


def read_stream_labels(spark: SparkSession, out_dir: str) -> DataFrame:
    """All committed epochs as one labels DataFrame."""
    paths = [
        os.path.join(out_dir, n) for n in sorted(os.listdir(out_dir)) if n.startswith("epoch=")
    ]
    return spark.read.parquet(*paths)


def stream_lineage(out_dir: str) -> list[dict]:
    """Per-epoch lineage rows, epoch order."""
    rows = []
    for n in sorted(os.listdir(out_dir)):
        p = os.path.join(out_dir, n, "_lineage.json")
        if n.startswith("epoch=") and os.path.exists(p):
            with open(p) as f:
                rows.append(json.load(f))
    return sorted(rows, key=lambda r: r["epoch_id"])


def stream_dedup(
    spark: SparkSession,
    input_dir: str,
    schema,
    out_dir: str,
    key_col: str = "url",
    text_col: str = "text",
    max_files_per_trigger: int = 1,
    watermark: tuple[str, str] | None = None,
    exclude_labels: DataFrame | None = None,
):
    """Streaming exact dedup: cross-micro-batch duplicate drop via Spark's
    stateful ``dropDuplicates`` (payload-hash key held in the state store —
    the streaming twin of the batch min-key-per-payload window in
    ``lineage.run_qc_with_lineage(dedup=True)``).

    ``exclude_labels``: a STATIC committed label corpus (``lineage.
    read_labels``) whose stored ``payload_md5`` column excludes
    already-admitted payloads — a STREAM-STATIC left-anti join, the
    streaming twin of ``operators.dedup.incremental_dedup``: a re-crawl
    can be drained incrementally while never re-admitting documents a
    previous run committed. The static side is re-read per micro-batch by
    Spark (fresh snapshot semantics); at scale it is the Iceberg audit
    table's digest column, projection-pruned.

    Batch parity: the set of distinct payloads is identical to the batch
    dedup's; the surviving WITNESS per payload is first-arrival in stream
    order (batch picks min key) — same contract the reference's chunk-ordered
    dedup would give (``longQC.py:299-360`` processes chunks in scan order).

    ``watermark=(event_time_col, delay)`` switches to
    ``dropDuplicatesWithinWatermark`` — the 100 TB posture: state entries
    older than the watermark horizon are evicted, bounding the store to the
    late-data window instead of the distinct-payload cardinality (dedup is
    then only guaranteed for duplicates arriving within the horizon).
    """
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .withColumn("payload_hash", F.md5(F.col(text_col).cast("binary")))
    )
    if exclude_labels is not None:
        known = exclude_labels.select(
            F.col("payload_md5").alias("payload_hash")
        ).distinct()
        docs = docs.join(known, "payload_hash", "left_anti")
    if watermark is not None:
        col, delay = watermark
        docs = docs.withColumn(col, F.col(col).cast("timestamp")).withWatermark(
            col, delay
        ).dropDuplicatesWithinWatermark(["payload_hash"])
    else:
        docs = docs.dropDuplicates(["payload_hash"])

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        target = os.path.join(out_dir, f"epoch={epoch_id}")
        batch_df.write.mode("overwrite").parquet(target)

    return (
        docs.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


def stream_neardup(
    spark: SparkSession,
    input_dir: str,
    schema,
    out_dir: str,
    key_col: str = "url",
    text_col: str = "text",
    max_files_per_trigger: int = 1,
    seed_bands: DataFrame | None = None,
    within_batch: bool = True,
    n_hashes: int = 64,
    bands: int = 16,
    shingle: int = 3,
):
    """Streaming cross-batch NEAR-duplicate exclusion — the fuzzy twin of
    ``stream_dedup``: each micro-batch is probed against a GROWING LSH band
    index (optionally seeded from a committed run's
    ``lineage.write_band_index`` table), admitted docs commit to an epoch
    dir, and the admitted docs' own band rows extend the index — so a
    near-duplicate arriving in a LATER micro-batch is dropped even though
    its exact digest is new. ``within_batch=True`` additionally resolves
    near-dup pairs INSIDE a micro-batch to their min-key witness (same
    winner rule as the batch path).

    Exactly-once: the epoch dir is the atomic commit point (tmp + rename,
    the ``stream_qc`` pattern); a retried epoch whose dir exists is a no-op,
    and its index extension is keyed by epoch id, so replays never
    double-extend. LSH params MUST match the seed index's (same contract as
    ``incremental_neardup``).

    Scale: per micro-batch the corpus-side work is ONE semi-join against the
    band index (bucketed storage at 10^12 docs, see SCALE.md); batch-side
    signatures are flat-stream numpy; the index grows by ≤ bands rows per
    ADMITTED doc. Reference analog: chunked processing with a cross-chunk
    exclude list (``longQC.py:299-389``), lifted to fuzzy identity.
    """
    from ..operators.dedup import (
        cluster_keep_best,
        incremental_neardup,
        lsh_candidate_pairs,
        minhash_band_table,
        minhash_signatures,
    )

    index_dir = os.path.join(out_dir, "_band_index")
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def commit_index(epoch_id: int, final: str) -> None:
        # derive the extension from the COMMITTED parquet (not the lazy
        # plan — one signature pass total, and the extension exactly matches
        # what was admitted even under speculative re-execution). Idempotent
        # so a replay can backfill it after a crash between the two commits.
        ext_final = os.path.join(index_dir, f"epoch={epoch_id}")
        if os.path.exists(ext_final):
            return
        ext_tmp = os.path.join(index_dir, f".tmp-epoch-{epoch_id}")
        minhash_band_table(
            spark.read.parquet(final),
            key_col=key_col,
            text_col=text_col,
            n_hashes=n_hashes,
            bands=bands,
            shingle=shingle,
        ).write.mode("overwrite").parquet(ext_tmp)
        os.replace(ext_tmp, ext_final)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        final = os.path.join(out_dir, f"epoch={epoch_id}")
        if os.path.exists(final):
            # replayed epoch: data already committed; backfill the index
            # extension if the crash hit between the two commit points.
            # DATA commits first — were the index extended before the data
            # dir existed, this replay would probe the batch against its
            # OWN band rows and commit an empty epoch.
            commit_index(epoch_id, final)
            return
        admitted = batch_df
        if within_batch:
            from ..operators.dedup import _SIG_EMPTY

            # zero-shingle docs carry the all-_SIG_EMPTY signature and would
            # otherwise all pair with each other (same guard as the index
            # builders); they stay singletons in cluster_keep_best
            sigs = minhash_signatures(
                batch_df.filter(F.col(text_col).isNotNull()),
                key_col=key_col,
                text_col=text_col,
                n_hashes=n_hashes,
                shingle=shingle,
            ).filter(F.col("sig")[0] != _SIG_EMPTY)
            pairs = lsh_candidate_pairs(
                sigs, key_col=key_col, bands=bands, n_hashes=n_hashes
            )
            admitted = cluster_keep_best(admitted, pairs, None, key_col=key_col)
        ext = _index_parts(index_dir)
        idx = seed_bands
        if ext:
            grown = spark.read.parquet(*ext)
            idx = grown if idx is None else idx.unionByName(grown)
        if idx is not None:
            admitted = incremental_neardup(
                admitted,
                idx,
                key_col=key_col,
                text_col=text_col,
                n_hashes=n_hashes,
                bands=bands,
                shingle=shingle,
            )
        tmp = os.path.join(out_dir, f".tmp-epoch-{epoch_id}")
        admitted.write.mode("overwrite").parquet(tmp)
        os.replace(tmp, final)  # atomic data commit FIRST (see replay note)
        commit_index(epoch_id, final)

    return (
        docs.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


def _index_parts(index_dir: str) -> list[str]:
    """Committed band-index pieces: per-epoch extensions plus any compacted
    merge (``compact_band_index``)."""
    if not os.path.exists(index_dir):
        return []
    return [
        os.path.join(index_dir, n)
        for n in sorted(os.listdir(index_dir))
        if n.startswith("epoch=") or n.startswith("compact=")
    ]


def compact_band_index(spark: SparkSession, out_dir: str) -> dict:
    """Merge a ``stream_neardup`` run's per-epoch band-index extensions into
    ONE distinct table so per-batch index reads stop growing with epoch
    count (the small-files problem of any log-structured index; the labels
    store has ``lineage.compact_labels`` for the same reason).

    Crash-safe without a lock: the merged table commits to a FRESH name
    (``compact=<max_epoch>`` with a ``.g<n>`` generation suffix if that
    name is taken — never delete-then-replace an existing part, which
    would open a window where its rows exist nowhere), THEN the merged
    input parts are removed — a crash between the two leaves duplicate
    band rows, which the probe's semi-join semantics make harmless, and a
    re-run folds them away. Epoch extensions written AFTER the merge began
    are never touched (only the listed inputs are removed).

    Returns {"n_merged": ..., "n_rows": ..., "part": path}.
    """
    import shutil as _shutil

    index_dir = os.path.join(out_dir, "_band_index")
    parts = _index_parts(index_dir)
    if len(parts) <= 1:
        return {"n_merged": 0, "n_rows": 0, "part": parts[0] if parts else None}
    merged = spark.read.parquet(*parts).distinct()
    max_tag = max(
        int(os.path.basename(p).split("=", 1)[1].split(".", 1)[0]) for p in parts
    )
    tmp = os.path.join(index_dir, ".tmp-compact")
    merged.write.mode("overwrite").parquet(tmp)
    n_rows = spark.read.parquet(tmp).count()
    final = os.path.join(index_dir, f"compact={max_tag}")
    gen = 2
    while os.path.exists(final):  # commit to a fresh name, never clobber
        final = os.path.join(index_dir, f"compact={max_tag}.g{gen}")
        gen += 1
    os.replace(tmp, final)  # commit point
    # `final` was chosen fresh (the while loop above), so it can never be in
    # `parts` — every listed input is safe to remove
    for p in parts:
        _shutil.rmtree(p, ignore_errors=True)
    return {"n_merged": len(parts), "n_rows": int(n_rows), "part": final}
