"""The QC pipeline: one lazy DataFrame DAG over a documents table.

LongQC's five phases (chunked scan → per-record stat vectors → threshold
keep/drop → record rewriting → summary reports; reference ``longQC.py:299-360,
369-418, 787-824``) re-expressed Spark-first:

    scan → salted url-hash repartition → ONE ``mapInPandas`` pass producing
    the full stat vector + scrubbed text (Arrow-batched; per-row Python only
    in ``scrub_text`` on prefilter-flagged docs, in ``str.lower`` and the
    char-class regexes on unique non-ASCII tokens and in the token hash, see
    kernels.py) → keep/drop + reasons as one SQL expression (JVM/codegen
    side) → labels DataFrame → summary aggs (report.py).

Why one ``mapInPandas`` for stats+scrub: text is the wide column; decoding it
through Arrow once and computing every per-doc number in that single pass is
the 100 TB-scale analog of the reference running sdust+adapter+GC on a chunk
while it is hot in memory (``longQC.py:299-341``).

The rules are evaluated as Column expressions (not in the UDF) so Catalyst
can prune/push them and the audit table can store the stat vector
independently of the decision config. They come from the one rule table
(``config.RULES``) that the reference labeler evaluates over pandas Series
through ``config.rule_failures``; here ``reasons_sql`` writes it out as one
SQL expression, parsed once by ``F.expr``.
"""

from __future__ import annotations

import math
import operator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .config import DEFAULT_CONFIG, RULES, QCConfig, _not_in
from .kernels import compute_stats, scrub_batch

# Version of the labels-table schema qc_pipeline emits. Bump whenever a
# column is added/removed/retyped (v2 = payload_md5 added in round 3) —
# lineage stamps this into run_config so a resume cannot mix per-bucket
# label schemas under one manifest.
LABEL_SCHEMA_VERSION = 2

# ---------------------------------------------------------------------------
# Schemas
# ---------------------------------------------------------------------------

STATS_FIELDS: list[T.StructField] = [
    T.StructField("n_chars", T.LongType()),
    T.StructField("n_words", T.LongType()),
    T.StructField("n_lines", T.LongType()),
    T.StructField("mean_word_len", T.DoubleType()),
    T.StructField("symbol_char_frac", T.DoubleType()),
    T.StructField("alpha_char_frac", T.DoubleType()),
    T.StructField("alpha_word_frac", T.DoubleType()),
    T.StructField("stopword_count", T.LongType()),
    T.StructField("dup_line_frac", T.DoubleType()),
    T.StructField("top_ngram_frac_2", T.DoubleType()),
    T.StructField("top_ngram_frac_3", T.DoubleType()),
    T.StructField("top_ngram_frac_4", T.DoubleType()),
    T.StructField("lang_pred", T.StringType()),
    T.StructField("lang_score", T.DoubleType()),
    T.StructField("logprob_mean", T.DoubleType()),
    T.StructField("perplexity", T.DoubleType()),
    T.StructField("frac_tokens_above_q", T.DoubleType()),
    T.StructField("bullet_line_frac", T.DoubleType()),
    T.StructField("ellipsis_line_frac", T.DoubleType()),
    T.StructField("brace_char_count", T.LongType()),
]

SCRUB_FIELDS: list[T.StructField] = [
    T.StructField("scrubbed_text", T.StringType()),
    T.StructField("pii_match_count", T.LongType()),
    T.StructField("tox_match_count", T.LongType()),
]

SPAN_FIELD = T.StructField(
    "scrub_spans",
    T.ArrayType(
        T.StructType(
            [
                T.StructField("start", T.IntegerType()),
                T.StructField("end", T.IntegerType()),
                T.StructField("kind", T.StringType()),
            ]
        )
    ),
)


def _stats_schema(key_cols: list[tuple[str, T.DataType]], emit_spans: bool) -> T.StructType:
    fields = [T.StructField(n, t) for n, t in key_cols] + STATS_FIELDS + SCRUB_FIELDS
    if emit_spans:
        fields.append(SPAN_FIELD)
    return T.StructType(fields)


# ---------------------------------------------------------------------------
# Stage 1: salted repartition (north_rule: skew-aware url-hash partitioning)
# ---------------------------------------------------------------------------


def salted_repartition(df: DataFrame, key: str, num_partitions: int, seed: int = 7) -> DataFrame:
    """Repartition on a seeded hash of ``key``.

    For unique keys (urls) this is uniform regardless of host skew; the seed
    term is the salt that decorrelates this shuffle from any later
    hash-partitioning on the same column (and guards adversarial key sets).
    Analog of the reference bounding chunk size (``longQC.py:299``) — here the
    bound is per-partition work for the Arrow UDF stage.
    """
    return df.repartition(num_partitions, F.xxhash64(F.col(key), F.lit(seed)))


# ---------------------------------------------------------------------------
# Stage 1b: html → text extraction (when the table carries only raw payloads)
# ---------------------------------------------------------------------------


def with_extracted_text(
    docs: DataFrame, html_col: str = "html", text_col: str = "text"
) -> DataFrame:
    """WARC-payload extraction stage: ``html binary`` → ``text string`` via
    the shared ``kernels.extract_text_batch`` spec (byte-identical per url by
    construction — the labeler calls the same function). A scalar Arrow UDF:
    pure map, fuses into the same stage as the scan, no shuffle."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _extract(h: pd.Series) -> pd.Series:
        from longqc_spark.kernels import extract_text_batch

        return extract_text_batch(h)

    return docs.withColumn(text_col, _extract(F.col(html_col)))


# ---------------------------------------------------------------------------
# Stage 2: stat vector + scrub in one Arrow pass
# ---------------------------------------------------------------------------


def with_stats_and_scrub(
    df: DataFrame,
    cfg: QCConfig = DEFAULT_CONFIG,
    text_col: str = "text",
    key_cols: list[str] | None = None,
    emit_spans: bool = False,
    html_col: str | None = None,
) -> DataFrame:
    """Add the full qc_stats vector + scrub output; drops the raw text column
    (column pruning: downstream stages never reship the original bytes —
    the sdust principle of emitting only the 6 needed stats, sdust.c:211-217).
    ``emit_spans`` additionally ships per-match spans (costly through Arrow;
    report/audit paths only).

    ``html_col``: start from raw payload bytes instead of ``text_col`` —
    extraction runs INSIDE the same Arrow pass (one Python stage, one
    serialization of the wide column, instead of a scalar-UDF hop followed by
    this one; the standalone `with_extracted_text` stage exists for pipelines
    that persist the extracted text).
    """
    key_cols = key_cols or ["url"]
    schema = _stats_schema([(k, df.schema[k].dataType) for k in key_cols], emit_spans)
    keys = list(key_cols)
    wide_col = html_col or text_col

    def compute(batches):
        from .kernels import extract_text_batch

        for pdf in batches:
            texts = extract_text_batch(pdf[html_col]) if html_col else pdf[text_col]
            stats = compute_stats(texts, langid_max_chars=cfg.langid_max_chars)
            scrub = scrub_batch(texts, cfg, emit_spans=emit_spans)
            out = pdf[keys].reset_index(drop=True)
            yield out.join(stats).join(scrub)

    return df.select(*keys, wide_col).mapInPandas(compute, schema=schema)


# ---------------------------------------------------------------------------
# Stage 3: rules as Column expressions (decision cascade longQC.py:787-824)
# ---------------------------------------------------------------------------


def _sql_literal(v) -> str:
    """A Spark SQL literal of the type ``F.lit(v)`` gives: a double for a
    float (a bare ``2.5`` would be a decimal), an int bare, a string
    quoted."""
    if isinstance(v, float):
        return repr(v) + "D" if math.isfinite(v) else f"CAST('{v}' AS DOUBLE)"
    if isinstance(v, int):
        return str(v)
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


_SQL_FAILS = {
    operator.lt: lambda c, v: f"{c} < {_sql_literal(v)}",
    operator.gt: lambda c, v: f"{c} > {_sql_literal(v)}",
    # ~isin is true on null, and on everything for an empty list (SQL has
    # no empty IN list); a bare NOT IN is null on a null value
    _not_in: lambda c, v: (
        f"({c} IS NULL OR NOT ({c} IN ({', '.join(map(_sql_literal, v))})))" if v else "true"
    ),
}


def reasons_sql(cfg: QCConfig) -> str:
    """``config.RULES`` under ``cfg`` as one SQL expression: the names of the
    failed rules, in ``RULES`` order. Built as a string and parsed by
    ``F.expr``: the same tree from ``F.when``/``F.lit``/``F.col`` costs a
    py4j round trip per node (``with_labels`` ~100 vs ~30 ms per call on a
    4-core Xeon)."""
    cases = ", ".join(
        f"CASE WHEN {_SQL_FAILS[fails](f'`{stat}`', getattr(cfg, knob))} "
        f"THEN {_sql_literal(name)} END"
        for name, stat, fails, knob in RULES
    )
    return f"filter(array({cases}), x -> x IS NOT NULL)"


def with_labels(stats_df: DataFrame, cfg: QCConfig = DEFAULT_CONFIG) -> DataFrame:
    """Add ``reasons array<string>`` (failed rules, fixed order) and
    ``keep boolean`` — whole-stage-codegen territory, no Python."""
    return stats_df.withColumn("reasons", F.expr(reasons_sql(cfg))).withColumn(
        "keep", F.size("reasons") == 0
    )


# ---------------------------------------------------------------------------
# Full pipeline
# ---------------------------------------------------------------------------


def qc_pipeline(
    docs: DataFrame,
    cfg: QCConfig = DEFAULT_CONFIG,
    num_partitions: int | None = None,
    text_col: str = "text",
    key_cols: list[str] | None = None,
    emit_spans: bool = False,
    html_col: str | None = None,
) -> DataFrame:
    """documents(url, …, text, …) → labels DataFrame.

    Output: key cols + ``payload_md5`` (digest of the RAW payload bytes —
    html when extraction is fused, text otherwise) + full stat vector +
    scrubbed_text/pii/tox counters (+ spans if requested) + reasons + keep.
    Lazy; callers append to the sink or aggregate. The stored digest is what
    makes committed label corpora usable as an exclude-list for incremental
    cross-run dedup (``operators.dedup.incremental_dedup``) — re-crawls are
    anti-joined on it without re-reading run-1 input (the cross-chunk
    exclude-list analog, reference ``longQC.py:376-389``).

    The up-front salted repartition serves two purposes: skew-proof uniform
    task sizing for the Arrow UDF stage, and — in this sandbox, where parquet
    fixtures are single-row-group and therefore 1-task scans — it IS the
    parallelism source. On a production Iceberg table with properly sized
    files, pass ``num_partitions=0`` to skip it and let the scan parallelize.
    """
    if num_partitions is None:
        # adaptive default (optimization round 6, guide §2.4: remove
        # shuffles outright): when the source scan already yields at least
        # one partition per core — a properly laid-out corpus table, e.g.
        # the 4k-row-group CC corpus under 16 MB splits — the salted
        # repartition is a pure extra exchange of the full text column and
        # is skipped; an under-split source (single-row-group fixture
        # files, one giant gzip) still gets the 2×cores salt. Callers keep
        # explicit control via num_partitions=0 / a positive count.
        p = docs.sparkSession.sparkContext.defaultParallelism
        # CAUTION: probing partitioning (df.rdd) — or even asking for the
        # physical plan — of a query that contains exchange-producing
        # operators can materialize upstream stages, i.e. EXECUTE the
        # input (it double-scanned the lineage dedup path's source, caught
        # by test_input_scanned_once). So consult only the ANALYZED
        # LOGICAL plan (pure analysis, cannot execute): scan-shaped
        # inputs — no aggregate/join/window/sort/repartition/distinct —
        # are safe to probe, and for them df.rdd is a pure planning call.
        # Anything else keeps the conservative salt.
        lp = docs._jdf.queryExecution().analyzed().toString()
        exchange_nodes = (
            "Aggregate", "Join", "Window", "Distinct", "Sort", "Repartition",
            "GlobalLimit", "Intersect", "Except",
        )
        scan_shaped = not any(
            ln.lstrip(" +-:").startswith(exchange_nodes) for ln in lp.splitlines()
        )
        if scan_shaped and docs.rdd.getNumPartitions() >= p:
            num_partitions = 0
        else:
            num_partitions = p * 2
    key = (key_cols or ["url"])[0]
    parted = docs if num_partitions == 0 else salted_repartition(docs, key, num_partitions)
    parted = parted.withColumn(
        "payload_md5", F.md5(F.col(html_col or text_col).cast("binary"))
    )
    stats = with_stats_and_scrub(
        parted,
        cfg,
        text_col=text_col,
        key_cols=list(key_cols or ["url"]) + ["payload_md5"],
        emit_spans=emit_spans,
        html_col=html_col,
    )
    return with_labels(stats, cfg)
