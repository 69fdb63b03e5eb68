"""Property-based tests (hypothesis) over the shared kernels — the engine's
single source of truth must hold invariants on arbitrary unicode input, not
just the synthetic corpus."""

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from longqc_spark.config import DEFAULT_CONFIG
from longqc_spark.kernels import (
    compute_stats,
    scrub_batch,
    scrub_text,
)

from reference import top_ngram_frac

texts = st.lists(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=300
    ),
    min_size=1,
    max_size=20,
)


@settings(max_examples=40, deadline=None)
@given(texts)
def test_stat_vector_invariants(batch):
    s = compute_stats(pd.Series(batch, dtype=object))
    assert len(s) == len(batch)
    for col in (
        "symbol_char_frac",
        "alpha_char_frac",
        "alpha_word_frac",
        "dup_line_frac",
        "top_ngram_frac_2",
        "frac_tokens_above_q",
    ):
        v = s[col].to_numpy()
        assert np.isfinite(v).all(), col
        assert (v >= 0).all() and (v <= 1.0 + 1e-12).all(), col
    assert (s.n_chars >= 0).all() and (s.n_words >= 0).all()
    assert (s.n_words <= s.n_chars + 1).all()
    assert np.isfinite(s.perplexity.to_numpy()).all()


@settings(max_examples=40, deadline=None)
@given(texts)
def test_batch_split_invariance_property(batch):
    s_all = compute_stats(pd.Series(batch, dtype=object))
    cut = len(batch) // 2
    s1 = compute_stats(pd.Series(batch[:cut], dtype=object))
    s2 = compute_stats(pd.Series(batch[cut:], dtype=object))
    both = pd.concat([s1, s2], ignore_index=True)
    for c in s_all.columns:
        a, b = s_all[c].to_numpy(), both[c].to_numpy()
        if s_all[c].dtype == object:
            assert (a == b).all(), c
        else:
            assert np.array_equal(a, b), c


@settings(max_examples=60, deadline=None)
@given(st.text(max_size=400))
def test_scrub_invariants(text):
    out, n_pii, n_tox, spans = scrub_text(text, DEFAULT_CONFIG)
    # spans are disjoint, ascending, within the ORIGINAL text
    last = -1
    for a, b, kind in spans:
        assert 0 <= a < b <= len(text)
        assert a >= last
        last = b
    assert n_pii + n_tox == len(spans)
    if not spans:
        assert out == text
    # scrubbing the scrubbed text yields no PII spans for the same patterns
    out2, p2, t2, _ = scrub_text(out, DEFAULT_CONFIG)
    assert p2 == 0 and out2 == out


@settings(max_examples=40, deadline=None)
@given(st.lists(st.sampled_from("ab c\n".split(" ") + ["ab", "cd", "x"]), max_size=40))
def test_top_ngram_flat_matches_reference(tokens):
    """Flat hashed counting == exact Counter spec on arbitrary token lists."""
    text = " ".join(tokens)
    s = compute_stats(pd.Series([text], dtype=object))
    low = [t.lower() for t in text.split()]
    for n, col in ((2, "top_ngram_frac_2"), (3, "top_ngram_frac_3")):
        assert abs(s[col].iloc[0] - top_ngram_frac(low, n)) < 1e-12


def test_edge_cases_through_spark_pipeline(spark):
    """Pathological docs through the full Spark pipeline: no crash, sane labels."""
    from longqc_spark.pipeline import qc_pipeline

    rows = [
        ("u1", ""),  # empty
        ("u2", " \n \n  "),  # whitespace only
        ("u3", "x" * 100_000),  # one giant token
        ("u4", "☃ ☃ ☃ émojis höher ünïcode " * 30),  # non-ascii
        ("u5", "a@b.co " * 200),  # scrub-heavy
        ("u6", "\n" * 500),  # newlines only
        ("u7", "the " * 5000),  # single repeated stopword
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["url", "text"]))
    got = qc_pipeline(docs).toPandas().set_index("url").sort_index()
    assert len(got) == 7
    assert not got.keep.loc[["u1", "u2", "u3", "u6"]].any()
    assert got.loc["u5", "pii_match_count"] == 200
    assert (got.reasons.map(len) > 0).loc[lambda s: ~got.keep].all()


def test_connected_components_matches_union_find(spark):
    """Min-label propagation must equal brute-force union-find on random
    graphs (seeded), including multi-hop chains and singleton-free node sets."""
    import numpy as np
    import pandas as pd

    from longqc_spark.operators.dedup import connected_components

    rng = np.random.default_rng(11)
    for trial in range(3):
        n_nodes, n_edges = 60, int(rng.integers(20, 80))
        a = rng.integers(0, n_nodes, n_edges)
        b = rng.integers(0, n_nodes, n_edges)
        mask = a != b
        pairs = pd.DataFrame({"key_a": a[mask], "key_b": b[mask]}).drop_duplicates()

        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for x, y in zip(pairs.key_a, pairs.key_b):
            parent[find(int(x))] = find(int(y))
        nodes_in_pairs = sorted(set(pairs.key_a) | set(pairs.key_b))
        # canonical label = min node of each component
        comp_min = {}
        for v in nodes_in_pairs:
            r = find(int(v))
            comp_min[r] = min(comp_min.get(r, v), v)
        want = {int(v): int(comp_min[find(int(v))]) for v in nodes_in_pairs}

        got = (
            connected_components(spark.createDataFrame(pairs))
            .toPandas()
            .set_index("node")["component"]
            .astype(int)
            .to_dict()
        )
        assert got == want, f"trial {trial}"


def test_n50_approx_equals_exact(spark):
    """The two-pass bucketed NXX must equal the exact sort-window NXX on
    adversarial length distributions: ties across bucket boundaries, skew,
    single-value corpora, and crossing exactly at a bucket edge."""
    import numpy as np
    import pandas as pd

    from longqc_spark.operators.relational import n50_approx, nxx

    rng = np.random.default_rng(7)
    cases = [
        rng.integers(1, 5000, 3000),            # uniform
        (rng.pareto(1.5, 3000) * 100 + 1).astype(int),  # heavy tail
        np.full(500, 64),                        # all equal, ON a bucket edge
        np.repeat([63, 64, 65, 128], 200),       # ties straddling edges
        np.array([1]),                           # singleton
    ]
    for i, lens in enumerate(cases):
        df = spark.createDataFrame(pd.DataFrame({"n": lens.astype(int)}))
        exact = {r["pct"]: r["nxx"] for r in nxx(df, "n", [0.5, 0.9]).collect()}
        approx = {
            r["pct"]: r["nxx"] for r in n50_approx(df, "n", [0.5, 0.9]).collect()
        }
        assert approx == exact, f"case {i}: {approx} vs {exact}"


def test_stratified_sample_partition_invariant(spark, sf001):
    """Stratified hash sample: exact n per stratum and IDENTICAL rows no
    matter how the input is partitioned (the SA1 parallel-stability
    contract, per stratum)."""
    from longqc_spark.operators.text import stratified_hash_sample

    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    a = (
        stratified_hash_sample(docs.repartition(1), 7, stratum_col="lang", oracle_safe=True)
        .orderBy("lang", "doc_id").toPandas()
    )
    b = (
        stratified_hash_sample(docs.repartition(16), 7, stratum_col="lang", oracle_safe=True)
        .orderBy("lang", "doc_id").toPandas()
    )
    assert a.equals(b)
    per = a.groupby("lang").size()
    n_langs = docs.select("lang").distinct().count()
    assert len(per) == n_langs and (per <= 7).all()
    # xxhash64 priority variant: same guarantees, different (cheaper) hash
    c = stratified_hash_sample(docs.repartition(4), 7).orderBy("lang", "doc_id").toPandas()
    d = stratified_hash_sample(docs.repartition(32), 7).orderBy("lang", "doc_id").toPandas()
    assert c.equals(d)


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet="abcd", max_size=8),
    st.text(alphabet="abcd", max_size=8),
    st.integers(min_value=0, max_value=3),
)
def test_edit_distance_capped_matches_reference(a, b, cap):
    """The capped DP must equal brute-force Levenshtein whenever the true
    distance is within the cap, and report cap+1 (saturated) otherwise."""
    from functools import lru_cache

    from longqc_spark.kernels import _edit_distance_capped

    @lru_cache(maxsize=None)
    def ref(x, y):
        if not x:
            return len(y)
        if not y:
            return len(x)
        return min(
            ref(x[1:], y) + 1,
            ref(x, y[1:]) + 1,
            ref(x[1:], y[1:]) + (x[0] != y[0]),
        )

    true = ref(a, b)
    got = _edit_distance_capped(a, b, cap)
    if true <= cap:
        assert got == true
    else:
        assert got == cap + 1


def test_set_ops_null_and_empty_semantics(spark):
    """set_ops_summary must preserve exceptAll/intersect NULL semantics
    (NULL keys compare equal) and return zeros — not NULLs — on empty
    inputs (code-review regression)."""
    from longqc_spark.operators.relational import set_ops_summary

    a = spark.createDataFrame([(None,), (1,)], "k int")
    b = spark.createDataFrame([(None,), (2,)], "k int")
    row = set_ops_summary(a, b).collect()[0]
    # NULL∈both → in_both counts it; 1 and 2 are exclusive
    assert (row.only_a, row.only_b, row.in_both) == (1, 1, 1)
    # cross-check against Spark's own set operators
    assert a.exceptAll(b).count() == row.only_a
    assert a.intersect(b).count() == row.in_both

    empty = spark.createDataFrame([], "k int")
    row0 = set_ops_summary(empty, empty).collect()[0]
    assert (row0.only_a, row0.only_b, row0.in_both) == (0, 0, 0)


def test_n50_approx_null_and_empty(spark):
    """NULL lengths are excluded (parity with nxx's window sum); empty
    input returns an empty frame instead of crashing (code-review
    regression)."""
    import pandas as pd

    from longqc_spark.operators.relational import n50_approx, nxx

    df = spark.createDataFrame(
        pd.DataFrame({"n": [100, 200, None, 300]}).astype({"n": "Int64"})
    )
    exact = {r["pct"]: r["nxx"] for r in nxx(df.dropna(), "n", [0.5]).collect()}
    approx = {r["pct"]: r["nxx"] for r in n50_approx(df, "n", [0.5]).collect()}
    assert approx == exact
    assert n50_approx(spark.createDataFrame([], "n int"), "n").count() == 0


def test_fuzzy_memo_keyed_by_terms():
    """Same (max_dist, identity) with DIFFERENT lexicons must not share
    cache entries (code-review regression)."""
    from longqc_spark.kernels import fuzzy_term_match

    assert fuzzy_term_match("hash", 1, 0.75, terms=("hash",)) is True
    assert fuzzy_term_match("hash", 1, 0.75) is False  # TOX lexicon: no match


def test_empty_wav_feature(spark):
    """A zero-sample WAV (valid container) yields an empty feature row, not
    a task crash (code-review regression)."""
    import numpy as np
    import pandas as pd

    from longqc_spark.operators.multimodal import MEDIA_SCHEMA, encode_wav, extract_features

    payload = encode_wav(np.array([], dtype=np.int16))
    media = spark.createDataFrame(
        pd.DataFrame([(0, "audio", payload, "audio/wav")],
                     columns=["media_id", "kind", "payload", "declared_mime"]),
        schema=MEDIA_SCHEMA,
    )
    row = extract_features(media).collect()[0]
    assert row.n_samples == 0 and row.rms == 0.0 and row.feature == []


def test_assign_shards_matches_naive_cumsum(spark):
    """Two-pass prefix-sum sharding == the naive global cumsum, at any
    range width and any partitioning."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {"doc_id": np.arange(997), "n_chars": rng.integers(1, 900, size=997)}
    )
    cb = pdf.n_chars.cumsum() - pdf.n_chars
    expect = np.floor(cb.astype(float) / 5000.0).astype(int)

    from longqc_spark.operators.relational import assign_shards

    for width, parts in [(10, 1), (100, 7), (1000, 3)]:
        got = (
            assign_shards(
                spark.createDataFrame(pdf).repartition(parts),
                shard_bytes=5000,
                range_width=width,
            )
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        assert got.shard.tolist() == expect.tolist(), (width, parts)
    # packing property: every shard's bytes stay under target + one max doc
    sizes = got.groupby("shard").n_chars.sum()
    assert (sizes <= 5000 + pdf.n_chars.max()).all()


def test_weighted_sample_weight_bias_and_stability(spark):
    """Priority sampling is deterministic, partition-invariant, and biased
    toward heavy records (mean sampled weight > corpus mean)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(6)
    pdf = pd.DataFrame(
        {"doc_id": np.arange(2000), "n_chars": rng.integers(1, 2000, size=2000)}
    )
    from longqc_spark.operators.text import weighted_priority_sample

    df = spark.createDataFrame(pdf)
    a = weighted_priority_sample(df, k=100).toPandas().sort_values("doc_id")
    b = (
        weighted_priority_sample(df.repartition(13), k=100)
        .toPandas()
        .sort_values("doc_id")
    )
    assert a.doc_id.tolist() == b.doc_id.tolist()
    assert len(a) == 100
    assert a.n_chars.mean() > pdf.n_chars.mean()


def test_normalize_text_idempotent_and_invariant(spark):
    """Canonicalization is idempotent and collapses case/punct/spacing
    variants to one digest — the property normalized dedup relies on."""
    from longqc_spark.operators.text import normalize_text_expr

    variants = [
        "Hello,   World! Visit example.com NOW.",
        "hello world visit example com now",
        "HELLO---WORLD   visit EXAMPLE.COM now!!!",
        "hello\tworld\nvisit example com\tnow",
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(variants)], "id long, text string"
    )
    out = df.select(
        "id",
        normalize_text_expr("text").alias("norm"),
    ).toPandas()
    assert out.norm.nunique() == 1  # all variants collapse
    # idempotence: normalizing the normalized column is a fixpoint
    df2 = spark.createDataFrame(
        [(r.id, r.norm) for r in out.itertuples()], "id long, text string"
    )
    again = df2.select(normalize_text_expr("text").alias("norm")).toPandas()
    assert again.norm.tolist() == out.norm.tolist()


def test_dataset_split_stable_and_total(spark):
    """Split assignment is a pure function of the key: identical under
    repartitioning, fractions roughly honored, every row assigned."""
    from pyspark.sql import functions as F

    from longqc_spark.operators.text import dataset_split_expr

    df = spark.range(5000).select(F.col("id").alias("doc_id"))
    a = df.withColumn("s", dataset_split_expr("doc_id")).toPandas()
    b = df.repartition(17).withColumn("s", dataset_split_expr("doc_id")).toPandas()
    a, b = a.sort_values("doc_id"), b.sort_values("doc_id")
    assert a.s.tolist() == b.s.tolist()
    frac = a.s.value_counts(normalize=True)
    assert abs(frac["train"] - 0.8) < 0.03
    assert abs(frac["val"] - 0.1) < 0.02
    assert abs(frac["test"] - 0.1) < 0.02


def test_weighted_sample_zero_and_null_weights_excluded(spark):
    """Zero/NULL weights must neither crash (ANSI divide-by-zero) nor win
    the sample (NULL priority would sort first) — they are excluded."""
    import pandas as pd

    pdf = pd.DataFrame(
        {"doc_id": [0, 1, 2, 3, 4], "n_chars": [0, None, 10, 20, 30]}
    )
    from longqc_spark.operators.text import weighted_priority_sample

    df = spark.createDataFrame(pdf.astype({"n_chars": "Int64"}))
    got = weighted_priority_sample(df, k=10).toPandas()
    assert sorted(got.doc_id) == [2, 3, 4]


def test_assign_shards_rejects_string_key(spark):
    import pytest as _pytest

    from longqc_spark.operators.relational import assign_shards

    df = spark.createDataFrame(
        [("https://a.com/x", 10)], "url string, n_chars long"
    )
    with _pytest.raises(TypeError, match="NUMERIC key"):
        assign_shards(df, shard_bytes=100, key_col="url")


def test_vocab_coverage_null_text_counts_as_empty(spark):
    from longqc_spark.operators.text import vocab_coverage

    df = spark.createDataFrame(
        [(0, "a b c"), (1, None), (2, "a a")], "doc_id long, text string"
    )
    got = vocab_coverage(df, vocab_size=1).toPandas().set_index("doc_id")
    assert got.loc[1, "n_tokens"] == 0
    assert got.loc[1, "oov_frac"] == 0.0
    assert len(got) == 3  # NULL-text doc present, not silently dropped


def test_assign_shards_autoscale_range_width(spark):
    """ADVICE r3: range_width=None auto-scales from the key span so the
    driver-collected range table stays bounded even for xxhash64-style keys
    spanning the full int64 domain — and the shard assignment is
    range_width-INVARIANT, so auto-scaling never changes results."""
    import numpy as np
    import pandas as pd

    from longqc_spark.operators.relational import assign_shards

    rng = np.random.default_rng(11)
    # int64-domain keys: fixed width=1000 would mean ~1 range per row
    keys = rng.integers(-(2**62), 2**62, size=500, dtype=np.int64)
    pdf = pd.DataFrame({"doc_id": keys, "n_chars": rng.integers(1, 900, size=500)})
    df = spark.createDataFrame(pdf)

    auto = (
        assign_shards(df, shard_bytes=5000, target_ranges=64)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    # ground truth: cumsum in key order
    p = pdf.sort_values("doc_id").reset_index(drop=True)
    cb = p.n_chars.cumsum() - p.n_chars
    expect = np.floor(cb.astype(float) / 5000.0).astype(int)
    assert auto.shard.tolist() == expect.tolist()

    # invariance: a huge explicit width gives identical shards
    fixed = (
        assign_shards(df, shard_bytes=5000, range_width=2**58)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert fixed.shard.tolist() == auto.shard.tolist()


def test_incremental_dedup_null_payloads_pass_through(spark):
    """ADVICE r3: NULL payloads carry no digest — they are not duplicates of
    each other (the old window collapsed them to one row) nor of anything
    committed (NOT-IN-with-NULL would drop them). They must pass through."""
    from pyspark.sql import functions as F

    from longqc_spark.operators.dedup import incremental_dedup

    new = spark.createDataFrame(
        [(1, "aaa"), (2, "aaa"), (3, None), (4, None), (5, "bbb")],
        "doc_id long, text string",
    )
    committed = spark.createDataFrame([("bbb",)], "t string").select(
        F.md5(F.col("t").cast("binary")).alias("payload_md5")
    )
    got = sorted(
        r["doc_id"]
        for r in incremental_dedup(
            new, committed, key_col="doc_id", text_col="text"
        ).collect()
    )
    # 1 wins within-batch over 2; 3 and 4 BOTH survive; 5 is committed → dropped
    assert got == [1, 3, 4]

    # within_batch=False (lineage exclusion-only): batch dups AND nulls survive
    got2 = sorted(
        r["doc_id"]
        for r in incremental_dedup(
            new, committed, key_col="doc_id", text_col="text", within_batch=False
        ).collect()
    )
    assert got2 == [1, 2, 3, 4]


def test_digest_bloom_membership_and_fp_rate(spark):
    """Bloom invariants: every inserted digest passes the probe (NO false
    negatives — the property the dedup prefilter's exactness rests on);
    a disjoint probe set false-positives near the configured budget."""
    from pyspark.sql import functions as F

    from longqc_spark.operators.dedup import bloom_might_contain, digest_bloom

    members = spark.range(2000).select(
        F.md5(F.concat(F.lit("m"), F.col("id").cast("string")).cast("binary")).alias("d")
    )
    bloom, m, k = digest_bloom(members, "d", fpp=0.01)
    assert members.filter(bloom_might_contain("d", bloom, m, k)).count() == 2000

    others = spark.range(10_000).select(
        F.md5(F.concat(F.lit("x"), F.col("id").cast("string")).cast("binary")).alias("d")
    )
    fp = others.filter(bloom_might_contain("d", bloom, m, k)).count()
    assert fp / 10_000 < 0.05  # 5x the 1% budget — generous variance margin
    assert fp > 0  # and it IS probabilistic, not a degenerate always-false


def test_bloom_broadcast_one_slot(spark):
    """Each bloom_might_contain call destroys the PREVIOUS call's filter
    broadcast (one-slot registry): a session running repeated re-crawl
    dedups holds at most one filter (up to ~1 GiB) in block-manager memory,
    not one per call."""
    from pyspark.sql import functions as F

    from longqc_spark.operators import dedup as dd

    members = spark.range(100).select(
        F.md5(F.col("id").cast("string").cast("binary")).alias("d")
    )
    bloom, m, k = dd.digest_bloom(members, "d", fpp=0.01)
    assert members.filter(dd.bloom_might_contain("d", bloom, m, k)).count() == 100
    first = dd._BLOOM_BC_CACHE.peek()
    assert first is not None
    assert members.filter(dd.bloom_might_contain("d", bloom, m, k)).count() == 100
    assert len(dd._BLOOM_BC_CACHE) == 1  # one-slot: previous released
    assert dd._BLOOM_BC_CACHE.peek() is not first
    dd.release_bloom_broadcast()
    assert len(dd._BLOOM_BC_CACHE) == 0


def test_incremental_dedup_bloom_path_bit_identical(spark):
    """bloom_fpp engages the corpus-side prefilter; the admitted set must be
    BIT-identical to the exact path — dup collapse, committed exclusion, and
    NULL-payload passthrough all preserved."""
    from pyspark.sql import functions as F

    from longqc_spark.operators.dedup import incremental_dedup

    rows = [(i, f"text{i % 40}" if i % 7 else None) for i in range(200)]
    new = spark.createDataFrame(rows, "doc_id long, text string")
    committed = spark.createDataFrame(
        [(f"text{j}",) for j in range(0, 40, 3)], "t string"
    ).select(F.md5(F.col("t").cast("binary")).alias("payload_md5"))

    exact = sorted(
        r["doc_id"]
        for r in incremental_dedup(
            new, committed, key_col="doc_id", text_col="text"
        ).collect()
    )
    bloomed = sorted(
        r["doc_id"]
        for r in incremental_dedup(
            new, committed, key_col="doc_id", text_col="text", bloom_fpp=0.01
        ).collect()
    )
    assert bloomed == exact
    # sanity on the fixture: some nulls pass, some dups collapsed
    assert any(i % 7 == 0 for i in exact) and len(exact) < 200


def test_classification_curve_hand_values(spark):
    """Hand-checkable confusion cells: scores .1/.4/.6/.9 with labels
    F/T/F/T; NULL scores predict negative; an unreachable threshold gives
    tp=0 → precision NULL (not an ANSI division error), recall 0."""
    from longqc_spark.operators.relational import classification_curve

    df = spark.createDataFrame(
        [(0.1, False), (0.4, True), (0.6, False), (0.9, True), (None, True)],
        "score double, label boolean",
    )
    pdf = (
        classification_curve(df, "score", "label", [0.5, 2.0])
        .toPandas()
        .set_index("threshold")
    )
    # t=0.5: preds {0.6, 0.9} → tp=1 (0.9), fp=1 (0.6), fn=2 (0.4 + NULL)
    r = pdf.loc[0.5]
    assert (r.tp, r.fp, r.fn) == (1, 1, 2)
    assert r.precision == 0.5 and r.recall == 1 / 3
    assert abs(r.f1 - 2 * (0.5 * (1 / 3)) / (0.5 + 1 / 3)) < 1e-12
    # t=2.0: nothing predicted positive
    r2 = pdf.loc[2.0]
    assert (r2.tp, r2.fp, r2.fn) == (0, 0, 3)
    import pandas as _pd
    assert _pd.isna(r2.precision) and r2.recall == 0.0 and r2.f1 == 0.0
