"""spark-submit entry point (north_rule: "launched via spark-submit
--py-files on multi-executor clusters").

    spark-submit --master <cluster> --py-files longqc_spark.zip \
        tools/submit_qc.py --input /path/documents_parquet --out /path/qc_out \
        [--buckets 4096] [--preset default|driver_docs] [--report]

(spark-submit takes a driver *script*, not ``-m module`` — tools/submit_qc.py
is that script; tests/test_submit.py runs the whole launch mode end-to-end
with imports resolving from the zip only.)

Local smoke:
    python -m longqc_spark.cli --input data_cc/documents_cc_smoke_g3.parquet \
        --out /tmp/qc_out --buckets 4 --report
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import SparkSession, functions as F

from .config import DEFAULT_CONFIG, DRIVER_DOCS_CONFIG
from .lineage import audit_table, read_labels, run_qc_with_lineage
from .report import summarize, write_html_report, write_json_report

PRESETS = {"default": DEFAULT_CONFIG, "driver_docs": DRIVER_DOCS_CONFIG}


def _parse_lang_triple(spec: str) -> tuple[int, int, float]:
    """'min_chars:max_chars:max_symbol_frac' → (int, int, float)."""
    parts = spec.split(":")
    if len(parts) != 3:
        raise SystemExit(
            f"bad threshold triple {spec!r} — want min_chars:max_chars:max_symbol_frac"
        )
    try:
        return int(parts[0]), int(parts[1]), float(parts[2])
    except ValueError:
        raise SystemExit(
            f"bad threshold triple {spec!r} — want min_chars:max_chars:max_symbol_frac"
            " (integer, integer, float)"
        ) from None


def _parse_lang_thresholds(spec: str | None) -> dict[str, tuple[int, int, float]] | None:
    """'zh:100:100000:0.6,de:250:100000:0.3' → {lang: triple}."""
    if spec is None:
        return None
    out: dict[str, tuple[int, int, float]] = {}
    for item in spec.split(","):
        lang, _, triple = item.strip().partition(":")
        if not lang or not triple:
            raise SystemExit(
                f"bad --lang-thresholds item {item!r} — want "
                "lang:min_chars:max_chars:max_symbol_frac"
            )
        out[lang] = _parse_lang_triple(triple)
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="longqc-spark")
    p.add_argument("--input", required=True, help="parquet path of the documents table")
    p.add_argument("--out", required=True, help="output dir (labels + manifest + reports)")
    p.add_argument("--buckets", type=int, default=16, help="checkpoint partitions")
    p.add_argument("--preset", choices=sorted(PRESETS), default="default")
    p.add_argument("--key-col", default="url")
    p.add_argument("--text-col", default="text")
    p.add_argument("--html-col", default=None,
                   help="start from raw payload bytes in this column "
                        "(extraction fused into the Arrow pass)")
    p.add_argument("--dedup", action="store_true",
                   help="exact-dedup stage before QC (min key per distinct text)")
    p.add_argument("--exclude-labels", default=None, metavar="DIR",
                   help="incremental cross-run dedup: drop docs whose payload "
                        "digest is already committed in this previous run's "
                        "label store (anti-join on its stored payload_md5)")
    p.add_argument("--wave-buckets", type=int, default=None, metavar="K",
                   help="stage-and-commit in waves of K buckets (intra-run "
                        "checkpoints: a crash loses at most one wave; default "
                        "one wave = one input scan)")
    p.add_argument("--collapse-snapshots", action="store_true",
                   help="web-hygiene stage 0: keep only the newest fetch "
                        "(by --ts-col) per canonical URL before QC")
    p.add_argument("--ts-col", default="warc_ts",
                   help="fetch-timestamp column for --collapse-snapshots")
    p.add_argument("--dedup-urls", action="store_true",
                   help="web-hygiene stage 0: one row per canonical URL "
                        "(min-key winner; for single-snapshot inputs)")
    p.add_argument("--dedup-urls-declared", action="store_true",
                   help="like --dedup-urls, but the page identity HONORS "
                        "the page's own <link rel=canonical> declaration "
                        "(syntactic canonical as fallback) — collapses "
                        "alias URLs that share no syntactic form (needs an "
                        "html column: --html-col, or one named 'html')")
    p.add_argument("--collapse-mirrors", action="store_true",
                   help="web-hygiene stage 0: detect host pairs whose "
                        "text-digest page sets overlap >=50%% (after the "
                        "boilerplate guard) and drop the lexicographically "
                        "larger host of each pair wholesale")
    p.add_argument("--mirror-min-containment", type=float, default=0.5,
                   metavar="C",
                   help="mirror call threshold: shared pages / smaller "
                        "host's page-set size (default 0.5)")
    p.add_argument("--domain-cap", type=int, default=None, metavar="N",
                   help="web-hygiene stage 0: cap each registered domain at "
                        "its N best-keyed docs")
    p.add_argument("--fix-encoding", type=int, default=None, metavar="PASSES",
                   help="web-hygiene stage 0: ftfy-style cp1252-mojibake "
                        "repair of the text column, PASSES nesting levels "
                        "deep (1 fixes ordinary damage, 2 double-encoded "
                        "pages; needs --text-col, not --html-col)")
    p.add_argument("--clean-lines", type=int, default=None, metavar="MINWORDS",
                   help="web-hygiene stage 0: C4 line-level cleaning — keep "
                        "only lines with >= MINWORDS words ending in "
                        "terminal punctuation and without 'javascript'; "
                        "drop lorem-ipsum/curly-brace pages and pages left "
                        "with < --clean-lines-min-sentences sentences "
                        "(needs --text-col, not --html-col)")
    p.add_argument("--clean-lines-min-sentences", type=int, default=3, metavar="S",
                   help="page gate for --clean-lines: minimum sentences "
                        "(terminal-punct count) surviving line cleaning")
    p.add_argument("--host-boilerplate-frac", type=float, default=None,
                   metavar="FRAC",
                   help="web-hygiene stage 0: strip lines appearing on "
                        ">=FRAC of a host's own pages (site chrome: nav/"
                        "footer), before the global line rule; hosts with "
                        "<4 pages untouched")
    p.add_argument("--line-dedup-min-docs", type=int, default=None, metavar="K",
                   help="web-hygiene stage 0: C4-style global line dedup — "
                        "drop lines occurring in >= K distinct docs "
                        "corpus-wide (needs --text-col, not --html-col)")
    p.add_argument("--scrub-spans", type=int, default=None, metavar="W",
                   help="web-hygiene stage 0 (runs LAST): Lee-et-al exact "
                        "duplicated-span removal — every W-token span keeps "
                        "only its globally-first occurrence, later "
                        "occurrences' token ranges are cut and the text "
                        "rebuilt (whitespace-normalized; needs --text-col, "
                        "not --html-col)")
    p.add_argument("--blocklist", default=None, metavar="FILE",
                   help="web-hygiene stage 0 (runs FIRST): UT1-style domain "
                        "blocklist — text file, one domain per line (blank "
                        "lines and # comments skipped); a page is dropped "
                        "when its host equals an entry or is a subdomain of "
                        "one (suffix match per dot-label)")
    p.add_argument("--respect-optout", action="store_true",
                   help="web-hygiene stage 0 (right after --blocklist): drop "
                        "pages whose html carries a robots/AI opt-out meta "
                        "tag (noindex, none, noai, noimageai) before any "
                        "extraction or QC work (needs an html column: "
                        "--html-col, or a column literally named 'html')")
    p.add_argument("--lang-thresholds", default=None, metavar="SPEC",
                   help="web-hygiene stage 0: per-language QC cutoffs, "
                        "'lang:min_chars:max_chars:max_symbol_frac' comma-"
                        "separated (e.g. 'zh:100:100000:0.6,de:250:100000:"
                        "0.3'); languages not listed use --lang-default "
                        "(needs --text-col and a --lang-col column)")
    p.add_argument("--lang-default", default="200:100000:0.3", metavar="D",
                   help="fallback 'min_chars:max_chars:max_symbol_frac' for "
                        "--lang-thresholds (default %(default)s)")
    p.add_argument("--lang-col", default="lang",
                   help="language column for --lang-thresholds")
    p.add_argument("--payload-dedup", action="store_true",
                   help="within-corpus exact payload dedup before QC (one "
                        "winner per payload digest; min-key unless "
                        "--payload-score-col)")
    p.add_argument("--payload-score-col", default=None, metavar="COL",
                   help="quality-argmax winner policy for --payload-dedup: "
                        "keep the max-COL row per digest (tie -> min key); "
                        "COL must be a pre-QC prior present on the input")
    p.add_argument("--payload-dedup-normalize", action="store_true",
                   help="digest whitespace/case/punct-NORMALIZED text for "
                        "--payload-dedup (catches trivial-variant dups; "
                        "text inputs only)")
    p.add_argument("--neardup-threshold", type=float, default=None, metavar="T",
                   help="within-corpus NEAR-dup dedup before QC: MinHash-LSH "
                        "pairs at estimated Jaccard >= T -> connected "
                        "components -> one survivor per cluster (max "
                        "--payload-score-col if given, else min key)")
    p.add_argument("--neardup-max-bucket", type=int, default=500, metavar="K",
                   help="boilerplate star guard for --neardup-threshold "
                        "(bucket fan-out bound; 0 disables)")
    p.add_argument("--dedup-scope", default=None, metavar="COL",
                   help="bound --payload-dedup AND --neardup-threshold to a "
                        "per-COL horizon (crawl dump / snapshot / source "
                        "column): duplicates collapse within a scope only, "
                        "cross-scope copies survive (FineWeb per-dump dedup)")
    p.add_argument("--fuzzy-scrub", action="store_true",
                   help="tolerance scrub pass: tokens within 1 edit of a "
                        "lexicon term at identity >= 0.75 are scrubbed too "
                        "(approximate-adapter-match analog)")
    p.add_argument("--curate-out", default=None, metavar="DIR",
                   help="after the lineage commit: export a curated training "
                        "table (keep-rows + decontam + split + shard) from "
                        "the committed labels store to this parquet dir")
    p.add_argument("--decontam-eval", default=None, metavar="PARQUET",
                   help="eval-set parquet (eval_id, text) to decontaminate "
                        "the curated export against (5-token shingle "
                        "broadcast semi-join on the scrubbed text)")
    p.add_argument("--pack-out", default=None, metavar="DIR",
                   help="after --curate-out: pack the curated rows' scrubbed "
                        "text into fixed-length training sequences "
                        "(seq_id, seq_text) at this parquet dir — the "
                        "concatenate-and-cut-every-L layout, keyed by "
                        "xxhash64(url) for a deterministic shuffle order")
    p.add_argument("--seq-len", type=int, default=2048, metavar="L",
                   help="sequence length (chars) for --pack-out")
    p.add_argument("--train-tokenizer", default=None, metavar="DIR",
                   help="after --curate-out: train tokenizers ON THE CURATED "
                        "corpus (the artifact-production step of the "
                        "pipeline) and write both to this dir — BPE merges "
                        "(bpe_merges parquet: rank,left,right,merged) and "
                        "the unigram-LM vocab (unigram_vocab parquet: rank,"
                        "piece,logprob_micro)")
    p.add_argument("--tokenizer-merges", type=int, default=50, metavar="N",
                   help="BPE merge rounds for --train-tokenizer "
                        "(default %(default)s)")
    p.add_argument("--tokenizer-vocab", type=int, default=512, metavar="V",
                   help="unigram-LM target vocab for --train-tokenizer "
                        "(default %(default)s)")
    p.add_argument("--train-lm", default=None, metavar="DIR",
                   help="after --curate-out: estimate the interpolated "
                        "Kneser-Ney bigram LM on the curated corpus and "
                        "write the model tables (pair/ctx/cont/consts "
                        "parquet dirs) — the perplexity-scorer artifact for "
                        "the NEXT crawl's QC pass")
    p.add_argument("--shard-bytes", type=int, default=None, metavar="N",
                   help="byte-balanced shard ids in the curated export "
                        "(two-pass prefix sum over xxhash64(key))")
    p.add_argument("--anchors-out", default=None, metavar="DIR",
                   help="export the anchor-text corpus (<key-col>, href, "
                        "anchor_text, anchor_pos — one row per <a> in page "
                        "order) extracted from the INPUT's html column to "
                        "this parquet dir; only pages that survive the "
                        "hygiene gates contribute (needs an html column: "
                        "--html-col, or a column literally named 'html')")
    p.add_argument("--anchors-min-chars", type=int, default=1, metavar="C",
                   help="drop anchors whose cleaned text is shorter than C "
                        "chars (icon/image links; default %(default)s)")
    p.add_argument("--digest-index", default=None, metavar="TABLE",
                   help="after the run: save the committed payload digests "
                        "as a catalog table bucketed on payload_md5 — later "
                        "--exclude-labels-style dedup against it is "
                        "exchange-free on the corpus side (pass the table "
                        "to incremental_dedup via spark.table)")
    p.add_argument("--band-index", default=None, metavar="TABLE",
                   help="after the run: save the committed corpus's minhash "
                        "LSH band buckets as a (band,bhash)-bucketed catalog "
                        "table — later incremental_neardup probes against it "
                        "drop NEAR-duplicate re-crawls (edited pages exact "
                        "digest dedup misses) with zero corpus-side exchange")
    p.add_argument("--drift-against", default=None, metavar="DIR",
                   help="after the run: PSI drift report of this run's label "
                        "distributions vs a previous run's committed store "
                        "(crawl-monitoring alert: <0.1 stable, >0.25 major)")
    p.add_argument("--emit-blocklist", default=None, metavar="FILE",
                   help="after the run: write domains whose committed labels "
                        "overwhelmingly fail QC (domain_stats blocklist "
                        "candidates, >=5 docs, drop-rate >0.8) as a one-"
                        "domain-per-line file consumable by --blocklist on "
                        "the NEXT crawl — the closed feedback loop")
    p.add_argument("--report", action="store_true", help="write JSON+HTML summary")
    p.add_argument("--compact", action="store_true",
                   help="after the run: bin-packing compaction of the labels "
                        "store (rewrite_data_files analog, atomic pointer swap)")
    p.add_argument("--expire-keep", type=int, default=None, metavar="N",
                   help="after the run: expire all but the newest N snapshots "
                        "and reclaim unreferenced data roots")
    p.add_argument("--local-cores", type=int, default=None,
                   help="build a local[N] session (omit under spark-submit)")
    args = p.parse_args(argv)
    if args.pack_out and not args.curate_out:
        p.error("--pack-out packs the curated export and requires --curate-out")
    if (args.train_tokenizer or args.train_lm) and not args.curate_out:
        p.error(
            "--train-tokenizer/--train-lm train on the curated export and "
            "require --curate-out"
        )
    if args.collapse_snapshots and (args.dedup_urls or args.dedup_urls_declared):
        p.error(
            "--collapse-snapshots already keeps one fetch per canonical URL; "
            "combining it with --dedup-urls/--dedup-urls-declared would "
            "silently skip the latter — pick one URL-identity stage"
        )
    if args.dedup_urls and args.dedup_urls_declared:
        p.error("--dedup-urls-declared supersedes --dedup-urls — pass only one")
    _anchors_col = args.html_col if args.html_col else "html"

    if args.local_cores:
        from .session import get_spark

        spark = get_spark("longqc-cli", cores=args.local_cores)
    else:
        # stock Python daemon: under spark-submit the package is a --py-files
        # zip, which executors only add to sys.path after the daemon starts
        spark = SparkSession.builder.appName("longqc-spark").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    cfg = PRESETS[args.preset]
    if args.fuzzy_scrub:
        cfg = cfg.with_overrides(scrub_fuzzy=True)
    docs = spark.read.parquet(args.input)
    if args.anchors_out and _anchors_col not in docs.columns:
        p.error(
            f"--anchors-out extracts from the html column; no column "
            f"{_anchors_col!r} in the input — pass --html-col or drop the flag"
        )
    if args.dedup_urls_declared and _anchors_col not in docs.columns:
        p.error(
            f"--dedup-urls-declared reads <link rel=canonical> from the html "
            f"column; no column {_anchors_col!r} in the input — pass "
            f"--html-col or use --dedup-urls"
        )
    # hygiene flags reshape the input rows before lineage sees them, so they
    # are part of the checkpoint identity: a resume with different flags
    # must be rejected, not silently mix capped/uncapped buckets.
    hygiene_config = {
        "collapse_snapshots": args.collapse_snapshots,
        "dedup_urls": args.dedup_urls,
        "domain_cap": args.domain_cap,
        "line_dedup_min_docs": args.line_dedup_min_docs,
        "clean_lines_min_words": args.clean_lines,
        # only an identity input when the stage is on — a bare default of 3
        # must not flip the hygiene gate or invalidate pre-existing resumes
        "clean_lines_min_sentences": (
            args.clean_lines_min_sentences if args.clean_lines is not None else None
        ),
        "fix_encoding": args.fix_encoding,
        "scrub_span_window": args.scrub_spans,
        "blocklist": args.blocklist,
        # the round-4g keys are CONDITIONALLY present (not None-valued):
        # a manifest written before they existed must still resume a
        # flagless run — bare defaults never invalidate pre-existing
        # resumes (same rule as clean_lines_min_sentences)
        **({"dedup_urls_declared": True} if args.dedup_urls_declared else {}),
        **({"respect_optout": True} if args.respect_optout else {}),
        **(
            {
                "lang_thresholds": args.lang_thresholds,
                "lang_default": args.lang_default,
                "lang_col": args.lang_col,
            }
            if args.lang_thresholds
            else {}
        ),
        "payload_dedup": args.payload_dedup,
        "payload_score_col": args.payload_score_col,
        "payload_dedup_normalize": args.payload_dedup_normalize,
        "neardup_threshold": args.neardup_threshold,
        # the star guard changes WHICH candidate pairs the near-dup stage
        # sees, hence which survivors exist — identity, like the threshold
        "neardup_max_bucket": args.neardup_max_bucket,
        # the scope bounds the dedup horizon, hence the survivor set —
        # CONDITIONALLY present like the round-4g keys above, so manifests
        # written before the flag existed still resume a flagless run
        **({"dedup_scope": args.dedup_scope} if args.dedup_scope else {}),
    }
    # validate the COMPLETE resume identity BEFORE the dedup stages: the
    # near-dup stage's connected components run eagerly (driver-side
    # supersteps), so without this pre-check a refused resume would burn the
    # full corpus LSH pass just to raise run_qc_with_lineage's identity
    # error. The expected run_config is rebuilt exactly as
    # run_qc_with_lineage builds it (cfg/key/text/html/dedup/schema/
    # exclude + the hygiene extra), so ANY mismatch front-runs here.
    from .lineage import LABEL_SCHEMA_VERSION, load_manifest

    _m = load_manifest(args.out)
    if _m.get("run_id") is not None:
        expected_rc = {
            "cfg": repr(cfg),
            "key_col": args.key_col,
            "text_col": args.text_col,
            "html_col": args.html_col,
            "dedup": args.dedup,
            "label_schema": LABEL_SCHEMA_VERSION,
            **(
                {"exclude_labels_dir": args.exclude_labels}
                if args.exclude_labels
                else {}
            ),
            "hygiene": hygiene_config,
        }
        if _m.get("run_config", expected_rc) != expected_rc:
            raise ValueError(
                "run config differs from the manifest's — cannot resume: "
                f"{_m['run_config']} vs {expected_rc}"
            )
        if _m.get("n_buckets") != args.buckets:
            raise ValueError("n_buckets differs from the manifest's — cannot resume")
    if any(v is not None and v is not False for v in hygiene_config.values()):
        from .curation import web_hygiene

        bl = None
        if args.blocklist:
            # one domain per line; '#' comments and blank lines skipped
            bl = (
                spark.read.text(args.blocklist)
                .select(F.trim("value").alias("entry"))
                .filter((F.col("entry") != "") & ~F.col("entry").startswith("#"))
            )
        docs = web_hygiene(
            docs,
            key_col=args.key_col,
            text_col=args.text_col,
            html_col=args.html_col,
            collapse_snapshots=args.collapse_snapshots,
            ts_col=args.ts_col,
            dedup_urls=args.dedup_urls,
            dedup_urls_declared=args.dedup_urls_declared,
            collapse_mirrors=args.collapse_mirrors,
            mirror_min_containment=args.mirror_min_containment,
            domain_cap_n=args.domain_cap,
            host_boilerplate_frac=args.host_boilerplate_frac,
            line_dedup_min_docs=args.line_dedup_min_docs,
            blocklist=bl,
            fix_encoding_passes=args.fix_encoding,
            clean_lines_min_words=args.clean_lines,
            clean_lines_min_sentences=args.clean_lines_min_sentences,
            scrub_span_window=args.scrub_spans,
            respect_optout=args.respect_optout,
            lang_thresholds=_parse_lang_thresholds(args.lang_thresholds),
            lang_col=args.lang_col,
            lang_default=_parse_lang_triple(args.lang_default),
        )
    if args.payload_dedup:
        from .operators.dedup import keep_best_dedup

        docs = keep_best_dedup(
            docs,
            args.payload_score_col,
            key_col=args.key_col,
            text_col=args.text_col,
            html_col=args.html_col,
            normalize=args.payload_dedup_normalize,
            scope_col=args.dedup_scope,
        )
    if args.neardup_threshold is not None:
        from .operators.dedup import cluster_keep_best, minhash_jaccard_estimate

        pairs = minhash_jaccard_estimate(
            docs,
            key_col=args.key_col,
            text_col=args.text_col,
            threshold=args.neardup_threshold,
            max_bucket=args.neardup_max_bucket or None,
            scope_col=args.dedup_scope,
        )
        docs = cluster_keep_best(
            docs, pairs, args.payload_score_col, key_col=args.key_col
        )
    if args.anchors_out:
        # two consumers of the post-hygiene frame (the QC lineage run and
        # the anchors export) — persist so the hygiene windows / dedup
        # joins don't replay end-to-end for the second action
        docs = docs.persist()
    manifest = run_qc_with_lineage(
        docs,
        args.out,
        cfg=cfg,
        key_col=args.key_col,
        text_col=args.text_col,
        n_buckets=args.buckets,
        html_col=args.html_col,
        dedup=args.dedup,
        wave_buckets=args.wave_buckets,
        exclude_labels_dir=args.exclude_labels,
        extra_config={"hygiene": hygiene_config},
    )
    n_committed = len(manifest["committed"])
    print(f"committed {n_committed}/{args.buckets} buckets → {args.out}/data", file=sys.stderr)

    if args.curate_out:
        from .curation import curate_from_labels

        eval_df = (
            spark.read.parquet(args.decontam_eval) if args.decontam_eval else None
        )
        curated = curate_from_labels(
            read_labels(spark, args.out),
            eval_df=eval_df,
            key_col=args.key_col,
            shard_bytes=args.shard_bytes,
        )
        curated.write.mode("overwrite").parquet(args.curate_out)
        n_curated = spark.read.parquet(args.curate_out).count()
        print(f"curated {n_curated} rows → {args.curate_out}", file=sys.stderr)

        if args.train_tokenizer:
            # the artifact-production step: tokenizers are trained on the
            # CURATED corpus (post-exclusion, post-decontam scrubbed text),
            # never the raw crawl — garbage pages would vote on merges
            from .operators.bpe import learn_bpe, merges_table
            from .operators.unigram import train_unigram, vocab_table

            curated_df = spark.read.parquet(args.curate_out)
            merges = learn_bpe(
                curated_df, text_col="scrubbed_text",
                n_merges=args.tokenizer_merges, min_word_count=2,
            )
            merges_table(spark, merges).write.mode("overwrite").parquet(
                os.path.join(args.train_tokenizer, "bpe_merges")
            )
            vocab = train_unigram(
                curated_df, text_col="scrubbed_text",
                vocab_size=args.tokenizer_vocab,
            )
            vocab_table(spark, vocab).write.mode("overwrite").parquet(
                os.path.join(args.train_tokenizer, "unigram_vocab")
            )
            print(
                f"tokenizers: {len(merges)} BPE merges + {len(vocab)} unigram "
                f"pieces → {args.train_tokenizer}",
                file=sys.stderr,
            )

        if args.train_lm:
            from .operators.knlm import kn_bigram_lm

            # counts_cache: four separate write actions below — without the
            # DISK_ONLY persist of the count table, each write action
            # re-pays the corpus tokenize+shuffle (the first write pays it
            # once and materializes; later writes reuse the cached blocks)
            pair, kctx, cont, consts = kn_bigram_lm(
                spark.read.parquet(args.curate_out),
                text_col="scrubbed_text",
                counts_cache=True,
            )
            for name, d in (
                ("pair", pair), ("ctx", kctx), ("cont", cont), ("consts", consts)
            ):
                d.write.mode("overwrite").parquet(os.path.join(args.train_lm, name))
            n_types = spark.read.parquet(os.path.join(args.train_lm, "pair")).count()
            print(
                f"KN bigram LM: {n_types} pair types → {args.train_lm}",
                file=sys.stderr,
            )

        if args.pack_out:
            from .operators.relational import pack_sequence_rows

            packed = pack_sequence_rows(
                spark.read.parquet(args.curate_out).withColumn(
                    "_pk", F.xxhash64(args.key_col)
                ),
                args.seq_len,
                text_col="scrubbed_text",
                key_col="_pk",
            )
            packed.write.mode("overwrite").parquet(args.pack_out)
            n_seq = spark.read.parquet(args.pack_out).count()
            print(
                f"packed {n_seq} x {args.seq_len}-char sequences → {args.pack_out}",
                file=sys.stderr,
            )

    if args.anchors_out:
        from .operators.web import extract_anchors

        # `docs` here is the post-hygiene/post-dedup frame: only pages that
        # survived the gates (incl. --respect-optout) contribute anchors —
        # an opted-out or blocklisted page's links are not training data.
        extract_anchors(
            docs,
            html_col=_anchors_col,
            url_col=args.key_col,
            min_text_chars=args.anchors_min_chars,
        ).write.mode("overwrite").parquet(args.anchors_out)
        docs.unpersist()
        n_anchors = spark.read.parquet(args.anchors_out).count()
        print(f"anchors {n_anchors} rows → {args.anchors_out}", file=sys.stderr)

    if args.digest_index:
        from .lineage import write_digest_index

        t = write_digest_index(
            spark, args.out, table=args.digest_index, n_buckets=args.buckets
        )
        print(f"digest index bucketed into table {t}", file=sys.stderr)

    if args.band_index:
        from .lineage import write_band_index

        t = write_band_index(spark, args.out, table=args.band_index)
        print(f"band index bucketed into table {t}", file=sys.stderr)

    if args.compact:
        from .lineage import compact_labels

        m = compact_labels(spark, args.out)
        c = m["compaction"]
        print(
            f"compacted {c['n_files_before']} → {c['n_files_after']} files "
            f"({m['data_root']})",
            file=sys.stderr,
        )
    if args.expire_keep is not None:
        from .lineage import expire_snapshots

        removed = expire_snapshots(args.out, keep_last=args.expire_keep)
        print(f"expired snapshots, reclaimed roots: {removed}", file=sys.stderr)

    if args.drift_against:
        from .report import drift_report

        drift = drift_report(
            read_labels(spark, args.drift_against), read_labels(spark, args.out)
        ).collect()
        for r in drift:
            print(
                f"drift {r['metric']}: psi={r['psi']} ({r['verdict']})",
                file=sys.stderr,
            )
        worst = drift[0] if drift else None
        if worst and worst["verdict"] == "major":
            print(
                f"DRIFT ALERT: {worst['metric']} psi={worst['psi']} — the "
                "input distribution shifted vs the reference run",
                file=sys.stderr,
            )

    if args.emit_blocklist:
        from .operators.text import domain_stats

        # candidate domains only (>=5 docs AND >80% drop rate) — a bounded
        # driver collect: candidates are a small tail of the domain table,
        # which is itself ≪ doc cardinality
        cands = (
            domain_stats(read_labels(spark, args.out), url_col=args.key_col)
            .filter(F.col("blocklist_candidate"))
            .select("domain")
            .orderBy("domain")
            .collect()
        )
        # atomic publish (tmp + rename): a crash mid-write must not leave a
        # truncated-but-valid-looking file for the next crawl to consume
        _bl_tmp = args.emit_blocklist + ".tmp"
        with open(_bl_tmp, "w") as f:
            f.write("# auto-generated by longqc-spark --emit-blocklist\n")
            for r in cands:
                f.write(r.domain + "\n")
        os.replace(_bl_tmp, args.emit_blocklist)
        print(
            f"blocklist: {len(cands)} candidate domains → {args.emit_blocklist}",
            file=sys.stderr,
        )

    if args.report:
        labels = read_labels(spark, args.out)
        summary = summarize(labels, cfg)
        write_json_report(summary, os.path.join(args.out, "report.json"))
        write_html_report(summary, os.path.join(args.out, "report.html"))
        audit_table(spark, args.out).show(truncate=False)
        print(
            f"keep_rate={summary['totals']['keep_rate']:.4f} "
            f"errors={list(summary['errors'])} warnings={list(summary['warnings'])}",
            file=sys.stderr,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
