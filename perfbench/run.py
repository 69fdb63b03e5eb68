"""Benchmark of the longqc_spark QC funnel
``session -> scan -> kernels/models -> pipeline -> lineage -> report``.

Usage, from the repository root::

    python3 perfbench/run.py --workload qc_text --seed 1 --seconds 15 --trace 0

Workloads (inputs are generated from ``--seed`` and cached under
``perfbench/.cache``; see ``perfbench/inputs.py``):

* ``qc_text``: ``qc_pipeline(num_partitions=0)`` over ~1 KB generated docs
  into a read-only aggregate sink. Kernels dominate.
* ``qc_short``: the same call over ~120-char docs cut from generated docs
  at line boundaries. Kernels do little; the Arrow boundary, task scheduling
  and the rule expressions dominate.

The traced run (``--trace 1``) also runs the commit sequence once over the
workload's html column with extraction fused in:
``run_qc_with_lineage(html_col="html", n_buckets=8, fail_after_bucket=3)``,
the resume to completion, then ``summarize(read_labels(...))``, for the
lineage, report and extraction layers.

A run sets up the Spark session SETUPS times (the first one cold), discards
one warm-up pass, then repeats timed passes until ``--seconds`` have passed
(at least one) and reports medians. Its inputs, scratch, event logs, spans
and saved results stay under ``perfbench/.cache`` and ``perfbench/.work``.

Every pass is checked against ``labeler.label_corpus`` (doc count, keep
count and an order-independent digest of (url, keep, scrubbed_text)); a pass
that disagrees is counted as failed and its time is not used. The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). A human summary goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CACHE = os.path.join(HERE, ".cache")

N_BUCKETS = 8
CRASH_AFTER_BUCKET = 3
MIN_PASSES = 1
SETUPS = 3
SAMPLE_URLS = 64



def metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def configure_env(trace: bool, run_dir: str) -> None:
    """Launch-time settings; must run before the first SparkSession."""
    ncpu = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ.pop("OMP_NUM_THREADS", None)
    # the Python workers import longqc_spark and perfbench from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        # at least 4 x cores scan splits; Spark's default aims at one split
        # per core, so one straggler task would set the wall time
        "--conf", f"spark.sql.files.minPartitionNum={4 * ncpu}",
    ]
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def digest(labels) -> dict:
    """Doc count, keep count and an order-independent digest of
    (url, keep, scrubbed_text): the oracle comparison of one pass."""
    from pyspark.sql import functions as F

    row = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if("keep").alias("n_keep"),
        F.bit_xor(F.xxhash64("url", "keep", "scrubbed_text")).alias("digest"),
    ).collect()[0]
    return row.asDict()


class Bench:
    def __init__(self, args: argparse.Namespace, run_dir: str) -> None:
        from perfbench.instrument import Tracer

        self.args = args
        self.run_dir = run_dir
        self.tracer = Tracer(enabled=bool(args.trace))
        self.ncpu = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.spark = None

    # -- session -----------------------------------------------------------

    def first_job(self, spark) -> None:
        """A tiny QC job over one doc per core: spawns the Python workers and
        loads the models in each of them."""
        from pyspark.sql import functions as F

        from longqc_spark.pipeline import qc_pipeline

        text = "the quick brown fox jumps over the lazy dog and it was the end of that day ."
        n = spark.sparkContext.defaultParallelism
        docs = spark.range(0, n, 1, n).select(
            F.concat(F.lit("https://setup.example/"), F.col("id").cast("string")).alias("url"),
            F.lit(text).alias("text"),
        )
        spark.sparkContext.setJobDescription("session.first_job")
        qc_pipeline(docs, num_partitions=0).agg(F.count_if("keep")).collect()

    def setup(self, cores: int | None = None) -> tuple[float, float]:
        from longqc_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        with self.tracer.span("session.start"):
            t0 = time.perf_counter()
            self.spark = get_spark(cores=cores)
            t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        with self.tracer.span("session.first_job"):
            self.first_job(self.spark)
            t2 = time.perf_counter()
        return t1 - t0, t2 - t1

    def describe(self, desc: str) -> None:
        self.spark.sparkContext.setJobDescription(desc)

    # -- input -------------------------------------------------------------

    def load_input(self, entry: str, n_files: int | None = None):
        """The input, or its first ``n_files`` files, as a DataFrame. With
        ``spark.sql.files.minPartitionNum`` at the file count (see
        configure_env) each file is one scan split."""
        input_dir = os.path.join(entry, "input")
        paths = [os.path.join(input_dir, n) for n in sorted(os.listdir(input_dir))][:n_files]
        return self.spark.read.parquet(*paths)

    def oracle_row(self, entry: str) -> dict:
        self.describe("oracle.digest")
        return digest(self.spark.read.parquet(os.path.join(entry, "oracle")))

    def check(self, name: str, got: dict, want: dict) -> bool:
        if got != want:
            log(f"ORACLE MISMATCH in {name}: got {got}, want {want}")
            return False
        return True

    # -- passes ------------------------------------------------------------

    def text_pass(self, docs, tag: str) -> tuple[dict, float]:
        from pyspark.sql import functions as F

        from longqc_spark.pipeline import qc_pipeline

        self.describe(f"{tag}:pipeline")
        with self.tracer.span("pipeline.qc_pass", tag=tag):
            t0 = time.perf_counter()
            row = digest(qc_pipeline(docs, num_partitions=0))
            dt = time.perf_counter() - t0
        return row, dt

    def commit_pass(self, docs, tag: str, html_col: str) -> dict:
        """Crash after bucket CRASH_AFTER_BUCKET, resume, summarize."""
        from longqc_spark.lineage import read_labels, run_qc_with_lineage
        from longqc_spark.report import summarize

        out_dir = os.path.join(self.run_dir, "commit", tag)
        shutil.rmtree(out_dir, ignore_errors=True)
        kw = dict(html_col=html_col, n_buckets=N_BUCKETS)
        t0 = time.perf_counter()
        self.describe(f"{tag}:lineage.run")
        with self.tracer.span("lineage.run", tag=tag):
            try:
                run_qc_with_lineage(docs, out_dir, fail_after_bucket=CRASH_AFTER_BUCKET, **kw)
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
            else:
                raise RuntimeError("the injected crash did not happen")
        t1 = time.perf_counter()
        self.describe(f"{tag}:lineage.resume")
        with self.tracer.span("lineage.resume", tag=tag):
            manifest = run_qc_with_lineage(docs, out_dir, **kw)
        t2 = time.perf_counter()
        self.describe(f"{tag}:report.summarize")
        with self.tracer.span("report.summarize", tag=tag):
            summary = summarize(read_labels(self.spark, out_dir))
        t3 = time.perf_counter()
        data_dir = os.path.join(out_dir, manifest.get("data_root", "data"))
        files = [os.path.join(d, f) for d, _, fs in os.walk(data_dir) for f in fs]
        log(f"{tag}: run {t1 - t0:.3f} resume {t2 - t1:.3f} summarize {t3 - t2:.3f}")
        return {
            "out_dir": out_dir,
            "summary": summary,
            "n_committed": len(manifest["committed"]),
            "wall_s": t3 - t0,
            "run_s": t1 - t0,
            "resume_s": t2 - t1,
            "summarize_s": t3 - t2,
            "out_bytes": sum(os.path.getsize(f) for f in files),
            "files_written": sum(f.endswith(".parquet") for f in files),
        }

    def check_commit(self, tag: str, res: dict, want: dict, oracle_pdf) -> bool:
        """Digest check plus keep/drop F1 >= 0.99 and byte-identical
        scrubbed_text on a url sample, all read back through read_labels."""
        from pyspark.sql import functions as F

        from longqc_spark.lineage import read_labels

        self.describe(f"{tag}:check")
        labels = read_labels(self.spark, res["out_dir"])
        got = digest(labels)
        totals = res["summary"]["totals"]
        got["summary"] = (totals["n_docs"], totals["n_keep"])
        got["buckets"] = res["n_committed"]
        keep = labels.select("url", "keep").toPandas().merge(
            oracle_pdf[["url", "keep"]], on="url", how="outer", suffixes=("", "_want")
        )
        tp = int((keep["keep"].eq(True) & keep["keep_want"].eq(True)).sum())
        fp = int((keep["keep"].eq(True) & ~keep["keep_want"].eq(True)).sum())
        fn = int((~keep["keep"].eq(True) & keep["keep_want"].eq(True)).sum())
        f1 = 2 * tp / max(2 * tp + fp + fn, 1)
        got["f1_ok"] = f1 >= 0.99
        sample = oracle_pdf.sort_values("url").iloc[:: max(len(oracle_pdf) // SAMPLE_URLS, 1)]
        rows = labels.filter(F.col("url").isin(list(sample["url"]))).select(
            "url", "scrubbed_text"
        ).collect()
        got_text = {r["url"]: r["scrubbed_text"].encode("utf-8") for r in rows}
        want_text = {u: t.encode("utf-8") for u, t in zip(sample["url"], sample["scrubbed_text"])}
        got["sample_identical"] = got_text == want_text
        exp = dict(want, summary=(want["n"], want["n_keep"]), buckets=N_BUCKETS,
                   f1_ok=True, sample_identical=True)
        return self.check(tag, got, exp)

    def timed(self, run_one) -> list[dict]:
        """Run passes until --seconds have elapsed (and at least MIN_PASSES)."""
        out = []
        t_end = time.perf_counter() + self.args.seconds
        i = 0
        while i < MIN_PASSES or time.perf_counter() < t_end:
            res = self.attempt(run_one, f"pass{i}")
            i += 1
            if res is not None:
                out.append(res)
        return out

    def attempt(self, run_one, tag: str):
        """One counted operation: a pass that raises or disagrees with the
        oracle is failed and yields None."""
        self.attempted += 1
        try:
            res = run_one(tag)
        except Exception:
            import traceback

            log(f"{tag} raised:\n{traceback.format_exc()}")
            res = None
        if res is None:
            self.failed += 1
        return res

    # -- the run -----------------------------------------------------------

    def run(self) -> dict:
        import pandas as pd

        from perfbench import inputs
        from perfbench.instrument import host_context, workers_cpu_s, workers_hwm_mb

        args = self.args
        wl = args.workload
        host_before = host_context()
        n_files = 4 * self.ncpu
        with self.tracer.span("input.prepare"):
            entry, meta = inputs.prepare(wl, args.seed, CACHE, n_files, self.ncpu)
        log(f"input {wl} seed={args.seed}: {meta['n_docs']} docs, "
            f"mean {meta['mean_chars']:.0f} chars, {n_files} files, {meta['input_mb']:.2f} MB")

        # models.load_s: first call of both loaders in this Spark driver process
        from longqc_spark import models

        with self.tracer.span("models.load"):
            t0 = time.perf_counter()
            models.langid_model()
            models.ngram_lm()
            models_load_s = time.perf_counter() - t0

        setups = [self.setup() for _ in range(SETUPS)]
        setup_s = median([a + b for a, b in setups])
        log(f"setups {[round(a + b, 3) for a, b in setups]}")

        docs = self.load_input(entry)
        want = self.oracle_row(entry)
        oracle_pdf = pd.read_parquet(os.path.join(entry, "oracle"))

        def one_text(tag):
            row, dt = self.text_pass(docs, tag)
            return {"wall_s": dt} if self.check(tag, row, want) else None

        def one_commit(tag):
            res = self.commit_pass(docs, tag, "html")
            ok = self.check_commit(tag, res, want, oracle_pdf)
            shutil.rmtree(res.pop("out_dir"), ignore_errors=True)
            return res if ok else None

        with self.tracer.span("warmup"):
            self.text_pass(docs, "warmup")
        cpu0 = workers_cpu_s()
        with self.tracer.span("timed"):
            passes = self.timed(one_text)
        rss_mb = workers_hwm_mb()
        worker_cpu_s = (workers_cpu_s() - cpu0) / max(len(passes), 1)
        log(f"timed passes done: {[round(p['wall_s'], 3) for p in passes]}")
        if not passes:
            return {"passes": 0}
        wall_s = median([p["wall_s"] for p in passes])
        result = {
            "passes": len(passes),
            "pass_times": [p["wall_s"] for p in passes],
            "worker_cpu_s": worker_cpu_s,
            "e2e": {
                "setup_s": setup_s,
                "wall_s": wall_s,
                "docs_per_s": meta["n_docs"] / wall_s,
                "worker_rss_mb": rss_mb,
            },
            "meta": meta,
            "host_before": host_before,
        }
        if args.trace:
            commit = self.attempt(one_commit, "commit")
            if commit is None:
                return {"passes": 0}
            result["layers"] = self.layer_probes(
                entry, meta, docs, setups, models_load_s, commit, result
            )
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        result["host_after"] = host_context()
        return result

    # -- traced-run probes ---------------------------------------------------

    def layer_probes(self, entry, meta, docs, setups, models_load_s, commit, result):
        """Per-layer measurements, all taken after the timed passes so the
        traced passes run in the same order as the untraced ones."""
        import pandas as pd

        from longqc_spark.config import DEFAULT_CONFIG
        from longqc_spark.kernels import compute_stats, extract_text_batch, scrub_batch
        from perfbench import inputs

        text_col = "text"
        n_docs = meta["n_docs"]
        out: dict = {
            "session.start_s": median([a for a, _ in setups]),
            "session.first_job_s": median([b for _, b in setups]),
            "models.load_s": models_load_s,
        }

        # scan: noop-sink read of the columns the pipeline reads
        with self.tracer.span("scan.read"):
            self.describe("scan.read")
            t0 = time.perf_counter()
            docs.select("url", text_col).write.format("noop").mode("overwrite").save()
            out["scan.read_s"] = time.perf_counter() - t0

        # Arrow boundary alone: identity mapInPandas over the same columns
        schema = docs.select("url", text_col).schema
        times = []
        for i in range(3):
            with self.tracer.span("pipeline.arrow_passthrough"):
                self.describe(f"arrow_passthrough{i}")
                t0 = time.perf_counter()
                docs.select("url", text_col).mapInPandas(_identity, schema).write.format(
                    "noop"
                ).mode("overwrite").save()
                times.append(time.perf_counter() - t0)
        out["pipeline.arrow_passthrough_s"] = median(times)

        # kernels, single-thread in the Spark driver process on the workload's own batches
        batch = 2048
        pdf = pd.read_parquet(os.path.join(entry, "input"))
        batches = [pdf.iloc[i : i + batch].reset_index(drop=True) for i in range(0, min(len(pdf), 4 * batch), batch)]
        k_docs = sum(len(b) for b in batches)
        t_ext = t_stats = t_scrub = 0.0
        tokens = uniques = hits = 0
        with self.tracer.span("kernels.single_thread"):
            for b in batches:
                t0 = time.perf_counter()
                texts = extract_text_batch(b["html"])
                t1 = time.perf_counter()
                compute_stats(texts, langid_max_chars=DEFAULT_CONFIG.langid_max_chars)
                t2 = time.perf_counter()
                scrub = scrub_batch(texts, DEFAULT_CONFIG)
                t3 = time.perf_counter()
                t_ext += t1 - t0
                t_stats += t2 - t1
                t_scrub += t3 - t2
                split = texts.str.split()
                flat = pd.Series([t for toks in split for t in toks], dtype=object)
                tokens += len(flat)
                uniques += len(pd.unique(flat))
                hits += int(((scrub["pii_match_count"] > 0) | (scrub["tox_match_count"] > 0)).sum())
        out["kernels.stats_us_per_doc"] = t_stats / k_docs * 1e6
        out["kernels.scrub_us_per_doc"] = t_scrub / k_docs * 1e6
        out["kernels.extract_us_per_doc"] = t_ext / k_docs * 1e6
        out["kernels.tokens_per_doc"] = tokens / k_docs
        out["kernels.unique_token_frac"] = uniques / max(tokens, 1)
        out["kernels.scrub_hit_frac"] = hits / k_docs
        # the per-core rate the pass's kernels alone allow: parallel_eff's base
        single_docs_per_s = 1e6 / (out["kernels.stats_us_per_doc"] + out["kernels.scrub_us_per_doc"])
        out["pipeline.parallel_eff"] = result["e2e"]["docs_per_s"] / (
            self.ncpu * single_docs_per_s
        )

        out["lineage.run_s"] = commit["run_s"]
        out["lineage.resume_s"] = commit["resume_s"]
        out["lineage.out_bytes_per_doc"] = commit["out_bytes"] / n_docs
        out["lineage.files_written"] = commit["files_written"]
        out["report.summarize_s"] = commit["summarize_s"]

        # scaling: the same qc_pipeline pass on local[4] and local[1], over
        # half the input files
        scale = {}
        for cores in (4, 1):
            self.setup(cores=cores)
            d = self.load_input(entry, meta["n_files"] // 2)
            self.text_pass(d, f"scale{cores}-warmup")
            _, scale[cores] = self.text_pass(d, f"scale{cores}")
        out["pipeline.scaling_eff_1to4"] = scale[1] / (4 * scale[4])
        self.spark.stop()
        self.spark = None

        from perfbench.instrument import job_totals, read_event_log

        by_desc = read_event_log(os.path.join(self.run_dir, "events"))
        pass_tags = sorted(
            {d.split(":", 1)[0] for d in by_desc if d.startswith("pass")},
            key=lambda t: int(t[4:]),
        )
        per_pass = [
            job_totals([j for d, js in by_desc.items() if d.startswith(t + ":") for j in js])
            for t in pass_tags
        ]
        out["scan.tasks"] = job_totals(by_desc.get("scan.read", []))["tasks"]
        # compressed bytes of the scanned columns (Spark's own bytesRead is
        # not attributed reliably across local-mode task threads)
        out["scan.input_mb"] = inputs.column_bytes(entry, ["url", text_col]) / 2**20
        for key, name in (("tasks", "tasks"), ("skew", "task_skew"), ("cpu_s", "executor_cpu_s"),
                          ("gc_s", "gc_s"), ("shuffle_write_mb", "shuffle_write_mb")):
            out[f"pipeline.{name}"] = median([p[key] for p in per_pass])
        resume = job_totals(by_desc.get("commit:lineage.resume", []))
        out["lineage.rescan_frac"] = resume["input_records"] / n_docs
        out["report.jobs"] = job_totals(by_desc.get("commit:report.summarize", []))["jobs"]
        out["pipeline.worker_cpu_s"] = result["worker_cpu_s"]
        return out


def _identity(batches):
    yield from batches


def untraced_wall(workload: str, seed: int) -> tuple[float, str] | None:
    """wall_s of a saved untraced run of the same workload in this checkout
    (same seed first), for the tracing overhead."""
    res_dir = os.path.join(WORK, "results")
    names = [f"{workload}-s{seed}.json"]
    if os.path.isdir(res_dir):
        names += sorted(
            (n for n in os.listdir(res_dir) if n.startswith(f"{workload}-s")),
            key=lambda n: -os.path.getmtime(os.path.join(res_dir, n)),
        )
    for name in names:
        path = os.path.join(res_dir, name)
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)["e2e"]["wall_s"], f"saved untraced run {name}"
    return None


def stop_processes(timeout: float = 60.0) -> None:
    """Shut down the JVM this process launched and wait until every process
    it started (JVM, Python daemon and workers) has ended."""
    from perfbench.instrument import alive, proc_tree

    started = proc_tree(os.getpid())
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits at EOF on its stdin
                try:
                    proc.wait(timeout=timeout)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(map(alive, started)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(alive, started):
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["qc_text", "qc_short"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "longqc_spark", "pipeline.py")):
        log(f"longqc_spark not found beside {HERE}; run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.instrument import alive

    # scratch of runs that were killed before they could clean up
    if os.path.isdir(WORK):
        for name in os.listdir(WORK):
            if name.startswith("run-") and not alive(int(name[4:])):
                shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    configure_env(bool(args.trace), run_dir)

    e2e_units, layer_units = metric_units()
    bench = Bench(args, run_dir)
    try:
        result = bench.run()
    finally:
        if bench.spark is not None:
            bench.spark.stop()
        stop_processes()
        if args.trace:
            bench.tracer.write(
                os.path.join(WORK, "spans", f"{args.workload}-s{args.seed}-{bench.tracer.run_id}.jsonl")
            )
        shutil.rmtree(run_dir, ignore_errors=True)

    if not result["passes"]:
        log("no pass matched the oracle")
        print(json.dumps({"correct": False, "attempted": max(bench.attempted, 1),
                          "failed": max(bench.failed, 1), "metrics": {}}))
        return 1

    log("processes stopped")
    report(args, result, e2e_units, layer_units)
    values, units = (result["layers"], layer_units) if args.trace else (result["e2e"], e2e_units)
    if set(values) != set(units):
        raise RuntimeError(f"metrics {sorted(values)} differ from BENCHMARK.json {sorted(units)}")
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    if not args.trace:
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(os.path.join(WORK, "results", f"{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump(result, f, indent=1)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


def report(args, result: dict, e2e_units: dict, layer_units: dict) -> None:
    """Human summary on stderr: inputs, host context, every metric, and for
    each ratio its base."""
    m = result["meta"]
    log(f"workload {args.workload} seed {args.seed}: {m['n_docs']} docs, mean {m['mean_chars']:.0f} chars, "
        f"keep {m['n_keep']}, {result['passes']} timed passes {['%.3f' % t for t in result['pass_times']]}")
    hb, ha = result["host_before"], result["host_after"]
    log(f"host: nproc {hb['nproc']}, load1 {hb['loadavg_1m']:.2f} -> {ha['loadavg_1m']:.2f}, {hb['cpu_model']}")
    for k, v in result["e2e"].items():
        log(f"  {k:<20} {v:12.4f} {e2e_units[k]}")
    if not args.trace:
        return
    L = result["layers"]
    bases = {
        "pipeline.parallel_eff": f"docs_per_s {result['e2e']['docs_per_s']:.1f} / ({hb['nproc']} cores x "
        f"{1e6 / (L['kernels.stats_us_per_doc'] + L['kernels.scrub_us_per_doc']):.1f} single-thread stats+scrub docs/s)",
        "pipeline.scaling_eff_1to4": "local[1] pass time / (4 x local[4] pass time), same input",
        "pipeline.task_skew": "max / median task run time, dominant job of each pass",
        "kernels.unique_token_frac": f"unique tokens per 2048-doc batch / {L['kernels.tokens_per_doc']:.1f} tokens per doc",
        "kernels.scrub_hit_frac": "docs with a PII or toxicity match / docs scrubbed",
        "lineage.rescan_frac": f"records read by the resume's jobs (input rescan + staged-output read) / {m['n_docs']} docs",
    }
    for k in layer_units:
        v = L[k]
        base = f"  [{bases[k]}]" if k in bases else ""
        log(f"  {k:<30} {v:12.4f} {layer_units[k]}{base}")
    traced = result["e2e"]["wall_s"]
    base = untraced_wall(args.workload, args.seed)
    if base is None:
        log(f"  tracing overhead: no untraced {args.workload} run saved in this checkout yet; "
            f"traced wall_s {traced:.4f} s")
    else:
        log(f"  tracing overhead: traced wall_s {traced:.4f} - untraced wall_s {base[0]:.4f} "
            f"({base[1]}) = {traced - base[0]:+.4f} s")


if __name__ == "__main__":
    sys.exit(main())
