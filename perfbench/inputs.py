"""Seeded workload inputs and their oracle labels, cached per (workload, seed).

Every input is generated with ``corpus.generate_corpus`` before any timing
starts, in ``n_files`` independent chunks written as one parquet file each
(one file = one scan split, so the read parallelizes over at least 4 x cores
tasks). The chunks are generated in child processes; each child also runs the
oracle, ``labeler.label_corpus``, over its own chunk, so the reference labels
are computed once per seed and cached beside the input.

Layout of one cached input (``<cache>/<workload>-s<seed>-n<docs>-f<files>/``):

* ``input/part-XXXX.parquet``: what the program reads.
* ``oracle/part-XXXX.parquet``: ``url, keep, scrubbed_text`` from the labeler.
* ``meta.json``: doc count, keep count, mean chars, class mix. Written last,
  so its presence marks a complete cache entry.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

# Docs generated per input. qc_short then cuts each doc at line boundaries
# into pieces of at least SHORT_MIN_CHARS chars.
WORKLOADS: dict[str, int] = {"qc_text": 6144, "qc_short": 1536}
SHORT_MIN_CHARS = 80
COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def split_short(pdf):
    """Cut each doc at line boundaries into pieces of >= SHORT_MIN_CHARS
    chars (a short tail joins the piece before it), re-rendered as html.
    The text column is the extraction of that html, as in generate_corpus."""
    import pandas as pd

    from longqc_spark.kernels import extract_text_batch

    rows = []
    for url, ts, text, lang in zip(pdf["url"], pdf["warc_ts"], pdf["text"], pdf["lang"]):
        pieces, cur = [], []
        for line in text.split("\n"):
            cur.append(line)
            if len("\n".join(cur)) >= SHORT_MIN_CHARS:
                pieces.append(cur)
                cur = []
        if cur:
            if pieces:
                pieces[-1].extend(cur)
            else:
                pieces.append(cur)
        for j, piece in enumerate(pieces):
            html = "<html><body>" + "".join(f"<p>{ln}</p>" for ln in piece) + "</body></html>"
            rows.append((f"{url}/s{j}", ts, html.encode("utf-8"), lang))
    out = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "lang"])
    out["text"] = extract_text_batch(out["html"])
    return out[COLUMNS]

def make_chunk(workload: str, seed: int, chunk: int, n_docs: int, out_dir: str) -> dict:
    """Generate one chunk, label it with the oracle, write both."""
    from longqc_spark import corpus, labeler

    pdf = corpus.generate_corpus(n_docs, seed=seed * 1009 + chunk)
    pdf["url"] = pdf["url"] + f"-c{chunk}"
    classes = Counter(u.split("/")[3] for u in pdf["url"])
    if workload == "qc_short":
        pdf = split_short(pdf)
    oracle = labeler.label_corpus(pdf)[["url", "keep", "scrubbed_text"]]
    name = f"part-{chunk:04d}.parquet"
    pdf[COLUMNS].to_parquet(
        os.path.join(out_dir, "input", name), index=False, coerce_timestamps="us"
    )
    oracle.to_parquet(os.path.join(out_dir, "oracle", name), index=False)
    return {
        "n_docs": len(pdf),
        "n_keep": int(oracle["keep"].sum()),
        "chars": int(pdf["text"].str.len().sum()),
        "classes": dict(classes),
    }


def _run_chunks(workload: str, seed: int, sizes: list[int], out_dir: str, procs: int) -> list[dict]:
    """make_chunk for every chunk, spread over ``procs`` child processes;
    waits for every child."""
    children = []
    for k in range(min(procs, len(sizes))):
        chunks = [f"{i}:{sizes[i]}" for i in range(k, len(sizes), procs)]
        children.append(subprocess.Popen(
            [sys.executable, "-m", "perfbench.inputs", workload, str(seed), out_dir, *chunks],
            stdout=subprocess.PIPE,
        ))
    results, failed = [], False
    for child in children:
        out, _ = child.communicate()
        failed |= child.returncode != 0
        if not failed:
            results += [json.loads(line) for line in out.splitlines()]
    if failed:
        raise RuntimeError(f"generating the {workload} input failed")
    return results


def prepare(workload: str, seed: int, cache_root: str, n_files: int, procs: int) -> tuple[str, dict]:
    """Return (entry dir, meta) for the input, generating it if not cached."""
    n_want = WORKLOADS[workload]
    entry = os.path.join(cache_root, f"{workload}-s{seed}-n{n_want}-f{n_files}")
    meta_path = os.path.join(entry, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return entry, json.load(f)
    shutil.rmtree(entry, ignore_errors=True)
    os.makedirs(os.path.join(entry, "input"))
    os.makedirs(os.path.join(entry, "oracle"))
    per = [n_want // n_files + (i < n_want % n_files) for i in range(n_files)]
    parts = _run_chunks(workload, seed, per, entry, procs)
    classes: Counter = Counter()
    for p in parts:
        classes.update(p["classes"])
    n_docs = sum(p["n_docs"] for p in parts)
    meta = {
        "workload": workload,
        "seed": seed,
        "n_files": n_files,
        "generated_docs": n_want,
        "n_docs": n_docs,
        "n_keep": sum(p["n_keep"] for p in parts),
        "mean_chars": sum(p["chars"] for p in parts) / n_docs,
        "class_mix": {k: round(v / n_want, 4) for k, v in sorted(classes.items())},
        "input_mb": sum(
            os.path.getsize(os.path.join(entry, "input", n))
            for n in os.listdir(os.path.join(entry, "input"))
        )
        / 2**20,
    }
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    os.replace(tmp, meta_path)
    return entry, meta



def column_bytes(entry: str, columns: list[str]) -> int:
    """Compressed bytes of ``columns`` summed over the input's files."""
    import pyarrow.parquet as pq

    total = 0
    input_dir = os.path.join(entry, "input")
    for name in os.listdir(input_dir):
        md = pq.ParquetFile(os.path.join(input_dir, name)).metadata
        for rg in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(rg).column(c)
                if col.path_in_schema in columns:
                    total += col.total_compressed_size
    return total


if __name__ == "__main__":
    # child process: python -m perfbench.inputs WORKLOAD SEED OUT_DIR CHUNK:DOCS...
    wl, seed, out = sys.argv[1:4]
    for spec in sys.argv[4:]:
        chunk, n = spec.split(":")
        print(json.dumps(make_chunk(wl, int(seed), int(chunk), int(n), out)), flush=True)
