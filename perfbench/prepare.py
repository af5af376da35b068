"""Build the benchmark's index once per checkout, and check it.

    python3 perfbench/prepare.py OUT_DIR DOCS

The index holds a fixed corpus: DOCS Zipfian synthetic pages drawn with
CORPUS_SEED. The workloads' ``--seed`` draws only the query batches, so one
build serves every run in a checkout. The build runs in its own Spark
driver, so every timed run starts from an equally cold JVM. Its record
(``build.json``: step walls, Spark/Python ledger, stream bytes, checks) is
written next to the index.

Checks: the full decode (``decoded_postings``) equals the build's codec-free
``postings.parquet`` checkpoint; the manifest's stream bytes equal those
recomputed from the stored segments; and those bytes equal the pinned
values in EXPECTED_BYTES, because DINT encoding is byte-identical.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
BUILD_RECORD = "build.json"

CORPUS_SEED = 42
BUCKETS = 8  # IndexConfig.num_buckets
# (postings, docs stream bytes, freqs stream bytes) per corpus size
EXPECTED_BYTES = {
    5000: (458204, 294146, 54309),
    300: (27370, 11599, 9981),
}


def source_key(docs: int) -> str:
    """Hash of the program's sources and the corpus parameters: an index
    built by other code is never reused."""
    h = hashlib.sha256(f"{docs}-{CORPUS_SEED}-{BUCKETS}".encode())
    paths = [os.path.join(ROOT, "bench.py")]
    for base, _, files in os.walk(os.path.join(ROOT, "dint_spark")):
        paths += [os.path.join(base, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def ensure_index(docs: int) -> str:
    """The checked index for ``docs`` pages, built in a child process on
    first use."""
    path = os.path.join(OUT, f"index-{docs}-{source_key(docs)}")
    if not os.path.exists(os.path.join(path, BUILD_RECORD)):
        subprocess.run([sys.executable, os.path.abspath(__file__), path,
                        str(docs)], stdout=sys.stderr, check=True)
    return path


def read_record(index_dir: str) -> dict:
    with open(os.path.join(index_dir, BUILD_RECORD)) as f:
        return json.load(f)


def build_checked(out_dir: str, docs: int) -> dict:
    from dint_spark.corpus import generate_pages
    from dint_spark.index import IndexConfig, build_index
    from dint_spark.queries import decoded_postings

    from ledger import EventLog, Tracer
    from oracle import postings_match, stored_bytes
    from procs import start_session, stop_session

    work, tmp = out_dir + ".work", out_dir + ".tmp"
    for d in (work, tmp):
        shutil.rmtree(d, ignore_errors=True)
    tracer = Tracer()
    spark = start_session(work, event_log=True)
    try:
        par = spark.sparkContext.defaultParallelism
        with tracer.span("index.build") as sp:
            idx = build_index(
                spark,
                generate_pages(spark, docs, seed=CORPUS_SEED, partitions=par),
                tmp, IndexConfig(num_buckets=BUCKETS, input_tag="perfbench"))
        decoded = decoded_postings(idx, parallelism=2 * par).toPandas()
        spark_layers = EventLog(os.path.join(work, "eventlog")).layer_metrics(
            sp["start"], sp["end"])
    finally:
        stop_session(spark)
    checkpoint = pd.read_parquet(os.path.join(tmp, "postings.parquet"),
                                 columns=["term_id", "doc_ids", "freqs"])
    stored = stored_bytes(pd.read_parquet(
        os.path.join(tmp, "segments"),
        columns=["n", "endpoints", "freq_offsets", "payload"]))
    buckets = idx.manifest["buckets"].values()
    manifest = {"postings": sum(b["postings"] for b in buckets),
                "docs_bytes": sum(b["docs_bytes"] for b in buckets),
                "freqs_bytes": sum(b["freqs_bytes"] for b in buckets)}
    checks = {
        "decoded_equals_checkpoint": postings_match(decoded, checkpoint),
        "manifest_equals_stored": manifest == stored,
        "bytes_equal_expected":
            tuple(stored.values()) == EXPECTED_BYTES[docs],
    }
    steps = idx.manifest["steps"]
    record = {
        "docs": docs, "num_docs": idx.num_docs, **stored,
        "docs_bpi": stored["docs_bytes"] * 8 / stored["postings"],
        "freqs_bpi": stored["freqs_bytes"] * 8 / stored["postings"],
        "build_s": sp["end"] - sp["start"],
        "corpus_s": steps["corpus"]["wall_s"],
        "dicts_s": steps["dicts"]["wall_s"],
        "bucket_s": [b["wall_s"] for b in buckets],
        "spark": spark_layers, "checks": checks,
        "build_ok": all(checks.values()),
    }
    with open(os.path.join(tmp, BUILD_RECORD), "w") as f:
        json.dump(record, f, indent=1)
    os.rename(tmp, out_dir)
    shutil.rmtree(work, ignore_errors=True)
    return record


if __name__ == "__main__":
    sys.path[:0] = [HERE, ROOT]
    rec = build_checked(sys.argv[1], int(sys.argv[2]))
    print(json.dumps({k: v for k, v in rec.items() if k != "spark"}))
