"""dint_spark benchmark: one command, two named workloads, every result
checked against an oracle.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 16 --trace 0

Workloads (perfbench/README.md gives the rationale):

  query-log  250-query batches through run_queries (shuffle placement)
  serve      2,000-query batches through a pinned BroadcastQueryServer

A run starts one Spark driver on local[nproc] over the checkout's prepared
index (prepare.py builds it on first use), then drives one closed-loop
client with one batch in flight for ``--seconds``. The last line of stdout
is one JSON object {"correct", "attempted", "failed", "metrics"}:
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ledger (Spark event log joined with spans recorded around the calls into
the program). The line before it records the host.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

WORKLOADS = ("query-log", "serve")
DOCS = 5000
BATCH = {"query-log": 250, "serve": 2000}  # queries per timed operation
# untimed full-size batches before the loop: plans, JIT, Python workers,
# decode caches (query-log's second batch still runs up to 1.7x slow)
WARMUP_BATCHES = {"query-log": 3, "serve": 2}
TOPK = 10
ALGO = "block_max_wand_vec"
ENCODE_SAMPLE_MOD = 16  # codec solo encode: lists with term_id % 16 == 0

END_TO_END = {
    "setup_s": "s",
    "batch_s_p50": "s",
    "qps": "1/s",
    "peak_pss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "index.corpus_s": "s",
    "index.dicts_s": "s",
    "index.encode_s": "s",
    "index.encode_bucket_s_max": "s",
    "codec.encode_ints_per_s_solo": "ints/s",
    "codec.decode_ints_per_s_solo": "ints/s",
    "codec.docs_bpi": "bits/posting",
    "codec.freqs_bpi": "bits/posting",
    "queries.pin_s": "s",
    "queries.pinned_bytes": "bytes",
    "queries.prologue_s": "s",
    "queries.kernel_s_solo": "s",
    "queries.shuffle_amplification": "ratio",
    "spark.floor_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.deserialize_s": "s",
    "spark.result_serialize_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.shuffle_write_s": "s",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.total_s": "s",
    "python.data_sent_bytes": "bytes",
    "python.data_received_bytes": "bytes",
    "driver.self_s": "s",
    "ledger.residual_frac": "ratio",
    "ledger.batch_s_p50": "s",
}


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _took(span: dict) -> float:
    return span["end"] - span["start"]


def run_workload(spark, workload: str, seed: int, seconds: float,
                 trace: bool, work: str, session_s: float, index_dir: str,
                 mem, corrupt: bool = False) -> dict:
    """Set up ``workload`` on the prepared index, drive it for ``seconds``
    and check every output. ``mem`` is the running MemorySampler; it stops when
    the timed loop ends. ``corrupt`` alters one returned score before its
    check, so a test can show that the oracle catches it."""
    import bench
    from dint_spark.index import load_index
    from dint_spark.queries import BroadcastQueryServer, run_queries

    from ledger import Tracer
    from oracle import oracle_topk, same_topk
    from prepare import read_record

    sc = spark.sparkContext
    tracer = Tracer()
    build = read_record(index_dir)
    idx = load_index(spark, index_dir)
    vocab = pd.read_parquet(os.path.join(index_dir, "vocab.parquet"),
                            columns=["term_id", "df"])

    def group(name: str) -> None:
        if trace:
            sc.setJobGroup(name, name)

    def draw(i: int) -> list[list[int]]:
        """Batch i of this run (warm-up batches first), seeded by [seed, i]."""
        return bench.make_query_workload(vocab, BATCH[workload], [seed, i])

    # ---- set-up: pin (serve), untimed full-size warm-up batches
    setup_spans = []
    server = None
    if workload == "serve":
        group("setup.pin")
        with tracer.span("queries.pin") as sp:
            server = BroadcastQueryServer(spark, idx)
        setup_spans.append(sp)

        def submit(qs):
            return server.serve(qs, algo=ALGO, k=TOPK)
    else:
        def submit(qs):
            return run_queries(spark, idx, qs, algo=ALGO, k=TOPK)

    group("setup.warmup")
    with tracer.span("warmup") as sp:
        for i in range(WARMUP_BATCHES[workload]):
            submit(draw(i)).collect()
    setup_spans.append(sp)
    setup_s = session_s + sum(_took(s) for s in setup_spans)

    # ---- timed closed loop: one batch in flight
    ops: list[dict] = []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end:
        i = len(ops) + 1
        name = f"{workload}.op{i}"
        op = {"name": name, "queries": draw(WARMUP_BATCHES[workload] + i)}
        group(name)
        try:
            with tracer.span(name) as sp:
                with tracer.span(name + ".prologue"):
                    df = submit(op["queries"])
                with tracer.span(name + ".action"):
                    rows = df.collect()
            op["rows"] = [tuple(r) for r in rows]
            op["wall_s"] = _took(sp)
        except Exception:  # a failed op is counted, never dropped
            op["error"] = traceback.format_exc()
            print(op["error"], file=sys.stderr)
        ops.append(op)
    peak_pss_mb = mem.stop()
    group("bench")  # nothing after this is an op

    # ---- oracles (untimed): exhaustive ranked_or_vec on the same seg map
    t_check = time.perf_counter()
    if server is None:
        with tracer.span("queries.pin"):
            server = BroadcastQueryServer(spark, idx)
    done = [op for op in ops if "rows" in op]
    if corrupt and done and done[0]["rows"]:
        q, r, d, s = done[0]["rows"][0]
        done[0]["rows"][0] = (q, r, d, float(np.nextafter(np.float32(s),
                                                          np.float32(0))))
    expected = oracle_topk(spark, server, [op["queries"] for op in done],
                           TOPK)
    for op, exp in zip(done, expected):
        op["ok"] = same_topk(op["rows"], exp)
    check_s = time.perf_counter() - t_check

    # the prepared index's build checks count as one more operation
    failed = sum(1 for op in ops if not op.get("ok")) + (not build["build_ok"])
    walls = [op["wall_s"] for op in done]
    metrics = {
        "setup_s": setup_s,
        "batch_s_p50": _median(walls),
        "qps": (sum(len(op["queries"]) for op in done) / sum(walls)
                if walls else 0.0),
        "peak_pss_mb": peak_pss_mb,
    }
    result = {"correct": failed == 0, "attempted": len(ops) + 1,
              "failed": failed, "metrics": metrics, "walls": walls,
              "check_s": check_s,
              "setup_spans": {s["name"]: _took(s) for s in setup_spans}}
    if trace:
        layers, ledger = trace_layers(spark, idx, server, build, done,
                                      tracer, work, session_s)
        result.update(metrics=layers, end_to_end_traced=metrics,
                      ledger=ledger, spans=tracer.with_self_times())
    return result


def trace_layers(spark, idx, server, build: dict, done: list[dict], tracer,
                 work: str, session_s: float) -> tuple[dict, list[dict]]:
    """Per-layer metrics: run-level ones, plus the median over ops of each
    op's ledger record (event-log jobs attributed by the op's time
    window)."""
    from dint_spark.queries import _serve_kernel_rows, decode_rate_stats

    from ledger import EventLog

    seg_map = server.seg_bc.value
    for op in done:
        t0 = time.perf_counter()
        _serve_kernel_rows(enumerate(op["queries"]), seg_map, idx.docs_dict,
                           idx.freqs_dict, idx.norm_lens, idx.num_docs,
                           np.float32, ALGO, TOPK)
        op["kernel_s_solo"] = time.perf_counter() - t0
        op["floor_s"] = floor_job(spark, len(op["queries"]))
    log = EventLog(os.path.join(work, "eventlog"))
    ledger = []
    for op in done:
        sp = tracer.get(op["name"])
        pro = tracer.get(op["name"] + ".prologue")
        lm = log.layer_metrics(sp["start"], sp["end"],
                               extra=[(pro["start"], pro["end"])])
        terms = {int(t) for q in op["queries"] for t in q}
        payload = sum(len(p[6]) for t in terms for p in seg_map.get(t, ()))
        ledger.append({
            "op": op["name"],
            "wall_s": op["wall_s"],
            "queries.prologue_s": _took(pro),
            "queries.kernel_s_solo": op["kernel_s_solo"],
            "spark.floor_s": op["floor_s"],
            "queries.shuffle_amplification":
                lm["spark.shuffle_read_bytes"] / payload if payload else 0.0,
            "driver.self_s": op["wall_s"] - lm["spark.job_union_s"],
            "ledger.residual_frac":
                (op["wall_s"] - lm["explained_s"]) / op["wall_s"],
            **{k: v for k, v in lm.items() if k in PER_LAYER},
        })
    layers = {
        "session.start_s": session_s,
        "index.corpus_s": build["corpus_s"],
        "index.dicts_s": build["dicts_s"],
        "index.encode_s": build["build_s"] - build["corpus_s"]
        - build["dicts_s"],
        "index.encode_bucket_s_max": max(build["bucket_s"]),
        "codec.encode_ints_per_s_solo": encode_rate_solo(idx),
        "codec.decode_ints_per_s_solo":
            decode_rate_stats(idx, parallelism=1)["ints_per_sec_core"],
        "codec.docs_bpi": build["docs_bpi"],
        "codec.freqs_bpi": build["freqs_bpi"],
        "queries.pin_s": _took(tracer.get("queries.pin")),
        "queries.pinned_bytes": sum(len(p[6]) for parts in seg_map.values()
                                    for p in parts),
        "ledger.batch_s_p50": _median([op["wall_s"] for op in done]),
    }
    for name in PER_LAYER:
        if name not in layers:
            layers[name] = _median([r[name] for r in ledger])
    return layers, ledger


def encode_rate_solo(idx, chunk: int = 256) -> float:
    """Single-thread encode_lists_batch with the built dictionaries over a
    fixed sample of the postings checkpoint, in ints (docs + freqs) per
    second."""
    from dint_spark.dint.codec import encode_lists_batch

    ckpt = pd.read_parquet(os.path.join(idx.dir, "postings.parquet"),
                           columns=["term_id", "doc_ids", "freqs"])
    ckpt = ckpt[ckpt["term_id"] % ENCODE_SAMPLE_MOD == 0]
    docs = [np.asarray(d, dtype=np.int64) for d in ckpt["doc_ids"]]
    freqs = [np.asarray(f, dtype=np.int64) for f in ckpt["freqs"]]
    t0 = time.perf_counter()
    for lo in range(0, len(docs), chunk):
        encode_lists_batch(docs[lo:lo + chunk], freqs[lo:lo + chunk],
                           idx.docs_dict, idx.freqs_dict)
    return 2 * sum(len(d) for d in docs) / (time.perf_counter() - t0)


def floor_job(spark, n_queries: int) -> float:
    """Wall of a no-op mapInPandas over a query-shaped DataFrame with one
    partition per core: Spark's fixed cost of one Python UDF job."""
    from pyspark.sql import types as T

    parts = spark.sparkContext.defaultParallelism
    pdf = pd.DataFrame({"query_id": np.arange(n_queries, dtype=np.int64),
                        "terms": [[1, 2, 3]] * n_queries})
    schema = T.StructType([
        T.StructField("query_id", T.LongType(), False),
        T.StructField("terms", T.ArrayType(T.LongType()), False)])
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(-(-n_queries // parts)))
    try:
        df = spark.createDataFrame(pdf, schema=schema)
    finally:
        spark.conf.set(key, old)

    def noop(batches):
        for b in batches:
            yield b.iloc[:0]

    t0 = time.perf_counter()
    df.mapInPandas(noop, schema=schema).collect()
    return time.perf_counter() - t0


def result_line(result: dict, trace: bool) -> dict:
    """The run's last stdout line: checks, and every end-to-end (untraced)
    or per-layer (traced) metric by name with its unit."""
    names = PER_LAYER if trace else END_TO_END
    return {"correct": result["correct"], "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": {k: {"value": float(result["metrics"][k]), "unit": u}
                        for k, u in names.items()}}


def host_context() -> dict:
    """What identifies the host a run was taken on, including the
    single-core probe (recorded, never waited on). main() adds the CPU
    steal share over the run."""
    import pyspark

    import bench

    ncpu = len(os.sched_getaffinity(0))
    return {"nproc": ncpu, "master": f"local[{ncpu}]",
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "probe": bench.host_health_probe()}


def cpu_times() -> list[int]:
    """The host's summed CPU time counters from /proc/stat: user, nice,
    system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time taken by the hypervisor between two
    cpu_times() readings. Batch walls track it: on a shared 4-core host,
    runs with 9-12% steal read 33-51% slower batches than runs with 1-7%."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import bench  # noqa: F401
        import dint_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from prepare import ensure_index
    from procs import MemorySampler, start_session, stop_session

    index_dir = ensure_index(DOCS)
    host = host_context()
    tag = f"{args.workload}-{args.seed}-trace{args.trace}"
    work = os.path.join(OUT, f"work-{tag}-{os.getpid()}")
    cpu0 = cpu_times()
    mem = MemorySampler().start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, event_log=bool(args.trace))
        session_s = time.perf_counter() - t0
        result = run_workload(spark, args.workload, args.seed, args.seconds,
                              bool(args.trace), work, session_s, index_dir,
                              mem)
    finally:
        mem.stop()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    host["cpu_steal_frac"] = steal_frac(cpu0, cpu_times())
    with open(os.path.join(OUT, f"run-{tag}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "seconds": args.seconds, "host": host, **result}, f,
                  indent=1, default=float)
    print(json.dumps({"host": host}))
    print(json.dumps(result_line(result, bool(args.trace))), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
