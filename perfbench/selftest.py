"""Self-test of the benchmark at tiny scale (a 300-page corpus).

    python3 perfbench/selftest.py

With one shared Spark driver it checks that:
  - BENCHMARK.json names exactly the workloads and metrics run.py reports;
  - each workload runs briefly, untraced and traced, passes its oracles and
    reports every named metric with its unit;
  - a result with one score moved by one float32 ulp is counted as failed;
  - a dropped or altered posting fails the build oracle.
Then, without Spark, that run.py exits non-zero and prints no result in a
directory holding only BENCHMARK.json and the benchmark's files.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DOCS = 300


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def check_spec(run) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check([w["name"] for w in spec["workloads"]] == list(run.WORKLOADS),
          "BENCHMARK.json workloads match run.WORKLOADS")
    for key, names in (("end_to_end", run.END_TO_END),
                       ("per_layer", run.PER_LAYER)):
        check({m["name"]: m["unit"] for m in spec[key]} == names,
              f"BENCHMARK.json {key} names and units match run.py")


def check_workloads(run, spark, work: str, index_dir: str) -> None:
    from procs import MemorySampler

    for workload in run.WORKLOADS:
        for trace in (False, True):
            res = run.run_workload(spark, workload, 1, 1.0, trace, work, 0.0,
                                   index_dir, MemorySampler().start())
            line = json.loads(json.dumps(run.result_line(res, trace)))
            names = run.PER_LAYER if trace else run.END_TO_END
            tag = f"{workload} trace={int(trace)}"
            check(line["correct"] and line["failed"] == 0
                  and line["attempted"] >= 2, f"{tag}: every output correct")
            check({k: v["unit"] for k, v in line["metrics"].items()} == names
                  and all(isinstance(v["value"], float)
                          for v in line["metrics"].values()),
                  f"{tag}: every metric printed with its unit")
    res = run.run_workload(spark, "serve", 2, 1.0, False, work, 0.0,
                           index_dir, MemorySampler().start(), corrupt=True)
    check(res["failed"] >= 1 and not res["correct"],
          "a score off by one ulp counts as a failed operation")


def check_build_oracle(spark, index_dir: str) -> None:
    import pandas as pd

    from dint_spark.index import load_index
    from dint_spark.queries import decoded_postings

    from oracle import postings_match

    decoded = decoded_postings(load_index(spark, index_dir)).toPandas()
    ckpt = pd.read_parquet(os.path.join(index_dir, "postings.parquet"),
                           columns=["term_id", "doc_ids", "freqs"])
    check(postings_match(decoded, ckpt), "decoded postings match checkpoint")
    check(not postings_match(decoded.iloc[1:], ckpt),
          "a dropped posting fails the build oracle")
    bumped = decoded.copy()
    bumped.loc[bumped.index[0], "freq"] += 1
    check(not postings_match(bumped, ckpt),
          "an altered frequency fails the build oracle")


def check_bare_directory() -> None:
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, "out")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        os.makedirs(os.path.join(d, "perfbench"))
        for f in glob.glob(os.path.join(HERE, "*")):
            if os.path.isfile(f):
                shutil.copy(f, os.path.join(d, "perfbench"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "serve",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=d, capture_output=True, text=True, timeout=180)
        check(p.returncode != 0 and '"metrics"' not in p.stdout,
              "bare directory: non-zero exit and no result")


def main() -> int:
    sys.path[:0] = [HERE, ROOT]
    import run
    from prepare import ensure_index, read_record
    from procs import start_session, stop_session

    check_spec(run)
    index_dir = ensure_index(DOCS)
    check(read_record(index_dir)["build_ok"],
          "tiny index passes its build checks")
    work = os.path.join(HERE, "out", f"selftest-{os.getpid()}")
    spark = start_session(work, event_log=True)
    try:
        check_workloads(run, spark, work, index_dir)
        check_build_oracle(spark, index_dir)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    check_bare_directory()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
