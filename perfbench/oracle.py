"""Output oracles: top-k results against the exhaustive ranked_or_vec kernel
on the same pinned seg map, and the built index against its own codec-free
postings checkpoint."""

from __future__ import annotations

import numpy as np
import pandas as pd

ORACLE_ALGO = "ranked_or_vec"  # exhaustive DAAT scoring


def _topk_rows(rows) -> list[tuple]:
    return sorted((int(q), int(r), int(d), np.float32(s))
                  for q, r, d, s in rows)


def same_topk(got, expected) -> bool:
    """Every (query_id, rank, doc_id, float32 score) equal."""
    return _topk_rows(got) == _topk_rows(expected)


def oracle_topk(spark, server, batches: list[list[list[int]]], k: int
                ) -> list[list[tuple]]:
    """Exhaustive top-k of every batch: ``_serve_kernel_rows`` with
    ranked_or_vec on the server's pinned seg map, run as one Spark job over
    round-robin partitions (independent of serve()'s cost-binned layout)."""
    from pyspark.sql import types as T

    from dint_spark.queries import TOPK_SCHEMA, _serve_kernel_rows

    seg_bc, norm_bc = server.seg_bc, server.norm_bc
    dd_bc, fd_bc = server.docs_dict_bc, server.freqs_dict_bc
    num_docs = server.num_docs
    offsets = np.cumsum([0] + [len(b) for b in batches])
    pdf = pd.DataFrame({
        "query_id": np.arange(offsets[-1], dtype=np.int64),
        "terms": [[int(t) for t in q] for b in batches for q in b]})
    schema = T.StructType([
        T.StructField("query_id", T.LongType(), False),
        T.StructField("terms", T.ArrayType(T.LongType()), False)])

    def run(frames):
        for f in frames:
            out = _serve_kernel_rows(
                zip(f["query_id"], f["terms"]), seg_bc.value, dd_bc.value,
                fd_bc.value, norm_bc.value, num_docs, np.float32,
                ORACLE_ALGO, k)
            yield pd.DataFrame(out, columns=TOPK_SCHEMA.fieldNames())

    rows = (spark.createDataFrame(pdf, schema=schema)
            .repartition(2 * spark.sparkContext.defaultParallelism)
            .mapInPandas(run, schema=TOPK_SCHEMA).collect())
    out: list[list[tuple]] = [[] for _ in batches]
    for q, r, d, s in rows:
        b = int(np.searchsorted(offsets, q, side="right")) - 1
        out[b].append((q - int(offsets[b]), r, d, s))
    return out


def postings_match(decoded: pd.DataFrame, checkpoint: pd.DataFrame) -> bool:
    """Decoded (term_id, doc_id, freq) rows equal the codec-free postings
    checkpoint (term_id, doc_ids[], freqs[])."""
    n = checkpoint["doc_ids"].map(len).to_numpy()
    want = pd.DataFrame({
        "term_id": np.repeat(checkpoint["term_id"].to_numpy(np.int64), n),
        "doc_id": np.concatenate(checkpoint["doc_ids"].to_numpy()),
        "freq": np.concatenate(checkpoint["freqs"].to_numpy()),
    })
    cols = ["term_id", "doc_id", "freq"]
    got = decoded[cols].astype(np.int64).sort_values(cols[:2])
    want = want.astype(np.int64).sort_values(cols[:2])
    return len(got) == len(want) and bool(
        (got.to_numpy() == want.to_numpy()).all())


def stored_bytes(segments: pd.DataFrame) -> dict:
    """Posting count and docs/freqs stream bytes recomputed from the stored
    segment rows: a block's docs stream ends where its freqs stream
    starts."""
    docs = sum(int((np.asarray(f) - np.asarray(e)).sum()) for e, f in
               zip(segments["endpoints"], segments["freq_offsets"]))
    total = int(segments["payload"].map(len).sum())
    return {"postings": int(segments["n"].sum()), "docs_bytes": docs,
            "freqs_bytes": total - docs}
