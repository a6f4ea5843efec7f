"""Per-seed input directories, written once and reused.

``prepare(workload, seed, cache_root, seconds)`` returns a directory holding the
workload's generated inputs and the ground truth its checks need. A
directory is complete once ``ready.json`` exists, so an interrupted
write is redone. At most ``KEEP`` seed directories stay cached.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

KEEP = 3

CURATION = dict(n_base=1200, n_exact=60, n_near=60, n_related=120, n_low=40)
STREAM = dict(docs_per_batch=100, n_near=12, n_queries=20, n_train=2000)
#: nominal seconds per warm micro-batch (search included) on a 4-core
#: host, where one takes 5-7 s
STREAM_BATCH_S = 6
IVFPQ = dict(nlist=16, m_sub=16, ksub=32)


def stream_batches(seconds: float) -> int:
    """Micro-batches per stream: the cold one (run in set-up) plus the
    warm ones of the timed region, at least one."""
    return 1 + max(1, int(seconds // STREAM_BATCH_S))


def _curation(out: str, seed: int, seconds: float) -> dict:
    table, truth = gen.curation_corpus(seed, **CURATION)
    pq.write_table(table, os.path.join(out, "documents.parquet"))
    return truth


def _stream(out: str, seed: int, seconds: float) -> dict:
    batches, X, T, Q, pairs = gen.stream_inputs(seed, stream_batches(seconds), **STREAM)
    src = os.path.join(out, "stream_in")
    os.makedirs(src)
    for b, tab in enumerate(batches):
        path = os.path.join(src, f"batch-{b:05d}.parquet")
        pq.write_table(tab, path)
        # the file source admits files oldest first
        os.utime(path, (1_600_000_000 + b, 1_600_000_000 + b))
    n = len(X)
    C, B = gen.train_ivfpq(seed, T, **IVFPQ)
    pq.write_table(pa.table({
        "cell": pa.array(range(len(C)), pa.int32()),
        "centroid": pa.array(list(C), pa.list_(pa.float64())),
    }), os.path.join(out, "centroids.parquet"))
    s_idx, j_idx = np.divmod(np.arange(B.shape[0] * B.shape[1]), B.shape[1])
    pq.write_table(pa.table({
        "s": pa.array(s_idx, pa.int32()), "j": pa.array(j_idx, pa.int32()),
        "c": pa.array(list(B.reshape(-1, B.shape[2])), pa.list_(pa.float64())),
    }), os.path.join(out, "codebooks.parquet"))
    qids = np.arange(10 * n, 10 * n + len(Q))
    qt = gen.emb_table(qids, Q).rename_columns(["query_id", "embedding"])
    pq.write_table(qt, os.path.join(out, "queries.parquet"))
    per = STREAM["docs_per_batch"]
    topk = [gen.exact_topk(X[: (b + 1) * per], Q, 10).tolist() for b in range(len(batches))]
    return {"n_batches": len(batches), "docs_per_batch": per, "pairs": pairs,
            "query_ids": qids.tolist(), "topk": topk}


_MAKERS = {"curation_batch": _curation, "stream_ingest": _stream}
_TRUTH_FILE = {"curation_batch": "curation.json", "stream_ingest": "stream.json"}


def _code_hash() -> str:
    """Hash of the generator's code, so inputs cached by another
    version of it are never reused."""
    h = hashlib.sha256()
    for mod in (gen.__file__, __file__):
        with open(mod, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def prepare(workload: str, seed: int, cache_root: str, seconds: float) -> str:
    out = os.path.join(cache_root, f"{workload}-seed{seed}-s{seconds:g}-{_code_hash()}")
    if os.path.exists(os.path.join(out, "ready.json")):
        os.utime(out)
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    truth = _MAKERS[workload](out, seed, seconds)
    with open(os.path.join(out, _TRUTH_FILE[workload]), "w") as f:
        json.dump(truth, f)
    with open(os.path.join(out, "ready.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed}, f)
    _evict(cache_root)
    return out


def _evict(cache_root: str) -> None:
    dirs = sorted((os.path.join(cache_root, d) for d in os.listdir(cache_root)),
                  key=os.path.getmtime)
    for d in dirs[:-KEEP]:
        shutil.rmtree(d, ignore_errors=True)
