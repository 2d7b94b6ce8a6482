"""Seeded input generator for the workload benchmark.

Everything a workload feeds the engine comes from here, derived from one
integer seed: the base tables (written as parquet in the engine's fixture
layout), the serve request stream, the ingest micro-batches and the
curated-refresh slices. The same seed gives byte-identical inputs, and
``digest_streams`` fingerprints each stream so two runs (for instance on
a parent and a child commit) can be shown to have seen the same inputs.

Run standalone to print the digests of one seed's streams:

    python3 perfbench/gen.py --seed 7 [--scale 1.0]

The stream sizes below are the ones the workloads use, so the printed
digests match the ``inputs`` digests in a run's record.
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import json
import os
from dataclasses import dataclass
from itertools import combinations

import numpy as np

# The 31-word vocabulary of the engine's document fixtures: C(31, 3) =
# 4,495 distinct three-term query keys, far more than the engine's
# 256-entry plan memo holds.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window index"
).split()
assert len(VOCAB) == 31

LANGS = ("en", "de", "fr", "it", "nl")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
STATUSES = ("F", "O", "P")

# Row counts of the sf0.1 fixture tables (scale 1.0).
N_VECTORS = 2_000
DIM = 64
N_DOCS = 5_000
N_ORDERS = 150_000
N_EVENTS = 100_000
N_CLUSTERS = 16
N_LABELS = 5

# Serve key pools, larger than the plan memo (256 entries), so
# Zipf-skewed draws give both memo hits and misses. The term pool is a
# seeded sample of the 4,495 three-term keys.
VEC_POOL = 1_024
TERM_POOL = 1_024
RECO_POOL = 512
ZIPF_S = 1.1

SERVE_KINDS = (
    "knn",
    "recommend",
    "bm25",
    "bm25_filtered",
    "hybrid",
    "collection_search",
    "retrieve",
    "scroll",
    "browse",
)

# Stream sizes. A run uses a few dozen serve requests, at most a few
# refresh slices and every ingest batch; the rest of each stream is never
# read.
N_REQUESTS = 200
N_SLICES = 8
SLICE_FRAC = 0.1
N_INGEST = 1
INGEST_FRAC = 0.05
# kNN queries whose recall@10 against brute force is measured once per
# run, outside the timed window
N_RECALL = 20
# hybrid queries served in one batch call in traced runs
N_HYBRID_BATCH = 8


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so adding a stream never
    shifts the values of another."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


@functools.lru_cache(maxsize=None)
def _zipf_p(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return w / w.sum()


def _zipf_index(rng: np.random.Generator, n: int, size: int) -> np.ndarray:
    """Ranks in [0, n) drawn with P(rank r) proportional to 1/(r+1)^s."""
    return rng.choice(n, size=size, p=_zipf_p(n))


def _digest(obj) -> str:
    h = hashlib.sha256()

    def feed(x):
        if isinstance(x, np.ndarray):
            h.update(f"{x.dtype}{x.shape}".encode())
            h.update(np.ascontiguousarray(x).tobytes())
        elif isinstance(x, dict):
            for k in sorted(x):
                h.update(repr(k).encode())
                feed(x[k])
        elif isinstance(x, (list, tuple)):
            h.update(b"[")
            for v in x:
                feed(v)
            h.update(b"]")
        else:
            h.update(repr(x.item() if isinstance(x, np.generic) else x).encode())

    feed(obj)
    return h.hexdigest()[:16]


# ------------------------------------------------------------------ tables


@dataclass
class Tables:
    """Base tables of one seed, as numpy columns."""

    vectors: np.ndarray  # (n_vectors, DIM) float32
    labels: np.ndarray  # (n_vectors,) int32
    doc_tokens: list[list[str]]
    doc_lang: list[str]
    orders: dict[str, np.ndarray]
    events: dict[str, np.ndarray]


def make_tables(seed: int, scale: float = 1.0) -> Tables:
    n_vec = max(64, int(N_VECTORS * scale))
    n_docs = max(64, int(N_DOCS * scale))
    n_ord = max(256, int(N_ORDERS * scale))
    n_ev = max(256, int(N_EVENTS * scale))

    r = _rng(seed, "vectors")
    centers = r.normal(size=(N_CLUSTERS, DIM))
    cl = r.integers(0, N_CLUSTERS, n_vec)
    vecs = centers[cl] + 0.45 * r.normal(size=(n_vec, DIM))
    # ~4% planted near-duplicates (cosine > 0.99 with an earlier vector):
    # the semantic canonicalisation has real groups to find
    dup = np.flatnonzero(r.random(n_vec) < 0.04)
    dup = dup[dup > 0]
    src = (r.random(dup.size) * dup).astype(np.int64)
    vecs[dup] = vecs[src] + 0.01 * r.normal(size=(dup.size, DIM))
    labels = (cl % N_LABELS).astype(np.int32)
    labels[dup] = labels[src]

    r = _rng(seed, "docs")
    tw = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.8
    perm = r.permutation(len(VOCAB))
    p_term = tw[np.argsort(perm)] / tw.sum()
    lens = r.integers(5, 61, n_docs)
    toks = [list(r.choice(VOCAB, size=n, p=p_term)) for n in lens]
    # ~4% planted near-duplicate documents (one token changed): the
    # MinHash canonicalisation has real groups to find
    for i in np.flatnonzero(r.random(n_docs) < 0.04):
        if i == 0:
            continue
        j = int(r.integers(0, i))
        t = list(toks[j])
        t[int(r.integers(0, len(t)))] = str(r.choice(VOCAB))
        toks[i] = t
    langs = [LANGS[k] for k in r.integers(0, len(LANGS), n_docs)]

    r = _rng(seed, "orders")
    orders = {
        "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64),
        "o_custkey": r.integers(1, max(2, n_ord // 10), n_ord).astype(np.int64),
        "o_orderstatus": r.integers(0, len(STATUSES), n_ord),
        "o_totalprice": np.round(r.uniform(900, 500_000, n_ord), 2),
        "o_orderdate_s": 694_224_000 + r.integers(0, 2_400, n_ord) * 86_400,
        "o_orderpriority": r.integers(0, len(PRIORITIES), n_ord),
    }

    r = _rng(seed, "events")
    offsets_us = np.sort(r.integers(0, 86_400 * 30 * 1_000_000, n_ev))
    events = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts_us": 1_704_067_200_000_000 + offsets_us,
        "user_id": r.integers(1, max(2, n_ev // 50), n_ev).astype(np.int64),
        "event_type": r.integers(0, len(EVENT_TYPES), n_ev),
        "value": np.round(r.uniform(0, 500, n_ev), 2),
        "props_k": r.integers(0, 100, n_ev),
    }
    return Tables(vecs.astype(np.float32), labels, toks, langs, orders, events)


# Parquet writers in the engine's fixture schema, one file per table, as
# ``sources.tables.load_table`` reads them.


def write_embeddings(t: Tables, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(len(t.labels), dtype=np.int64)),
                "embedding": pa.array(list(t.vectors), type=pa.list_(pa.float32())),
                "label": pa.array(t.labels),
            }
        ),
        path,
    )


def write_documents(t: Tables, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [" ".join(x) for x in t.doc_tokens]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
                "text": texts,
                "lang": t.doc_lang,
                "source": [f"src{i % 10}" for i in range(len(texts))],
                "n_chars": pa.array([len(x) for x in texts], type=pa.int64()),
            }
        ),
        path,
    )


def write_orders(o: dict[str, np.ndarray], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(o["o_orderkey"]),
                "o_custkey": pa.array(o["o_custkey"]),
                "o_orderstatus": [STATUSES[k] for k in o["o_orderstatus"]],
                "o_totalprice": pa.array(o["o_totalprice"]),
                "o_orderdate": pa.array(
                    o["o_orderdate_s"].astype("datetime64[s]").astype("datetime64[us]")
                ),
                "o_orderpriority": [PRIORITIES[k] for k in o["o_orderpriority"]],
            }
        ),
        path,
    )


def write_events(e: dict[str, np.ndarray], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(e["event_id"]),
                "ts": pa.array(e["ts_us"].astype("datetime64[us]")),
                "user_id": pa.array(e["user_id"]),
                "event_type": [EVENT_TYPES[k] for k in e["event_type"]],
                "value": pa.array(e["value"]),
                "props": [f'{{"k": {k}}}' for k in e["props_k"]],
            }
        ),
        path,
    )


# ----------------------------------------------------------------- streams


def _query_vectors(seed: int, t: Tables, n: int, stream: str) -> np.ndarray:
    """Query pool: perturbed corpus points, so every query has close but
    not identical neighbours."""
    r = _rng(seed, stream)
    base = t.vectors[r.integers(0, len(t.vectors), n)].astype(np.float64)
    return (base + 0.3 * r.normal(size=base.shape)).astype(np.float32)


def _term_keys(seed: int, n: int, stream: str) -> list[list[str]]:
    keys = list(combinations(VOCAB, 3))
    order = _rng(seed, stream).permutation(len(keys))[:n]
    return [list(keys[i]) for i in order]


def serve_stream(seed: int, t: Tables, n: int, stream: str):
    """``n`` serve requests cycling through ``SERVE_KINDS`` in a fixed
    order, with keys drawn Zipf-skewed from the key pools. Returns the
    requests and the query vector pool they index into."""
    r = _rng(seed, stream)
    n_vec = len(t.labels)
    qv = _query_vectors(seed, t, VEC_POOL, stream + ":qv")
    terms = _term_keys(seed, TERM_POOL, stream + ":terms")
    reco = [
        (
            sorted(int(x) for x in r.choice(n_vec, 3, replace=False)),
            [int(r.integers(0, n_vec))],
        )
        for _ in range(RECO_POOL)
    ]
    reqs = []
    for i in range(n):
        kind = SERVE_KINDS[i % len(SERVE_KINDS)]
        q: dict = {"kind": kind}
        if kind in ("knn", "collection_search", "hybrid", "grouped_page"):
            q["vec"] = int(_zipf_index(r, len(qv), 1)[0])
        if kind in ("bm25", "bm25_filtered", "hybrid", "grouped_page"):
            q["terms"] = terms[int(_zipf_index(r, len(terms), 1)[0])]
        if kind == "bm25_filtered":
            q["mod"], q["rem"] = 3, int(r.integers(0, 3))
        if kind == "recommend":
            pos, neg = reco[int(_zipf_index(r, len(reco), 1)[0])]
            if neg[0] in pos:
                neg = [(neg[0] + 1) % n_vec] if (neg[0] + 1) % n_vec not in pos else []
            q["pos"], q["neg"] = pos, neg
        if kind == "retrieve":
            q["ids"] = sorted({int(x) for x in _zipf_index(r, n_vec, 5)})
        if kind == "scroll":
            q["after"] = int(r.integers(0, n_vec))
        if kind == "browse":
            q["creator"] = STATUSES[int(r.integers(0, len(STATUSES)))]
            q["after"] = f"item/{int(r.integers(0, 499))}"
        reqs.append(q)
    return reqs, qv


def refresh_slices(seed: int, t: Tables, n_slices: int, frac: float) -> list[dict]:
    """Curated-refresh inputs. Each slice carries a ``frac`` share of the
    orders and events (half new keys, half re-sent with changed fields,
    so every MERGE both inserts and updates) and of the documents and
    embeddings to canonicalise (half existing records, half new records
    that are near-duplicates of those, so every cycle finds groups)."""
    r = _rng(seed, "refresh")
    n_ord = len(t.orders["o_orderkey"])
    n_ev = len(t.events["event_id"])
    n_docs = len(t.doc_tokens)
    n_vec = len(t.labels)
    out = []
    for s in range(n_slices):
        k_o = max(16, int(n_ord * frac)) // 2
        k_e = max(16, int(n_ev * frac)) // 2
        o_old = np.sort(r.choice(n_ord, k_o, replace=False))
        e_old = np.sort(r.choice(n_ev, k_e, replace=False))
        orders = {c: v[o_old].copy() for c, v in t.orders.items()}
        orders["o_orderpriority"] = r.integers(0, len(PRIORITIES), k_o)
        orders["o_orderstatus"] = r.integers(0, len(STATUSES), k_o)
        new_o = {c: v[:k_o].copy() for c, v in t.orders.items()}
        new_o["o_orderkey"] = np.arange(k_o, dtype=np.int64) + n_ord + 1 + s * k_o
        events = {c: v[e_old].copy() for c, v in t.events.items()}
        events["event_type"] = r.integers(0, len(EVENT_TYPES), k_e)
        new_e = {c: v[:k_e].copy() for c, v in t.events.items()}
        new_e["event_id"] = np.arange(k_e, dtype=np.int64) + n_ev + s * k_e
        new_e["ts_us"] = new_e["ts_us"] + (s + 1) * 1_000_003
        k_d = max(8, int(n_docs * frac)) // 2
        d_old = np.sort(r.choice(n_docs, k_d, replace=False))
        doc_ids = np.concatenate([d_old, n_docs + s * k_d + np.arange(k_d)])
        docs = [list(t.doc_tokens[i]) for i in d_old]
        for j in r.integers(0, k_d, k_d):
            d = list(docs[j])
            d[int(r.integers(0, len(d)))] = str(r.choice(VOCAB))
            docs.append(d)
        k_v = max(8, int(n_vec * frac)) // 2
        v_old = np.sort(r.choice(n_vec, k_v, replace=False))
        vec_ids = np.concatenate([v_old, n_vec + s * k_v + np.arange(k_v)])
        src = r.integers(0, k_v, k_v)
        vecs = np.concatenate(
            [t.vectors[v_old], t.vectors[v_old][src] + 0.01 * r.normal(size=(k_v, DIM))]
        )
        out.append(
            {
                "orders": {c: np.concatenate([orders[c], new_o[c]]) for c in orders},
                "events": {c: np.concatenate([events[c], new_e[c]]) for c in events},
                "doc_ids": doc_ids.astype(np.int64),
                "docs": [" ".join(d) for d in docs],
                "vec_ids": vec_ids.astype(np.int64),
                "vectors": vecs.astype(np.float32),
            }
        )
    return out


def ingest_batches(seed: int, t: Tables, n_batches: int, frac: float) -> list[dict]:
    """Micro-batches for the serving indexes: each holds a ``frac`` share
    of the vectors and of the documents, half re-sent existing records
    (changed) and half new ids, plus one new curated row per new vector
    and the existing ids whose ``status`` payload is re-labelled."""
    r = _rng(seed, "ingest")
    n_vec, n_docs = len(t.labels), len(t.doc_tokens)
    out = []
    for b in range(n_batches):
        k_v = max(8, int(n_vec * frac)) // 2
        v_old = np.sort(r.choice(n_vec, k_v, replace=False))
        vec_ids = np.concatenate([v_old, n_vec + b * k_v + np.arange(k_v)])
        src = np.concatenate([v_old, r.choice(n_vec, k_v)])
        vecs = t.vectors[src] + 0.01 * r.normal(size=(2 * k_v, DIM))
        k_d = max(8, int(n_docs * frac)) // 2
        d_old = np.sort(r.choice(n_docs, k_d, replace=False))
        doc_ids = np.concatenate([d_old, n_docs + b * k_d + np.arange(k_d)])
        docs = [list(t.doc_tokens[i]) for i in np.concatenate([d_old, r.choice(n_docs, k_d)])]
        for d in docs:
            d[int(r.integers(0, len(d)))] = str(r.choice(VOCAB))
        relabel = np.sort(r.choice(n_vec, k_v, replace=False))
        out.append(
            {
                "vec_ids": vec_ids.astype(np.int64),
                "vectors": vecs.astype(np.float32),
                "labels": t.labels[src].astype(np.int32),
                "doc_ids": doc_ids.astype(np.int64),
                "docs": [" ".join(d) for d in docs],
                "langs": [LANGS[k] for k in r.integers(0, len(LANGS), 2 * k_d)],
                "relabel_ids": relabel.astype(np.int64),
                "cur_users": r.integers(1, 1_000, k_v).astype(np.int64),
                "cur_ts_us": (1_800_000_000_000_000 + b * 1_000_000
                              + np.arange(k_v, dtype=np.int64)),
            }
        )
    return out


def write_slice(s: dict, out_dir: str) -> None:
    """A refresh slice as parquet: the orders and events the curated
    flow reads, plus ``doc_delta`` and ``vec_delta`` to canonicalise."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    write_orders(s["orders"], f"{out_dir}/orders.parquet")
    write_events(s["events"], f"{out_dir}/events.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array(s["doc_ids"]), "text": s["docs"]}),
        f"{out_dir}/doc_delta.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(s["vec_ids"]),
                "embedding": pa.array(list(s["vectors"]), type=pa.list_(pa.float32())),
            }
        ),
        f"{out_dir}/vec_delta.parquet",
    )


def digest_streams(streams: dict) -> dict[str, str]:
    """Short fingerprint of each named input stream."""
    return {k: _digest(v) for k, v in streams.items()}


def table_streams(t: Tables) -> dict:
    return {"tables": [t.vectors, t.labels, t.doc_tokens, t.doc_lang, t.orders, t.events]}


def dashboard_streams(seed: int, t: Tables) -> dict:
    return {
        "dashboard_serve": serve_stream(seed, t, N_REQUESTS, "dashboard"),
        "ingest_batches": ingest_batches(seed, t, N_INGEST, INGEST_FRAC),
    }


def refresh_streams(seed: int, t: Tables) -> dict:
    return {"refresh_slices": refresh_slices(seed, t, N_SLICES, SLICE_FRAC)}


def all_streams(seed: int, scale: float) -> dict:
    """Every stream the workloads draw from one seed."""
    t = make_tables(seed, scale)
    return {**table_streams(t), **dashboard_streams(seed, t), **refresh_streams(seed, t)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    streams = all_streams(a.seed, a.scale)
    print(json.dumps({"seed": a.seed, "scale": a.scale, **digest_streams(streams)}))


if __name__ == "__main__":
    main()
