"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (``catalog.TABLES``), one parquet file
each, with the schemas of the engine's sf tables (FIXTURES.md §A).

- Every column is drawn from a fixed distribution, so row counts and value
  distributions do not depend on the seed; the seed picks the sample and the
  row order (each table is written in a seeded permutation).
- ``replica=k`` adds the curation replica: documents, embeddings and events
  are repeated ``k`` times with key offsets. Copy ``i`` of a document has its
  words rotated by ``i`` and copy ``i`` of a vector has its dimensions
  rotated by ``i`` (the same rule as ``bench.py``'s replica), so copies share
  unigram and coordinate statistics but are distinct rows.

Run ``python3 perfbench/gen.py OUT_DIR --seed N [--sf 0.01] [--replica 4]``.
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at sf0.1; other scale factors scale linearly.
ROWS_AT_SF01 = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
MIN_ROWS = {"embeddings": 500}  # the ANN ops train on vec_id 0-31
EVENT_USERS_AT_SF01 = 1_500
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
DUP_SHARE = 0.05  # documents that copy an earlier one and append " dup"
EMBED_DIM = 64
DAY_US = 86_400_000_000
ORDER_DAYS = (np.datetime64("1995-01-01"), np.datetime64("2001-08-01"))
SHIP_DAYS = (np.datetime64("1995-01-02"), np.datetime64("2001-11-04"))
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * DAY_US


def row_counts(sf: float) -> dict[str, int]:
    return {
        t: max(MIN_ROWS.get(t, 1), round(n * sf / 0.1)) for t, n in ROWS_AT_SF01.items()
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, span, n):
    lo, hi = span
    d = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return pa.array((lo + d).astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _ids(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _documents(rng, n: int) -> list[str]:
    lengths = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.asarray(VOCAB, dtype=object)
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(vocab[words[pos : pos + ln]]))
        pos += ln
    # near-duplicates: a later document copies an earlier one plus " dup"
    for i in np.sort(rng.choice(np.arange(1, n), round(n * DUP_SHARE), replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def _unit_vectors(rng, n: int) -> np.ndarray:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def base_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``, sampled with ``seed``."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    nc, ns, np_, no, nl = (n[t] for t in ("customer", "supplier", "part", "orders", "lineitem"))
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
                "c_name": _ids("Customer", nc),
                "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": _pick(rng, SEGMENTS, nc),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
                "s_name": _ids("Supplier", ns),
                "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
                "p_type": _pick(rng, PART_TYPES, np_),
                "p_size": pa.array(rng.integers(1, 51, np_, dtype=np.int32)),
                "p_retailprice": np.round(900 + (np.arange(np_) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
                "o_totalprice": _money(rng, 1000.0, 500000.0, no),
                "o_orderdate": _days(rng, ORDER_DAYS, no),
                "o_orderpriority": _pick(rng, PRIORITIES, no),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
                "l_partkey": pa.array(rng.integers(0, np_, nl, dtype=np.int64)),
                "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
                "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
                "l_discount": rng.integers(0, 11, nl) / 100.0,
                "l_tax": rng.integers(0, 9, nl) / 100.0,
                "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
                "l_linestatus": _pick(rng, ["F", "O"], nl),
                "l_shipdate": _days(rng, SHIP_DAYS, nl),
            }
        ),
    }
    ne = n["events"]
    gaps = rng.exponential(EVENTS_SPAN_US / ne, ne).cumsum().astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": pa.array(EVENTS_START + gaps.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(
                rng.integers(0, max(1, round(EVENT_USERS_AT_SF01 * sf / 0.1)), ne, dtype=np.int64)
            ),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    nd = n["documents"]
    texts = _documents(rng, nd)
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, nd, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(nd)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    out["embeddings"] = _embeddings(np.arange(nv, dtype=np.int64), _unit_vectors(rng, nv),
                                    rng.integers(0, 10, nv, dtype=np.int32))
    return out


def _embeddings(ids, vectors, labels) -> pa.Table:
    flat = pa.array(vectors.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vectors.size + 1, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(ids),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels),
        }
    )


def replicate(tables: dict[str, pa.Table], k: int) -> dict[str, pa.Table]:
    """k× replica of documents/embeddings/events with key offsets; copy i of
    each document is word-rotated by i and copy i of each vector is
    dimension-rotated by i (copy 0 is the original)."""
    if k <= 1:
        return tables
    out = dict(tables)
    docs = tables["documents"]
    d_off = int(np.max(docs["doc_id"].to_numpy())) + 1
    words = [t.split(" ") for t in docs["text"].to_pylist()]
    texts = []
    for i in range(k):
        for w in words:
            r = i % len(w)
            texts.append(" ".join(w[r:] + w[:r]))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(
                np.concatenate([docs["doc_id"].to_numpy() + i * d_off for i in range(k)])
            ),
            "text": pa.array(texts, pa.string()),
            "lang": pa.concat_arrays([docs["lang"].combine_chunks()] * k),
            "source": pa.concat_arrays([docs["source"].combine_chunks()] * k),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    emb = tables["embeddings"]
    ids = emb["vec_id"].to_numpy()
    vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
    v_off = int(ids.max()) + 1
    out["embeddings"] = _embeddings(
        np.concatenate([ids + i * v_off for i in range(k)]),
        np.concatenate([np.roll(vecs, -(i % EMBED_DIM), axis=1) for i in range(k)]),
        np.concatenate([emb["label"].to_numpy()] * k),
    )
    ev = tables["events"]
    e_off = int(np.max(ev["event_id"].to_numpy())) + 1
    u_off = int(np.max(ev["user_id"].to_numpy())) + 1
    cols = {c: pa.concat_arrays([ev[c].combine_chunks()] * k) for c in ev.column_names}
    cols["event_id"] = pa.array(
        np.concatenate([ev["event_id"].to_numpy() + i * e_off for i in range(k)])
    )
    cols["user_id"] = pa.array(
        np.concatenate([ev["user_id"].to_numpy() + i * u_off for i in range(k)])
    )
    out["events"] = pa.table(cols)
    return out


def write(out_dir: str, sf: float, seed: int, replica: int = 1) -> dict[str, int]:
    """Generate and write every table under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    tables = replicate(base_tables(sf, seed), replica)
    order = np.random.default_rng([seed, 1])
    counts = {}
    for name, t in tables.items():
        t = t.take(pa.array(order.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--replica", type=int, default=1)
    a = ap.parse_args()
    print(write(a.out_dir, a.sf, a.seed, a.replica))


if __name__ == "__main__":
    main()
