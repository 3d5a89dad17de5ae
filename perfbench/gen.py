"""Seeded input tables for the benchmark.

Every table follows the schema of the engine's test data (TPC-H-style
``lineitem``/``orders``/``customer``, the ``events`` stream, ``documents``
and ``embeddings``): no NaN, unique keys where an index needs them
(``event_id``; ``(l_orderkey, l_linenumber)``; ``o_orderkey``;
``c_custkey``; ``doc_id``; ``vec_id``), with the value distributions
and duplicate structure measured on the test data's sf0.1 tables:
planted near-duplicate families in ``documents``; none in
``embeddings``, whose test data has none either.

Each pass of a run reads its own directory, generated from a sub-seed of
``(seed, pass)``, so a session memo keyed on inputs (a table count keyed
on the directory, say) cannot turn later passes into cache hits.  The
directories are cached under ``perfbench/.data``, keyed by generator
version, workload size and seed; a directory is written to a temporary
name and renamed, so a killed run never leaves a half-written one.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 4
KEEP_SEEDS = 12  # cached seed directories kept per workload size

WORDS = ("a batch big column customer data agg fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
# Shapes measured on the engine's sf0.1 test data (perfbench/DESIGN.md):
# documents of 10-100 words drawn uniformly from the 31 words above;
# 244 of 5,000 documents (4.9%) are near copies of another, differing
# by one word dropped from or appended to the end, and 8 (0.16%) are
# verbatim copies; embeddings are isotropic unit vectors of dimension
# 64 with no planted duplicates (nearest-neighbour cosine 0.33-0.60);
# an order has Poisson(4) lines.
NEAR_SHARE, EXACT_SHARE = 0.049, 0.0016
DOC_WORDS = (10, 100)
DIM = 64
LINES_PER_ORDER = 4.0
DAY_US = 86_400_000_000
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
EPOCH_1995 = np.datetime64("1995-01-02T00:00:00", "us")


def _days(rng, n: int, span_days: int) -> np.ndarray:
    return EPOCH_1995 + rng.integers(0, span_days, n) * np.timedelta64(1, "D")


def events(rng, n: int) -> pa.Table:
    # strictly increasing timestamps: sorted draws plus their rank, so
    # an index on ts alone is unique, like the test data's
    raw = np.sort(rng.integers(0, 30 * DAY_US - n, n)) + np.arange(n)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(EPOCH_2024 + raw.astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(n // 66, 1), n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def orders_lineitem(rng, n_orders: int, n_cust: int) -> tuple[pa.Table, pa.Table]:
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
        "o_orderdate": pa.array(_days(rng, n_orders, 2400)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    lines = rng.poisson(LINES_PER_ORDER, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    n = len(okey)
    lineitem = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, max(n_orders // 7, 1), n),
        "l_suppkey": rng.integers(0, max(n_orders // 150, 1), n),
        "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(_days(rng, n, 2498)),
    })
    return orders, lineitem


def customer(rng, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    })


def _family_plan(rng, n: int, shares: tuple[float, ...]) -> np.ndarray:
    """Row kinds: 0 for an original, k > 0 for a copy of kind k.  The
    number of each kind is fixed by ``shares`` (at least one of each, so
    a small table still has every kind) and row 0 is an original, so
    every pass and seed has the same family structure."""
    kinds = np.zeros(n, dtype=np.int64)
    pos = rng.permutation(np.arange(1, n))
    start = 0
    for k, share in enumerate(shares, 1):
        m = max(int(round(n * share)), 1)
        kinds[pos[start:start + m]] = k
        start += m
    return kinds


def documents(rng, n: int) -> pa.Table:
    """Random word documents in star-shaped families: ``NEAR_SHARE`` of
    them copy an earlier original with its last word dropped or one word
    appended, and ``EXACT_SHARE`` copy one verbatim.  As in the test
    data, copies never copy copies and the families are pairs but for a
    few triples; here exactly one, the original of the first copy, which
    the next copy copies too.  Every other copy copies an original of its
    own, so the pair graph has the same shape, and connected components
    the same number of rounds, for every seed and pass."""
    texts, originals, uncopied, copied = [], [], [], []
    for i, kind in enumerate(_family_plan(rng, n, (NEAR_SHARE, EXACT_SHARE))):
        if kind == 0 or not originals:
            k = int(rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
            originals.append(i)
            uncopied.append(i)
            continue
        if len(copied) == 1:
            j = copied[0]  # the one triple
        elif uncopied:
            j = uncopied.pop(int(rng.integers(0, len(uncopied))))
        else:  # only when the first rows are nearly all copies
            j = originals[rng.integers(0, len(originals))]
        copied.append(j)
        words = texts[j].split(" ")
        if kind == 1:
            if rng.random() < 0.5:
                words = words[:-1]
            else:
                words = words + [WORDS[rng.integers(0, len(WORDS))]]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n: int) -> pa.Table:
    """Isotropic unit vectors, as in the test data."""
    v = rng.standard_normal((n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def tables(kind: str, size: dict, rng) -> dict[str, pa.Table]:
    if kind == "frame":
        orders, lineitem = orders_lineitem(rng, size["orders"], size["customers"])
        return {"events": events(rng, size["events"]), "orders": orders,
                "lineitem": lineitem,
                "customer": customer(rng, size["customers"])}
    if kind == "documents":
        return {"documents": documents(rng, size["documents"])}
    if kind == "media":
        # the media fixtures are closed-form in the documents row count
        return {"embeddings": embeddings(rng, size["embeddings"]),
                "documents": documents(rng, size["documents"])}
    raise ValueError(f"unknown table set {kind!r}")


def size_tag(kind: str, size: dict) -> str:
    return kind + "-" + "-".join(f"{k}{v}" for k, v in sorted(size.items()))


def pass_dir(root: str, kind: str, size: dict, seed: int, pass_no: int) -> str:
    """Directory holding pass ``pass_no``'s tables for ``seed``; built on
    first use.  Pass inputs differ because each pass draws from its own
    ``SeedSequence([seed, pass_no])``."""
    tag = size_tag(kind, size)
    base = os.path.join(root, f"v{GEN_VERSION}", tag)
    seed_dir = os.path.join(base, f"s{seed}")
    out = os.path.join(seed_dir, f"p{pass_no}")
    if not os.path.isdir(seed_dir):
        os.makedirs(seed_dir)
        _evict(base, keep=seed_dir)
    os.utime(seed_dir)  # recently used: the eviction keeps it
    if os.path.isdir(out):
        return out
    rng = np.random.default_rng(np.random.SeedSequence([seed % 2**64, pass_no]))
    tmp = tempfile.mkdtemp(dir=seed_dir, prefix=".tmp-")
    try:
        for name, t in tables(kind, size, rng).items():
            pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
        os.rename(tmp, out)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return out


def _evict(base: str, keep: str) -> None:
    """Bound the cache: drop the least recently used seed directories."""
    seeds = [os.path.join(base, d) for d in os.listdir(base)]
    seeds = sorted((d for d in seeds if d != keep), key=os.path.getmtime)
    for d in seeds[:max(len(seeds) + 1 - KEEP_SEEDS, 0)]:
        shutil.rmtree(d, ignore_errors=True)
