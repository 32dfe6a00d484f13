"""Seeded input generators for the benchmark workloads.

Pure numpy and pyarrow, no Spark: the same seed gives byte-identical
inputs (see ``digest``), and the program under test only ever receives
these arrays and tables.
Every random draw comes from one ``numpy.random.Generator`` per workload,
consumed in a fixed order.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

# -- cdc_ann ---------------------------------------------------------------

CORPUS_ROWS = 10_000
DIM = 64
CLUSTERS = 32
NOISE = 0.35
STEP_ROWS = 100  # per step: a third appends, a third re-embeds, a third deletes
QUERIES_PER_STEP = 16
WARMUP_STEPS = 1
N_CELLS = 16
KMEANS_ITERS = 4


@dataclass
class CdcStep:
    """One corpus merge: ``op`` is 'I' (append a new id), 'U' (re-embed a
    live id) or 'D' (delete a live id); deletes carry a zero vector."""

    ids: np.ndarray  # int64
    op: np.ndarray  # str
    vecs: np.ndarray  # float32 (len(ids), DIM)
    qids: np.ndarray  # int64, negative: never a corpus id
    qvecs: np.ndarray  # float32 (QUERIES_PER_STEP, DIM)


@dataclass
class CdcInputs:
    ids: np.ndarray
    vecs: np.ndarray
    centroids: np.ndarray  # float64 (N_CELLS, DIM): the IVF coarse quantizer
    warmup: list[CdcStep] = field(default_factory=list)
    steps: list[CdcStep] = field(default_factory=list)


def _clustered(rng: np.random.Generator, centers: np.ndarray, n: int) -> np.ndarray:
    c = rng.integers(0, centers.shape[0], n)
    noise = rng.standard_normal((n, centers.shape[1]))
    return (centers[c] + NOISE * noise).astype(np.float32)


def _kmeans(rng: np.random.Generator, x: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Lloyd's k-means from k distinct random rows; an empty cell keeps
    its previous center."""
    x = x.astype(np.float64)
    c = x[rng.choice(x.shape[0], k, replace=False)]
    for _ in range(iters):
        d = (x * x).sum(1)[:, None] - 2.0 * x @ c.T + (c * c).sum(1)[None, :]
        cell = d.argmin(1)
        for j in range(k):
            members = x[cell == j]
            if len(members):
                c[j] = members.mean(0)
    return c


def cdc_inputs(seed: int, n_steps: int) -> CdcInputs:
    """A clustered corpus and ``n_steps`` change steps (after WARMUP_STEPS
    more). Every step has the same shape, so per-step latencies are
    comparable. Query vectors come from the same clusters but are drawn
    apart from the corpus, with negative ids."""
    rng = np.random.default_rng([seed, 2])
    centers = rng.standard_normal((CLUSTERS, DIM))
    ids = np.arange(CORPUS_ROWS, dtype=np.int64)
    vecs = _clustered(rng, centers, CORPUS_ROWS)
    inputs = CdcInputs(ids, vecs, _kmeans(rng, vecs, N_CELLS, KMEANS_ITERS))
    live = ids.copy()
    next_id = CORPUS_ROWS
    next_qid = -1
    n_app = STEP_ROWS // 3
    n_old = STEP_ROWS - n_app
    for i in range(WARMUP_STEPS + n_steps):
        new = np.arange(next_id, next_id + n_app, dtype=np.int64)
        next_id += n_app
        old = rng.choice(live, n_old, replace=False)
        n_del = n_old // 2
        step_ids = np.concatenate([new, old])
        op = np.array(["I"] * n_app + ["D"] * n_del + ["U"] * (n_old - n_del))
        vecs = _clustered(rng, centers, step_ids.size)
        vecs[op == "D"] = 0.0
        live = np.setdiff1d(np.concatenate([live, new]), old[:n_del])
        qids = np.arange(next_qid, next_qid - QUERIES_PER_STEP, -1, dtype=np.int64)
        next_qid -= QUERIES_PER_STEP
        step = CdcStep(step_ids, op, vecs, qids, _clustered(rng, centers, QUERIES_PER_STEP))
        (inputs.warmup if i < WARMUP_STEPS else inputs.steps).append(step)
    return inputs


# -- analytic_mix ------------------------------------------------------------

# Catalog entries of the basket, and the testdata tables each reads.
BASKET = {
    "q01_pricing_summary": ("lineitem",),
    "q03_revenue_by_nation": ("lineitem", "orders", "customer", "nation"),
    "q13_ngram_jaccard_pairs": ("documents",),
    "q101_gopher_repetition": ("documents",),
}
ORDERS = 10_000
LINES_PER_ORDER = 4  # mean; 1..7 uniform
CUSTOMERS = 1_000
NATIONS = 25
DOCS = 600
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order"
    " vector line table data agg value key stream window spark part group"
    " big sort query fast the a"
).split()
OTHER_MARKERS = ("der", "die", "le", "la", "el", "que")  # non-English language ids
# Every 5th document is a near-copy of an earlier one and every 20th an
# exact copy, by position, so the dedup work is the same for every seed.
NEAR_EVERY = 5
EXACT_EVERY = 20


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """2-decimal doubles, as the testdata money columns are."""
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> pa.Array:
    t0 = np.datetime64(start, "us")
    us = rng.integers(0, span_days * 86_400, n).astype(np.int64) * 1_000_000
    return pa.array(t0 + us.astype("timedelta64[us]"), pa.timestamp("us"))


def _documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(DOCS):
        if i % EXACT_EVERY == EXACT_EVERY - 1:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i % NEAR_EVERY == NEAR_EVERY - 1:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.choice(len(words), max(1, len(words) // 10), replace=False).tolist():
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
            continue
        words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100))).tolist()]
        if rng.random() < 0.3:  # some documents read as another language
            marker = OTHER_MARKERS[int(rng.integers(0, len(OTHER_MARKERS)))]
            for j in rng.choice(len(words), 4, replace=False).tolist():
                words[j] = marker
        texts.append(" ".join(words))
    langs = np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, DOCS)]
    return pa.table({
        "doc_id": pa.array(np.arange(DOCS, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def analytic_inputs(seed: int) -> dict[str, pa.Table]:
    """The basket's tables, in the testdata schemas (``TESTDATA.md``):
    a TPC-H-shaped star (lineitem, orders, customer, nation) and a
    document corpus with planted exact and near duplicates."""
    rng = np.random.default_rng([seed, 3])
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(NATIONS, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i:02d}" for i in range(NATIONS)], pa.string()),
        "n_regionkey": pa.array((np.arange(NATIONS) % 5).astype(np.int32)),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, CUSTOMERS + 1, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, CUSTOMERS + 1)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, NATIONS, CUSTOMERS).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, CUSTOMERS)),
        "c_mktsegment": pa.array(
            np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
                rng.integers(0, 5, CUSTOMERS)].tolist(), pa.string()),
    })
    okeys = np.arange(1, ORDERS + 1, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": pa.array(okeys),
        "o_custkey": pa.array(rng.integers(1, CUSTOMERS + 1, ORDERS).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, ORDERS)].tolist(), pa.string()),
        "o_totalprice": pa.array(_money(rng, 850.0, 550_000.0, ORDERS)),
        "o_orderdate": _days(rng, "1992-01-01", 2400, ORDERS),
        "o_orderpriority": pa.array(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, ORDERS)].tolist(), pa.string()),
    })
    per_order = rng.integers(1, 2 * LINES_PER_ORDER, ORDERS)
    n = int(per_order.sum())
    lineno = np.concatenate([np.arange(1, c + 1) for c in per_order.tolist()])
    lineitem = pa.table({
        "l_orderkey": pa.array(np.repeat(okeys, per_order)),
        "l_partkey": pa.array(rng.integers(1, 2_000, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(1, 100, n).astype(np.int64)),
        "l_linenumber": pa.array(lineno.astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)].tolist(), pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)].tolist(), pa.string()),
        "l_shipdate": _days(rng, "1992-01-01", 3650, n),
    })
    return {
        "nation": nation, "customer": customer, "orders": orders,
        "lineitem": lineitem, "documents": _documents(rng),
    }


# -- determinism -----------------------------------------------------------


def digest(obj) -> str:
    """SHA-256 over every array of a generated input, in field order."""
    h = hashlib.sha256()

    def feed(x):
        if isinstance(x, pa.Table):
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, x.schema) as w:
                w.write_table(x)
            h.update(sink.getvalue().to_pybytes())
        elif isinstance(x, dict):
            for k in sorted(x):
                h.update(k.encode())
                feed(x[k])
        elif isinstance(x, np.ndarray):
            h.update(str(x.dtype).encode())
            h.update(str(x.shape).encode())
            h.update(np.ascontiguousarray(x).tobytes())
        elif isinstance(x, (list, tuple)):
            for y in x:
                feed(y)
        elif hasattr(x, "__dataclass_fields__"):
            for name in x.__dataclass_fields__:
                feed(getattr(x, name))
        else:
            h.update(repr(x).encode())

    feed(obj)
    return h.hexdigest()
