"""analytic_mix: a read-only batch basket of catalog entries.

One client, closed loop. The seed generates the basket's tables in the
testdata layout (``gen.analytic_inputs``) under the run's work dir. Each
pass builds every entry of ``gen.BASKET`` with its catalog builder and
executes it through the ``noop`` sink, as ``bench.py`` does, in an order
the seed permutes per pass. Set-up ends with one warm pass that collects
every result. After the measured passes those results are compared with
the entries' DuckDB oracles through ``tools/check_oracle.compare_tables``.
The first measured passes still run up to 30% slower than later ones,
so a run reports medians over five passes.

The workload never touches ``table``, ``logstore`` or ``streaming``, so a
change to those layers should leave it unchanged.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from harness import Run, log

# A pass took 2.8-6.4 s on a 4-core host. The JIT is still warming
# during the first two or three measured passes, so --seconds 15 gives
# five passes and the median lands on a warm one.
NOMINAL_PASS_S = 3.0
MIN_PASSES = 3


def run(r: Run) -> dict:
    t_setup = time.time()
    spark = r.start_session()
    from sif_spark.queries import ORACLES, QUERIES

    sf_dir = f"{r.work}/data"
    os.makedirs(sf_dir, exist_ok=True)
    for name, tbl in gen.analytic_inputs(r.seed).items():
        pq.write_table(tbl, f"{sf_dir}/{name}.parquet")
    basket = list(gen.BASKET)
    log("analytic_mix: tables written")

    results = {name: QUERIES[name](spark, sf_dir).toArrow() for name in basket}
    setup_s = time.time() - t_setup

    n_passes = max(MIN_PASSES, round(r.seconds / NOMINAL_PASS_S))
    rng = np.random.default_rng([r.seed, 4])
    orders = [[basket[i] for i in rng.permutation(len(basket)).tolist()] for _ in range(n_passes)]
    builds: list[tuple[str, float, float]] = []  # (entry, start, end) of each build

    def entry(name: str):
        def query():
            t0 = time.time()
            with r.span(f"queries.{name}", "queries"):
                df = QUERIES[name](spark, sf_dir)
            builds.append((name, t0, time.time()))
            df.write.format("noop").mode("overwrite").save()

        return query

    r.begin_phase()
    for order in orders:
        t0 = time.time()
        for name in order:
            r.op("query", name, entry(name))
        r.passes.append(time.time() - t0)
    r.end_phase()

    duck = _oracle_tables(sf_dir, {n: ORACLES[n] for n in basket})
    compare = _compare_tables()
    for name in basket:
        problems = compare(results[name], duck[name])
        r.check(not problems, f"{name} differs from its oracle: {'; '.join(problems)}")
    return {
        "setup_s": setup_s,
        "op_counts": {"passes": n_passes, "entries": len(basket)},
        "builds": builds,
    }


def _oracle_tables(sf_dir: str, oracles: dict[str, str]) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        for t in sorted({t for ts in gen.BASKET.values() for t in ts}):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {name: con.execute(sql).arrow() for name, sql in oracles.items()}
    finally:
        con.close()


def _compare_tables():
    """The catalog's own value comparison (tools/check_oracle.py)."""
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from check_oracle import compare_tables

    return compare_tables
