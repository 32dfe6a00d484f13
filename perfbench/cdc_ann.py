"""cdc_ann: change-feed freshness plus kNN serving.

One client, closed loop. The corpus is a cdf=True SifTable of clustered
64-dim vectors with two long-running change-feed consumers: the IVF index
maintainer (``maintain_ivf_index_table(cdf=True)``) and a mirror table
(``merge_changes_into_table``). Each step commits one corpus merge of a
hundred changes (a third appends, a third re-embeddings, a third
deletes), waits until both consumers have committed it, then serves a
batch of generated queries from the maintained index through ``ivf_knn``.
Every step has the same shape, so a run's few steps give comparable
latencies. Recall is measured against exact kNN over the benchmark's own
model of the corpus.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa

import gen
from harness import Run, dir_files, log, new_bytes

NOMINAL_STEP_S = 7.5  # commit + catch-up + one kNN batch on a 4-core host
N_PROBE = 4
K = 10
# Recall@10 was 1.0 on every seed tried (n_probe 4 of 16 cells over
# clustered data); a served index that loses more than 2% of the true
# neighbours fails the run.
MIN_RECALL = 0.98


def _frame(spark, ids: np.ndarray, vecs: np.ndarray, op: np.ndarray | None = None):
    cols = {
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1), pa.float32()), vecs.shape[1]
        ).cast(pa.list_(pa.float32())),
    }
    if op is not None:
        cols["op"] = pa.array(op.tolist(), pa.string())
    return spark.createDataFrame(pa.table(cols))


class Corpus:
    """The benchmark's model of the corpus: id -> float32 vector."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray):
        self.vec = dict(zip(ids.tolist(), vecs))

    def apply(self, step: gen.CdcStep) -> int:
        for i, op, v in zip(step.ids.tolist(), step.op.tolist(), step.vecs):
            if op == "D":
                del self.vec[i]
            else:
                self.vec[i] = v
        return int(step.ids.size)

    def exact_knn(self, qvecs: np.ndarray, k: int) -> list[set[int]]:
        ids = np.fromiter(self.vec, dtype=np.int64)
        m = np.stack([self.vec[i] for i in ids.tolist()]).astype(np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        q = qvecs.astype(np.float64)
        q /= np.linalg.norm(q, axis=1, keepdims=True)
        top = np.argsort(-(q @ m.T), axis=1, kind="stable")[:, :k]
        return [set(ids[row].tolist()) for row in top]


def run(r: Run) -> dict:
    t_setup = time.time()
    spark = r.start_session()
    from sif_spark.operators import similarity
    from sif_spark.streaming import stream
    from sif_spark.table import SifTable

    n_steps = max(2, round(r.seconds / NOMINAL_STEP_S))
    inputs = gen.cdc_inputs(r.seed, n_steps)
    corpus_path, index_path, mirror_path = (f"{r.work}/{n}" for n in ("corpus", "index", "mirror"))
    corpus = SifTable.create(
        spark, corpus_path, _frame(spark, inputs.ids, inputs.vecs),
        key_col="vec_id", key_bloom=True, cdf=True,
    )
    model = Corpus(inputs.ids, inputs.vecs)
    SifTable.create(spark, mirror_path, corpus.read(version=1), key_col="vec_id")
    log("cdc_ann: corpus created")
    recall: list[float] = []

    def commit(s: gen.CdcStep, record: bool) -> tuple[int, int | None]:
        """One corpus merge; returns (rows changed, corpus version)."""
        df = _frame(spark, s.ids, s.vecs, s.op)
        ok, version = r.op("commit", "merge", lambda: corpus.merge(
            df,
            when_matched_delete="s.op = 'D'",
            when_matched_update={"embedding": "s.embedding"},
            when_matched_update_condition="s.op = 'U'",
            when_not_matched_insert={"vec_id": "s.vec_id", "embedding": "s.embedding"},
            when_not_matched_insert_condition="s.op = 'I'",
            evolve_schema=False,
        ), record)
        return (model.apply(s), version) if ok else (0, None)

    def serve(s: gen.CdcStep, record: bool) -> None:
        queries = _frame(spark, s.qids, s.qvecs)

        def knn():
            index = similarity.IVFIndex(
                inputs.centroids, SifTable(spark, index_path).read().select("nid", "cell"),
                vec_col="embedding", corpus_rows=len(model.vec),
            )
            return similarity.ivf_knn(
                corpus.read(), queries, k=K, n_probe=N_PROBE, index=index
            ).select("qid", "nid").collect()

        ok, rows = r.op("read", "knn", knn, record)
        if not ok:
            return
        served: dict[int, set[int]] = {}
        for row in rows:
            served.setdefault(row["qid"], set()).add(row["nid"])
        live = set(model.vec)
        for qid, exact in zip(s.qids.tolist(), model.exact_knn(s.qvecs, K)):
            got = served.get(qid, set())
            r.check(got <= live, f"kNN for query {qid} returned ids not in the corpus")
            if record:
                recall.append(len(got & exact) / K)

    # Warm-up: one merge lands before the consumers start, so their first
    # micro-batch (the initial index build and mirror catch-up) already
    # runs the merge-fold paths; one kNN batch warms serving. A whole
    # warm-up step after the streams start cost 5-10 s more and did not
    # make the first measured step as fast as the second.
    version = 1
    for s in inputs.warmup:
        version = commit(s, record=False)[1] or version
    t_ann = time.time()
    ann = similarity.maintain_ivf_index_table(
        spark, corpus_path, index_path, inputs.centroids, f"{r.work}/ckpt-ann",
        app_id="perfbench-ann", cdf=True,
    )
    t_mirror = time.time()
    mirror = stream.merge_changes_into_table(
        spark, corpus_path, mirror_path, "perfbench-mirror", f"{r.work}/ckpt-mirror",
        starting_version=1,
    )
    # both initial catch-ups run at once; each start time ends when its
    # own first wait returns
    ann.processAllAvailable()
    streams = {"ann": (ann, time.time() - t_ann)}
    mirror.processAllAvailable()
    streams["mirror"] = (mirror, time.time() - t_mirror)
    log("cdc_ann: streams started")
    for s in inputs.warmup:
        serve(s, record=False)
    setup_s = time.time() - t_setup

    def catch_up():
        ann.processAllAvailable()
        mirror.processAllAvailable()

    tables = [corpus_path, index_path, mirror_path]
    files0 = dir_files(tables)
    v_first, changed = version, 0
    r.begin_phase()
    for s in inputs.steps:
        t_step = time.time()
        n, v = commit(s, record=True)
        if v is not None:
            version = v
            changed += n
            r.op("consume", "catchup", catch_up)
            serve(s, record=True)
        r.passes.append(time.time() - t_step)
    r.end_phase()
    written = new_bytes(files0, dir_files(tables))

    ann.stop()
    mirror.stop()
    index_rows = _check_final(
        r, model, corpus, SifTable(spark, mirror_path), SifTable(spark, index_path),
        inputs.centroids,
    )
    recall_at_10 = float(np.mean(recall)) if recall else 0.0
    r.check(recall_at_10 >= MIN_RECALL, f"recall@{K} {recall_at_10:.3f} < {MIN_RECALL}")
    return {
        "setup_s": setup_s,
        "changed_rows": changed,
        "written_bytes": written,
        "op_counts": {"steps": n_steps, "queries_per_step": gen.QUERIES_PER_STEP},
        "manifest": (corpus_path, v_first, version),
        "streams": streams,
        "report": {"recall_at_10": recall_at_10, "recall_samples": len(recall)},
        "layer": {"ann.index_rows": index_rows},
    }


def _check_final(r: Run, model: Corpus, corpus, mirror, index, centroids) -> int:
    """The corpus equals the model; the mirror equals the corpus; the
    maintained assignments equal ``assign_cells`` over the final corpus
    (q181's pin). Returns the index row count."""
    from pyspark.sql import functions as F

    from sif_spark.operators import similarity

    want_ids = sorted(model.vec)
    want = np.stack([model.vec[i] for i in want_ids])
    got = corpus.read().toArrow().sort_by("vec_id")
    ok = got.column("vec_id").to_pylist() == want_ids
    if ok:
        flat = got.column("embedding").combine_chunks().flatten().to_numpy()
        ok = flat.size == want.size and np.array_equal(flat.reshape(want.shape), want)
    r.check(ok, f"corpus ({got.num_rows} rows) differs from the model ({len(want_ids)} rows)")

    def tagged(df, t):
        return df.select(F.lit(t).alias("t"))

    c, m = corpus.read(), mirror.read()
    incr = index.read().select("nid", "cell")
    fresh = similarity.assign_cells(c, centroids)
    counts = {
        row["t"]: row["count"]
        for row in tagged(m.exceptAll(c), "mirror")
        .unionAll(tagged(c.exceptAll(m), "mirror"))
        .unionAll(tagged(incr.exceptAll(fresh), "index"))
        .unionAll(tagged(fresh.exceptAll(incr), "index"))
        .unionAll(tagged(incr, "rows"))
        .groupBy("t").count().collect()
    }
    r.check(not counts.get("mirror"), f"mirror differs from the corpus in {counts.get('mirror')} rows")
    r.check(not counts.get("index"), f"maintained index drifted from assign_cells: {counts.get('index')} rows")
    return counts.get("rows", 0)
