"""Snapshot-isolated table layer over parquet — the storage surface a
100 TB pipeline needs the first time a nightly job overlaps a reader
(VERDICT r9 "Next round" #2).

The reference has no write path at all (go-sif terminates in Collect/
Accumulate — SURVEY.md §2.1); this module is north-star extension
surface in the spirit of the public lakehouse formats (Delta/Iceberg):
a versioned-manifest commit protocol over plain parquet, reduced to
what the epoch stores already proved under fault injection, plus
snapshot reads, time travel, schema evolution on read, key-range file
skipping for upserts, and compaction that is safe under a concurrent
reader.

Layout:

    <table>/
      _manifests/v0000000001.json   # one JSON per snapshot
      data/g-<version>-<seq>-<id>/  # immutable parquet file groups

Commit protocol — the ONLY mutation is manifest creation:

1. write the new data group dirs (Spark parquet writes, each with its
   own _SUCCESS);
2. publish the manifest at `v<N+1>.json` via the table's LogStore
   (logstore.py) — an atomic put-if-absent, so two writers racing to
   version N+1 get exactly one winner; the loser re-reads the new
   snapshot and retries (optimistic concurrency). A SIGKILL anywhere
   before the publish leaves orphan data dirs and/or a .tmp manifest,
   both invisible to every reader. The default store is the link(2)
   conditional put for local paths (kernel-atomic; Hadoop's LOCAL
   rename is POSIX rename(2) under a check-then-act wrapper) and
   Hadoop tmp+rename for schemed paths (atomic-and-exclusive by HDFS
   contract); S3-class stores plug in a ConditionalPutLogStore — same
   division of labor as Delta's LogStore, proven here under an
   adversarial non-atomic-rename shim (tests/test_logstore.py).

Snapshot isolation: a reader resolves a manifest once (`read()` pins
the version it saw; `read(version=N)` is explicit time travel) and
only ever lists that manifest's group dirs. Writers never modify or
delete committed groups — `compact()` writes NEW groups and a NEW
manifest, so a reader pinned on the old snapshot keeps collecting
correct rows mid-compaction; only `vacuum()` physically deletes, and
only groups unreferenced by every retained version.

Schema evolution: each manifest records the snapshot's schema (DDL)
and each group records the schema it was WRITTEN with. `append()`
merges schemas (new columns appended; int→bigint / float→double
widening allowed, anything else raises); reads align every group to
the snapshot schema by NAME — missing columns come back NULL, widened
columns cast — so old files are never rewritten for a new column.

Scale: the manifest holds per-group row counts, min/max of the merge
key, and (opt-in: create(key_bloom=True)) a per-group key Bloom
filter, so `upsert()` rewrites only the groups that may actually hold
a matched key: range-disjoint groups skip on min/max, and
range-OVERLAPPING groups skip when no update key survives their bloom
(interleaved key layouts defeat min/max alone — every group overlaps
every batch). The nightly cost is O(batch + touched groups), not
O(table). Saturated blooms (>60 % fill) are dropped, falling back to
range-only — skipping is an optimization, never a correctness input
(false positive ⇒ harmless rewrite). Group dirs are plain parquet:
every scan benefit (pushdown, pruning, row-group stats) is Spark's.

Reference: sif datasource/file/file_datasource.go:24-47 is read-only
glob loading; the commit/resume contract here extends
sif_spark/pipeline.py's epoch stores (fault-injection-proven r9).
"""

from __future__ import annotations

import json
import re
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

_MANIFESTS = "_manifests"
# Per-write Hadoop option (DataFrameWriter options merge into the write
# job's Hadoop conf): skip the _SUCCESS marker for table-internal dirs,
# whose visibility is gated by the manifest commit instead. NOT set
# globally — pipeline.py's epoch stores use _SUCCESS as their commit
# marker and must keep it.
_NO_SUCCESS_OPT = "mapreduce.fileoutputcommitter.marksuccessfuljobs"


# manifest field order: json.dumps keeps insertion order, so one fixed
# order keeps every op's manifest bytes stable
_MANIFEST_KEYS = (
    "version", "parent", "op", "restored_from", "renamed", "dropped",
    "columns", "added", "replaced_rows", "deleted_rows", "txns",
    "key_col", "key_cols", "bucket", "key_bloom", "cdf", "dv", "dvs",
    "schema", "groups", "cdc",
)
# append manifests have always listed their fields in this order
_APPEND_KEYS = (
    "version", "parent", "op", "key_col", "key_cols", "bucket",
    "key_bloom", "cdf", "dv", "dvs", "txns", "added", "schema", "groups",
    "columns",
)


def _parallel_jobs(*thunks):
    """Run independent Spark actions from driver threads (guide §2.6:
    the scheduler happily runs several jobs at once — a later job's
    tasks back-fill executors freed by the earlier job's tail, and two
    independent group writes overlap instead of serializing their
    commit latencies). Returns results in thunk order; the first
    failure propagates after all threads settle.

    Each thread runs with a copy of the caller's Spark local properties
    (job group, description, scheduler pool) — what
    ``pyspark.inheritable_thread_target`` does. A pool thread starts
    with none, so without the copy ``RuntimeStats(job_group=...)``
    missed every job launched here."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import SparkContext

    jsc = SparkContext._active_spark_context._jsc.sc()

    def inherit(thunk):
        # one clone per thread: concurrent queries must not share the
        # properties object that carries each one's SQL execution id
        props = jsc.getLocalProperties().clone()

        def run():
            jsc.setLocalProperties(props)
            return thunk()

        return run

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futs = [pool.submit(inherit(t)) for t in thunks]
        return [f.result() for f in futs]

# per-group key Bloom filters (file skipping beyond min/max ranges),
# OPT-IN per table (create(key_bloom=True) — the same explicit-index
# posture as Delta's bloom indexes, so the default write path stays
# one job per group). Two seeded xxhash64 probes per key; the bitmap
# auto-sizes to ~16 bits/key (clamped 2 KiB..32 KiB base64 in the
# manifest); >60% fill stores nothing (range-only fallback).
_BLOOM_MIN_BITS = 1 << 14
_BLOOM_MAX_BITS = 1 << 18
_BLOOM_SEEDS = (1315423911, 2654435761)
_BLOOM_UPDATE_KEY_CAP = 100_000

# deletion-vector anti-join build side: broadcast below this many live
# tombstone rows (a dict of key tuples per executor — comfortably
# inside default executor memory), shuffled hash anti-join above it.
# compact() reconciling keeps real tables far below; the threshold
# removes the contract ASSUMPTION for tables that never compact.
_DV_BROADCAST_MAX_ROWS = 2_000_000


def _bloom_hash_cols(keys: list[str]) -> list:
    """Seeded probe hashes over the key TUPLE: one xxhash64 chain per
    seed, columns in key order — the write side and every probe side
    build the exact same expression, so the hash matches bit-for-bit
    (xxhash64 chains each column's hash as the next column's seed)."""
    return [
        F.xxhash64(*[F.col(k) for k in keys], F.lit(seed)).alias(f"h{i}")
        for i, seed in enumerate(_BLOOM_SEEDS)
    ]


# bloom ktype separator: "|" never appears in a Spark simpleString
# (commas do — decimal(10,2)), and splitting a legacy single-column
# ktype like "bigint" on it yields the same one-element list
_KTYPE_SEP = "|"


def _key_cols(m: dict) -> list[str]:
    """The table's merge-key columns: ``key_cols`` (composite,
    round 13) or the 1-ary ``key_col``. Empty = unkeyed table."""
    kc = m.get("key_cols")
    if kc:
        return list(kc)
    k = m.get("key_col")
    return [k] if k else []


def _bloom_bits_for(rows: int) -> int:
    m = _BLOOM_MIN_BITS
    while m < 16 * max(1, rows) and m < _BLOOM_MAX_BITS:
        m <<= 1
    return m


def _bloom_of(df: DataFrame, keys: list[str], rows: int) -> dict | None:
    """{"m": bits, "bits": base64 bitmap, "ktype": hashed dtype(s)} of
    every key tuple's probe positions, or None when saturated. One
    column-pruned scan of the group's key column(s). ``ktype`` records
    the EXACT dtype(s) the hashes were computed over, "|"-separated in
    key order (xxhash64 is type-sensitive: int and bigint hash
    differently), so probe-side hashing can cast to the same types
    even after a key column widens — otherwise every probe against a
    pre-widening group is a false negative and upsert silently
    duplicates keys (ADVICE r10 high)."""
    import base64

    import numpy as np

    m = _bloom_bits_for(rows)
    cap = int(0.6 * m)
    pos = (
        df.select(
            F.explode(
                F.array(
                    *[F.pmod(h, F.lit(m)) for h in _bloom_hash_cols(keys)]
                )
            ).alias("p")
        )
        .distinct()
        .limit(cap + 1)
        .collect()
    )
    if len(pos) > cap:
        return None
    bits = np.zeros(m // 8, np.uint8)
    idx = np.array([r["p"] for r in pos], np.int64)
    np.bitwise_or.at(bits, idx >> 3, np.uint8(1) << (idx & 7).astype(np.uint8))
    return {
        "m": m,
        "bits": base64.b64encode(bits.tobytes()).decode("ascii"),
        "ktype": _KTYPE_SEP.join(
            df.schema[k].dataType.simpleString() for k in keys
        ),
    }


def _bloom_maybe_contains(bloom: dict, hash_pairs) -> bool:
    """True iff ANY update key's probes are all set — the group may
    hold a matched key and must rewrite; False proves it cannot.
    ``hash_pairs`` are raw seeded xxhash64 values (mod applied here,
    per group, since bitmap sizes differ group to group)."""
    import base64

    import numpy as np

    m = int(bloom["m"])
    bits = np.frombuffer(base64.b64decode(bloom["bits"]), np.uint8)
    hit = np.ones(len(hash_pairs), bool)
    for i in range(len(_BLOOM_SEEDS)):
        # % with a positive modulus is non-negative in numpy — the
        # same contract as Spark's pmod used on the write side
        p = np.array([pair[i] for pair in hash_pairs], np.int64) % m
        hit &= ((bits[p >> 3] >> (p & 7).astype(np.uint8)) & 1) == 1
    return bool(hit.any())


_STAT_SKIP = object()
_STAT_MAX_STR = 256  # strings longer than this carry no stats


def _stat_json(v):
    """A min/max aggregate value → its JSON-manifest form, or
    _STAT_SKIP when the type can't be order-compared after JSON
    round-tripping. date/timestamp become ISO strings — ISO order IS
    value order, so pruning comparisons stay lexicographic-correct."""
    import datetime as _dt

    if v is None:  # all-null column: keep as [null, null] (prunable)
        return None
    if isinstance(v, bool) or isinstance(v, (int, float)):
        return v
    if isinstance(v, str):
        return v if len(v) <= _STAT_MAX_STR else _STAT_SKIP
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return _STAT_SKIP


def _stat_bound(v):
    """A caller-supplied pruning bound → the same JSON form used by
    _stat_json, so comparisons are like-vs-like."""
    out = _stat_json(v)
    if out is _STAT_SKIP:
        raise TypeError(f"read_between cannot prune on values of {type(v)}")
    return out


def strip_file_scheme(p: str) -> str:
    """``file:``-URI → plain POSIX path (SQL DDL and some Spark APIs
    hand paths through as URIs; the table's POSIX-side helpers and the
    link(2) log store need the raw path). The single shared
    implementation — sources/table_stream.py reuses it.

    A non-empty authority other than ``localhost`` raises: the old
    code turned ``file://host/path`` into the RELATIVE path
    ``host/path``, silently pointing the table at the wrong location
    (ADVICE r11 low). RFC 8089 file URIs have no meaningful remote
    host here — the shared-FS contract is local mounts."""
    if p.startswith("file://"):
        rest = p[len("file://"):]
        if not rest:
            return "/"
        if rest.startswith("/"):
            return rest  # file:///path — empty authority
        netloc, sep, tail = rest.partition("/")
        if netloc.lower() != "localhost":
            raise ValueError(
                f"file URI {p!r} names remote authority {netloc!r} — "
                "sif tables live on locally-mounted paths "
                "(file:///... or file:/...)"
            )
        return "/" + tail if sep else "/"
    if p.startswith("file:"):
        return p[len("file:"):]
    return p


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first — re-read and retry."""


class ChangeFeedIncompleteError(ValueError):
    """The requested change-feed window contains a version whose row
    removals/replacements are NOT representable in the requested mode —
    an upsert that replaced keys (or a delete / restore) on a table
    without ``cdf=True``. Raised instead of silently emitting an
    incomplete feed (the r10 mview silent-drift bug, now a typed
    error). Fix: recreate the table with ``create(..., cdf=True)`` and
    consume ``changes(cdf=True)`` / the `sif_table` source's
    ``cdf`` option."""


def _retrying(fn, retries: int):
    """``fn()`` under optimistic concurrency: a lost commit race
    (ConcurrentCommitError) re-runs it against the fresh snapshot, up
    to ``retries`` attempts in all."""
    last: Exception | None = None
    for _ in range(retries):
        try:
            return fn()
        except ConcurrentCommitError as e:
            last = e
    raise last  # type: ignore[misc]


def _txn_gate(m: dict, txn: tuple[str, int] | None) -> dict | None:
    """The next manifest's rolled-up {app_id: epoch} map with ``txn``
    recorded, or None when ``txn``'s epoch already committed — a
    crash-replayed micro-batch, which the caller turns into a no-op."""
    txns = dict(m.get("txns", {}))
    if txn is not None:
        app_id, epoch = txn
        if int(txns.get(app_id, -1)) >= int(epoch):
            return None
        txns[app_id] = int(epoch)
    return txns


def _ddl(struct: T.StructType) -> str:
    """The DDL string manifests record for a schema."""
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in struct.fields
    )


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def prune_groups(m: dict, col: str, lo, hi) -> list[dict]:
    """Groups of manifest ``m`` that MAY hold a row with ``col`` in
    [lo, hi] — the read-side data-skipping decision, as a module
    function so the sessionless DataSource planner (sources/
    table_stream.py reader) shares the exact same logic as
    SifTable.read_between/lookup. Conservative by design: groups
    without stats for the column always survive; an all-null group
    never can (range predicates reject NULL)."""
    columns = m.get("columns")
    col_id = None
    if columns is not None:
        for c in columns:
            if c["name"] == col:
                col_id = c["id"]
                break
    keep = []
    for g in m["groups"]:
        stat_key = col
        ids = g.get("col_ids")
        if col_id is not None and ids is not None:
            # id-aware: the group's stats are keyed by its WRITTEN
            # name; a group that never held this column id holds only
            # NULLs for it — range predicates reject NULL, so it
            # prunes outright (stronger than the by-name fallback)
            written = [w for w, i in ids.items() if i == col_id]
            if not written:
                continue
            stat_key = written[0]
        st = g.get("stats", {}).get(stat_key)
        if st is None:
            keep.append(g)
            continue
        gmin, gmax = st
        if gmin is None and gmax is None:
            continue  # every value NULL: no row satisfies a range
        if lo is not None and gmax is not None and gmax < lo:
            continue
        if hi is not None and gmin is not None and gmin > hi:
            continue
        keep.append(g)
    return keep


# a data file's OWN path names the group that owns it — the deletion-
# vector anti-join tags rows with their group id in one expression,
# never one plan node per group (same trick as _VER_PAT)
_GID_PAT = r".*/(g-\d{10}-\d{3}-[0-9a-f]{8})/[^/]*$"


def _live_rows(g: dict) -> int:
    """A group's LIVE row count: file rows minus its deletion-vector
    tombstones. Every counter (replaced/deleted/history) must use
    this, never the raw file rows, on a dv table."""
    return int(g["rows"]) - int(g.get("dv_rows", 0))


def _carry_dvs(m: dict, groups: list[dict]) -> list[dict]:
    """The NEXT manifest's deletion-vector list: entries pruned to the
    gids still live in ``groups`` (a rewritten/compacted group's
    tombstones die with it — the rewrite already excluded them)."""
    live = {g["id"] for g in groups}
    out = []
    for d in m.get("dvs") or []:
        kept = [gid for gid in d["gids"] if gid in live]
        if kept:
            out.append({**d, "gids": kept} if kept != d["gids"] else d)
    return out


_RANGE_ABSENT = object()   # group never held the column id: all NULL
_RANGE_UNKNOWN = object()  # no stats recorded: cannot prune on this col


def _group_stat_range(columns: list[dict] | None, g: dict, col: str):
    """The group's recorded [min, max] for snapshot column ``col`` in
    JSON-stat form, with prune_groups' id-aware written-name
    translation: a renamed column's stats live under the group's
    WRITTEN name; a group that never held the column id holds only
    NULLs (_RANGE_ABSENT — prunable for equi-matches); no stats at all
    is _RANGE_UNKNOWN (never prune)."""
    stat_key = col
    if columns is not None:
        col_id = next(
            (c["id"] for c in columns if c["name"] == col), None
        )
        ids = g.get("col_ids")
        if col_id is not None and ids is not None:
            written = [w for w, i in ids.items() if i == col_id]
            if not written:
                return _RANGE_ABSENT
            stat_key = written[0]
    st = g.get("stats", {}).get(stat_key)
    if st is None:
        return _RANGE_UNKNOWN
    return st[0], st[1]


# ---------------------------------------------------------------------------
# schema merge / align
# ---------------------------------------------------------------------------

_WIDENINGS = {
    ("int", "bigint"),
    ("float", "double"),
}


def _scan_classes(
    entries: list[dict],
) -> list[tuple[dict | None, list[str], list[dict]]]:
    """Partition manifest entries (data groups or dv sidecars) into
    maximal same-plan-shape classes readable by ONE multi-path parquet
    scan: same recorded on-disk schema DDL and same written col_ids.
    Returns [(col_ids, [paths], [entries])] in first-seen order. An
    entry without a recorded ``schema`` forms its own class (legacy
    manifests — degenerates to the old per-entry scan, never wrong).

    This is the O(classes)-not-O(groups) read shape the change feed's
    _batched_tagged_read already uses (VERDICT r13 "What's wrong" #1):
    schema classes are bounded by the number of schema CHANGES in the
    table's history, not by the number of commits."""
    out: dict[tuple, list] = {}
    order: list[tuple] = []
    for e in entries:
        ddl = e.get("schema")
        ids = e.get("col_ids")
        key = (
            (ddl, tuple(sorted(ids.items())) if ids else None)
            if ddl is not None
            else (None, e.get("id") or e["path"])
        )
        slot = out.get(key)
        if slot is None:
            slot = out[key] = [ids, [], []]
            order.append(key)
        slot[1].append(e["path"])
        slot[2].append(e)
    return [tuple(out[k]) for k in order]


def _merge_schema(old: T.StructType, new: T.StructType) -> T.StructType:
    """Evolution-on-write rules: existing columns keep (or widen to)
    their type, new columns append. Narrowing/retyping raises — a
    typo'd column type should fail the job, not corrupt the table."""
    fields = {f.name: f for f in old.fields}
    order = [f.name for f in old.fields]
    for f in new.fields:
        if f.name not in fields:
            fields[f.name] = T.StructField(f.name, f.dataType, True)
            order.append(f.name)
            continue
        have = fields[f.name].dataType.simpleString()
        want = f.dataType.simpleString()
        if have == want:
            continue
        if (have, want) in _WIDENINGS:
            fields[f.name] = T.StructField(f.name, f.dataType, True)
        elif (want, have) in _WIDENINGS:
            pass  # incoming is narrower: keep the wide column type
        else:
            raise ValueError(
                f"column {f.name!r}: cannot evolve {have} -> {want} "
                "(only new columns and int->bigint/float->double widening)"
            )
    return T.StructType([fields[n] for n in order])


# logical-plan NODE names whose presence means re-evaluating the
# source costs a shuffle-bearing recompute per downstream action.
# Matched at tree-line starts (ADVICE r14 low: a bare substring test
# also fired on column/relation names containing a marker word — e.g.
# a field named `unionId` rendered inside a Project forced a needless
# checkpoint). Sort and FlatMapGroupsInPandas joined the list for the
# same reason the originals are on it (both repartition their input).
# Plain scan/filter/project pipelines are deliberately NOT matched:
# re-running them per action is cheaper than the extra materialization
# job (A/B'd at sf0.1 — with "Relation" matched the trivial-source
# entries q176/q184/q185 paid the checkpoint without a compensating
# win).
_WIDE_PLAN_NODE_RE = re.compile(
    r"^[\s+:\-]*(?:Join|Aggregate|Window|Generate|Union|Sort|"
    r"FlatMapGroupsInPandas)\b",
    re.MULTILINE,
)

_NARROW_LEAF_NODES = frozenset(
    {"Project", "Filter", "LogicalRDD", "LocalRelation", "Deduplicate"}
)

_PLAN_NODE_NAME_RE = re.compile(r"^[\s+:\-]*([A-Za-z]\w*)", re.MULTILINE)


def _materialized_leaf_plan(df: DataFrame) -> bool:
    """True when ``df`` is a narrow pipeline over an already-
    materialized leaf (a localCheckpoint's LogicalRDD or an in-memory
    LocalRelation): re-running it per action is cheap by
    construction, so even a shuffle-light derived frame (e.g. a
    distinct over a 3-row key list) should not pay a checkpoint job
    (ADVICE r14 low)."""
    try:
        tree = df._jdf.queryExecution().optimizedPlan().treeString()
    except Exception:
        return False
    names = set(_PLAN_NODE_NAME_RE.findall(tree))
    return bool(names) and names <= _NARROW_LEAF_NODES


def _materialize_source(df: DataFrame) -> DataFrame:
    """Eagerly localCheckpoint a mutation's source batch when its plan
    is non-trivial (Delta's merge-source-materialization idea; guide
    §4.1). A keyed mutation runs SEVERAL actions over its source —
    bounds aggregate, bloom probe collect, the join/anti-join feeding
    each write, the cdc branches — and each action is its own query
    execution, so a source containing a shuffle or scan re-pays that
    full plan per action (q188's merge re-ran its 600k-row groupBy
    ~5x). Materializing once also pins ONE consistent snapshot of the
    source across all clauses. Sources that are already materialized
    pipelines (a localCheckpoint's LogicalRDD, an in-memory
    LocalRelation — the streaming folds' shape) skip the extra job."""
    try:
        tree = df._jdf.queryExecution().optimizedPlan().treeString()
    except Exception:
        return df.localCheckpoint(eager=True)
    if _WIDE_PLAN_NODE_RE.search(tree) is not None:
        return df.localCheckpoint(eager=True)
    return df


def _align(df: DataFrame, target: T.StructType) -> DataFrame:
    """Project ``df`` onto the snapshot schema BY NAME: missing columns
    NULL, widened columns cast, extra columns dropped — schema
    evolution on read, no file rewrites."""
    cols = []
    have = set(df.columns)
    for f in target.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def _key_join(t: DataFrame, s: DataFrame, keys: list[str], how: str) -> DataFrame:
    """Target rows ``t`` joined to source rows ``s`` on the key tuple,
    aliased ``t``/``s`` — the scope every merge clause is written in."""
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(f"t.`{k}`") == F.col(f"s.`{k}`"))
    return t.alias("t").join(s.alias("s"), cond, how)


def _clause(c: bool | str):
    """A merge clause flag or SQL condition as a column; a NULL
    condition does not fire."""
    e = F.expr(c) if isinstance(c, str) else F.lit(bool(c))
    return F.coalesce(e, F.lit(False))


def _merge_inserts(
    source: DataFrame,
    touched: DataFrame | None,
    keys: list[str],
    merged: T.StructType,
    ins: bool | dict[str, str],
    ins_cond: str | None,
) -> DataFrame:
    """merge's when_not_matched_insert rows: source rows whose key is
    not in the ``touched`` target rows (None = no group may hold a
    source key), filtered by ``ins_cond`` and projected by ``ins``
    (True = the source row aligned to the table schema)."""
    s_new = (
        source
        if touched is None
        else source.join(touched.select(*keys).distinct(), on=keys, how="left_anti")
    )
    if ins_cond is not None:
        s_new = s_new.alias("s").filter(_clause(ins_cond))
    if not isinstance(ins, dict):
        return _align(s_new, merged)
    return s_new.alias("s").select(
        *[
            (
                F.expr(ins[f.name]).cast(f.dataType)
                if f.name in ins
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in merged.fields
        ]
    )


# ---------------------------------------------------------------------------
# column ids (rename/drop support — VERDICT r11 "Next round" #3)
#
# Each snapshot manifest carries ``columns``: [{"id": N, "name": s}]
# parallel to the schema DDL, and every group (and cdc dir) records
# ``col_ids``: {written_name: id}. Reads align groups to the snapshot
# BY ID when both sides carry ids (so a rename is a metadata-only
# commit and pre-rename files surface under the NEW name), falling
# back to by-name for legacy groups — which is exactly correct for
# them, because ids are synthesized from the by-name correspondence
# the moment the first rename/drop happens (see _synthesize_col_ids).
# A dropped-then-re-added name gets a FRESH id, so old files' data
# can never resurface under the new column (Iceberg's rule).
# ---------------------------------------------------------------------------


def _schema_names(ddl: str) -> list[str]:
    return [f.name for f in T._parse_datatype_string(ddl).fields]


def _columns_of(m: dict) -> list[dict] | None:
    """The manifest's column-id list, or None for legacy manifests
    (pure by-name semantics)."""
    return m.get("columns")


def _mint_floor(m: dict) -> int:
    """The highest column id this table is KNOWN to have ever minted:
    the manifest's monotonic ``last_column_id`` watermark (Iceberg's
    rule), belt-and-suspenders unioned with every id visible in live
    columns/groups for manifests written before the watermark existed.
    Fresh ids mint strictly above this. Scanning live state alone was
    insufficient (ADVICE r12 low): once every group carrying a dropped
    column's id is rewritten away, the id vanishes from view, and
    re-adding a same-named column would re-mint it — resurfacing the
    old bytes in changes() replay of pre-drop versions."""
    ids = [int(m.get("last_column_id", -1))]
    for c in m.get("columns") or []:
        ids.append(int(c["id"]))
    for g in m.get("groups", []):
        ids.extend(int(i) for i in (g.get("col_ids") or {}).values())
    return max(ids)


def _last_col_id_after(m_prev: dict, new_columns: list[dict] | None) -> int:
    """The ``last_column_id`` watermark for the NEXT manifest: the
    previous floor advanced past any id the new snapshot minted —
    never decreases (restore carries the HEAD's floor, not the
    restored version's)."""
    floor = _mint_floor(m_prev)
    if new_columns:
        floor = max(floor, max(int(c["id"]) for c in new_columns))
    return floor


def _next_columns(m: dict, merged: T.StructType) -> list[dict] | None:
    """The ``columns`` list for the NEXT manifest after evolving to
    ``merged``: existing names keep their ids, appended names mint
    fresh ids (strictly above the table's lifetime watermark — see
    _mint_floor). Legacy tables (no ids yet) stay legacy until a
    rename/drop bootstraps them — by-name alignment is already exact
    for every group they hold."""
    cols = _columns_of(m)
    if cols is None:
        return None
    by_name = {c["name"]: c for c in cols}
    next_id = _mint_floor(m) + 1
    out = []
    for f in merged.fields:
        c = by_name.get(f.name)
        if c is None:
            c = {"id": next_id, "name": f.name}
            next_id += 1
        out.append({"id": c["id"], "name": f.name})
    return out


def _col_ids_for(columns: list[dict] | None, df_schema: T.StructType) -> dict | None:
    """The ``col_ids`` record for a group being written with
    ``df_schema`` under snapshot ``columns``."""
    if columns is None:
        return None
    by_name = {c["name"]: c["id"] for c in columns}
    out = {
        f.name: by_name[f.name]
        for f in df_schema.fields
        if f.name in by_name
    }
    return out or None


def _intern_col_eras(m: dict) -> dict:
    """Serialization-side interning (VERDICT r12 "Next round" #8): a
    wide table with many live groups would otherwise carry
    groups × columns ``col_ids`` entries in EVERY manifest. Distinct
    id-maps (schema eras) are hoisted once into ``col_id_eras`` and
    each group stores a small ``col_era`` pointer —
    O(groups + eras × columns) manifest bytes, Iceberg's
    schema-id-per-file idea. _expand_col_eras undoes it at load, so
    every read path keeps seeing plain ``col_ids``. Returns a new
    manifest dict; the caller's in-memory copy is untouched."""
    eras: list[dict] = []
    keys: list[tuple] = []
    groups = []
    changed = False
    for g in m.get("groups", []):
        ids = g.get("col_ids")
        if not ids:
            groups.append(g)
            continue
        key = tuple(sorted(ids.items()))
        try:
            idx = keys.index(key)
        except ValueError:
            keys.append(key)
            eras.append(dict(ids))
            idx = len(eras) - 1
        g2 = {k: v for k, v in g.items() if k not in ("col_ids", "col_era")}
        g2["col_era"] = idx
        groups.append(g2)
        changed = True
    if not changed:
        return m
    out = dict(m)
    out["groups"] = groups
    out["col_id_eras"] = eras
    return out


def _expand_col_eras(m: dict) -> dict:
    """Load-side expansion of _intern_col_eras: rehydrate each
    group's ``col_ids`` from its era pointer (popped — a re-commit of
    carried groups re-interns against the NEXT manifest's era
    list)."""
    eras = m.get("col_id_eras")
    if eras:
        for g in m.get("groups", []):
            e = g.pop("col_era", None)
            if e is not None:
                g["col_ids"] = eras[e]
    return m


def _rename_map(written_ids: dict | None, columns: list[dict] | None) -> dict:
    """{written_name: current_name} for names whose id maps to a
    LIVE column under a different name. Empty = pure by-name."""
    if not written_ids or not columns:
        return {}
    id_to_cur = {c["id"]: c["name"] for c in columns}
    return {
        w: id_to_cur[i]
        for w, i in written_ids.items()
        if i in id_to_cur and id_to_cur[i] != w
    }


def _dead_written_names(written_ids: dict | None, columns: list[dict] | None) -> set:
    """Written names whose id no longer exists in the snapshot (the
    column was dropped): they must NOT align by name even if a
    same-named column was later re-added with a fresh id."""
    if not written_ids or not columns:
        return set()
    live = {c["id"] for c in columns}
    return {w for w, i in written_ids.items() if i not in live}


def _align_ids(
    df: DataFrame,
    written_ids: dict | None,
    target: T.StructType,
    columns: list[dict] | None,
) -> DataFrame:
    """Id-aware group alignment: renamed columns surface under their
    CURRENT name, dropped-and-readded names stay NULL for old groups,
    everything else is _align's by-name contract."""
    return df.select(
        *_align_ids_select(df.columns, written_ids, target, columns)
    )


def _align_ids_select(
    have: list[str],
    written_ids: dict | None,
    target: T.StructType,
    columns: list[dict] | None,
) -> list:
    """The id-aware alignment as a SELECT LIST over a frame with
    columns ``have`` — shared by _align_ids and the batched
    change-feed read (which must keep the raw scan so
    _metadata.file_path stays referenceable)."""
    ren = _rename_map(written_ids, columns)
    dead = _dead_written_names(written_ids, columns)
    cur_to_written = {cur: w for w, cur in ren.items()}
    # a written name claimed by a rename, or whose id was dropped,
    # must not ALSO serve a same-named (re-added, fresh-id) column
    blocked = dead | set(ren)
    cols = []
    have_set = set(have)
    for f in target.fields:
        w = cur_to_written.get(f.name)
        if w is None:
            w = f.name if f.name not in blocked else None
        if w is not None and w in have_set:
            cols.append(F.col(w).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return cols


# ---------------------------------------------------------------------------
# the table
# ---------------------------------------------------------------------------


class SifTable:
    """Handle on a versioned table directory. Cheap to construct —
    every operation re-resolves the latest committed manifest.

    ``log_store`` selects the manifest commit protocol (logstore.py).
    Default: PosixExclLogStore (link(2) conditional put — the
    kernel-atomic primitive) for local/`file:` paths, and
    HadoopRenameLogStore (rename-CAS, atomic-and-exclusive by HDFS
    contract) for schemed paths. The local choice matters twice over:
    (a) Hadoop's LOCAL rename is java.io.File.renameTo — POSIX
    rename(2), which overwrites an existing destination; the deployed
    wrapper's fail-on-existing is a check-then-act, not a CAS — and
    (b) the `sif_table` DataSource writer (a sessionless Python
    worker) publishes through the link store, so all writers of a
    local table now share ONE atomic primitive. Pass a
    ConditionalPutLogStore for S3-class object stores.

    The keyed mutations — ``upsert``, ``merge`` and ``delete_keys`` —
    run one pipeline, ``_keyed_once``, which ``_retrying`` re-runs when
    it loses a commit race:

    1. txn gate: a replayed ``txn`` epoch is a committed no-op;
    2. key check: the batch carries every key column (merge also vets
       its clauses in ``_check_clauses``);
    3. ``_materialize_source``: one consistent batch that the several
       actions below re-read cheaply;
    4. one overlapped wave: the batch's key bounds (merge: plus the
       cardinality check) ∥ its bloom probe sets;
    5. ``_split_groups_by_keys``: groups that provably hold no batch
       key carry over by reference;
    6. one of two bodies, by table flavour: ``_cow_rewrite``
       (copy-on-write: the survivor/rewritten group, an optional added
       group, the speculative change file, then the exact counters),
       or for deletes on a ``dv=True`` table ``_dv_tombstone`` (a key
       tombstone sidecar, optional inserts, the change file);
    7. ``_commit_keyed``: publish the ``_next_manifest``, rebasing it
       onto a concurrent commit that provably missed this op's keys."""

    def __init__(self, spark: SparkSession, path: str, log_store=None):
        from sif_spark.logstore import (
            HadoopRenameLogStore,
            PosixExclLogStore,
        )

        self.spark = spark
        path = strip_file_scheme(path.rstrip("/"))
        self.path = path
        if log_store is not None:
            self.log = log_store
        elif "://" in path or ":" in path.split("/", 1)[0]:
            self.log = HadoopRenameLogStore(spark)  # hdfs:// and friends
        else:
            self.log = PosixExclLogStore()

    # -- manifest plumbing -------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return f"{self.path}/{_MANIFESTS}/v{version:010d}.json"

    def _versions(self) -> list[int]:
        out = []
        for name in self.log.list_names(f"{self.path}/{_MANIFESTS}"):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def _load(self, version: int | None = None) -> dict:
        versions = self._versions()
        if not versions:
            raise FileNotFoundError(f"no committed snapshots under {self.path}")
        v = version if version is not None else versions[-1]
        if v not in versions:
            raise ValueError(f"version {v} not in {versions}")
        return _expand_col_eras(
            json.loads(self.log.read_text(self._manifest_path(v)))
        )

    def _stamp_floor(self, manifest: dict, m_prev: dict) -> dict:
        """Record the monotonic ``last_column_id`` watermark on a
        columns-bearing manifest (legacy manifests stay legacy)."""
        if manifest.get("columns") is not None:
            manifest["last_column_id"] = _last_col_id_after(
                m_prev, manifest["columns"]
            )
        return manifest

    def _commit(self, manifest: dict) -> int:
        """Publish the manifest via the log store's put-if-absent:
        exactly one writer wins a version; the loser re-reads the new
        snapshot and retries."""
        v = manifest["version"]
        if not self.log.put_if_absent(
            self._manifest_path(v),
            json.dumps(_intern_col_eras(manifest), indent=1),
        ):
            raise ConcurrentCommitError(
                f"version {v} was committed by another writer — re-read "
                "the table and retry"
            )
        return v

    def _next_manifest(self, m: dict, op: str, **delta) -> dict:
        """The manifest that follows ``m`` for ``op``. Every field not
        in ``delta`` carries from ``m`` — key spec, bucket, bloom/cdf/dv
        flags, txns, schema, column ids, groups; the deletion-vector
        list is pruned to the surviving groups, a falsy ``cdc`` is
        omitted, and the column-id watermark is stamped."""
        fields = {
            "version": m["version"] + 1,
            "parent": m["version"],
            "op": op,
            "columns": _columns_of(m),
            "added": [],
            "txns": m.get("txns", {}),
            "key_col": m.get("key_col"),
            "key_cols": m.get("key_cols"),
            "bucket": m.get("bucket"),
            "key_bloom": m.get("key_bloom", False),
            "cdf": m.get("cdf", False),
            "dv": m.get("dv", False),
            "schema": m["schema"],
            "groups": m["groups"],
            **delta,
        }
        fields.setdefault("dvs", _carry_dvs(m, fields["groups"]))
        if not fields.get("cdc"):
            fields.pop("cdc", None)
        if op == "append" and fields["columns"] is None:
            del fields["columns"]  # legacy table: appends omit the key
        order = _APPEND_KEYS if op == "append" else _MANIFEST_KEYS
        return self._stamp_floor(
            {k: fields[k] for k in order if k in fields}, m
        )

    # -- data groups ---------------------------------------------------------

    def _write_group(self, df: DataFrame, version: int, seq: int,
                     key_col: str | list[str] | None,
                     bucket: dict | None = None,
                     key_bloom: bool = False,
                     columns: list[dict] | None = None) -> dict:
        from pyspark.sql import Observation

        gid = f"g-{version:010d}-{seq:03d}-{uuid.uuid4().hex[:8]}"
        gpath = f"{self.path}/data/{gid}"
        # group stats (row count, key min/max for file skipping) ride
        # the WRITE job via the Observation API — the old
        # read-back-and-aggregate cost a second full scan per group,
        # which at compaction scale means reading the table twice
        obs = Observation()
        agg = [F.count(F.lit(1)).alias("rows")]
        keys = [key_col] if isinstance(key_col, str) else list(key_col or [])
        # the dedicated key_min/key_max pair is the 1-ary fast path;
        # composite keys skip via the per-column `stats` ranges (below)
        # plus the key-TUPLE bloom
        has_key = len(keys) == 1 and keys[0] in df.columns
        if has_key:
            agg += [F.min(keys[0]).alias("kmin"), F.max(keys[0]).alias("kmax")]
        # per-column min/max for read-side data skipping (read_between/
        # lookup prune whole groups before the union) — same write job
        stat_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(
                f.dataType,
                (
                    T.IntegerType, T.LongType, T.ShortType, T.ByteType,
                    T.FloatType, T.DoubleType, T.StringType,
                    T.DateType, T.TimestampType, T.BooleanType,
                ),
            )
        ]
        for c in stat_cols:
            agg += [F.min(c).alias(f"min::{c}"), F.max(c).alias(f"max::{c}")]
        observed = df.observe(obs, *agg)
        # no _SUCCESS marker: group visibility is gated by the manifest
        # commit, not by the dir contents — the marker is pure commit-
        # tail latency (its cost repeats on every group of every
        # mutation, incl. each streaming fold's micro-commit)
        if bucket:
            # bucketed group: hash-clustered files + a session-catalog
            # external table (the same mechanics as the epoch stores'
            # zero-shuffle layout) — later equi-joins/aggregations on
            # the bucket column read this group without an Exchange
            (
                observed.write.mode("overwrite")
                .bucketBy(bucket["n"], bucket["col"])
                .option("path", gpath)
                .option(_NO_SUCCESS_OPT, "false")
                .format("parquet")
                .saveAsTable(self._group_table_name(gpath))
            )
        else:
            observed.write.mode("overwrite").option(
                _NO_SUCCESS_OPT, "false"
            ).parquet(gpath)
        row = obs.get
        # exact on-disk bytes (one driver-side listing of the group we
        # just wrote): feeds size_bytes() → read()'s automatic
        # broadcast hint, the stats channel the Python DataSource API
        # cannot carry to Catalyst (VERDICT r11 "Next round" #4)
        gbytes = self._dir_bytes(gpath)
        stats: dict = {"rows": row["rows"], "bytes": gbytes}
        col_stats = {}
        for c in stat_cols:
            lo = _stat_json(row[f"min::{c}"])
            hi = _stat_json(row[f"max::{c}"])
            if lo is not _STAT_SKIP and hi is not _STAT_SKIP:
                col_stats[c] = [lo, hi]
        if col_stats:
            stats["stats"] = col_stats
        if has_key:
            stats["key_min"] = row["kmin"]
            stats["key_max"] = row["kmax"]
        if key_bloom and keys and all(k in df.columns for k in keys):
            # one column-pruned scan of the freshly written group
            # (the key column(s) only); None when saturated
            bloom = _bloom_of(
                self.spark.read.parquet(gpath), keys, int(row["rows"])
            )
            if bloom is not None:
                stats["key_bloom"] = bloom
        out = {"id": gid, "path": gpath, "schema": _ddl(df.schema), **stats}
        ids = _col_ids_for(columns, df.schema)
        if ids:
            out["col_ids"] = ids
        return out

    def _write_for(
        self, m: dict, df: DataFrame, version: int, seq: int,
        columns: list[dict] | None,
    ) -> dict:
        """_write_group under snapshot ``m``'s key, bucket and bloom
        spec."""
        return self._write_group(
            df, version, seq, _key_cols(m), m.get("bucket"),
            m.get("key_bloom", False), columns,
        )

    def _path_exists(self, path: str) -> bool:
        fs, _, jvm = _fs(self.spark, self.path)
        return bool(fs.exists(jvm.org.apache.hadoop.fs.Path(path)))

    def _dir_bytes(self, path: str) -> int:
        """Total bytes of the data files under ``path`` (recursive,
        via the table's Hadoop FS so hdfs:// groups work too)."""
        fs, _, jvm = _fs(self.spark, self.path)
        total = 0
        it = fs.listFiles(jvm.org.apache.hadoop.fs.Path(path), True)
        while it.hasNext():
            st = it.next()
            name = st.getPath().getName()
            if not name.startswith(("_", ".")):
                total += st.getLen()
        return total

    def size_bytes(self, version: int | None = None) -> int:
        """Exact on-disk bytes of a snapshot — per-group ``bytes``
        recorded at write time; legacy groups (pre-round-12 manifests)
        fall back to one listing each, so the call is always exact."""
        m = self._load(version)
        total = 0
        for g in m["groups"]:
            b = g.get("bytes")
            total += int(b) if b is not None else self._dir_bytes(g["path"])
        return total

    def _group_table_name(self, gpath: str) -> str:
        import hashlib

        return "sif_table_" + hashlib.md5(gpath.encode()).hexdigest()[:16]

    def _write_cdc(self, df: DataFrame, version: int,
                   columns: list[dict] | None = None) -> dict:
        """Materialize one version's change file (rows + _change_type)
        under <table>/cdc/ — written BEFORE the manifest commit, so a
        SIGKILL between the two leaves an invisible orphan, never a
        torn feed (the same one-way-door ordering as data groups)."""
        from pyspark.sql import Observation

        cid = f"c-{version:010d}-000-{uuid.uuid4().hex[:8]}"
        cpath = f"{self.path}/cdc/{cid}"
        obs = Observation()
        observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        observed.write.mode("overwrite").option(
            _NO_SUCCESS_OPT, "false"
        ).parquet(cpath)
        out = {
            "path": cpath,
            "rows": int(obs.get["rows"]),
            "schema": _ddl(df.schema),
        }
        ids = _col_ids_for(columns, df.schema)
        if ids:
            out["col_ids"] = ids
        return out

    # -- public API ----------------------------------------------------------

    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        df: DataFrame,
        key_col: str | None = None,
        bucket_by: str | None = None,
        n_buckets: int | None = None,
        txn: tuple[str, int] | None = None,
        key_bloom: bool = False,
        cdf: bool = False,
        log_store=None,
        key_cols: list[str] | None = None,
        dv: bool = False,
    ) -> "SifTable":
        """``cdf=True`` enables the full change-data feed: upserts and
        deletes materialize their change file (pre-images, post-images,
        tombstones) at write time under <table>/cdc/, so
        ``changes(cdf=True)`` / the `sif_table` source's ``cdf`` option
        can emit every row change — the Delta CDF shape. Off (default),
        replacements/deletions are still COUNTED exactly in each
        manifest (replaced_rows/deleted_rows), so incremental consumers
        that assume append-only fail loudly instead of drifting.

        ``txn=(app_id, epoch)`` records the creating writer's epoch
        in the first manifest, so a crash-replay of the CREATING
        micro-batch is a no-op append, not a duplicate (see append()).

        ``bucket_by``/``n_buckets`` give the table a PERSISTENT
        bucket layout: every group (create/append/upsert/compact) is
        written hash-clustered on the column, `bucketed_frame()` reads
        a compacted snapshot with the bucket metadata attached (joins
        on the column plan ZERO Exchange on the table side — pinned in
        tests), and the spec lives in the manifest so it can never
        drift call-to-call (the pipeline stores' "bucket count is
        forever" contract, here enforced by construction)."""
        if bool(bucket_by) != bool(n_buckets):
            raise ValueError("bucket_by and n_buckets come together")
        if key_col and key_cols:
            raise ValueError("pass key_col= (1-ary) OR key_cols=, not both")
        keys = [key_col] if key_col else list(key_cols or [])
        if len(set(keys)) != len(keys):
            raise ValueError(f"duplicate names in key_cols={keys}")
        if key_cols:
            # the composite surface validates up front (the 1-ary path
            # keeps its lenient legacy contract); the REAL columns are
            # the identity — never a derived hash (the xxhash64-chain
            # pattern silently folds distinct business keys at
            # ~n^2/2^65 expected collisions: ~270 on a 10^11-row table)
            absent = [k for k in keys if k not in df.columns]
            if absent:
                raise ValueError(f"key_cols {absent} not in the frame")
        t = SifTable(spark, path, log_store=log_store)
        if t._versions():
            raise ValueError(f"table already exists at {path}")
        if key_bloom and not keys:
            raise ValueError(
                "key_bloom needs a table created with key_col=/key_cols="
            )
        if dv and not keys:
            raise ValueError(
                "dv=True (deletion vectors) needs a keyed table — "
                "tombstones identify rows by the merge key"
            )
        bucket = {"col": bucket_by, "n": n_buckets} if bucket_by else None
        columns = [
            {"id": i, "name": f.name} for i, f in enumerate(df.schema.fields)
        ]
        group = t._write_group(df, 1, 0, keys, bucket, key_bloom, columns)
        t._commit(
            t._stamp_floor({
                "version": 1,
                "parent": None,
                "op": "create",
                "key_col": keys[0] if len(keys) == 1 else None,
                "key_cols": keys if len(keys) > 1 else None,
                "bucket": bucket,
                "key_bloom": key_bloom,
                "cdf": cdf,
                "dv": dv,
                "txns": {txn[0]: int(txn[1])} if txn else {},
                "added": [group["id"]],
                "schema": _ddl(df.schema),
                "columns": columns,
                "groups": [group],
            }, {})
        )
        return t

    def bucketed_frame(self, version: int | None = None) -> DataFrame:
        """The snapshot WITH its bucket metadata — requires a bucketed
        table whose snapshot is exactly one group (i.e. post-compact):
        Spark's bucketed-scan co-location only holds for a single
        consistent file set, so a fragmented snapshot raises with the
        fix (compact()) named. Plain `read()` always works."""
        m = self._load(version)
        bucket = m.get("bucket")
        if not bucket:
            raise ValueError("table was not created with bucket_by=")
        if m.get("dvs"):
            raise ValueError(
                f"snapshot v{m['version']} carries live deletion "
                "vectors — the raw bucketed scan cannot apply them; "
                "run compact() to reconcile first"
            )
        if len(m["groups"]) != 1:
            raise ValueError(
                f"snapshot v{m['version']} holds {len(m['groups'])} groups — "
                "bucketed reads need one consistent file set; run compact()"
            )
        gpath = m["groups"][0]["path"]
        name = self._group_table_name(gpath)
        if not self.spark.catalog.tableExists(name):
            self.spark.sql(
                f"CREATE TABLE {name} ({m['groups'][0]['schema']}) USING parquet "
                f"CLUSTERED BY ({bucket['col']}) INTO {bucket['n']} BUCKETS "
                f"LOCATION '{gpath}'"
            )
        return self.spark.table(name)

    def history(self) -> list[dict]:
        return [
            {
                "version": m["version"],
                "op": m["op"],
                "rows": sum(_live_rows(g) for g in m["groups"]),
                "groups": len(m["groups"]),
                "schema": m["schema"],
            }
            for m in (self._load(v) for v in self._versions())
        ]

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read (default: latest; explicit version = time
        travel). Every group aligns to the SNAPSHOT's schema by name —
        groups written before a column existed surface it as NULL. An
        empty snapshot (e.g. after an overwrite with an empty frame)
        reads as zero rows with the schema intact.

        Join planning (VERDICT r11 "Next round" #4): this path is
        plain parquet scans, so Catalyst sees the files' EXACT bytes
        and a small dimension auto-broadcasts with no hint (pinned in
        tests/test_plans.py). ``spark.read.format("sif_table")`` can
        NOT carry statistics — Spark 4.1's PythonScan implements no
        SupportsReportStatistics (verified against the shipped class),
        so that path plans the scan as default-sized and relies on
        AQE's runtime re-plan for broadcasts. For SQL, register views
        through ``register_view`` (this read) rather than the
        DataSource to keep the stats."""
        return self._snapshot(self._load(version))

    def _snapshot(self, m: dict) -> DataFrame:
        return self._read_groups(
            m, m["groups"], T._parse_datatype_string(m["schema"]),
            _columns_of(m),
        )

    def register_view(self, name: str, version: int | None = None) -> None:
        """Register the snapshot as a temp view for plain SQL — the
        stats-carrying SQL surface: backed by ``read()``'s native
        parquet scans, so Catalyst knows the real size and a small
        dimension auto-broadcasts in SQL joins (the
        ``spark.read.format("sif_table")`` temp-view route loses that
        — upstream PythonScan has no statistics hook)."""
        self._snapshot(self._load(version)).createOrReplaceTempView(name)

    def last_txn_epoch(self, app_id: str) -> int:
        """The highest epoch committed for ``app_id`` (-1 if none).
        O(1): the latest manifest carries the rolled-up txns map."""
        return int(self._load().get("txns", {}).get(app_id, -1))

    def _prune_groups(self, m: dict, col: str, lo, hi) -> list[dict]:
        return prune_groups(m, col, lo, hi)

    def _dv_frame(
        self, m: dict, dvs: list[dict], columns: list[dict] | None
    ) -> DataFrame:
        """The union of deletion-vector sidecars as (__gid, key cols
        under their CURRENT names) — dv files record their written
        names + col_ids, so tombstones stay exact across a key
        rename. Small by contract (compact() reconciles), hence
        broadcast by the caller. Sidecars batch into ONE scan per
        distinct (written schema, col_ids) class, same shape as
        _read_groups (round 14: the read plan must stay O(classes) as
        daily erasure batches accumulate sidecars); legacy entries
        without a recorded schema fall back to one scan each."""
        keys = _key_cols(m)
        id_of = (
            {c["name"]: c["id"] for c in columns} if columns else {}
        )
        parts = []
        for ids, paths, _ in _scan_classes(dvs):
            df = self.spark.read.parquet(*paths)
            ids = ids or {}
            written_by_id = {i: w for w, i in ids.items()}
            sel = [F.col("_gid").alias("__gid")]
            for k in keys:
                w = written_by_id.get(id_of.get(k), k)
                sel.append(F.col(w).alias(k))
            parts.append(df.select(*sel))
        return reduce(DataFrame.unionByName, parts)

    def _read_groups(
        self,
        m: dict,
        groups: list[dict],
        target: T.StructType,
        columns: list[dict] | None = None,
        with_gid: bool = False,
    ) -> DataFrame:
        """Aligned union of ``groups``, with the snapshot's deletion
        vectors applied as ONE broadcast anti-join on (group id, key
        tuple) — group files are never rewritten by a dv delete, so
        the read side is where tombstones take effect (merge-on-read).
        Tables without live dvs keep the exact pre-dv plan (no _gid
        projection, no join). ``with_gid=True`` keeps each row's
        owning group id (``__gid``, from the file path) — the read
        shape every dv-writing op needs (already-deleted rows must
        never re-count or re-tombstone).

        Groups batch into ONE multi-path scan per distinct (on-disk
        schema, col_ids) class — the _batched_tagged_read shape
        (round 14, VERDICT r13 "What's wrong" #1): a steadily
        ingesting table holds thousands of same-schema groups, and a
        per-group scan loop made the snapshot plan O(groups) union
        branches, a driver-side analysis bottleneck before a byte is
        read. The id-aware alignment is per CLASS (every group in a
        class shares written names + ids), so renamed/dropped columns
        surface exactly as before."""
        if not groups:
            return self.spark.createDataFrame([], target)
        gids = {g["id"] for g in groups}
        dvs = [
            d for d in m.get("dvs") or [] if gids & set(d["gids"])
        ]
        gid_col = (
            [
                F.regexp_extract(
                    F.col("_metadata.file_path"), _GID_PAT, 1
                ).alias("__gid")
            ]
            if dvs or with_gid
            else []
        )
        parts = []
        for ids, paths, _ in _scan_classes(groups):
            df = self.spark.read.parquet(*paths)
            parts.append(
                df.select(
                    *_align_ids_select(
                        df.columns, ids, target, columns
                    ),
                    *gid_col,
                )
            )
        out = reduce(DataFrame.unionByName, parts)
        if dvs:
            dvf = self._dv_frame(m, dvs, columns)
            if sum(int(d["rows"]) for d in dvs) <= _DV_BROADCAST_MAX_ROWS:
                dvf = F.broadcast(dvf)
            # else: an uncompacted table grew its tombstone set past
            # the broadcast budget — fall back to Spark's own join
            # planning (shuffled hash anti-join) instead of forcing a
            # too-big broadcast
            out = out.join(dvf, on=["__gid"] + _key_cols(m), how="left_anti")
            if not with_gid:
                out = out.drop("__gid")
        return out

    def read_between(
        self, col: str, lo=None, hi=None, version: int | None = None
    ) -> DataFrame:
        """Snapshot read of rows with ``col`` in [lo, hi] (either bound
        optional), SKIPPING whole groups whose manifest min/max proves
        they cannot match — Delta-style data skipping, one manifest
        read, zero file I/O for pruned groups. The surviving groups
        still carry the row-level filter (pruning is an optimization,
        never the correctness input). Bounds must be the column's own
        type (numbers, strings, date/datetime)."""
        m = self._load(version)
        target = T._parse_datatype_string(m["schema"])
        if col not in [f.name for f in target.fields]:
            raise ValueError(f"no column {col!r} in snapshot schema")
        if lo is None and hi is None:
            # no bounds = full snapshot. Pruning would still drop
            # all-null groups (whose rows pass the lit(True) filter) —
            # silent row loss in the degenerate call (ADVICE r10)
            return self._snapshot(m)
        keep = self._prune_groups(
            m,
            col,
            _stat_bound(lo) if lo is not None else None,
            _stat_bound(hi) if hi is not None else None,
        )
        out = self._read_groups(m, keep, target, _columns_of(m))
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(col) <= F.lit(hi))
        return out.filter(cond)

    def lookup(self, value, version: int | None = None) -> DataFrame:
        """Point lookup by the table's key: a scalar for 1-ary
        ``key_col`` tables, a tuple/list in key order for composite
        ``key_cols`` tables. Prunes groups by every key column's range
        AND (when present) the per-group key-tuple Bloom filter — on a
        compacted 100 TB table a miss costs one manifest read and zero
        data I/O; a hit reads only the group(s) that may hold the key.
        The survivors still carry the row filter (bloom false
        positives read-and-filter, never corrupt)."""
        m = self._load(version)
        keys = _key_cols(m)
        if not keys:
            raise ValueError(
                "lookup needs a table created with key_col=/key_cols="
            )
        values = (
            list(value) if isinstance(value, (tuple, list)) else [value]
        )
        if len(values) != len(keys):
            raise ValueError(
                f"lookup expects {len(keys)} key value(s) for {keys}, "
                f"got {len(values)}"
            )
        if any(v is None for v in values):
            raise ValueError("lookup(None) is not a range-key lookup")
        target = T._parse_datatype_string(m["schema"])
        key_types = [target[k].dataType for k in keys]
        bounds = [_stat_bound(v) for v in values]
        candidates = m["groups"]
        for k, b in zip(keys, bounds):
            candidates = self._prune_groups(
                {**m, "groups": candidates}, k, b, b
            )
        if len(keys) == 1:
            # 1-ary fast path: the dedicated key_min/key_max pair
            bound = bounds[0]
            kept = []
            for g in candidates:
                gmin, gmax = g.get("key_min"), g.get("key_max")
                if gmin is not None and gmax is not None:
                    b = _stat_bound(gmin), _stat_bound(gmax)
                    if bound < b[0] or bound > b[1]:
                        continue
                kept.append(g)
            candidates = kept
        if any(g.get("key_bloom") for g in candidates):
            # the tuple's seeded probes, hashed by Spark itself so the
            # hash matches the write side's column hashing exactly —
            # each part cast to the group's RECORDED bloom dtype
            # (groups written before a key widening hashed the narrow
            # type; probing with the snapshot type would
            # false-negative every one)
            snap_kt = _KTYPE_SEP.join(t.simpleString() for t in key_types)
            pair_by_ktype: dict[str, list] = {}
            for kt in {
                g["key_bloom"].get("ktype", snap_kt)
                for g in candidates
                if g.get("key_bloom")
            }:
                kts = kt.split(_KTYPE_SEP)
                if len(kts) != len(keys):
                    pair_by_ktype[kt] = None  # other arity: never skip
                    continue
                # try_cast (ANSI-safe): a value that does not fit the
                # group's narrow recorded dtype provably is not in
                # that group — an empty probe list excludes it
                casted = [
                    F.lit(v).try_cast(t) for v, t in zip(values, kts)
                ]
                probe = self.spark.range(1).select(
                    *[c.alias(f"__k{i}") for i, c in enumerate(casted)],
                    *[
                        F.xxhash64(*casted, F.lit(s)).alias(f"h{i}")
                        for i, s in enumerate(_BLOOM_SEEDS)
                    ],
                ).collect()[0]
                pair_by_ktype[kt] = (
                    []
                    if any(
                        probe[f"__k{i}"] is None for i in range(len(keys))
                    )
                    else [
                        tuple(
                            probe[f"h{i}"]
                            for i in range(len(_BLOOM_SEEDS))
                        )
                    ]
                )
            candidates = [
                g
                for g in candidates
                if not g.get("key_bloom")
                or pair_by_ktype[g["key_bloom"].get("ktype", snap_kt)]
                is None
                or _bloom_maybe_contains(
                    g["key_bloom"],
                    pair_by_ktype[g["key_bloom"].get("ktype", snap_kt)],
                )
            ]
        out = self._read_groups(m, candidates, target, _columns_of(m))
        cond = F.lit(True)
        for k, v, t in zip(keys, values, key_types):
            cond = cond & (F.col(k) == F.lit(v).cast(t))
        return out.filter(cond)

    # every group/cdc dir is named [gc]-<version>-<seq>-<hex8>, so the
    # commit version of any data file is derivable from its OWN path —
    # the batched change-feed read tags rows without one plan node per
    # group (VERDICT r10 "What's wrong" #2: plan growth O(schema
    # classes), not O(groups))
    _VER_PAT = r".*/[gc]-(\d{10})-\d{3}-[0-9a-f]{8}/[^/]*$"

    def _batched_tagged_read(
        self,
        path_schemas: list[tuple[str, str, dict | None]],
        target: T.StructType,
        columns: list[dict] | None,
        tag: str | None,
        with_change_type: bool,
    ) -> DataFrame | None:
        """Read many group dirs with ONE scan per distinct (on-disk
        schema, id-mapping) class, aligning to ``target`` and deriving
        _commit_version from each file's path. Each entry is (path,
        ddl, written col_ids or None); ``columns`` is the TARGET
        snapshot's id list, so files written before a rename align by
        id under the new name. ``tag`` is a constant _change_type
        ('insert') or None to read the dir's own _change_type column
        (cdc dirs); ``with_change_type`` controls whether the column
        appears at all (non-cdf feeds omit it)."""
        if not path_schemas:
            return None
        by_class: dict[tuple, tuple[dict | None, list[str]]] = {}
        for path, ddl, ids in path_schemas:
            key = (ddl, tuple(sorted(ids.items())) if ids else None)
            by_class.setdefault(key, (ids, []))[1].append(path)
        ver = (
            F.regexp_extract(F.col("_metadata.file_path"), self._VER_PAT, 1)
            .cast("int")
            .alias("_commit_version")
        )
        parts = []
        for ids, paths in by_class.values():
            df = self.spark.read.parquet(*paths)
            cols = _align_ids_select(df.columns, ids, target, columns)
            if with_change_type:
                if tag is not None:
                    cols.append(F.lit(tag).alias("_change_type"))
                else:
                    # _change_type is metadata, never renamed
                    cols.append(
                        F.col("_change_type")
                        .cast("string")
                        .alias("_change_type")
                    )
            cols.append(ver)
            parts.append(df.select(*cols))
        return reduce(DataFrame.unionByName, parts)

    def _empty_changes(self, target: T.StructType, cdf: bool) -> DataFrame:
        extra = (
            [T.StructField("_change_type", T.StringType(), False)] if cdf else []
        )
        return self.spark.createDataFrame(
            [],
            T.StructType(
                target.fields
                + extra
                + [T.StructField("_commit_version", T.IntegerType(), False)]
            ),
        )

    def changes(
        self,
        after_version: int,
        to_version: int | None = None,
        cdf: bool = False,
    ) -> DataFrame:
        """The change feed over versions in (after_version, to_version].

        ``cdf=False`` (append-feed): rows ADDED by each version —
        create/append contribute their new group, upsert contributes
        its UPDATE batch (replaced rows appear as their new values; the
        rewritten survivors are carried copies, not changes), delete
        and compact contribute nothing. Each row carries its
        _commit_version. Downstream folds that assume append-only must
        GUARD on the manifests' exact replaced_rows/deleted_rows
        counters (mview does) — this mode cannot represent a removal.

        ``cdf=True`` (full CDC, the Delta CDF shape): every row change
        is emitted with a ``_change_type`` in {insert,
        update_preimage, update_postimage, delete}. Requires the table
        to be created with ``cdf=True`` for any version that actually
        replaced or deleted rows (those versions materialized their
        change file at write time under <table>/cdc/); versions that
        provably added only (create/append/pure-insert upserts) need
        no change file and are tagged 'insert' from their data groups.
        A restore in the window raises ChangeFeedIncompleteError — its
        logical diff is not materialized.

        Plan shape: one parquet scan per DISTINCT group schema in the
        window (not per group) — _commit_version derives from each
        file's path, so a thousand-commit history plans O(1) nodes
        (pinned in tests/test_table.py)."""
        versions = self._versions()
        if not versions:
            raise FileNotFoundError(f"no committed snapshots under {self.path}")
        hi = to_version if to_version is not None else versions[-1]
        # a vacuumed stretch inside the requested window is a TYPED
        # error naming the range — never a silent gap (VERDICT r11
        # "Next round" #8): versions are contiguous, so anything
        # between after_version and the oldest surviving manifest was
        # reclaimed
        first = versions[0]
        if after_version + 1 < first or hi < first:
            # `hi < first` covers the window that lies ENTIRELY inside
            # the vacuumed prefix (an explicit to_version older than
            # every surviving manifest): the old guard let it fall
            # through to _load(hi) and raise a raw not-found error
            # instead of the documented typed one (ADVICE r12 low)
            raise ChangeFeedIncompleteError(
                f"change-feed window ({after_version}, {hi}] needs "
                f"versions {after_version + 1}..{min(hi, first - 1)}, "
                "which were vacuumed — rebuild the consumer or start "
                f"after version {first - 1}"
            )
        hi_m = self._load(hi)
        target = T._parse_datatype_string(hi_m["schema"])
        hi_cols = _columns_of(hi_m)
        # live groups carry forward WITH their (possibly synthesized)
        # col_ids — the richest id source for a group whose own
        # version predates the bootstrap
        hi_group_ids = {
            g["id"]: g.get("col_ids") for g in hi_m["groups"]
        }

        # lazily resolved: the FIRST columns-bearing manifest's by-name
        # id assignment. A pre-bootstrap version aligned by name up to
        # the bootstrap commit, so that correspondence IS its id map —
        # the same rule _bootstrap_columns applies to live groups. The
        # old fallback (align by name against the POST-rename snapshot)
        # silently NULLed the renamed column for pre-bootstrap versions
        # whose group was later rewritten away (ADVICE r12 medium).
        bootstrap_by_name: list[dict | None] = []

        def _bootstrap_ids() -> dict | None:
            if not bootstrap_by_name:
                found = None
                for v2 in versions:
                    m2 = self._load(v2)
                    cols2 = _columns_of(m2)
                    if cols2 is not None:
                        # the bootstrap commit may itself be the
                        # rename/drop: its `columns` carry POST-change
                        # names, but its groups' synthesized col_ids
                        # record the by-name assignment as of the
                        # bootstrap MOMENT — overlay them (they are
                        # authoritative for written names, including
                        # the renamed-from / dropped name)
                        found = {c["name"]: c["id"] for c in cols2}
                        for g2 in m2["groups"]:
                            found.update(g2.get("col_ids") or {})
                        break
                bootstrap_by_name.append(found)
            return bootstrap_by_name[0]

        def _ids_from_manifest(m_v: dict, ddl: str) -> dict | None:
            cols_v = _columns_of(m_v)
            if cols_v is None:
                if hi_cols is None:
                    return None  # legacy end-to-end: by-name is exact
                # pre-bootstrap version under a columns-bearing HEAD:
                # synthesize ids with the bootstrap rule (by-name
                # against the first id assignment). Names outside it
                # were invisible at bootstrap and stay invisible.
                boot = _bootstrap_ids()
                if boot is None:
                    return None
                return {
                    n: boot[n] for n in _schema_names(ddl) if n in boot
                } or None
            by_name = {c["name"]: c["id"] for c in cols_v}
            return {
                n: by_name[n]
                for n in _schema_names(ddl)
                if n in by_name
            } or None

        insert_paths: list[tuple[str, str, dict | None]] = []
        cdc_paths: list[tuple[str, str, dict | None]] = []
        for v in versions:
            if not after_version < v <= hi:
                continue
            m = self._load(v)
            if "added" not in m:
                raise ValueError(
                    f"version {v} predates the change feed (no 'added' "
                    "record in its manifest)"
                )
            if cdf:
                self._check_cdf_version(m)
                if m.get("cdc"):
                    if not self._path_exists(m["cdc"]["path"]):
                        raise ChangeFeedIncompleteError(
                            f"version {v}'s change file was reclaimed "
                            "by vacuum(cdf_retain_last=...) — the CDC "
                            f"window ({after_version}, {hi}] is no "
                            "longer replayable; rebuild the consumer "
                            f"or start after version {v}"
                        )
                    # the change file REPLACES the added groups for
                    # this version (it holds postimages+inserts+
                    # preimages/deletes in one dir); its names are the
                    # version's names — ids come from that manifest
                    cdc_paths.append(
                        (
                            m["cdc"]["path"],
                            m["cdc"]["schema"],
                            m["cdc"].get("col_ids")
                            or _ids_from_manifest(m, m["cdc"]["schema"]),
                        )
                    )
                    continue
            by_id = {g["id"]: g for g in m["groups"]}
            for gid in m["added"]:
                g = by_id[gid]
                ids = (
                    g.get("col_ids")
                    or hi_group_ids.get(gid)
                    or _ids_from_manifest(m, g["schema"])
                )
                insert_paths.append((g["path"], g["schema"], ids))
        parts = [
            p
            for p in (
                self._batched_tagged_read(
                    insert_paths, target, hi_cols, "insert", cdf
                ),
                self._batched_tagged_read(
                    cdc_paths, target, hi_cols, None, cdf
                )
                if cdf
                else None,
            )
            if p is not None
        ]
        if not parts:
            return self._empty_changes(target, cdf)
        return reduce(DataFrame.unionByName, parts)

    @staticmethod
    def _check_cdf_version(m: dict) -> None:
        """Raise ChangeFeedIncompleteError when manifest ``m``'s
        version removed/replaced rows that were NOT materialized as a
        change file — emitting anything less would silently drop
        changes (the exact bug class the r10 verdict flagged)."""
        v, op = m["version"], m.get("op")
        if m.get("cdc"):
            return
        if op in ("restore", "overwrite"):
            raise ChangeFeedIncompleteError(
                f"version {v} is a {op} — its logical diff is not "
                "materialized; start the CDC read after it"
            )
        if op == "upsert":
            replaced = m.get("replaced_rows")
            if replaced is None or replaced > 0:
                raise ChangeFeedIncompleteError(
                    f"version {v} (upsert) replaced "
                    f"{'an unrecorded number of' if replaced is None else replaced} "
                    "rows but materialized no change file — create the "
                    "table with cdf=True to stream upserts"
                )
        if op == "delete":
            deleted = m.get("deleted_rows")
            if deleted is None or deleted > 0:
                raise ChangeFeedIncompleteError(
                    f"version {v} (delete) removed "
                    f"{'an unrecorded number of' if deleted is None else deleted} "
                    "rows but materialized no change file — create the "
                    "table with cdf=True to stream deletes"
                )
        if op == "merge":
            for counter in ("replaced_rows", "deleted_rows"):
                c = m.get(counter)
                if c is None or c > 0:
                    raise ChangeFeedIncompleteError(
                        f"version {v} (merge) has {counter}="
                        f"{'unrecorded' if c is None else c} but "
                        "materialized no change file — create the table "
                        "with cdf=True to stream merges"
                    )

    def append(
        self, df: DataFrame, txn: tuple[str, int] | None = None, retries: int = 3
    ) -> int:
        """Append a new data group. ``txn=(app_id, epoch)`` makes the
        append IDEMPOTENT: each manifest carries a rolled-up
        {app_id: last_epoch} map, and an append whose epoch is <= the
        recorded one is a no-op returning the current version — the
        exactly-once contract a Structured Streaming foreachBatch sink
        needs under crash-replay (Spark replays the last micro-batch
        after a failure with the SAME epoch id; the replay must not
        double rows). Same idea as Delta's txnAppId/txnVersion. A
        concurrent-commit loss re-reads the snapshot: if the epoch
        landed (the racing writer was our own replay), it skips;
        otherwise it retries against the new parent."""

        def once() -> int:
            m = self._load()
            txns = _txn_gate(m, txn)
            if txns is None:
                return m["version"]  # replayed epoch: no-op
            merged = _merge_schema(
                T._parse_datatype_string(m["schema"]), df.schema
            )
            cols_next = _next_columns(m, merged)
            group = self._write_for(m, df, m["version"] + 1, 0, cols_next)
            return self._commit(
                self._next_manifest(
                    m, "append", txns=txns, added=[group["id"]],
                    schema=_ddl(merged), groups=m["groups"] + [group],
                    columns=cols_next,
                )
            )

        return _retrying(once, retries)

    def upsert(
        self,
        updates: DataFrame,
        retries: int = 3,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """MERGE by the table's key_col: rows whose key exists are
        replaced, new keys append. Copy-on-write at GROUP granularity
        with two-tier file skipping: groups whose recorded
        [key_min, key_max] is disjoint from the updates' range carry
        over BY REFERENCE, and range-overlapping groups ALSO skip when
        none of the update keys survives the group's key Bloom filter
        (a bloom miss proves the group holds no matched key; a false
        positive just rewrites — never wrong, only slower). The
        nightly cost is O(batch + touched groups), never O(table).
        Retries optimistic-commit losses against the fresh snapshot.
        ``txn=(app_id, epoch)`` gives the same crash-replay
        idempotence as append(txn=) — the contract incremental
        materialized-view maintenance needs."""
        return _retrying(
            lambda: self._keyed_once("upsert", updates, txn), retries
        )

    def merge(
        self,
        source: DataFrame,
        when_matched_update: dict[str, str] | None = None,
        when_matched_update_condition: str | None = None,
        when_matched_delete: bool | str = False,
        when_not_matched_insert: bool | dict[str, str] = False,
        when_not_matched_insert_condition: str | None = None,
        retries: int = 3,
        txn: tuple[str, int] | None = None,
        evolve_schema: bool = True,
    ) -> int:
        """Conditional MERGE on the table's key_col (VERDICT r11 "Next
        round" #2 — the Debezium-style CDC-apply shape ``upsert``'s
        whole-row replacement cannot express): update a COLUMN SUBSET
        of matched rows, conditionally delete matched rows, and insert
        unmatched source rows, in one snapshot commit.

        Clause semantics (Delta/ANSI MERGE, fixed clause order):

        - ``when_matched_delete``: ``True`` or a SQL condition over
          ``s.*``/``t.*`` — matched pairs where it holds are DELETED.
          Evaluated FIRST (a pair that deletes never updates).
        - ``when_matched_update``: ``{target_col: sql_expr}`` — for
          matched pairs surviving the delete clause (and satisfying
          ``when_matched_update_condition`` if given), the listed
          columns are recomputed from the expression (``s.``/``t.``
          qualified refs); unlisted columns KEEP their target values.
          The merge key itself cannot be updated.
        - ``when_not_matched_insert``: ``True`` (insert the source row
          aligned to the table schema) or ``{target_col: sql_expr}``
          over ``s.*``; gated by ``when_not_matched_insert_condition``.
        - A matched pair where no clause fires carries over unchanged;
          an unmatched source row with no insert clause is dropped.

        The source must have AT Most one row per key (ANSI MERGE's
        cardinality rule — two source rows matching one target row
        would make the result order-dependent; raises). Every clause
        expression and condition must be DETERMINISTIC (no ``rand()``,
        ``uuid()``, ...; raises before any write): the change file is
        its own job over the same join, so a non-deterministic clause
        could make it disagree with the committed rows. Uses upsert's
        two-tier (range + bloom) group skipping, so the cost is
        O(source + touched groups), never O(table). Records EXACT
        ``replaced_rows`` (updated) and ``deleted_rows`` counters; on
        a ``cdf=True`` table materializes the full change file
        (update_preimage/update_postimage/delete/insert). ``txn=``
        gives append()'s crash-replay idempotence.

        Clause conditions and expressions see the RAW source — columns
        that exist only on the source side (CDC metadata like an op
        code) are usable in every ``s.``-qualified expression and are
        never written to the table. ``evolve_schema=False`` pins the
        table schema: source-only columns don't evolve it (the
        Debezium-loop contract — a `_op` column must not become a
        table column); the default True keeps append()'s
        add-and-widen rules."""
        if not (
            when_matched_update or when_matched_delete
            or when_not_matched_insert
        ):
            raise ValueError("merge with no clauses is a no-op — pass at "
                             "least one when_* clause")
        return _retrying(
            lambda: self._keyed_once(
                "merge", source, txn,
                upd=when_matched_update,
                upd_cond=when_matched_update_condition,
                dele=when_matched_delete,
                ins=when_not_matched_insert,
                ins_cond=when_not_matched_insert_condition,
                evolve=evolve_schema,
            ),
            retries,
        )

    def delete_keys(
        self,
        keys: DataFrame,
        retries: int = 3,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Bulk delete by the table's key_col — the ``DELETE WHERE key
        IN (<millions>)`` shape a predicate string cannot express.
        Exactly the upsert's two-tier file skipping (range-disjoint
        groups carry by reference; range-overlapping groups also skip
        on a bloom miss), with the matched rows anti-joined out and no
        update group appended. Records the EXACT deleted count; on a
        cdf=True table the deleted rows are materialized as 'delete'
        tombstones in the version's change file. ``txn=`` gives the
        crash-replay idempotence the cdf-mode ANN index maintainer
        needs (a replayed micro-batch of deletions must not commit
        twice)."""
        return _retrying(
            lambda: self._keyed_once("delete", keys, txn), retries
        )

    def _keyed_once(
        self,
        op: str,
        source: DataFrame,
        txn: tuple[str, int] | None = None,
        upd: dict[str, str] | None = None,
        upd_cond: str | None = None,
        dele: bool | str = False,
        ins: bool | dict[str, str] = False,
        ins_cond: str | None = None,
        evolve: bool = True,
    ) -> int:
        """One attempt of a keyed mutation: ``op`` is "upsert",
        "merge" or "delete" (delete_keys); the keyword arguments are
        merge()'s clauses. The steps are listed in the SifTable
        docstring."""
        m = self._load()
        txns = _txn_gate(m, txn)
        if txns is None:
            return m["version"]  # replayed epoch: committed no-op
        keys = _key_cols(m)
        name = "delete_keys" if op == "delete" else op
        if not keys:
            raise ValueError(
                f"{name} needs a table created with key_col=/key_cols="
            )
        missing = [k for k in keys if k not in source.columns]
        if missing:
            raise ValueError(f"{name} batch lacks key column(s) {missing}")
        target = T._parse_datatype_string(m["schema"])
        merged = (
            _merge_schema(target, source.schema)
            if op == "upsert" or (op == "merge" and evolve)
            else target
        )
        cols_next = _next_columns(m, merged)
        if op == "merge":
            self._check_clauses(
                source, merged, keys, upd, upd_cond, dele, ins, ins_cond
            )
        if op == "delete":
            sel = source.select(*keys)
            # The dedup's Aggregate node would always trip
            # _materialize_source, so the wide/narrow decision looks at
            # the PRE-distinct input (ADVICE r14 low): a key list that
            # is already an in-memory leaf re-runs its tiny distinct
            # per action instead of paying a checkpoint job.
            source = (
                sel.distinct()
                if _materialized_leaf_plan(sel)
                else _materialize_source(sel.distinct())
            )
        else:
            source = _materialize_source(source)
        bounds, probes = _parallel_jobs(
            lambda: self._key_bounds(source, keys, distinct=op == "merge"),
            lambda: self._bloom_probe_sets(m, source, keys),
        )
        keep, rewrite = self._split_groups_by_keys(m, keys, bounds, probes)
        v = m["version"] + 1
        # an update rewrites bytes; a delete on a dv table does not
        tombstone = op == "delete" or (op == "merge" and dele and not upd)
        if m.get("dv", False) and rewrite and tombstone:
            u = self._read_groups(m, rewrite, merged, cols_next, with_gid=True)
            if op == "delete":
                doomed, inserts = u.join(source, on=keys, how="left_semi"), None
            else:
                doomed = (
                    _key_join(u, source, keys, "inner")
                    .filter(_clause(dele))
                    .select(
                        *[F.col(f"t.`{f.name}`").alias(f.name)
                          for f in merged.fields],
                        F.col("t.__gid").alias("__gid"),
                    )
                )
                # anti-joined against every touched row: a key matched
                # only by a deleted row is still MATCHED and does not
                # insert (ANSI clause semantics)
                inserts = (
                    _merge_inserts(source, u, keys, merged, ins, ins_cond)
                    if ins
                    else None
                )
            fields = self._dv_tombstone(
                m, v, keys, cols_next,
                doomed.localCheckpoint(eager=False), inserts,
            )
            if op == "merge":
                fields["replaced_rows"] = 0
        else:
            if op == "merge":
                frames = self._merge_frames(
                    m, source, keys, rewrite, merged, cols_next,
                    upd, upd_cond, dele, ins, ins_cond,
                )
            elif op == "upsert":
                frames = self._upsert_frames(m, source, keys, rewrite, merged)
            else:
                frames = self._delete_keys_frames(m, source, keys, rewrite)
            fields = self._cow_rewrite(
                m, v, cols_next, keep, rewrite, *frames,
                keep_empty=op == "upsert",
            )
        manifest = self._next_manifest(
            m, op, txns=txns, columns=cols_next,
            schema=m["schema"] if op == "delete" else _ddl(merged),
            **fields,
        )
        return self._commit_keyed(manifest, m, keys, bounds, probes, txn)

    def _check_clauses(
        self,
        source: DataFrame,
        merged: T.StructType,
        keys: list[str],
        upd: dict[str, str] | None,
        upd_cond: str | None,
        dele: bool | str,
        ins: bool | dict[str, str],
        ins_cond: str | None,
    ) -> None:
        """Reject merge clauses the pipeline cannot apply exactly, by
        analysis alone (no Spark job). Each clause is analyzed in the
        scope it runs in — matched clauses over ``t`` ⋈ ``s``, insert
        clauses over ``s`` — and must be deterministic: the change
        file and the written groups are separate jobs over the same
        join, and a ``rand()``/``uuid()`` would draw differently in
        each."""
        if upd:
            clash = [k for k in keys if k in upd]
            if clash:
                raise ValueError(
                    "when_matched_update cannot update the merge "
                    f"key(s) {clash}"
                )
        if isinstance(ins, dict):
            unset = [k for k in keys if k not in ins]
            if unset:
                raise ValueError(
                    "when_not_matched_insert mapping must set the "
                    f"merge key(s) {unset}"
                )
        # SQL text, not Column casts: far fewer py4j round trips
        target = self.spark.range(0).selectExpr(
            *[
                f"CAST(NULL AS {f.dataType.simpleString()}) AS "
                f"`{f.name.replace('`', '``')}`"
                for f in merged.fields
            ]
        )
        scopes = (
            (
                target.alias("t").crossJoin(source.alias("s")),
                [
                    ("when_matched_delete", dele),
                    ("when_matched_update_condition", upd_cond),
                    *[
                        (f"when_matched_update[{c!r}]", e)
                        for c, e in (upd or {}).items()
                    ],
                ],
            ),
            (
                source.alias("s"),
                [
                    ("when_not_matched_insert_condition", ins_cond),
                    *[
                        (f"when_not_matched_insert[{c!r}]", e)
                        for c, e in (ins if isinstance(ins, dict) else {}).items()
                    ],
                ],
            ),
        )

        def deterministic(scope: DataFrame, exprs: list[str]) -> bool:
            # one analysis per scope: a struct is deterministic iff
            # every field is; the source's own plan is not judged
            sql = "struct(" + ", ".join(f"({e})" for e in exprs) + ")"
            plan = scope.selectExpr(sql)._jdf.queryExecution().analyzed()
            return plan.expressions().head().deterministic()

        for scope, named in scopes:
            named = [(c, e) for c, e in named if isinstance(e, str)]
            if not named or deterministic(scope, [e for _, e in named]):
                continue
            clause, expr = next(
                (c, e) for c, e in named if not deterministic(scope, [e])
            )
            raise ValueError(
                f"merge clause {clause} = {expr!r} is not deterministic — "
                "the change file and the committed rows would evaluate it "
                "separately and could disagree"
            )

    def _upsert_frames(
        self,
        m: dict,
        updates: DataFrame,
        keys: list[str],
        rewrite: list[dict],
        merged: T.StructType,
    ) -> tuple:
        """upsert's copy-on-write frames (see _cow_rewrite): the touched
        groups minus the update keys survive, the whole batch is the
        added group, and the change file holds pre-images (matched old
        rows), post-images (updates whose key existed) and inserts."""
        added = _align(updates, merged)
        if not rewrite:
            return None, added, None, lambda removed: {"replaced_rows": 0}
        old = self._read_groups(
            m, rewrite, T._parse_datatype_string(m["schema"]), _columns_of(m)
        )
        upd_keys = updates.select(*keys).distinct()

        def cdc() -> DataFrame:
            pre = _align(old.join(upd_keys, on=keys, how="left_semi"), merged)
            matched_keys = pre.select(*keys).distinct()
            return (
                pre.withColumn("_change_type", F.lit("update_preimage"))
                .unionByName(
                    added.join(matched_keys, on=keys, how="left_semi")
                    .withColumn("_change_type", F.lit("update_postimage"))
                )
                .unionByName(
                    added.join(matched_keys, on=keys, how="left_anti")
                    .withColumn("_change_type", F.lit("insert"))
                )
            )

        return (
            _align(old.join(upd_keys, on=keys, how="left_anti"), merged),
            added,
            cdc,
            lambda removed: {"replaced_rows": removed},
        )

    def _delete_keys_frames(
        self,
        m: dict,
        keys_df: DataFrame,
        keys: list[str],
        rewrite: list[dict],
    ) -> tuple:
        """delete_keys' copy-on-write frames (see _cow_rewrite): the
        touched groups minus the (distinct) batch keys survive, and the
        removed rows are the change file's 'delete' tombstones."""
        if not rewrite:
            return None, None, None, lambda removed: {"deleted_rows": 0}
        old = self._read_groups(
            m, rewrite, T._parse_datatype_string(m["schema"]), _columns_of(m)
        )
        return (
            old.join(keys_df, on=keys, how="left_anti"),
            None,
            lambda: old.join(keys_df, on=keys, how="left_semi").withColumn(
                "_change_type", F.lit("delete")
            ),
            lambda removed: {"deleted_rows": removed},
        )

    def _merge_frames(
        self,
        m: dict,
        source: DataFrame,
        keys: list[str],
        rewrite: list[dict],
        merged: T.StructType,
        cols_next: list[dict] | None,
        upd: dict[str, str] | None,
        upd_cond: str | None,
        dele: bool | str,
        ins: bool | dict[str, str],
        ins_cond: str | None,
    ) -> tuple:
        """merge's copy-on-write frames (see _cow_rewrite). The join is
        bounded by the skipping: keep-groups PROVABLY hold no source
        key, so "unmatched" only needs the anti-join against the
        touched groups.

        ONE LEFT join pass (round 15, guide §2.4/§2.6) with a per-row
        CASE computes the rewritten group in one scan+join, and the
        EXACT counters ride that write as observed metrics. The ANSI
        cardinality check proves ≤1 source row per target key, so the
        left join cannot duplicate target rows, and the source's key
        tuples are fully non-null (same check), so "s-side key not
        null" ⟺ matched. The RAW source is the build side: clauses may
        reference source-only columns (CDC op codes); only the SELECT
        lists align to the table schema."""
        from pyspark.sql import Observation

        old = self._read_groups(m, rewrite, merged, cols_next) if rewrite else None
        inserts = (
            _merge_inserts(source, old, keys, merged, ins, ins_cond)
            if ins
            else None
        )
        if old is None or not (upd or dele):
            # insert-only merge: matched rows are untouched — the
            # touched groups carry BY REFERENCE, no rewrite at all
            return (
                None, inserts, None,
                lambda removed: {"replaced_rows": 0, "deleted_rows": 0},
            )
        j = _key_join(old, source, keys, "left")
        matched = F.col(f"s.`{keys[0]}`").isNotNull()
        del_c = matched & _clause(dele)
        # bool(upd), not `upd is not None`: an EMPTY update mapping is
        # inert — it must not count every matched row as replaced
        # (ADVICE r12 low)
        upd_c = matched & F.lit(bool(upd)) & ~del_c
        if upd_cond is not None:
            upd_c = upd_c & _clause(upd_cond)
        t_cols = {f.name: F.col(f"t.`{f.name}`") for f in merged.fields}

        def updated(f: T.StructField):
            return F.expr(upd[f.name]).cast(f.dataType)

        obs = Observation()
        rewritten = (
            j.observe(
                obs,
                F.sum(upd_c.cast("long")).alias("nu"),
                F.sum(del_c.cast("long")).alias("nd"),
            )
            .filter(~del_c)
            .select(
                *[
                    (
                        F.when(upd_c, updated(f)).otherwise(t_cols[f.name])
                        if upd and f.name in upd
                        else t_cols[f.name]
                    ).alias(f.name)
                    for f in merged.fields
                ]
            )
        )

        def cdc() -> DataFrame:
            # re-derived from the un-observed join: the cdc write is an
            # independent parallel job, so it overlaps the rewrite
            # instead of serializing behind a shared materialization
            post = j.filter(upd_c).select(
                *[
                    (
                        updated(f) if upd and f.name in upd else t_cols[f.name]
                    ).alias(f.name)
                    for f in merged.fields
                ]
            )
            out = (
                j.filter(del_c)
                .select(*[c.alias(n) for n, c in t_cols.items()])
                .withColumn("_change_type", F.lit("delete"))
                .unionByName(
                    old.join(post.select(*keys), on=keys, how="left_semi")
                    .withColumn("_change_type", F.lit("update_preimage"))
                )
                .unionByName(
                    post.withColumn("_change_type", F.lit("update_postimage"))
                )
            )
            if inserts is not None:
                out = out.unionByName(
                    inserts.withColumn("_change_type", F.lit("insert"))
                )
            return out

        def counters(_removed: int) -> dict:
            row = obs.get  # settled by the rewritten-group write
            return {
                "replaced_rows": int(row["nu"] or 0),
                "deleted_rows": int(row["nd"] or 0),
            }

        return _align(rewritten, merged), inserts, cdc, counters

    def _cow_rewrite(
        self,
        m: dict,
        v: int,
        cols_next: list[dict] | None,
        keep: list[dict],
        rewrite: list[dict],
        rewritten: DataFrame | None,
        added: DataFrame | None,
        cdc,
        counters,
        keep_empty: bool,
    ) -> dict:
        """Copy-on-write body of a keyed mutation → its manifest fields.
        ``rewritten`` replaces the touched groups (None: they carry by
        reference), ``added`` is a new group (upsert's batch, merge's
        inserts), ``cdc()`` builds the change file and
        ``counters(removed)`` the exact counters once the writes have
        settled. All three writes are independent jobs and overlap
        (guide §2.6). The change file is SPECULATIVE: its content never
        depends on the counters, only the manifest's reference does —
        a bloom/range false positive (every counter 0) leaves it an
        invisible orphan, the artifact a pre-commit crash already
        leaves. Empty groups are dropped unless ``keep_empty``
        (upsert)."""
        jobs = {}
        if rewritten is not None:
            jobs["rewritten"] = lambda: self._write_for(
                m, rewritten, v, 0, cols_next
            )
        if added is not None:
            jobs["added"] = lambda: self._write_for(
                m, added, v, 0 if rewritten is None else 1, cols_next
            )
        if cdc is not None and m.get("cdf", False):
            jobs["cdc"] = lambda: self._write_cdc(cdc(), v, cols_next)
        res = dict(zip(jobs, _parallel_jobs(*jobs.values())))
        wg = res.get("rewritten")
        removed = (
            sum(_live_rows(g) for g in rewrite) - int(wg["rows"]) if wg else 0
        )
        fields = counters(removed)
        cdc_spec = res.get("cdc") if any(fields.values()) else None
        groups = list(keep) if rewritten is not None else list(m["groups"])
        if wg is not None and (keep_empty or int(wg["rows"]) > 0):
            groups.append(wg)
        ag = res.get("added")
        added_ids = []
        if ag is not None and (keep_empty or int(ag["rows"]) > 0):
            groups.append(ag)
            added_ids = [ag["id"]]
        return {**fields, "groups": groups, "added": added_ids, "cdc": cdc_spec}

    def _dv_tombstone(
        self,
        m: dict,
        v: int,
        keys: list[str],
        cols_next: list[dict] | None,
        doomed: DataFrame,
        inserts: DataFrame | None,
    ) -> dict:
        """Deletion-vector body of a keyed mutation on a ``dv=True``
        table → its manifest fields: ZERO group rewrites (a scattered
        delete across a 100 TB table touches nearly every group;
        rewriting them all per batch is the scale-killer this mode
        removes). ``doomed`` — the touched rows to delete, with their
        __gid, lazily checkpointed — becomes ONE (group id, key tuple)
        sidecar under <table>/dv/; ``inserts`` (a merge's unmatched
        rows, or None) a plain added group; on a cdf table both ride
        the change file. Everything is written BEFORE the manifest
        commit, so a SIGKILL between the writes leaves invisible
        orphans, never a torn feed. The per-group count aggregate runs
        first: it settles the exact counter and materializes the
        checkpoint the overlapped writes then share."""
        per_gid = {
            r["__gid"]: int(r["n"])
            for r in doomed.groupBy("__gid")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n_deleted = sum(per_gid.values())
        jobs = {}
        if n_deleted:
            jobs["dv"] = lambda: self._write_dv_sidecar(
                doomed, keys, v, cols_next, per_gid
            )
        if inserts is not None:
            jobs["added"] = lambda: self._write_for(m, inserts, v, 0, cols_next)
        if n_deleted and m.get("cdf", False):

            def cdc() -> DataFrame:
                out = doomed.drop("__gid").withColumn(
                    "_change_type", F.lit("delete")
                )
                if inserts is None:
                    return out
                # a version's change file REPLACES its added groups in
                # the feed — the inserts must ride along
                return out.unionByName(
                    inserts.withColumn("_change_type", F.lit("insert"))
                )

            jobs["cdc"] = lambda: self._write_cdc(cdc(), v, cols_next)
        res = dict(zip(jobs, _parallel_jobs(*jobs.values())))
        # groups carry BY REFERENCE in their original order — only the
        # touched entries' dv_rows metadata advances (the q189 pin:
        # zero group paths change under a scattered dv delete)
        groups = [
            {**g, "dv_rows": int(g.get("dv_rows", 0)) + per_gid[g["id"]]}
            if per_gid.get(g["id"])
            else g
            for g in m["groups"]
        ]
        added = []
        ag = res.get("added")
        if ag is not None and int(ag["rows"]) > 0:
            groups.append(ag)
            added = [ag["id"]]
        return {
            "groups": groups,
            "added": added,
            "dvs": _carry_dvs(m, groups) + ([res["dv"]] if "dv" in res else []),
            "deleted_rows": n_deleted,
            "cdc": res.get("cdc"),
        }

    def _rename_dir(self, old_path: str, new_path: str) -> None:
        """Rename with the result CHECKED (ADVICE r13 medium):
        FileSystem.rename reports failure as a boolean, and a silently
        failed rename inside _commit_keyed's rebase would publish a
        manifest whose re-minted group/dv/cdc paths don't exist — an
        unreadable committed version. Raising ConcurrentCommitError
        routes the caller to its full retry instead."""
        fs, _, jvm = _fs(self.spark, self.path)
        ok = fs.rename(
            jvm.org.apache.hadoop.fs.Path(old_path),
            jvm.org.apache.hadoop.fs.Path(new_path),
        )
        if not ok:
            raise ConcurrentCommitError(
                f"rename {old_path} -> {new_path} failed — rebase "
                "abandoned, full retry required"
            )

    @staticmethod
    def _meta_matches(a: dict, b: dict) -> bool:
        """The snapshot metadata a keyed op's plan depends on.
        dv/dvs normalize absent-vs-empty (ADVICE r13 low): a
        pre-round-13 head has no `dvs` key at all, which must compare
        equal to a newer commit's normalized `[]` — otherwise every
        rebase against such a head degrades to a full retry."""
        plain = (
            "schema", "columns", "key_col", "key_cols", "bucket",
            "key_bloom", "cdf",
        )
        return (
            all(a.get(f) == b.get(f) for f in plain)
            and bool(a.get("dv")) == bool(b.get("dv"))
            and (a.get("dvs") or []) == (b.get("dvs") or [])
        )

    def _commit_keyed(
        self,
        manifest: dict,
        m: dict,
        keys: list[str],
        bounds: list[tuple],
        probes: tuple[dict, str],
        txn: tuple[str, int] | None,
    ) -> int:
        """Commit with CONFLICT-GRANULAR retry (VERDICT r12 "Next
        round" #6): on a CAS loss, re-read the head and — when the
        interloper provably did not touch this op's read set — REBASE
        the already-built manifest onto the new head and re-CAS,
        WITHOUT re-running any job. Overlap falls back (via
        ConcurrentCommitError) to the caller's full retry, exactly as
        before. A rebase onto head ``h`` is safe iff:

        - every plan-relevant metadatum (schema, column ids, key
          spec, bucket, cdf/dv flags AND the dv sidecar list — an
          interloper's tombstones change what this op's reads saw)
          is unchanged between ``m`` and ``h``;
        - every group this op rewrote or dv-annotated still sits in
          ``h`` ENTRY-IDENTICAL to what it read;
        - every group ``h`` added since ``m`` is provably key-
          disjoint from this op's batch, decided JOB-FREE by the
          cached range bounds + bloom probe sets (an unknown bloom
          ktype, a capped probe set, or a range overlap all count as
          conflict — conservative).

        The rebased manifest is h's groups with this op's removals/
        mutations/additions re-applied (h's interloper groups carry
        through untouched), txn high-waters merged monotonically, and
        the op's freshly written data/cdc/dv dirs RENAMED to the new
        version prefix — every feed derives _commit_version from the
        file path, so the name must match the committed version."""
        m_by_id = {g["id"]: g for g in m["groups"]}
        out_by_id = {g["id"]: g for g in manifest["groups"]}
        removed_ids = set(m_by_id) - set(out_by_id)
        mutated = {
            gid: out_by_id[gid]
            for gid in set(m_by_id) & set(out_by_id)
            if out_by_id[gid] != m_by_id[gid]
        }
        added_groups = [
            g for g in manifest["groups"] if g["id"] not in m_by_id
        ]
        new_dvs = [
            d
            for d in manifest.get("dvs") or []
            if d["path"] not in {x["path"] for x in m.get("dvs") or []}
        ]
        for _ in range(10):
            try:
                return self._commit(manifest)
            except ConcurrentCommitError:
                pass
            h = self._load()
            if txn is not None:
                app_id, epoch = txn
                if int(h.get("txns", {}).get(app_id, -1)) >= int(epoch):
                    return h["version"]  # our own replay won the race
            if not self._meta_matches(m, h):
                raise ConcurrentCommitError(
                    "concurrent schema/key/dv metadata change — full "
                    "retry required"
                )
            h_by_id = {g["id"]: g for g in h["groups"]}
            touched = removed_ids | set(mutated)
            if any(
                gid not in h_by_id or h_by_id[gid] != m_by_id[gid]
                for gid in touched
            ):
                raise ConcurrentCommitError(
                    "concurrent writer touched this op's read set — "
                    "full retry required"
                )
            delta = [g for g in h["groups"] if g["id"] not in m_by_id]
            if delta:
                _, overlap = self._split_groups_by_keys(
                    {**h, "groups": delta}, keys, bounds, probes
                )
                if overlap:
                    raise ConcurrentCommitError(
                        "concurrently added groups may hold this "
                        "op's keys — full retry required"
                    )
            v_new = h["version"] + 1
            # re-mint the version prefix in every freshly written dir
            # (data groups, dv sidecars, the cdc change file): feeds
            # derive _commit_version from the path
            def remint(path: str, entry_id: str | None = None):
                head, name = path.rsplit("/", 1)
                kind, _, rest = name.split("-", 2)
                new_name = f"{kind}-{v_new:010d}-{rest}"
                new_path = f"{head}/{new_name}"
                self._rename_dir(path, new_path)
                return new_path, new_name

            id_renames = {}
            for g in added_groups:
                new_path, new_name = remint(g["path"])
                id_renames[g["id"]] = new_name
                g["id"], g["path"] = new_name, new_path
            for d in new_dvs:
                d["path"], _ = remint(d["path"])
            if manifest.get("cdc"):
                manifest["cdc"] = dict(manifest["cdc"])
                manifest["cdc"]["path"], _ = remint(
                    manifest["cdc"]["path"]
                )
            manifest["added"] = [
                id_renames.get(i, i) for i in manifest.get("added", [])
            ]
            groups = []
            for g in h["groups"]:
                if g["id"] in removed_ids:
                    continue
                groups.append(mutated.get(g["id"], g))
            groups.extend(added_groups)
            manifest["groups"] = groups
            if manifest.get("dvs") is not None:
                manifest["dvs"] = _carry_dvs(m, groups) + new_dvs
            txns = dict(h.get("txns", {}))
            for app, ep in manifest.get("txns", {}).items():
                txns[app] = max(int(txns.get(app, -1)), int(ep))
            manifest["txns"] = txns
            manifest["version"] = v_new
            manifest["parent"] = h["version"]
            manifest["last_column_id"] = max(
                int(manifest.get("last_column_id", -1)),
                int(h.get("last_column_id", -1)),
            )
            m = h
            m_by_id = {g["id"]: g for g in m["groups"]}
        raise ConcurrentCommitError(
            "starved through 10 rebase attempts — full retry"
        )

    def _key_bounds(
        self, df: DataFrame, keys: list[str], distinct: bool = False
    ) -> list[tuple]:
        """Per-key-column (min, max) of the batch's non-null values —
        ONE aggregate job regardless of key arity. ``distinct=True``
        (merge) also enforces ANSI MERGE's cardinality rule in the same
        job: the distinct count is over fully-non-null key TUPLES (a
        null part never equi-matches, so such rows can only be dead
        weight), and any shortfall vs the row count — duplicate tuples
        OR null parts — raises before any write."""
        aggs = []
        if distinct:
            nn = F.lit(True)
            for k in keys:
                nn = nn & F.col(k).isNotNull()
            aggs += [
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(
                    F.when(nn, F.struct(*[F.col(k) for k in keys]))
                ).alias("nk"),
            ]
        for i, k in enumerate(keys):
            aggs += [F.min(k).alias(f"lo{i}"), F.max(k).alias(f"hi{i}")]
        row = df.agg(*aggs).collect()[0]
        if distinct and int(row["n"]) != int(row["nk"]):
            raise ValueError(
                f"merge source has {row['n']} rows but {row['nk']} "
                f"distinct non-null {keys} key tuples — ANSI MERGE "
                "forbids multiple source rows matching one target row "
                "(and a null key part never matches anything)"
            )
        return [(row[f"lo{i}"], row[f"hi{i}"]) for i in range(len(keys))]

    def _bloom_probe_sets(
        self, m: dict, keyed_df: DataFrame, keys: list[str]
    ) -> tuple[dict, str]:
        """{bloom ktype: probe hash pairs (or None when capped/
        unusable)} for every distinct ktype among the groups' blooms,
        plus the snapshot's own ktype string. Hashed ONCE PER DISTINCT
        KTYPE: each group's bloom was built over its on-disk key
        dtype(s), so the probe must try_cast each key part to that
        exact type (xxhash64(int 5) != xxhash64(bigint 5)); a tuple
        with any part null — originally null (null never equi-matches)
        or nulled by a narrowing try_cast (the value provably cannot
        live in the narrow group) — simply drops from the probe set."""
        target = T._parse_datatype_string(m["schema"])
        snap_kt = _KTYPE_SEP.join(
            target[k].dataType.simpleString() for k in keys
        )
        out: dict[str, list | None] = {}
        for kt in {
            g["key_bloom"].get("ktype", snap_kt)
            for g in m["groups"]
            if g.get("key_bloom")
        }:
            kts = kt.split(_KTYPE_SEP)
            if len(kts) != len(keys):
                out[kt] = None  # written under another key arity: never skip
                continue
            casted = keyed_df.select(
                *[
                    F.col(k).try_cast(t).alias(f"__k{i}")
                    for i, (k, t) in enumerate(zip(keys, kts))
                ]
            )
            nn = F.lit(True)
            for i in range(len(keys)):
                nn = nn & F.col(f"__k{i}").isNotNull()
            pairs = (
                casted.filter(nn)
                .select(
                    *[
                        F.xxhash64(
                            *[F.col(f"__k{i}") for i in range(len(keys))],
                            F.lit(seed),
                        ).alias(f"h{j}")
                        for j, seed in enumerate(_BLOOM_SEEDS)
                    ]
                )
                .distinct()
                .limit(_BLOOM_UPDATE_KEY_CAP + 1)
                .collect()
            )
            out[kt] = (
                [tuple(p) for p in pairs]
                if len(pairs) <= _BLOOM_UPDATE_KEY_CAP
                else None
            )
        return out, snap_kt

    def _split_groups_by_keys(
        self, m: dict, keys: list[str], bounds: list[tuple],
        probes: tuple[dict, str],
    ) -> tuple[list[dict], list[dict]]:
        """The keyed pipeline's two-tier group split: (keep, rewrite)
        where keep-groups PROVABLY hold none of the batch's key tuples — conservative, so a false positive
        only rewrites. Tier 1 is per-column range disjointness: a
        tuple can only live in a group if EVERY key column's batch
        range overlaps the group's recorded range (single-key tables
        use the dedicated key_min/key_max; all arities also use the
        per-column stats, translated to each group's WRITTEN name so
        skipping survives renames — and a group that never held a key
        column's id holds only NULLs there, which no tuple can
        equi-match). Tier 2 is the key-tuple bloom. ``probes`` is
        _bloom_probe_sets' result, computed ONCE by the caller (and
        reused job-free by the conflict-granular commit rebase); a
        group bloom ktype absent from it simply never skips."""
        probe_by_ktype, snap_kt = probes
        columns = _columns_of(m)
        single = len(keys) == 1
        # JSON-stat form of each column's batch bounds, for comparison
        # against manifest stats: "empty" = the batch has NO fully
        # usable value for this column (all null — no tuple matches
        # anything); None = the type can't be stat-compared (never
        # prune via stats on this column)
        jbounds: list = []
        for lo, hi in bounds:
            if lo is None and hi is None:
                jbounds.append("empty")
                continue
            try:
                jbounds.append((_stat_bound(lo), _stat_bound(hi)))
            except TypeError:
                jbounds.append(None)
        keep, rewrite = [], []
        batch_empty = any(jb == "empty" for jb in jbounds)
        for g in m["groups"]:
            disjoint = batch_empty
            if not disjoint and single:
                lo, hi = bounds[0]
                gmin, gmax = g.get("key_min"), g.get("key_max")
                disjoint = gmin is not None and (gmax < lo or gmin > hi)
            if not disjoint:
                for k, jb in zip(keys, jbounds):
                    if not isinstance(jb, tuple):
                        continue
                    rng = _group_stat_range(columns, g, k)
                    if rng is _RANGE_ABSENT:
                        disjoint = True
                        break
                    if rng is _RANGE_UNKNOWN:
                        continue
                    gmin, gmax = rng
                    if gmin is None and gmax is None:
                        disjoint = True  # group all-NULL on a key col
                        break
                    jlo, jhi = jb
                    if (gmax is not None and gmax < jlo) or (
                        gmin is not None and gmin > jhi
                    ):
                        disjoint = True
                        break
            if not disjoint and g.get("key_bloom"):
                pp = probe_by_ktype.get(g["key_bloom"].get("ktype", snap_kt))
                if pp is not None:
                    disjoint = not _bloom_maybe_contains(g["key_bloom"], pp)
            (keep if disjoint else rewrite).append(g)
        return keep, rewrite

    def _write_dv_sidecar(
        self,
        doomed: DataFrame,
        kcols: list[str],
        v: int,
        columns: list[dict] | None,
        per_gid: dict,
    ) -> dict:
        """Persist the doomed (__gid + row) frame's (group id, key
        tuple) sidecar under <table>/dv/ → its manifest dv entry.
        ``per_gid`` is the frame's per-group count, taken first so the
        sidecar write can overlap the other writes."""
        deleted = sum(per_gid.values())
        did = f"d-{v:010d}-000-{uuid.uuid4().hex[:8]}"
        dpath = f"{self.path}/dv/{did}"
        written = doomed.select(
            F.col("__gid").alias("_gid"), *[F.col(k) for k in kcols]
        )
        written.write.mode("overwrite").option(
            _NO_SUCCESS_OPT, "false"
        ).parquet(dpath)
        id_of = {c["name"]: c["id"] for c in columns} if columns else {}
        kids = {k: id_of[k] for k in kcols if k in id_of}
        return {
            "path": dpath,
            "rows": deleted,
            "gids": sorted(g for g, n in per_gid.items() if n),
            # the written DDL keys _scan_classes: sidecars of one
            # (schema, col_ids) class read as ONE multi-path scan
            "schema": _ddl(written.schema),
            **({"col_ids": kids} if kids else {}),
        }

    def delete(self, predicate: str) -> int:
        """Delete rows matching the SQL predicate — groups with no
        matches carry over by reference; matched groups rewrite. The
        manifest records the EXACT deleted row count (old rows of
        touched groups minus their rewritten survivors), and on a
        ``cdf=True`` table the deleted rows themselves are materialized
        as 'delete' tombstones in the version's change file."""
        m = self._load()
        target = T._parse_datatype_string(m["schema"])
        v = m["version"] + 1
        cdf_on = m.get("cdf", False)
        # ONE batched dv-aware probe over every group (guide §1.2/§2.4
        # — the old shape ran two limit-1 probe jobs PER GROUP,
        # serially: O(groups) driver-side action waves before a single
        # rewrite started): per-gid counts of predicate-TRUE rows
        # (group must rewrite; SQL DELETE semantics — pred=NULL rows
        # STAY, so the survivor filter is NOT coalesce(pred, false))
        # and of surviving rows (rewrite lands a group iff > 0).
        counts: dict[str, tuple[int, int]] = {}
        if m["groups"]:
            u = self._read_groups(
                m, m["groups"], target, _columns_of(m), with_gid=True
            )
            pred_t = F.coalesce(F.expr(f"({predicate})"), F.lit(False))
            counts = {
                r["__gid"]: (int(r["n_match"]), int(r["n_keep"]))
                for r in u.groupBy("__gid")
                .agg(
                    F.sum(F.when(pred_t, 1).otherwise(0)).alias("n_match"),
                    F.sum(F.when(~pred_t, 1).otherwise(0)).alias("n_keep"),
                )
                .collect()
            }
        groups: list = []
        removed_old = 0
        rewrites: list[tuple[int, dict, int]] = []
        seq = 0
        for g in m["groups"]:
            n_match, n_keep = counts.get(g["id"], (0, 0))
            if n_match == 0:
                groups.append(g)
                continue
            removed_old += _live_rows(g)
            if n_keep > 0:
                rewrites.append((len(groups), g, seq))
                groups.append(None)  # placed after the parallel writes
                seq += 1
            # else: every live row matched — the group simply drops
        # all per-group survivor rewrites plus (cdf) the tombstone
        # change file are independent jobs — overlap them (guide §2.6)
        deleted_exact = sum(
            n for n, _ in (counts.get(g["id"], (0, 0)) for g in m["groups"])
        )

        def _rw(g: dict, s: int):
            gdf = self._read_groups(m, [g], target, _columns_of(m))
            remaining = gdf.filter(f"NOT coalesce(({predicate}), false)")
            return self._write_for(m, remaining, v, s, _columns_of(m))

        thunks = [lambda g=g, s=s: _rw(g, s) for _, g, s in rewrites]
        cdc_idx = None
        if cdf_on and deleted_exact > 0:
            cdc_idx = len(thunks)
            thunks.append(
                lambda: self._write_cdc(
                    u.filter(pred_t)
                    .drop("__gid")
                    .withColumn("_change_type", F.lit("delete")),
                    v,
                    _columns_of(m),
                )
            )
        res = _parallel_jobs(*thunks)
        kept_new = 0
        for (pos, _, _), wg in zip(rewrites, res):
            kept_new += int(wg["rows"])
            groups[pos] = wg
        groups = [g for g in groups if g is not None]
        deleted = removed_old - kept_new
        cdc = res[cdc_idx] if cdc_idx is not None and deleted > 0 else None
        return self._commit(
            self._next_manifest(
                m, "delete", deleted_rows=deleted, groups=groups, cdc=cdc
            )
        )

    def overwrite(
        self,
        df: DataFrame,
        txn: tuple[str, int] | None = None,
        retries: int = 3,
    ) -> int:
        """Replace the snapshot's CONTENT in one atomic commit (the
        lakehouse `mode("overwrite")` — the same manifest shape the
        `sif_table` DataSource writer publishes): a new version
        referencing ONLY the new group. Readers pinned on older
        versions are untouched (time travel until vacuum); both
        change-feed modes REFUSE to cross an overwrite (its logical
        diff is not materialized) — the contract a derived artifact
        swap (e.g. the ANN index refresh) wants, since its consumers
        read snapshots, not the feed. ``txn=`` gives append()'s
        crash-replay idempotence; the txn high-water map carries
        forward. Schema may change freely — an overwrite owns the new
        snapshot's schema (column ids are re-minted for NEW names,
        preserved for surviving ones, so later renames stay safe)."""

        def once() -> int:
            m = self._load()
            txns = _txn_gate(m, txn)
            if txns is None:
                return m["version"]  # replayed epoch: no-op
            new_cols = _next_columns(m, df.schema)
            group = self._write_for(m, df, m["version"] + 1, 0, new_cols)
            return self._commit(
                self._next_manifest(
                    m, "overwrite", columns=new_cols, added=[group["id"]],
                    txns=txns, schema=_ddl(df.schema), groups=[group],
                )
            )

        return _retrying(once, retries)

    def compact(
        self,
        num_files: int | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Rewrite ALL live groups into one group (optionally
        repartitioned; sorted by key_col when set so parquet min/max
        footers stay selective) — same logical rows, fewer files.
        ``zorder_by=[c1, c2, ...]`` clusters the rewrite on a Morton
        key instead (operators/layout.zorder_key): every output file
        covers a small hyper-rectangle of the column space, so
        read_between / Spark's own footer pruning stay selective on
        ANY of the listed dimensions — the multi-tenant answer when a
        single sort column can't serve every query. Readers pinned on
        any older version are untouched: their groups stay on disk
        until vacuum()."""
        m = self._load()
        df = self._snapshot(m)
        keys = _key_cols(m)
        bucket = m.get("bucket")
        if bucket:
            if zorder_by:
                raise ValueError(
                    "bucketed tables own their layout — zorder_by does "
                    "not compose with bucket_by"
                )
            pass  # bucketBy owns the layout — the write clusters it
        elif zorder_by:
            from sif_spark.operators.layout import zorder_key

            df2, zk = zorder_key(df, zorder_by)
            df = df2.withColumn("__zkey", zk)
            df = (
                df.repartitionByRange(num_files, "__zkey")
                if num_files
                else df.repartitionByRange("__zkey")
            ).sortWithinPartitions("__zkey").drop("__zkey")
        elif num_files and keys:
            df = df.repartitionByRange(num_files, *keys).sortWithinPartitions(
                *keys
            )
        elif num_files:
            df = df.repartition(num_files)
        elif keys:
            df = df.repartitionByRange(*keys).sortWithinPartitions(*keys)
        group = self._write_for(m, df, m["version"] + 1, 0, _columns_of(m))
        return self._commit(self._next_manifest(m, "compact", groups=[group]))

    def restore(self, version: int) -> int:
        """Roll the table back to ``version`` as a NEW commit (the
        lakehouse RESTORE shape): the old snapshot's groups are
        re-referenced — nothing is copied or deleted — so the undone
        versions stay time-travelable until vacuum, and a vacuum after
        restore keeps the restored groups live because the HEAD
        references them. The txn high-water map carries forward
        (streams do not replay into a restored table — re-ingest under
        a new app_id if that is the intent); the change feed emits
        nothing for a restore (append-mostly contract: removals are
        not tombstoned)."""
        old = self._load(version)  # raises on unknown version
        m = self._load()
        return self._commit(
            self._next_manifest(
                m, "restore", restored_from=version,
                columns=_columns_of(old),
                key_col=old.get("key_col"),
                key_cols=old.get("key_cols"),
                bucket=old.get("bucket"),
                key_bloom=old.get("key_bloom", False),
                dvs=old.get("dvs") or [],
                schema=old["schema"],
                groups=old["groups"],
            )
        )

    def _bootstrap_columns(self, m: dict) -> tuple[list[dict], list[dict]]:
        """(columns, groups) with ids synthesized for a legacy table:
        before the first rename/drop every group aligned BY NAME, so
        the by-name correspondence IS the id assignment — each group's
        ``col_ids`` maps its written names to the id of the same-named
        snapshot column (written names outside the snapshot get no id:
        they were invisible before and stay invisible). From then on
        alignment is by id."""
        cols = _columns_of(m)
        if cols is None:
            cols = [
                {"id": i, "name": n}
                for i, n in enumerate(_schema_names(m["schema"]))
            ]
        by_name = {c["name"]: c["id"] for c in cols}
        groups = []
        for g in m["groups"]:
            if g.get("col_ids") is None:
                ids = {
                    n: by_name[n]
                    for n in _schema_names(g["schema"])
                    if n in by_name
                }
                g = {**g, "col_ids": ids}
            groups.append(g)
        return cols, groups

    def rename_column(self, old: str, new: str) -> int:
        """Rename a column as a METADATA-ONLY commit (VERDICT r11
        "Next round" #3): no data file is touched — reads map groups
        to the snapshot by COLUMN ID, so files written under the old
        name surface under the new one (including pre-rename change
        files in the CDC feed, pinned in tests). The merge key and
        stats/bloom skipping follow the rename. The bucket column
        cannot be renamed (its name is baked into the persistent
        bucketed-table DDL)."""
        m = self._load()
        names = _schema_names(m["schema"])
        if old not in names:
            raise ValueError(f"no column {old!r} in snapshot schema")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        if not new.isidentifier():
            raise ValueError(f"invalid column name {new!r}")
        if m.get("bucket") and m["bucket"]["col"] == old:
            raise ValueError(
                "the bucket column's name is baked into the bucketed "
                "layout DDL — rebuild the table to rename it"
            )
        columns, groups = self._bootstrap_columns(m)
        columns = [
            {**c, "name": new} if c["name"] == old else c for c in columns
        ]
        target = T._parse_datatype_string(m["schema"])
        ddl = _ddl(
            T.StructType(
                [T.StructField(new, f.dataType) if f.name == old else f
                 for f in target.fields]
            )
        )
        key_cols = m.get("key_cols")
        return self._commit(
            self._next_manifest(
                m, "rename_column", renamed={"from": old, "to": new},
                columns=columns,
                key_col=new if m.get("key_col") == old else m.get("key_col"),
                key_cols=(
                    [new if c == old else c for c in key_cols]
                    if key_cols
                    else key_cols
                ),
                schema=ddl,
                groups=groups,
            )
        )

    def drop_column(self, name: str) -> int:
        """Drop a column as a METADATA-ONLY commit: the data files
        keep the bytes (reads never select them), and the NEXT
        ``compact()`` rewrites without the column, physically
        reclaiming it (the deferred-reclaim contract — same division
        as vacuum for rows). Re-adding the name later mints a FRESH
        column id, so the old files' data can never resurface under
        the new column (pinned in tests). The merge key and bucket
        column cannot be dropped."""
        m = self._load()
        names = _schema_names(m["schema"])
        if name not in names:
            raise ValueError(f"no column {name!r} in snapshot schema")
        if name in _key_cols(m):
            raise ValueError("cannot drop the table's merge key")
        if m.get("bucket") and m["bucket"]["col"] == name:
            raise ValueError("cannot drop the bucket column")
        if len(names) == 1:
            raise ValueError("cannot drop the only column")
        columns, groups = self._bootstrap_columns(m)
        columns = [c for c in columns if c["name"] != name]
        target = T._parse_datatype_string(m["schema"])
        ddl = _ddl(
            T.StructType([f for f in target.fields if f.name != name])
        )
        return self._commit(
            self._next_manifest(
                m, "drop_column", dropped=name, columns=columns,
                schema=ddl, groups=groups,
            )
        )

    def vacuum(
        self, retain_last: int = 2, cdf_retain_last: int | None = None
    ) -> list[str]:
        """Physically delete data groups referenced ONLY by versions
        older than the last ``retain_last`` snapshots (and drop those
        manifests). The one deleting operation — run it with the same
        retention discipline as any lakehouse (readers of vacuumed
        versions break, by contract).

        ``cdf_retain_last`` (VERDICT r11 "Next round" #8) gives the
        cdc/ directory its OWN, shorter retention: change files of
        versions older than the last ``cdf_retain_last`` snapshots are
        reclaimed even while their snapshots stay time-travelable
        (change files carry full pre/post-images, so they outgrow the
        data they describe). The contract for a slow consumer is a
        TYPED error, never a silent gap: ``changes(cdf=True)`` over a
        reclaimed (or manifest-dropped) stretch raises
        ChangeFeedIncompleteError naming the missing range, and the
        streaming source refuses to plan the batch. Must be <=
        retain_last is not required — values above it are simply
        capped by the manifest retention."""
        versions = self._versions()
        doomed = []
        fs, _, jvm = _fs(self.spark, self.path)
        if cdf_retain_last is not None and len(versions) > cdf_retain_last:
            for v in versions[:-cdf_retain_last]:
                dm = self._load(v)
                cdc = dm.get("cdc")
                if cdc and fs.exists(
                    jvm.org.apache.hadoop.fs.Path(cdc["path"])
                ):
                    doomed.append(cdc["path"])
                    fs.delete(
                        jvm.org.apache.hadoop.fs.Path(cdc["path"]), True
                    )
        if len(versions) <= retain_last:
            return doomed
        keep_versions = versions[-retain_last:]
        live = set()
        live_dv = set()
        for v in keep_versions:
            km = self._load(v)
            for g in km["groups"]:
                live.add(g["path"])
            for d in km.get("dvs") or []:
                live_dv.add(d["path"])
        doomed_manifests = versions[: -retain_last]
        doomed2 = []
        for v in doomed_manifests:
            dm = self._load(v)
            for g in dm["groups"]:
                if g["path"] not in live:
                    doomed2.append(g["path"])
            # dv sidecars are SHARED across versions (carried forward
            # until their groups rewrite) — reclaim only when no
            # retained manifest references them
            for d in dm.get("dvs") or []:
                if d["path"] not in live_dv and d["path"] not in doomed2:
                    doomed2.append(d["path"])
            if dm.get("cdc") and dm["cdc"]["path"] not in doomed:
                # a change file belongs to exactly its own version —
                # dropping the manifest makes it unreachable
                doomed2.append(dm["cdc"]["path"])
        for path in doomed2:
            fs.delete(jvm.org.apache.hadoop.fs.Path(path), True)
        for v in doomed_manifests:
            self.log.delete(self._manifest_path(v))
        return doomed + doomed2
