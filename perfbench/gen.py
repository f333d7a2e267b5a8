"""Seeded input generators for the benchmark.

Every input is grown from the project's sf0.01 test tables, copied verbatim
into ``perfbench/data/sf0.01`` so that a run reads nothing outside its
checkout. The seed never changes a value: it only picks which rows go to
which file, which events are redelivered and which users the dim holds. The
same seed gives byte-identical parquet inputs. Outputs are cached under
``perfbench/.cache/<recipe>-s<seed>/`` and reused, so input generation never
lands inside a run's set-up time.

Two recipes:

* ``replica(reps, files)`` - ScaleCheck's recipe: ``reps`` copies of every
  table, key columns moved to disjoint ranges (stride 1e8) and document text
  tagged with its replica, written as ``files`` parquet files per table.
* ``stream(...)`` - the replicated events table in ts order, cut into
  consecutive files, each with seeded redeliveries of events from the two
  previous files, plus a seeded dim of users.
"""
import json
import math
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data", "sf0.01")
STRIDE = 100_000_000
# ScaleCheck.KeyCols
KEY_COLS = {
    "region": [], "nation": [],
    "customer": ["c_custkey"], "supplier": ["s_suppkey"],
    "part": ["p_partkey"], "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"], "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
TABLES = list(KEY_COLS)


def _cached(name, build):
    """Return ``.cache/<name>``, building it once via ``build(tmp_dir)``.

    The build writes into a temporary sibling that is renamed into place, so
    an interrupted build never leaves a half-written input behind."""
    out = os.path.join(HERE, ".cache", name)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def replicate(name, reps):
    """ScaleCheck's recipe for one base table: ``reps`` copies, keys offset
    by ``r * STRIDE``, document text prefixed ``r<r> `` (so near-duplicate
    structure repeats per replica instead of turning every document into a
    ``reps``-way exact duplicate) and ``n_chars`` recomputed."""
    tab = pq.read_table(os.path.join(BASE, f"{name}.parquet"))
    keys = KEY_COLS[name]
    if not keys:
        return tab
    parts = []
    for r in range(reps):
        cols = {}
        for c in tab.column_names:
            col = tab[c]
            if c in keys:
                col = pc.add(col, pa.scalar(r * STRIDE, col.type))
            elif name == "documents" and c == "text":
                col = pc.binary_join_element_wise(f"r{r}", col, " ")
            elif name == "documents" and c == "n_chars":
                col = pc.cast(pc.utf8_length(cols["text"]), col.type)
            cols[c] = col
        parts.append(pa.table(cols))
    return pa.concat_tables(parts)


def replica(seed, reps, files):
    """Directory with ``<table>.parquet/part-NNNNN.parquet`` per table."""
    def build(out):
        rng = np.random.default_rng([seed, 2])
        for name in TABLES:
            full = replicate(name, reps)
            d = os.path.join(out, f"{name}.parquet")
            os.makedirs(d)
            n_files = files if KEY_COLS[name] else 1
            slot = rng.integers(0, n_files, full.num_rows)
            for f in range(n_files):
                idx = np.flatnonzero(slot == f)
                pq.write_table(full.take(pa.array(idx)),
                               os.path.join(d, f"part-{f:05d}.parquet"))
    return _cached(f"replica-sf0.01-r{reps}-f{files}-s{seed}", build)


def stream(seed, n_files, rows_per_file, dim_share, redeliver_share):
    """Event files for the sync loop, in landing order.

    File ``f`` holds rows ``f * rows_per_file ...`` of the events table,
    replicated by ScaleCheck's recipe until it is long enough and sorted by
    (ts, event_id), plus redelivered copies of events from the two previous
    files. Layout: ``files/f-NNNNN.parquet`` and ``dim.parquet`` (user_id,
    segment), plus ``manifest.json`` with each file's row count."""
    def build(out):
        rng = np.random.default_rng([seed, 3])
        base_rows = pq.read_metadata(os.path.join(BASE, "events.parquet")).num_rows
        reps = math.ceil(n_files * rows_per_file / base_rows)
        events = replicate("events", reps).drop(["props"])
        events = events.sort_by([("ts", "ascending"), ("event_id", "ascending")])
        os.makedirs(os.path.join(out, "files"))
        fresh = []
        rows = []
        for f in range(n_files):
            tab = events.slice(f * rows_per_file, rows_per_file)
            fresh.append(tab)
            if f > 0:
                recent = pa.concat_tables(fresh[-3:-1])
                k = int(rows_per_file * redeliver_share)
                pick = rng.choice(recent.num_rows, k, replace=False)
                tab = pa.concat_tables([tab, recent.take(pa.array(np.sort(pick)))])
            pq.write_table(tab, os.path.join(out, "files", f"f-{f:05d}.parquet"))
            rows.append(tab.num_rows)
        all_users = np.unique(events["user_id"].to_numpy())
        users = np.sort(rng.choice(all_users, int(len(all_users) * dim_share),
                                   replace=False))
        pq.write_table(pa.table({
            "user_id": pa.array(users, pa.int64()),
            "segment": np.array(["gold", "silver", "basic"])[
                rng.integers(0, 3, len(users))]}),
            os.path.join(out, "dim.parquet"))
        with open(os.path.join(out, "manifest.json"), "w") as fh:
            json.dump({"rows": rows}, fh)
    return _cached(f"stream-sf0.01-f{n_files}-r{rows_per_file}-d{dim_share}"
                   f"-x{redeliver_share}-s{seed}", build)
