"""Seeded input generator for the benchmark workloads.

Every workload's inputs are a seeded sample of `pool/`, a fixed extract
of the sf0.1 test data (`make_pool.py` says what it holds). Each workload
gets its own input directory in the layout `core.Tables` reads: one
`<table>.parquet` per table (here a directory holding one part file,
which `spark.read.parquet` and DuckDB's `read_parquet` glob both read
unchanged), with the pool's column names and physical types.

The seed decides which orders, events and documents go in, their row
order, which pool day each events day is, and so the order in which
the refresh slices arrive. Table sizes do not depend on the seed, so two
seeds cost the program about the same work. Keys keep referential
integrity the way `graft.tools.ReplicateSf` does: slice `k`'s orders and
line items are offset by `(k + 1) * KEY_STRIDE`, so each slice's keys lie
above every key before it and its line items still join its orders;
customers, parts and suppliers are the pool's whole tables, so every
foreign key resolves. An events day is a pool day moved by whole days in
the column's own encoding. Document and vector ids stay as in sf0.1, so
`doc_id % 5 = 0` remains the held-out benchmark fifth and doc `i` and
vector `i` stay the same item; ids below `ANCHORS` are always drawn, as
the `vec_id < 5` query anchors need them.
"""
import hashlib
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

POOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pool")
DIMS = ("region", "nation", "customer", "supplier", "part")
KEY_STRIDE = 10_000_000  # graft.tools.ReplicateSf's tpch key stride
ANCHORS = 5
PER_DAY = {"s": 86_400, "ms": 86_400_000, "us": 86_400_000_000,
           "ns": 86_400_000_000_000}

# Sizes per workload. `orders`, `event_days` and `items` (documents and
# their vectors) are the base sizes; dag_refresh also stages `slices`
# slices of `slice_orders` orders plus one day of events for its refresh
# cycles.
PROFILES = {
    "dag_refresh": dict(orders=12000, slices=8, slice_orders=300,
                        event_days=1, events_per_day=2000, items=0),
    "corpus_takedown": dict(orders=0, slices=0, slice_orders=0,
                            event_days=0, events_per_day=0, items=500),
    "query_serving": dict(orders=12000, slices=0, slice_orders=0,
                          event_days=3, events_per_day=2000, items=600),
}


def _pool(name):
    return pq.read_table(os.path.join(POOL, f"{name}.parquet"))


def _offset(t, column, by):
    i = t.schema.get_field_index(column)
    return t.set_column(i, column, pc.add(t[column], by))


def _orders(rng, p):
    """The base orders and each slice's, with their line items, as
    `[(orders, lineitem), ...]`, base first."""
    orders, lines = _pool("orders"), _pool("lineitem")
    so = p["slice_orders"]
    pick = rng.permutation(orders.num_rows)[:p["orders"] + p["slices"] * so]
    cuts = [pick[:p["orders"]]] + [
        pick[p["orders"] + k * so:p["orders"] + (k + 1) * so]
        for k in range(p["slices"])]
    out = []
    for k, idx in enumerate(cuts):
        o = orders.take(idx)
        li = lines.filter(pc.is_in(lines["l_orderkey"],
                                   value_set=o["o_orderkey"]))
        li = li.take(rng.permutation(li.num_rows))
        if k:
            o = _offset(o, "o_orderkey", k * KEY_STRIDE)
            li = _offset(li, "l_orderkey", k * KEY_STRIDE)
        out.append((o, li))
    return out


def _events(rng, days, per_day):
    """`days` seed-chosen pool days of `per_day` seed-chosen events each,
    the `j`th moved to the pool's `j`th day, in ts order."""
    ev = _pool("events")
    ts = ev["ts"]
    unit_day = PER_DAY[ts.type.unit]
    raw = pc.cast(ts, pa.int64())
    day = raw.to_numpy() // unit_day
    day -= day.min()
    out = []
    for j, d in enumerate(rng.permutation(int(day.max()) + 1)[:days]):
        idx = np.sort(rng.choice(np.nonzero(day == d)[0], per_day,
                                 replace=False))
        moved = pc.add(raw.take(idx), int(j - d) * unit_day)
        t = ev.take(idx)
        out.append(t.set_column(t.schema.get_field_index("ts"), "ts",
                                pc.cast(moved, ts.type)))
    return out


def _items(rng, n):
    """`n` documents and their vectors: the anchors plus a seeded draw."""
    docs, emb = _pool("documents"), _pool("embeddings")
    ids = docs["doc_id"].to_numpy()
    drawn = rng.permutation(ids[ids >= ANCHORS])[:n - ANCHORS]
    keep = pa.array(np.sort(np.concatenate([ids[ids < ANCHORS], drawn])))
    return (docs.filter(pc.is_in(docs["doc_id"], value_set=keep)),
            emb.filter(pc.is_in(emb["vec_id"], value_set=keep)))


def fingerprint(text):
    """The pipeline's exact-dedup key: md5 of lower-cased, trimmed,
    whitespace-collapsed text."""
    return hashlib.md5(
        re.sub(r"\s+", " ", text).strip().lower().encode()).hexdigest()


def _write(table, path):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"),
                   compression="snappy")


def generate(workload, seed, out_dir):
    """Write `workload`'s inputs for `seed` under `out_dir` (replacing it)
    and return its manifest: per table rows, bytes and content hash, plus
    what the workload needs to know about the inputs."""
    p = PROFILES[workload]
    rng = np.random.default_rng([seed, list(PROFILES).index(workload)])
    shutil.rmtree(out_dir, ignore_errors=True)
    data = os.path.join(out_dir, "data")
    tables, slices, extra = {}, [], {}
    if p["orders"]:
        tables.update({t: _pool(t) for t in DIMS})
        (tables["orders"], tables["lineitem"]), *later = _orders(rng, p)
        days = _events(rng, p["event_days"] + p["slices"],
                       p["events_per_day"])
        tables["events"] = pa.concat_tables(days[:p["event_days"]])
        slices = [(o, li, ev) for (o, li), ev
                  in zip(later, days[p["event_days"]:])]
    if p["items"]:
        tables["documents"], tables["embeddings"] = _items(rng, p["items"])
    if workload == "corpus_takedown":
        extra.update(_corpus_plan(rng, tables["documents"]))
    for name, t in tables.items():
        _write(t, os.path.join(data, f"{name}.parquet"))
    for k, parts in enumerate(slices):
        for name, t in zip(("orders", "lineitem", "events"), parts):
            _write(t, os.path.join(out_dir, "slices", f"{k:03d}",
                                   f"{name}.parquet"))
    if slices:
        extra["slices"] = len(slices)
    return {"workload": workload, "seed": seed, "data_dir": data,
            "tables": describe(out_dir), **extra}


def _corpus_plan(rng, docs):
    """corpus_takedown's history cut, the id range that arrives as one
    streamed micro-batch, and the takedown victim sets. The history is
    the first 60 % of the drawn ids. Victims are corpus documents of the
    streamed range that pass the quality stage, no two from the same
    exact-content family and no family reaching back into the history.
    A takedown re-packs the store from the earliest member of its
    victims' families on, so drawing every victim from the same range
    keeps the takedowns of a run, and of different seeds, about equally
    expensive."""
    ids = docs.column("doc_id").to_numpy()
    texts = docs.column("text").to_pylist()
    n = len(ids)
    cut = int(ids[int(n * 0.6)])
    first_of = {}
    for i, t in zip(ids, texts):
        first_of.setdefault(fingerprint(t), int(i))
    eligible = [(int(i), t) for i, t in zip(ids, texts)
                if first_of[fingerprint(t)] > cut and i % 5 != 0
                and len(t.split()) >= 50]
    sets, used, cur = [], set(), []
    for j in rng.permutation(len(eligible)):
        i, t = eligible[j]
        if fingerprint(t) in used:
            continue
        used.add(fingerprint(t))
        cur.append(i)
        if len(cur) == 3:
            sets.append(sorted(cur))
            cur = []
    return {"history_cut": cut, "batches": [[cut + 1, int(ids.max())]],
            "victim_sets": sets}


def describe(out_dir):
    """Rows, bytes and sha256 of every parquet file under `out_dir`,
    keyed by path relative to it."""
    out = {}
    for root, _, files in sorted(os.walk(out_dir)):
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            path = os.path.join(root, f)
            with open(path, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            out[os.path.relpath(path, out_dir)] = {
                "rows": pq.ParquetFile(path).metadata.num_rows,
                "bytes": os.path.getsize(path), "sha256": digest}
    return out
