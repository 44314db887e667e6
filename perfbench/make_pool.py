#!/usr/bin/env python3
"""Cut the benchmark's sampling pool out of an sf0.1 test-data directory.

    python3 perfbench/make_pool.py <sf0.1 dir>

Writes `perfbench/pool/<table>.parquet`, the fixed extract `gen.py`
samples every workload's inputs from, so a benchmark run reads nothing
outside its checkout. The cut is by key, so it keeps referential
integrity and every column's physical type (the events `ts` encoding
included):

- region, nation, customer, supplier, part: whole;
- orders with `o_orderkey < 16000`, and their line items;
- events of the first nine days;
- documents and embeddings with id `< 1000` (doc `i` and vector `i`
  describe the same item).
"""
import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
POOL = os.path.join(HERE, "pool")
ORDERS = 16000
EVENT_DAYS = 9
ITEMS = 1000
US_PER_DAY = 86_400_000_000


def cut(name, t):
    if name == "orders":
        return t.filter(pc.less(t["o_orderkey"], ORDERS))
    if name == "lineitem":
        return t.filter(pc.less(t["l_orderkey"], ORDERS))
    if name == "events":
        us = pc.cast(pc.cast(t["ts"], "timestamp[us]"), "int64")
        first_day = pc.min(us).as_py() // US_PER_DAY
        return t.filter(pc.less(us, (first_day + EVENT_DAYS) * US_PER_DAY))
    if name == "documents":
        return t.filter(pc.less(t["doc_id"], ITEMS))
    if name == "embeddings":
        return t.filter(pc.less(t["vec_id"], ITEMS))
    return t


def main(src):
    os.makedirs(POOL, exist_ok=True)
    for f in sorted(os.listdir(src)):
        if not f.endswith(".parquet"):
            continue
        name = f[:-len(".parquet")]
        t = cut(name, pq.read_table(os.path.join(src, f)))
        pq.write_table(t, os.path.join(POOL, f), compression="zstd",
                       compression_level=19)
        print(f"{name}: {t.num_rows} rows")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
