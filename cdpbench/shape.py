#!/usr/bin/env python3
"""Compare the shape of the generated cdp_board tables with reference data.

    python3 cdpbench/shape.py <reference dir> [<generated dir>]

The reference dir holds the engine's seed-42 test tables (one parquet file
per table). Without a generated dir, the tables are generated afresh into a
temporary directory with the cdp_board workload's scale factor and seed.
For every table it prints the row counts, whether the schemas match, and
per column the null count, distinct count and min/max of both sides (for
`events.props`, the set of JSON key sets). The benchmark itself never runs
this; it records how closely its generated inputs follow the reference.
"""
import json
import shutil
import sys
import tempfile

import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import workloads
from checks import TABLES


def column_stats(col):
    if col.type.num_fields:    # list columns: compare the list lengths
        col = pc.list_value_length(col)
    mm = pc.min_max(col).as_py() if col.null_count < len(col) else {}
    return {"nulls": col.null_count, "distinct": len(pc.unique(col)),
            "min": mm.get("min"), "max": mm.get("max")}


def key_sets(col):
    return sorted({",".join(sorted(json.loads(s))) for s in col.to_pylist()[:20_000]})


def compare(ref, generated):
    for t in TABLES:
        a = pq.read_table(f"{ref}/{t}.parquet")
        b = pq.read_table(f"{generated}/{t}.parquet")
        same = a.schema.remove_metadata().equals(b.schema.remove_metadata())
        print(f"{t}: rows {a.num_rows} vs {b.num_rows}, schema {'same' if same else 'DIFFERS'}")
        for c in a.column_names:
            if c not in b.column_names:
                print(f"  {c}: missing from the generated table")
                continue
            sa, sb = column_stats(a[c]), column_stats(b[c])
            print(f"  {c}: reference {sa}\n  {' ' * len(c)}  generated {sb}")
            if t == "events" and c == "props":
                print(f"  props key sets: reference {key_sets(a[c])} generated {key_sets(b[c])}")


def main():
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    if len(sys.argv) > 2:
        compare(sys.argv[1], sys.argv[2])
        return
    w = workloads.ALL["cdp_board"]
    tmp = tempfile.mkdtemp()
    try:
        gen.tables(tmp, w.sf, w.data_seed)
        compare(sys.argv[1], tmp)
    finally:
        shutil.rmtree(tmp)


if __name__ == "__main__":
    main()
