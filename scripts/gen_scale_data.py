"""Generate a LARGER synthetic SF directory from sf0.1 for the scaling
spot-check (scripts/scale_spot.py) — NOT for correctness runs.

/root/testdata is read-only and driver-owned; this script derives a
bigger dataset purely from sf0.1 by unioning FACTOR id-shifted copies of
the fact tables (dims copy through).  Id offsets are multiples of
100,000 — an exact multiple of every residue filter the entry queries
use (vec_id % 50 / % 20 / % 5, stride-100 centroid init), so subset
cardinalities scale exactly linearly.  Document text gets a per-copy
suffix token so the copies are not byte-identical (keeps shingle/dedup
workloads from collapsing into pure exact-dup families; pair densities
stay comparable to sf0.1 within a copy).

Usage: python scripts/gen_scale_data.py [factor] [out_dir]
       (defaults: 5 -> "sf0.5", /tmp/scale_sf05)

The output feeds scripts/scale_spot.py only; nothing here touches
the oracle or the bench contract.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
OFF = 100_000  # multiple of 50, 20, 5, 100 — residue filters scale exactly

COPY_THROUGH = ["region", "nation", "customer", "supplier", "part"]
ID_SHIFT = {
    # table -> columns shifted by k*OFF per copy k (FK pairs shift together)
    "embeddings": ["vec_id"],
    "documents": ["doc_id"],
    "events": ["event_id", "user_id"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
}


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scale_sf05"
    os.makedirs(out, exist_ok=True)

    for t in COPY_THROUGH:
        pq.write_table(pq.read_table(f"{SRC}/{t}.parquet"), f"{out}/{t}.parquet")
        print(f"copied {t}")

    for t, id_cols in ID_SHIFT.items():
        base = pq.read_table(f"{SRC}/{t}.parquet")
        copies = []
        for k in range(factor):
            tbl = base
            for c in id_cols:
                shifted = pc.add(tbl[c], pa.scalar(k * OFF, type=tbl[c].type))
                tbl = tbl.set_column(tbl.schema.get_field_index(c), c, shifted)
            if t == "documents" and k > 0:
                # perturb text so copies are near- but not exact-dups;
                # keep n_chars consistent with the perturbed text
                txt = pc.binary_join_element_wise(
                    tbl["text"], pa.scalar(f"copyv{k}"), pa.scalar(" ")
                )
                tbl = tbl.set_column(
                    tbl.schema.get_field_index("text"), "text", txt
                )
                tbl = tbl.set_column(
                    tbl.schema.get_field_index("n_chars"),
                    "n_chars",
                    pc.cast(pc.utf8_length(txt), pa.int64()),
                )
            copies.append(tbl)
        merged = pa.concat_tables(copies)
        pq.write_table(merged, f"{out}/{t}.parquet")
        print(f"scaled {t}: {base.num_rows} -> {merged.num_rows}")


if __name__ == "__main__":
    main()
