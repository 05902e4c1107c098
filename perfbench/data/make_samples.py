"""Cut the benchmark's committed input samples from TPC-H-shaped sf0.1 tables.

    python3 perfbench/data/make_samples.py <sf0.1 directory>

Writes, next to this script:

- ``lineitem.parquet``: a fixed-seed draw of ``LINEITEM_ROWS`` rows without
  replacement, with the eight columns the credit workloads read
  (``l_shipdate`` as a date).
- ``documents.parquet``: every document of ``documents.parquet``, as is.

The benchmark bootstraps each run's inputs from these files (``gen.py``),
so its traffic has the source tables' value distributions, target rate,
document lengths, vocabulary and near-duplicate rate.  pyarrow only.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LINEITEM_ROWS = 100_000
LINEITEM_COLUMNS = [
    "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
    "l_discount", "l_tax", "l_returnflag", "l_shipdate",
]
HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> None:
    src = sys.argv[1]
    li = pq.read_table(os.path.join(src, "lineitem.parquet"), columns=LINEITEM_COLUMNS)
    idx = np.sort(np.random.default_rng(0).choice(li.num_rows, LINEITEM_ROWS, replace=False))
    li = li.take(pa.array(idx))
    li = li.set_column(
        li.schema.get_field_index("l_shipdate"), "l_shipdate",
        pc.cast(li.column("l_shipdate"), pa.date32()),
    ).replace_schema_metadata(None)
    pq.write_table(li, os.path.join(HERE, "lineitem.parquet"),
                   compression="zstd", compression_level=19)
    docs = pq.read_table(os.path.join(src, "documents.parquet")).replace_schema_metadata(None)
    pq.write_table(docs, os.path.join(HERE, "documents.parquet"),
                   compression="zstd", compression_level=19)


if __name__ == "__main__":
    main()
