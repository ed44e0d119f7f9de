"""Cuts the benchmark's base data set from the engine's sf0.1 test tables
(TESTDATA.md) into perfbench/base/. The benchmark reads only files inside
its own checkout, so the slices are committed; this script records how
they were taken and re-takes them:

    python3 perfbench/slice_sf.py SF0.1_DIR

Each slice is a prefix of its table by key, with the rows and columns
unchanged:

* events: every event of users 0..USERS-1 (their whole chains);
* documents, embeddings, customer: the first DOCS, VECTORS and CUSTOMERS
  rows by id.
"""
import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

USERS = 60
DOCS = 1000
VECTORS = 150
CUSTOMERS = 2000

SLICES = {"events": ("user_id", USERS), "documents": ("doc_id", DOCS),
          "embeddings": ("vec_id", VECTORS), "customer": ("c_custkey", CUSTOMERS)}


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    src = sys.argv[1]
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
    os.makedirs(out, exist_ok=True)
    for name, (key, n) in SLICES.items():
        t = pq.read_table(os.path.join(src, name + ".parquet"))
        t = t.filter(pc.less(t[key], n))
        pq.write_table(t, os.path.join(out, name + ".parquet"))
        print("%s: %d rows" % (name, t.num_rows))


if __name__ == "__main__":
    main()
