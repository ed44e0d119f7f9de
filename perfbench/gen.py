"""Seeded input generator for the benchmark.

The base data set is a committed slice of the engine's sf0.1 test tables
(perfbench/base/, cut by slice_sf.py). The run seed changes only what the
engine's answers must not depend on:

* a bijective remap of `events.user_id` (accounts get other names, every
  chain keeps its events and order), so action counts and the per-type
  histogram are the same for every seed;
* a permutation of the physical row order of every table.

Data volume and chain shape therefore stay fixed across seeds. The API
request stream and the streaming lt cuts are drawn from the run seed by the
benchmark itself.

It writes only the tables the workload reads, into OUT.

    python3 gen.py --workload W --seed N --out DIR
"""
import argparse
import os

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
BASE_SEED = 42
# users whose events a workload reads, and the other tables it reads: the
# slice lets one operation repeat several times in a run (README, "Sizing")
WORKLOADS = {
    "api_reads": (60, ["documents", "embeddings", "customer"]),
    "stream_catchup": (10, []),
}


def write(t, rng, path):
    pq.write_table(t.take(rng.permutation(t.num_rows)), path)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    users, tables = WORKLOADS[a.workload]
    rng = np.random.default_rng([BASE_SEED, 1000 + a.seed])
    os.makedirs(a.out, exist_ok=True)

    ev = pq.read_table(os.path.join(BASE, "events.parquet"))
    ev = ev.filter(pc.less(ev["user_id"], users))
    remap = rng.permutation(users).astype(np.int64)
    ev = ev.set_column(ev.schema.get_field_index("user_id"), "user_id",
                       [remap[ev["user_id"].to_numpy()]])
    write(ev, rng, os.path.join(a.out, "events.parquet"))
    for name in tables:
        write(pq.read_table(os.path.join(BASE, name + ".parquet")), rng,
              os.path.join(a.out, name + ".parquet"))


if __name__ == "__main__":
    main()
