"""Seeded benchmark inputs derived from a read-only parquet fixture.

Every table keeps the fixture's one-file-per-table layout and schema. The
seed picks a key-hash subsample of the fact tables and shuffles the rows of
every table, so two seeds differ in values and row order but never in the
number of files a scan sees.

  orders      sampled by o_orderkey; lineitem follows its order
  events      sampled by user_id, so a user's sessions stay whole
  embeddings  sampled by vec_id
  documents   kept whole, rows shuffled: the fixture plants its near-dup
              pairs between random ids, so sampling by id would keep a
              pair only when both ids survive (about 1 in 100)
  the rest    kept whole (dimension tables), rows shuffled

Foreign keys from the facts into the dimension tables therefore always
resolve, and lineitem never references a dropped order.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# table -> key column sampled by hash; lineitem is handled via orders
SAMPLED = {"orders": "o_orderkey", "events": "user_id",
           "embeddings": "vec_id"}
# share of the sampled tables' distinct keys a seed keeps
FRACTION = 0.1


def _mix(keys, salt):
    """splitmix64 finalizer over int64 keys, salted by the seed."""
    z = keys.astype(np.int64).view(np.uint64) + np.uint64(salt)
    with np.errstate(over="ignore"):
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def keep_mask(keys, seed, fraction):
    """True for the keys the seed keeps; about `fraction` of distinct keys."""
    salt = (seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    h = _mix(np.asarray(keys), salt) >> np.uint64(11)  # 53 uniform bits
    return h.astype(np.float64) / float(1 << 53) < fraction


def generate(src, dst, seed, fraction=FRACTION):
    """Write the seeded inputs for `seed` into `dst`; returns per-table
    {rows, bytes}. `src` is only read."""
    os.makedirs(dst, exist_ok=True)
    tables = {t: pq.read_table(os.path.join(src, f"{t}.parquet"))
              for t in TABLES}
    for t, key in SAMPLED.items():
        keys = tables[t].column(key).to_numpy()
        tables[t] = tables[t].filter(pa.array(keep_mask(keys, seed, fraction)))
    kept_orders = tables["orders"].column("o_orderkey")
    li = tables["lineitem"]
    tables["lineitem"] = li.filter(
        pc.is_in(li.column("l_orderkey"), value_set=kept_orders))
    stats = {}
    for i, t in enumerate(TABLES):
        tbl = tables[t]
        perm = np.random.default_rng([seed, i]).permutation(tbl.num_rows)
        tbl = tbl.take(pa.array(perm))
        path = os.path.join(dst, f"{t}.parquet")
        pq.write_table(tbl, path)
        stats[t] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return stats
