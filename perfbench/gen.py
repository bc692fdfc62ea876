"""Seeded benchmark inputs from scripts/gen_scale.py's value families.

gen_scale.py fixes its seed (42000 + sf*1000), its output root and the
directory it copies region/nation from. This module supplies all three
without editing it: the random generator is seeded from (seed, sf), the
output goes under the given directory, and region/nation are written here
with the same values as the repository's reference test tables.
"""
import os
import sys
import types

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _fixed_dims(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), f"{out_dir}/region.parquet")
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")


def generate(seed, sf, root):
    """Write the ten tables for (seed, sf) to <root>/sf<sf>; return that dir.

    Idempotent: an existing complete dir is reused."""
    out = f"{root}/sf{sf:g}"
    if os.path.exists(f"{out}/.done"):
        return out
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import gen_scale
    dims = f"{root}/dims"
    _fixed_dims(dims)
    seeded = types.SimpleNamespace(
        default_rng=lambda _fixed: np.random.default_rng([seed, int(sf * 1000)]))
    gen_scale.np = types.SimpleNamespace(**{k: getattr(np, k) for k in dir(np)
                                            if not k.startswith("__")})
    gen_scale.np.random = seeded
    gen_scale.BASE = root
    gen_scale.REAL = dims
    gen_scale.gen(sf)
    open(f"{out}/.done", "w").close()
    return out
