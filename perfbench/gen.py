"""Seeded benchmark inputs.

The tables come from `tools/gen_sf.py` (its schemas and marginals), with
the workload seed mixed into every table's RNG: gen_sf seeds each table
with a fixed constant, and `generate` hands it a numpy whose
`default_rng(c)` returns `default_rng([c, seed])`. Output is cached per
(seed, scale) under the benchmark's own gitignored cache directory.

gen_sf's schema guard diffs against its reference fixture
(`gen_sf.DRIVER_FIXTURE`, outside the checkout); the benchmark reads
nothing outside its checkout, so it diffs against `ref_schema.json`, a
snapshot of that fixture's arrow schemas. The tests check the snapshot
against the fixture wherever the fixture exists.
"""
import contextlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
REF_SCHEMA = os.path.join(HERE, "ref_schema.json")


def gen_sf():
    """The repository's fixture generator, imported from tools/."""
    tools = os.path.join(REPO, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import gen_sf as g
    return g


class _SeededRandom:
    def __init__(self, seed):
        self._seed = seed

    def default_rng(self, table_seed):
        return np.random.default_rng([table_seed, self._seed])

    def __getattr__(self, name):
        return getattr(np.random, name)


class _SeededNumpy:
    """numpy, except that `random.default_rng` mixes in the seed."""

    def __init__(self, seed):
        self.random = _SeededRandom(seed)

    def __getattr__(self, name):
        return getattr(np, name)


def schema_drift(out_dir, tables):
    """Lines describing how the tables in `out_dir` differ from the
    reference schemas (names, order and arrow types); empty if none."""
    with open(REF_SCHEMA) as f:
        ref = json.load(f)
    drift = []
    for t in tables:
        got = pq.read_schema(os.path.join(out_dir, t + ".parquet"))
        want = ref[t]
        if got.names != list(want):
            drift.append(f"{t}: columns {got.names} != {list(want)}")
            continue
        for name, typ in want.items():
            if str(got.field(name).type) != typ:
                drift.append(f"{t}.{name}: type {got.field(name).type} != {typ}")
    return drift


def table_stats(out_dir, tables):
    """{table: {"rows": n, "bytes": file size}} for the results record."""
    stats = {}
    for t in tables:
        p = os.path.join(out_dir, t + ".parquet")
        stats[t] = {"rows": pq.ParquetFile(p).metadata.num_rows,
                    "bytes": os.path.getsize(p)}
    return stats


def generate(seed, scale, cache_root):
    """Generate (or reuse) the tables for (seed, scale); return the
    directory. Fails loudly on schema drift."""
    out_dir = os.path.join(cache_root, f"data-s{seed}-sf{scale}")
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    g = gen_sf()
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    real_np = g.np
    g.np = _SeededNumpy(seed)
    try:
        with contextlib.redirect_stdout(sys.stderr):
            g.main(scale, tmp)
    finally:
        g.np = real_np
    drift = schema_drift(tmp, g.TABLES)
    if drift:
        raise RuntimeError("schema drift vs ref_schema.json: " + "; ".join(drift))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir
