"""Seeded input tables for one benchmark run.

The tables come from ``tools/gen_scale_data.gen``, with the tool's module
``SEED`` set from ``--seed`` so that one seed always yields the same files.
The tool copies the fixed 5-row ``region`` and 25-row ``nation`` dimensions
from a source directory (its module ``SRC``); the benchmark writes those two
tables itself and points ``SRC`` at them, so a run needs nothing outside the
checkout.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

#: Scale factor of the measured tables (15k orders, 60k lineitem,
#: 10k events, 500 documents and 500 embeddings rows).
MEASURED_SF = 0.01
#: Scale factor of the warm-up tables.
WARMUP_SF = 0.001


def _write_fixed_dims(outdir: str) -> None:
    os.makedirs(outdir, exist_ok=True)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    pq.write_table(
        pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": regions,
        }),
        os.path.join(outdir, "region.parquet"),
    )
    pq.write_table(
        pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        os.path.join(outdir, "nation.parquet"),
    )


def file_digests(sf_dir: str) -> dict[str, str]:
    """SHA-256 of every file in ``sf_dir``, by file name."""
    out = {}
    for name in sorted(os.listdir(sf_dir)):
        h = hashlib.sha256()
        with open(os.path.join(sf_dir, name), "rb") as fh:
            for block in iter(lambda: fh.read(1 << 20), b""):
                h.update(block)
        out[name] = h.hexdigest()
    return out


def generate(repo_root: str, workdir: str, seed: int) -> dict[str, str]:
    """Write the measured and warm-up tables for ``seed`` under ``workdir``.

    Returns ``{"measured": dir, "warmup": dir}``.
    """
    sys.path.insert(0, os.path.join(repo_root, "tools"))
    import gen_scale_data

    dims = os.path.join(workdir, "dims")
    _write_fixed_dims(dims)
    gen_scale_data.SEED = seed
    gen_scale_data.SRC = dims
    dirs = {
        "measured": os.path.join(workdir, f"sf{MEASURED_SF}"),
        "warmup": os.path.join(workdir, f"sf{WARMUP_SF}"),
    }
    # the tool reports each table on stdout, which carries the result line
    with contextlib.redirect_stdout(sys.stderr):
        gen_scale_data.gen(MEASURED_SF, dirs["measured"])
        gen_scale_data.gen(WARMUP_SF, dirs["warmup"])
    return dirs
