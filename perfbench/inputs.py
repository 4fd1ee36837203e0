"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same pair
writes the same bytes. Outputs are cached under the benchmark's work
directory, one directory per ``(workload, seed, size)``, with a manifest
of SHA-256 digests; a cached entry is used only when every digest still
matches, so a cached run and a fresh run read the same bytes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when a generator's output changes, so stale cache entries miss.
GEN_VERSION = 1
# Parquet tables are written as this many files: a single-file table
# reads as one split and would serialize every map stage.
N_FILES = 4
# Cache entries kept; older ones are deleted when a new one is written.
CACHE_KEEP = 6


# -- cache ------------------------------------------------------------------


def _digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _tree_digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            rel = os.path.relpath(p, root)
            if rel != "MANIFEST.json":
                out[rel] = _digest(p)
    return dict(sorted(out.items()))


def cached(cache_root: str, key: str, build) -> tuple[str, bool]:
    """Return ``(dir, hit)`` for cache entry ``key``; ``build(dir)`` fills
    a missing or corrupt entry. ``build`` may add files later through
    :func:`seal` (expected results computed after generation)."""
    d = os.path.join(cache_root, key)
    manifest = os.path.join(d, "MANIFEST.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            if json.load(f) == _tree_digests(d):
                return d, True
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    build(d)
    seal(d)
    _prune(cache_root, keep=key)
    return d, False


def seal(d: str) -> None:
    with open(os.path.join(d, "MANIFEST.json"), "w") as f:
        json.dump(_tree_digests(d), f, indent=0)


def _prune(cache_root: str, keep: str) -> None:
    entries = sorted(
        (e for e in os.listdir(cache_root) if e != keep),
        key=lambda e: os.path.getmtime(os.path.join(cache_root, e)),
    )
    for e in entries[: max(0, len(entries) - (CACHE_KEEP - 1))]:
        shutil.rmtree(os.path.join(cache_root, e), ignore_errors=True)


def _write_table(table: pa.Table, path: str) -> None:
    """Write ``table`` as a directory of N_FILES parquet files."""
    os.makedirs(path)
    n = table.num_rows
    for i in range(N_FILES):
        lo, hi = i * n // N_FILES, (i + 1) * n // N_FILES
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i}.parquet"))


# -- price-paid CSV (ingest_cdc) ----------------------------------------------

FIRST_YEAR = 1995
N_YEARS = 29  # 1995..2023, the pp-complete date range
PROPERTY_TYPES = np.array(["D", "S", "T", "F", "O"])
TOWNS = np.array(["LONDON", "LEEDS", "BRISTOL", "YORK", "BATH", "DERBY", "HULL"])


def _pp_lines(ids, salt, price, year, month, op: str) -> list[str]:
    """Quoted 16-column pp-complete lines, one per id: the same line
    shape as the reference files (positional, headerless, A/C/D last)."""
    ptype = PROPERTY_TYPES[ids % len(PROPERTY_TYPES)]
    town = TOWNS[ids % len(TOWNS)]
    return [
        f'"{{{i:08X}-0000-0000-0000-{salt:012X}}}","{p}",'
        f'"{y}-{m:02d}-01 00:00","PC{i % 100} {i % 10}XX","{t}","N","F",'
        f'"{i % 200}","","HIGH STREET","","{c}","DIST","COUNTY","A","{op}"\n'
        for i, p, y, m, t, c in zip(
            ids.tolist(), price.tolist(), year.tolist(), month.tolist(),
            ptype.tolist(), town.tolist(),
        )
    ]


def price_paid(d: str, seed: int, rows: int, batch_rows: int) -> None:
    """A ``rows``-row snapshot over 29 ``data_year`` partitions and one
    monthly A/C/D batch of ``batch_rows`` rows: adds (2023), changes
    (2023, 2021) and deletes (2022) in the recent years, plus price
    corrections scattered over four older years. The batch touches 7 of
    29 partitions, so the merge both rewrites partitions and carries the
    rest forward.

    Batch keys are distinct and every C changes the price, so the
    batch's outcome counters and the final reconcile presence counts
    follow from the arithmetic recorded in ``expected.json``."""
    rng = np.random.default_rng([seed, 1])
    salt = int(rng.integers(1, 1 << 40))
    ids = np.arange(rows, dtype=np.int64)
    year = FIRST_YEAR + ids % N_YEARS
    month = rng.integers(1, 13, rows)
    price = rng.integers(50_000, 950_000, rows)
    with open(os.path.join(d, "snapshot.csv"), "w") as f:
        f.writelines(_pp_lines(ids, salt, price, year, month, "A"))

    quarter = batch_rows // 4

    def pick(years, n):
        return np.sort(rng.choice(ids[np.isin(year, years)], n, replace=False))

    adds = np.arange(rows, rows + quarter, dtype=np.int64)
    changes = np.concatenate(
        [pick([2023, 2021], quarter), pick([1995, 2002, 2009, 2016], quarter)]
    )
    deletes = pick([2022], quarter)
    lines = _pp_lines(
        adds, salt, rng.integers(50_000, 950_000, quarter),
        np.full(quarter, 2023), rng.integers(1, 13, quarter), "A",
    )
    lines += _pp_lines(
        changes, salt, price[changes] + rng.integers(1, 5_000, len(changes)),
        year[changes], month[changes], "C",
    )
    lines += _pp_lines(deletes, salt, price[deletes], year[deletes], month[deletes], "D")
    with open(os.path.join(d, "batch.csv"), "w") as f:
        f.writelines(lines[i] for i in rng.permutation(len(lines)))

    expected = {
        "rows": rows,
        "batch": {
            "add_insert": len(adds),
            "change_change": len(changes),
            "delete_delete": len(deletes),
            "years_touched": 7,
        },
        "reconcile": {
            "both": rows - len(changes) - len(deletes),
            "left_only": len(changes) + len(adds),
            "right_only": len(changes) + len(deletes),
        },
    }
    with open(os.path.join(d, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1)


# -- embeddings (vector_search) -------------------------------------------------

DIM = 64


def embeddings(d: str, seed: int, n_vecs: int) -> None:
    """``n_vecs`` unit vectors in 10 loose clusters (``label`` = cluster)
    plus near-duplicate families (copies with small noise)."""
    rng = np.random.default_rng([seed, 3])
    centers = rng.standard_normal((10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_vecs)
    x = 0.25 * centers[label] + rng.standard_normal((n_vecs, DIM)) / np.sqrt(DIM)
    dup = np.flatnonzero(rng.random(n_vecs) < 0.05)
    src = rng.integers(0, n_vecs, len(dup))
    x[dup] = x[src] + 0.02 * rng.standard_normal((len(dup), DIM)) / np.sqrt(DIM)
    label[dup] = label[src]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n_vecs + 1) * DIM, DIM, dtype=np.int32)),
                pa.array(x.ravel()),
            ),
            "label": pa.array(label.astype(np.int32)),
        }
    )
    _write_table(table, os.path.join(d, "embeddings.parquet"))
