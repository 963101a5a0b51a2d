"""Seeded benchmark inputs, generated once per (seed, size) and cached on disk.

* ``tables``: the curation leaves' tables. ``data/`` holds a verbatim copy
  of the repository's sf0.001 test tables (events, documents, embeddings,
  customer, orders, lineitem); the seed shuffles the row order of each, so
  content and query results stay those of the test tables while the
  physical layout varies.
* ``chain``: v0 is ``generate_transcripts`` at a fixed base seed, so v0 and
  the state seeded from it are built once per size and shared by every
  seed. The seed picks snapshots v1..vK: v_i appends a marker word to about
  2% of the non-empty texts in exactly one ``part_id`` of v_{i-1}. Edited
  texts stay non-empty and short, so every snapshot has exactly v0's
  violations.

A cache entry is built in a temporary directory and renamed into place, so
an interrupted build never leaves a half-written entry behind.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
N_PARTS = 8  # part_id values in generate_transcripts' default layout
BASE_SEED = 0  # generator seed of the incremental chain's v0


def cached(cache_dir: str, key: str, build) -> tuple[str, bool]:
    """Return ``(path, hit)`` for cache entry ``key``; on a miss call
    ``build(tmp_path)`` and publish the result atomically."""
    path = os.path.join(cache_dir, key)
    if os.path.isdir(path):
        return path, True
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, path)
    return path, False


def tables_digest(root: str = TABLES) -> str:
    """Content hash of the tables under ``data/``, part of the cache key of
    every input derived from them."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(root)):
        h.update(name.encode())
        with open(os.path.join(root, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def write_tables(out: str, seed: int) -> None:
    """The tables under ``data/``, each with its rows in a seeded order."""
    for i, name in enumerate(sorted(os.listdir(TABLES))):
        table = pq.read_table(os.path.join(TABLES, name))
        order = np.random.default_rng([seed, i]).permutation(table.num_rows)
        pq.write_table(table.take(order), os.path.join(out, name))


def write_base(spark, out: str, n_turns: int, files: int) -> dict:
    """``generate_transcripts`` at its fixed base seed, written as v0 in
    ``files`` files. Returns v0's metadata."""
    from prompture_spark.sources.transcripts import generate_transcripts

    generate_transcripts(spark, n_turns, seed=BASE_SEED, skew=True).repartition(files).write.parquet(
        os.path.join(out, "v0"))
    table = pq.read_table(os.path.join(out, "v0"))
    return {"rows": table.num_rows, "non_null_text": table.num_rows - table.column("text").null_count,
            "files": files}


def write_snapshots(base: str, out: str, seed: int, n_snapshots: int, files: int) -> dict:
    """Snapshots v1..vK of the v0 under ``base``, written with pyarrow under
    ``out`` in as many files as v0. Returns, per snapshot, the edited part
    and row count, also written to ``snapshots.json``."""
    import pyarrow.compute as pc

    table = pq.read_table(os.path.join(base, "v0"))
    step = -(-table.num_rows // files)
    meta = {}
    for i in range(1, n_snapshots + 1):
        part = edited_part(seed, i)
        text = table.column("text")
        eligible = pc.and_(
            pc.equal(table.column("part_id"), part),
            pc.greater(pc.utf8_length(pc.fill_null(pc.utf8_trim_whitespace(text), "")), 0),
        )
        idx = np.flatnonzero(eligible.to_numpy(zero_copy_only=False))
        rng = np.random.default_rng([seed, i])
        chosen = np.sort(rng.choice(idx, size=max(1, len(idx) // 50), replace=False))
        values = text.to_pylist()
        for j in chosen:
            values[j] = f"{values[j]} e{i}"
        table = table.set_column(table.schema.get_field_index("text"), "text", pa.array(values))
        snap = os.path.join(out, f"v{i}")
        os.makedirs(snap)
        for k in range(files):
            pq.write_table(table.slice(k * step, step), os.path.join(snap, f"part-{k:05d}.parquet"),
                           use_deprecated_int96_timestamps=True)  # as Spark wrote v0
        meta[f"v{i}"] = {"part": part, "edited_rows": int(len(chosen))}
    with open(os.path.join(out, "snapshots.json"), "w") as f:
        json.dump(meta, f)
    return meta


def edited_part(seed: int, i: int) -> int:
    """The one ``part_id`` snapshot v_i edits (distinct for i = 1..8)."""
    return (seed + 3 * i) % N_PARTS
