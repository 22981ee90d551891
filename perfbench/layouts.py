"""The benchmark's input layouts, derived from the engine's test fixtures.

``perfbench/fixtures/<base>/`` holds a byte-for-byte copy of the engine's
fixture tables at one scale (one Parquet file per table; see FIXTURES.md
for their schemas).  A layout is either such a base directory as it is,
or ``copies`` key-shifted copies of it, written as a multi-file layout:

- copy i adds i * 10^7 to every join key, so join cardinalities grow
  linearly rather than quadratically;
- copy i prefixes every corpus token with ``x<i>``, so the near-duplicate
  structure grows linearly too;
- ``nation`` and ``region`` are shared.

This is the transform of the repository's scale-convergence layouts,
done here with pyarrow so that building inputs starts no JVM.  A built
layout carries ``manifest.json`` with its row counts, which are checked
against the Parquet footers before every run; a layout that fails the
check is rebuilt.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
KEY_OFFSET = 10_000_000
SHIFTED_KEYS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
}
# Bump when the transform changes, so stale cached layouts are rebuilt.
VERSION = 1


def shifted_copy(src: pa.Table, name: str, i: int) -> pa.Table:
    cols = {}
    for col in src.column_names:
        arr = src[col]
        if col in SHIFTED_KEYS.get(name, ()):
            arr = pc.add(arr, pa.scalar(i * KEY_OFFSET, arr.type))
        cols[col] = arr
    if name == "documents":
        cols["text"] = pc.replace_substring(src["text"], " ", f" x{i}")
        cols["n_chars"] = pc.cast(pc.utf8_length(cols["text"]), pa.int64())
    return pa.table(cols, schema=src.schema)


def write_split(table: pa.Table, path: str, files: int) -> None:
    """Rows dealt round-robin over ``files`` Parquet files in ``path``."""
    os.makedirs(path)
    for f in range(files):
        pq.write_table(table.take(pa.array(range(f, table.num_rows, files))),
                       os.path.join(path, f"part-{f:05d}.parquet"))


def row_counts(layout_dir: str) -> dict[str, int]:
    """Row counts read from the Parquet footers of a layout."""
    counts = {}
    for name in TABLES:
        path = os.path.join(layout_dir, f"{name}.parquet")
        files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
                 if os.path.isdir(path) else [path])
        counts[name] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return counts


def manifest_ok(layout_dir: str) -> bool:
    try:
        with open(os.path.join(layout_dir, "manifest.json")) as f:
            return row_counts(layout_dir) == json.load(f)["rows"]
    except (OSError, ValueError, KeyError):
        return False


def ensure_layout(cache_dir: str, base: str, copies: int) -> tuple[str, str, float]:
    """Return ``(name, directory, build_seconds)`` of a layout; 0 seconds
    when the base is used as it is or the cached copy passes its check."""
    src_dir = os.path.join(FIXTURES, base)
    if copies == 1:
        return base, src_dir, 0.0
    name = f"{base}x{copies}-v{VERSION}"
    layout_dir = os.path.join(cache_dir, "layouts", name)
    if manifest_ok(layout_dir):
        return name, layout_dir, 0.0
    t0 = time.perf_counter()
    tmp = f"{layout_dir}.tmp{os.getpid()}"
    try:
        os.makedirs(tmp)
        rows = {}
        for t in TABLES:
            src = pq.read_table(os.path.join(src_dir, f"{t}.parquet"))
            if t not in SHIFTED_KEYS:
                shutil.copy(os.path.join(src_dir, f"{t}.parquet"), tmp)
                rows[t] = src.num_rows
                continue
            big = pa.concat_tables([shifted_copy(src, t, i) for i in range(copies)])
            write_split(big, os.path.join(tmp, f"{t}.parquet"),
                        16 if t in ("lineitem", "orders") else 4)
            rows[t] = big.num_rows
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump({"base": base, "copies": copies, "rows": rows}, f, indent=1)
        shutil.rmtree(layout_dir, ignore_errors=True)
        os.rename(tmp, layout_dir)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if not manifest_ok(layout_dir):
        raise RuntimeError(f"built layout {layout_dir} fails its manifest")
    return name, layout_dir, time.perf_counter() - t0

