"""Seeded fixture generator.

Applies the replica rules of `graft.ScaleFixture` to a read-only source
fixture (listed in the checkout's TESTDATA.md), with the replica index chosen by the seed, so every seed gets its
own data under its own path (memo slots embed the path and never collide):

- orders/lineitem: o_orderkey/l_orderkey shift by k * 10,000,000 together;
- documents: doc_id shifts, and every token gets the replica's letter
  suffix (tokens stay ^[a-z]+$);
- embeddings: vec_id shifts, and each vector rotates left by k positions
  (norms and intra-replica distances are kept);
- events: event_id and user_id shift;
- region/nation/customer/supplier/part: copied verbatim (dimensions).

Fixtures are cached per (scale, seed) under the build dir; generation time is
never part of a metric.
"""
import json
import os
import re
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

STRIDE = 10_000_000
DIMENSIONS = ["region", "nation", "customer", "supplier", "part"]
# source fixture (its `sf` in TESTDATA.md) per scale; "tiny" exists for the
# smoke tests
SCALES = {"1x": "0.1", "0.1x": "0.01", "tiny": "0.001"}
TESTDATA = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "TESTDATA.md")
FACTS = ["documents", "embeddings", "events", "orders", "lineitem"]


def replica_index(seed):
    """ScaleFixture replica index of a seed: never 0 (the verbatim copy), and
    small enough that shifted keys stay below 2^31."""
    return 1 + seed % 200


def _shift(table, column, by):
    idx = table.schema.get_field_index(column)
    col = pc.add(table.column(column), pa.scalar(by, table.schema.field(idx).type))
    return table.set_column(idx, table.schema.field(idx), col)


def _map_column(table, column, fn):
    idx = table.schema.get_field_index(column)
    field = table.schema.field(idx)
    values = [None if v is None else fn(v) for v in table.column(column).to_pylist()]
    return table.set_column(idx, field, pa.array(values, type=field.type))


def _replica(name, table, k):
    off = k * STRIDE
    if name == "documents":
        letter = chr(ord("a") + k % 26)
        table = _shift(table, "doc_id", off)
        return _map_column(table, "text",
                           lambda s: " ".join(t + letter for t in s.split(" ")))
    if name == "embeddings":
        table = _shift(table, "vec_id", off)
        return _map_column(table, "embedding",
                           lambda v: [v[(j + k) % len(v)] for j in range(len(v))])
    if name == "events":
        return _shift(_shift(table, "event_id", off), "user_id", off)
    if name == "orders":
        return _shift(table, "o_orderkey", off)
    if name == "lineitem":
        return _shift(table, "l_orderkey", off)
    raise ValueError(name)


def generate(src, dst, seed):
    """Write the seed's fixture to dst (one parquet file per table) and
    return its manifest: replica index plus row and byte counts."""
    tmp = dst + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    k = replica_index(seed)
    tables = {}
    for name in DIMENSIONS:
        shutil.copyfile(f"{src}/{name}.parquet", f"{tmp}/{name}.parquet")
    for name in FACTS:
        out = _replica(name, pq.read_table(f"{src}/{name}.parquet"), k)
        pq.write_table(out, f"{tmp}/{name}.parquet", compression="snappy")
    for name in DIMENSIONS + FACTS:
        path = f"{tmp}/{name}.parquet"
        tables[name] = {"rows": pq.ParquetFile(path).metadata.num_rows,
                        "bytes": os.path.getsize(path)}
    manifest = {"source": src, "seed": seed, "replica_index": k,
                "tables": tables,
                "rows": sum(t["rows"] for t in tables.values()),
                "bytes": sum(t["bytes"] for t in tables.values())}
    with open(f"{tmp}/../{os.path.basename(dst)}.manifest.json", "w") as f:
        json.dump(manifest, f, indent=1)
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)
    return manifest


def source_dir(scale):
    """The read-only source fixture of a scale, as TESTDATA.md at the
    checkout root lists it (`| sf | `dir` | ... |`)."""
    with open(TESTDATA) as f:
        for line in f:
            m = re.match(r"\|\s*([\d.]+)\s*\|\s*`([^`]+)`", line)
            if m and m.group(1) == SCALES[scale]:
                return m.group(2).rstrip("/")
    raise FileNotFoundError(f"TESTDATA.md lists no sf {SCALES[scale]}")


def ensure(build_dir, scale, seed):
    """Path and manifest of the cached fixture for (scale, seed)."""
    src = source_dir(scale)
    root = os.path.join(build_dir, "fixtures")
    os.makedirs(root, exist_ok=True)
    dst = os.path.join(root, f"{scale}-s{seed}")
    manifest_path = dst + ".manifest.json"
    if os.path.isdir(dst) and os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return dst, json.load(f)
    if not os.path.isdir(src):
        raise FileNotFoundError(f"fixture source {src} is missing")
    return dst, generate(src, dst, seed)
