"""Seeded input generators for the benchmark.

Everything the program receives is produced here from ``--seed``: the
catalog tables (as parquet files the benchmark then commits through the
program's own ``Catalog.write``), the pixel stack, the document corpus and
the request streams.  Nothing here imports Spark or the program's query
code, so the same bytes can be handed to DuckDB for the expected answers.

Identical seeds give byte-identical files and op lists (``test_perfbench``
checks this); every id is drawn from the seeded generator, never from
``uuid4`` or the clock.
"""

from __future__ import annotations

import json
import os
import struct
import uuid
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = datetime(2018, 1, 1, tzinfo=timezone.utc)
STATUSES = ("ACTIVE", "INACTIVE", "TODELETE")
STATUS_P = (0.9, 0.07, 0.03)
TAG_VALUES = {
    "CONSTELLATION": ("SENTINEL2", "SENTINEL1", "LANDSAT8"),
    "ORBIT": ("ASC", "DESC"),
    "PROC": ("L1C", "L2A"),
}
SATS = ("S2A", "S2B", "S1A", "L8")
NODATA = -9999.0
DMAPPING = {
    "dtype": "Int16", "no_data": NODATA, "min_value": 0.0, "max_value": 10000.0,
    "real_min_value": 0.0, "real_max_value": 1.0, "exponent": 1.0,
}

_STR_MAP = pa.map_(pa.string(), pa.string())
_BBOX = pa.struct([(k, pa.float64()) for k in ("xmin", "ymin", "xmax", "ymax")])
_DFORMAT = pa.struct(
    [("dtype", pa.string()), ("no_data", pa.float64()),
     ("min_value", pa.float64()), ("max_value", pa.float64())]
)
_DMAPPING = pa.struct(
    [(k, pa.string() if k == "dtype" else pa.float64()) for k in DMAPPING]
)
_TS = pa.timestamp("us", tz="UTC")
ARROW_SCHEMAS = {
    "aoi": pa.schema([("id", pa.string()), ("hash", pa.string()),
                      ("geom_wkb", pa.binary()), ("bbox", _BBOX)]),
    "records": pa.schema([("id", pa.string()), ("name", pa.string()),
                          ("datetime", _TS), ("tags", _STR_MAP),
                          ("aoi_id", pa.string())]),
    "variables": pa.schema([("id", pa.string()), ("name", pa.string()),
                            ("unit", pa.string()), ("description", pa.string()),
                            ("bands", pa.list_(pa.string())), ("dformat", _DFORMAT),
                            ("palette", pa.string()), ("resampling_alg", pa.string())]),
    "instances": pa.schema([("id", pa.string()), ("name", pa.string()),
                            ("metadata", _STR_MAP), ("variable_id", pa.string())]),
    "containers": pa.schema([("uri", pa.string()), ("managed", pa.bool_()),
                             ("storage_class", pa.string())]),
    "datasets": pa.schema([("id", pa.string()), ("record_id", pa.string()),
                           ("instance_id", pa.string()), ("container_uri", pa.string()),
                           ("subdir", pa.string()), ("bands", pa.list_(pa.int16())),
                           ("status", pa.string()), ("dmapping", _DMAPPING),
                           ("geom_wkb", pa.binary()), ("bbox", _BBOX),
                           ("shape_srid", pa.int32()), ("overviews", pa.bool_()),
                           ("locked_by_job_id", pa.string())]),
    "tiles": pa.schema([("container_uri", pa.string()), ("band", pa.int16()),
                        ("level", pa.int16()), ("block_x", pa.int32()),
                        ("block_y", pa.int32()), ("px", pa.list_(pa.float64())),
                        ("crs_srid", pa.int32()),
                        ("pix_to_crs", pa.struct([(c, pa.float64()) for c in "abcdef"]))]),
    "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string()),
                            ("n_chars", pa.int64())]),
}


def new_id(rng: np.random.Generator) -> str:
    return str(uuid.UUID(bytes=rng.bytes(16), version=4))


def rect_wkb(xmin: float, ymin: float, xmax: float, ymax: float) -> bytes:
    """Little-endian WKB polygon of an axis-aligned rectangle."""
    ring = [(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax), (xmin, ymin)]
    return struct.pack("<BIII", 1, 3, 1, len(ring)) + b"".join(
        struct.pack("<dd", x, y) for x, y in ring
    )


def multipolygon_rect_wkb(xmin: float, ymin: float, xmax: float, ymax: float) -> bytes:
    return struct.pack("<BII", 1, 6, 1) + rect_wkb(xmin, ymin, xmax, ymax)


def _bbox(xmin, ymin, xmax, ymax) -> dict:
    return {"xmin": xmin, "ymin": ymin, "xmax": xmax, "ymax": ymax}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    """One parquet file per table; returns name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, t in sorted(tables.items()):
        p = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, p, compression="snappy")
        paths[name] = p
    return paths


def table(name: str, rows: list[dict]) -> pa.Table:
    """Rows as an Arrow table with the catalog schema of ``name``."""
    return pa.Table.from_pylist(rows, schema=ARROW_SCHEMAS[name])


# ----------------------------------------------------------------- catalog


def catalog(seed: int, n_records: int, n_instances: int, days: int) -> dict[str, pa.Table]:
    """A FindDatasets-shaped catalog: ``n_records`` acquisitions over
    ``days`` days, each indexed once per instance (so (record, instance) is
    unique), ~10% non-ACTIVE datasets, zipf-ish tags with missing keys."""
    rng = np.random.default_rng(seed)
    n_vars = max(1, n_instances // 5)
    variables, instances = [], []
    for v in range(n_vars):
        variables.append({
            "id": new_id(rng), "name": f"var_{v}", "unit": "unit",
            "description": "generated", "bands": ["B1"],
            "dformat": {k: DMAPPING[k] for k in ("dtype", "no_data", "min_value", "max_value")},
            "palette": None, "resampling_alg": "NEAR",
        })
    for i in range(n_instances):
        var = variables[i % n_vars]
        instances.append({"id": new_id(rng), "name": f"{var['name']}/inst_{i}",
                          "metadata": {"proc": f"v{i}"}, "variable_id": var["id"]})

    secs = np.sort(rng.choice(days * 86400, size=n_records, replace=False))
    x0 = rng.uniform(-10.0, 28.0, n_records)
    y0 = rng.uniform(35.0, 58.0, n_records)
    size = rng.uniform(0.5, 2.0, n_records)
    aois, records = [], []
    for i in range(n_records):
        b = (float(x0[i]), float(y0[i]), float(x0[i] + size[i]), float(y0[i] + size[i]))
        wkb = multipolygon_rect_wkb(*b)
        aoi_id = new_id(rng)
        aois.append({"id": aoi_id, "hash": f"{i:040x}", "geom_wkb": wkb, "bbox": _bbox(*b)})
        tags = {}
        for k, vals in TAG_VALUES.items():
            if rng.random() >= 0.15:
                tags[k] = vals[min(int(rng.zipf(2.0)) - 1, len(vals) - 1)]
        dt = T0 + timedelta(seconds=int(secs[i]))
        sat = SATS[int(rng.integers(len(SATS)))]
        records.append({"id": new_id(rng), "name": f"{sat}_{dt:%Y%m%d}_{i:05d}",
                        "datetime": dt, "tags": tags, "aoi_id": aoi_id})

    # columnar: ~10^5 rows, one per (record, instance)
    n = n_records * n_instances
    status_draw = rng.choice(len(STATUSES), size=n, p=STATUS_P)
    raw = rng.bytes(16 * n)
    rec_idx = np.repeat(np.arange(n_records), n_instances)
    inst_idx = np.tile(np.arange(n_instances), n_records)
    wkbs = [rect_wkb(*(a["bbox"][k] for k in ("xmin", "ymin", "xmax", "ymax"))) for a in aois]
    uris = [f"gs://bench/{j:02d}/{i:06d}.tif" for i, j in zip(rec_idx, inst_idx)]
    datasets = pa.Table.from_pydict({
        "id": [str(uuid.UUID(bytes=raw[16 * k:16 * k + 16], version=4)) for k in range(n)],
        "record_id": [records[i]["id"] for i in rec_idx],
        "instance_id": [instances[j]["id"] for j in inst_idx],
        "container_uri": uris,
        "subdir": [""] * n,
        "bands": [[1]] * n,
        "status": [STATUSES[s] for s in status_draw],
        "dmapping": [DMAPPING] * n,
        "geom_wkb": [wkbs[i] for i in rec_idx],
        "bbox": [aois[i]["bbox"] for i in rec_idx],
        "shape_srid": [4326] * n,
        "overviews": [False] * n,
        "locked_by_job_id": [None] * n,
    }, schema=ARROW_SCHEMAS["datasets"])
    containers = pa.Table.from_pydict(
        {"uri": uris, "managed": [True] * n, "storage_class": ["STANDARD"] * n},
        schema=ARROW_SCHEMAS["containers"])
    return {
        "aoi": table("aoi", aois),
        "records": table("records", records),
        "variables": table("variables", variables),
        "instances": table("instances", instances),
        "containers": containers,
        "datasets": datasets,
    }


# ------------------------------------------------------------------ pixels


def stack_pixels(seed: int, n_dates: int, nx: int, ny: int, block: int) -> np.ndarray:
    """(n_dates, ny, nx, block, block) float64 stack of integer values in
    [0, 10000) with seeded NODATA holes, so a latest-wins mosaic has to
    reach back through several dates to fill a pixel."""
    rng = np.random.default_rng(seed + 1)
    shape = (n_dates, ny, nx, block, block)
    px = rng.integers(0, 10000, size=shape).astype(np.float64)
    cell = max(block // 16, 1)
    holes = rng.random(shape[:3] + (block // cell, block // cell)) < 0.35
    px[np.repeat(np.repeat(holes, cell, axis=3), cell, axis=4)] = NODATA
    return px


def tiles_table(datasets: list[dict], px: np.ndarray) -> pa.Table:
    """Tile rows of ``datasets[i]`` holding ``px[i]`` (one band, level 0);
    all datasets share one aligned grid."""
    _, ny, nx, block, _ = px.shape
    rows = []
    for i, d in enumerate(datasets):
        b = d["bbox"]
        for by in range(ny):
            for bx in range(nx):
                rows.append({
                    "container_uri": d["container_uri"], "band": 1, "level": 0,
                    "block_x": bx, "block_y": by, "px": px[i, by, bx].ravel(),
                    "crs_srid": 4326,
                    "pix_to_crs": {"a": 10.0, "b": 0.0, "c": b["xmin"],
                                   "d": 0.0, "e": -10.0, "f": b["ymax"]},
                })
    return pa.Table.from_pylist(rows, schema=ARROW_SCHEMAS["tiles"])


def cube_stack(seed: int, n_dates: int, nx: int, ny: int,
               block: int) -> tuple[dict[str, pa.Table], np.ndarray]:
    """A catalog of ``n_dates`` single-band ACTIVE records of one instance
    on one aligned grid, plus the tile table holding their pixels (one
    container per record, dataset i holds ``px[i]``)."""
    tables = catalog(seed, n_dates, 1, days=n_dates * 3)
    px = stack_pixels(seed, n_dates, nx, ny, block)
    ext = _bbox(10.0, 45.0, 12.0, 46.0)
    ds = tables["datasets"].to_pylist()
    for d in ds:
        d.update(status="ACTIVE", bbox=dict(ext), geom_wkb=rect_wkb(*ext.values()))
    tables["datasets"] = table("datasets", ds)
    tables["tiles"] = tiles_table(ds, px)
    return tables, px


# --------------------------------------------------------------- documents

VOCAB = (
    "spark batch line column order small sort fast value scan hash slow group "
    "agg filter query big key window row part table stream merge data vector "
    "join shuffle plan task stage node edge graph rank cube tile pixel band "
    "cell grid record tag time cloud orbit image mosaic cast layout level"
).split()


def documents(seed: int, n_docs: int, dup_share: float = 0.15) -> pa.Table:
    """Random word documents; ``dup_share`` of them are near-copies of an
    earlier document with a few words edited, forming chains and stars of
    near-duplicates for the clustering stage to find."""
    rng = np.random.default_rng(seed + 2)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_share:
            words = texts[int(rng.integers(max(0, i - 200), i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(len(words)))] = VOCAB[int(rng.integers(len(VOCAB)))]
        else:
            words = [VOCAB[k] for k in rng.integers(len(VOCAB), size=int(rng.integers(20, 60)))]
        texts.append(" ".join(words))
    langs = ("en", "fr", "de", "zh")
    rows = [{"doc_id": i, "text": t, "lang": langs[i % 4], "source": f"src{i % 7}",
             "n_chars": len(t)} for i, t in enumerate(texts)]
    return table("documents", rows)


# -------------------------------------------------------------------- ops


def dumps_ops(ops: list[dict]) -> bytes:
    """Canonical bytes of an op list (the determinism self-test compares
    these)."""
    return json.dumps(ops, sort_keys=True, separators=(",", ":")).encode()


def _window(rng, t_lo: datetime, t_hi: datetime, min_days: float, max_days: float):
    span = (t_hi - t_lo).total_seconds()
    width = float(rng.uniform(min_days, max_days)) * 86400
    start = float(rng.uniform(0, max(span - width, 1.0)))
    a = t_lo + timedelta(seconds=int(start))
    return a.isoformat(), (a + timedelta(seconds=int(width))).isoformat()


# One op kind per catalog query shape of geocube_spark/registry.py's
# catalog section: find_datasets_core, find_datasets_tags,
# find_datasets_name_glob, list_records_paginated, get_records_by_id and
# cube_headers_by_record.  The repository holds no record of real client
# traffic, so the equal shares are an assumption.
CATALOG_OP_KINDS = ("datasets_window", "datasets_tags", "datasets_glob",
                    "records", "get_records", "cube_headers")


def catalog_ops(seed: int, tables: dict[str, pa.Table], n: int) -> list[dict]:
    """Round-robin over CATALOG_OP_KINDS with seeded parameters.  The
    50-row records page and the 7-id GetRecords follow the registry's
    list_records_paginated and get_records_by_id; the other ranges (3-60
    day windows, 1-4 instances, tag-existence tests half the time, pages of
    30-50) are assumptions chosen so that every result stays small."""
    rng = np.random.default_rng(seed + 3)
    recs = tables["records"]
    rec_ids = recs.column("id").to_pylist()
    names = recs.column("name").to_pylist()
    dts = recs.column("datetime").to_pylist()
    inst = tables["instances"].column("id").to_pylist()
    lo, hi = dts[0], dts[-1]
    ops = []
    for k in range(n):
        kind = CATALOG_OP_KINDS[k % len(CATALOG_OP_KINDS)]
        pick = lambda m: sorted(rng.choice(inst, size=m, replace=False).tolist())  # noqa: E731
        op: dict = {"kind": kind}
        if kind == "datasets_window":
            op.update(status="ACTIVE", instance_ids=pick(int(rng.integers(1, 5))),
                      window=_window(rng, lo, hi, 3, 10),
                      offset=int(rng.integers(0, 10)), limit=50)
        elif kind == "datasets_tags":
            key = ("CONSTELLATION", "ORBIT", "PROC")[int(rng.integers(3))]
            tags = {key: TAG_VALUES[key][int(rng.integers(len(TAG_VALUES[key])))]}
            if rng.random() < 0.5:
                tags["PROC"] = ""  # existence test
            x, y = float(rng.uniform(-5, 20)), float(rng.uniform(38, 52))
            op.update(status=STATUSES[int(rng.integers(2))], instance_ids=pick(2),
                      tags=tags, extent=[x, y, x + 8.0, y + 6.0],
                      window=_window(rng, lo, hi, 20, 60),
                      offset=int(rng.integers(0, 5)), limit=30)
        elif kind == "datasets_glob":
            r = int(rng.integers(len(names)))
            sat, day = names[r].split("_")[:2]
            glob = f"{sat}_{day[:6]}*" if rng.random() < 0.5 else f"*_{day[:6]}??_*"
            op.update(status="ACTIVE", instance_ids=pick(int(rng.integers(1, 4))),
                      name_glob=glob, offset=0, limit=40)
        elif kind == "records":
            op.update(window=_window(rng, lo, hi, 5, 20),
                      tags={"CONSTELLATION": "SENTINEL2"} if rng.random() < 0.5 else {},
                      offset=int(rng.integers(0, 5)), limit=50)
        elif kind == "get_records":
            op.update(ids=rng.choice(rec_ids, size=7, replace=False).tolist())
        else:  # cube_headers
            op.update(status="ACTIVE", instance_ids=pick(1),
                      window=_window(rng, lo, hi, 5, 15))
        ops.append(op)
    return ops


MOSAIC_DATES = 32


def cube_ops(seed: int, tables: dict[str, pa.Table], n: int) -> list[dict]:
    """Alternating GetCube reads over the stack: a time-window mosaic of
    MOSAIC_DATES consecutive dates, then one date's slice selected by
    record id (one element of a block time series).  The seed picks the
    dates; the width is fixed so that every run reads the same number of
    pixels per op."""
    rng = np.random.default_rng(seed + 4)
    dts = tables["records"].column("datetime").to_pylist()
    ops = []
    for k in range(n):
        width = min(MOSAIC_DATES, len(dts)) if k % 2 == 0 else 1
        a = int(rng.integers(0, len(dts) - width + 1))
        ops.append({
            "kind": "get_cube" if k % 2 == 0 else "slice",
            "date_range": [a, a + width],
            "window": [dts[a].isoformat(), dts[a + width - 1].isoformat()],
        })
    return ops
