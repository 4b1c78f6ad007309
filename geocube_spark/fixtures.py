"""Deterministic synthetic catalog + tile fixtures (FIXTURES.md, seed=42).

Generated with pyarrow directly (no Spark dependency) so pytest and the
DuckDB oracle read the exact same bytes.  Pixel values are closed-form
(FIXTURES.md §tiles) so cast/mosaic/pyramid results are computable in SQL.
"""

from __future__ import annotations

import fcntl
import hashlib
import os
import shutil
import uuid
from collections.abc import Callable
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from geocube_spark.functions.geometry import (
    geom_hash,
    multipolygon_wkb,
    polygon_wkb,
    rect_wkb,
)

SEED = 42
BLOCK_W = BLOCK_H = 64
BLOCKS = 2  # 2×2 blocks per image (keep fixtures light; reference uses 4×4)
MODULUS = 9973.0

DMAPPINGS = [
    # (dtype, no_data, min, max, real_min, real_max, exponent)
    ("Int16", -32768.0, 0.0, 10000.0, 0.0, 1.0, 1.0),
    ("UInt8", 0.0, 1.0, 255.0, 0.0, 1.0, 1.0),
    ("Float32", float("nan"), 0.0, 1.0, 0.0, 1.0, 1.0),
    ("Int16", -32768.0, 0.0, 10000.0, 0.0, 1.0, 2.0),
]


def _uuid(kind: str, i: int) -> str:
    return str(uuid.uuid5(uuid.NAMESPACE_URL, f"geocube-fixture:{kind}:{i}"))


def default_dir() -> str:
    return os.environ.get(
        "GEOCUBE_FIXTURE_DIR", os.path.join(os.path.dirname(__file__), "..", ".fixtures")
    )


def _input_key(inputs: list[str]) -> str:
    """sha256 over the bytes of every input file, each paired with its
    name; a directory contributes its files in sorted relative-path
    order.  No stat() field enters the key, so a copy of the same bytes
    (another host, a fresh checkout, a touched file) keys the same."""
    h = hashlib.sha256()
    for root in inputs:
        if os.path.isdir(root):
            rels = sorted(
                os.path.relpath(os.path.join(d, n), root)
                for d, _, names in os.walk(root)
                for n in names
            )
            files = [(rel, os.path.join(root, rel)) for rel in rels]
        else:
            files = [(os.path.basename(root), root)]
        for rel, path in files:
            with open(path, "rb") as f:
                digest = hashlib.file_digest(f, "sha256").hexdigest()
            h.update(f"{rel}\0{digest}\n".encode())
    return h.hexdigest()


def cached(out: str, inputs: list[str], build: Callable[[str], object]) -> str:
    """The one cache rule for derived fixtures: return ``out``, first
    (re)building it with ``build(out)`` unless the marker ``out + ".key"``
    holds the key of ``inputs`` (see ``_input_key``).

    Check and build run under an exclusive ``flock`` on ``out + ".lock"``,
    so concurrent threads and processes build once.  A rebuild removes the
    marker and the old output, builds, and writes the marker LAST: the
    marker is the commit point, so a build that dies leaves no marker and
    the next call builds again."""
    marker = out + ".key"
    with open(out + ".lock", "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # released when the file closes
        key = _input_key(inputs)
        if os.path.exists(marker):
            with open(marker) as f:
                if f.read() == key:
                    return out
            os.remove(marker)
        if os.path.isdir(out):
            shutil.rmtree(out)
        elif os.path.exists(out):
            os.remove(out)
        build(out)
        with open(marker, "w") as f:
            f.write(key)
    return out


def generate(out_dir: str | None = None, n_records: int = 200) -> str:
    out_dir = os.path.abspath(out_dir or default_dir())
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.RandomState(SEED)

    # ---- aoi: rectangles marching east, 10% antimeridian-spanning, 5% dups
    n_aoi = max(n_records // 4, 1)
    aoi_rows = []
    for i in range(n_aoi):
        if i % 10 == 9:  # antimeridian-spanning, pre-split (F14)
            wkb = multipolygon_wkb(
                [
                    [(179.8, 10.0), (180.0, 10.0), (180.0, 11.0), (179.8, 11.0)],
                    [(-180.0, 10.0), (-179.8, 10.0), (-179.8, 11.0), (-180.0, 11.0)],
                ]
            )
            bbox = (-180.0, 10.0, 180.0, 11.0)
        else:
            j = i - (i % 20 == 19)  # 5% duplicate the previous geometry
            x0 = -170.0 + 0.5 * j
            y0 = -40.0 + 0.3 * (j % 100)
            wkb = multipolygon_wkb([[(x0, y0), (x0 + 1.0, y0), (x0 + 1.0, y0 + 1.0), (x0, y0 + 1.0)]])
            bbox = (x0, y0, x0 + 1.0, y0 + 1.0)
        aoi_rows.append(
            {
                "id": _uuid("aoi", i),
                "hash": geom_hash(wkb),
                "geom_wkb": wkb,
                "bbox": {"xmin": bbox[0], "ymin": bbox[1], "xmax": bbox[2], "ymax": bbox[3]},
            }
        )

    # ---- records
    t0 = datetime(2018, 1, 1)
    tag_vals = {
        "CONSTELLATION": ["SENTINEL2", "SENTINEL1", "LANDSAT8"],
        "ORBIT": ["ASC", "DESC"],
        "PROC": ["L1C", "L2A"],
    }
    record_rows = []
    for i in range(n_records):
        dt = t0 + timedelta(days=i if i % 33 != 32 else i - 1)  # ~3% duplicate times
        tags = {}
        for k, vals in tag_vals.items():
            if rng.rand() >= 0.2:  # ~20% missing each key
                # zipfian-ish: first value most common
                z = min(int(rng.zipf(2.0)) - 1, len(vals) - 1)
                tags[k] = vals[z]
        record_rows.append(
            {
                "id": _uuid("record", i),
                "name": f"S2A_{i - (1 if i % 10 == 9 else 0):06d}",
                "datetime": dt,
                "tags": tags,
                "aoi_id": aoi_rows[i % n_aoi]["id"],
            }
        )

    # ---- variables + instances
    variable_rows, instance_rows = [], []
    resampling = ["NEAR", "BILINEAR", "AVERAGE"]
    for i in range(6):
        dm = DMAPPINGS[i % len(DMAPPINGS)]
        variable_rows.append(
            {
                "id": _uuid("variable", i),
                "name": f"var_{i}",
                "unit": "unit",
                "description": "synthetic",
                "bands": ["B1"] if i % 2 == 0 else ["R", "G", "B"],
                "dformat": {
                    "dtype": dm[0],
                    "no_data": dm[1],
                    "min_value": dm[2],
                    "max_value": dm[3],
                },
                "palette": "ramp" if i == 0 else None,
                "resampling_alg": resampling[i % 3],
            }
        )
        for j in range(2):
            instance_rows.append(
                {
                    "id": _uuid("instance", i * 2 + j),
                    "name": f"var_{i}/inst_{j}",
                    "metadata": {"proc": f"v{j}"},
                    "variable_id": variable_rows[-1]["id"],
                }
            )

    # ---- containers + datasets (fact table)
    container_rows, dataset_rows = [], []
    statuses = ["ACTIVE"] * 18 + ["INACTIVE"] + ["TODELETE"]
    di = 0
    for i, rec in enumerate(record_rows):
        n_inst = 1 + (i % 3)  # each record has datasets for 1-3 instances
        for k in range(n_inst):
            inst = instance_rows[(i + k * 5) % len(instance_rows)]
            dm = DMAPPINGS[di % len(DMAPPINGS)]
            uri = f"file:///synth/{di}.tif"
            container_rows.append(
                {
                    "uri": uri,
                    "managed": di % 2 == 0,
                    "storage_class": ["STANDARD", "INFREQUENT", "ARCHIVE", "DEEPARCHIVE"][di % 4],
                }
            )
            a = next(x for x in aoi_rows if x["id"] == rec["aoi_id"])
            bb = a["bbox"]
            # dataset geom = record AOI buffered ±0.05°
            bbox = {
                "xmin": bb["xmin"] - 0.05,
                "ymin": bb["ymin"] - 0.05,
                "xmax": bb["xmax"] + 0.05,
                "ymax": bb["ymax"] + 0.05,
            }
            wkb = rect_wkb(bbox["xmin"], bbox["ymin"], bbox["xmax"], bbox["ymax"])
            dataset_rows.append(
                {
                    "id": _uuid("dataset", di),
                    "record_id": rec["id"],
                    "instance_id": inst["id"],
                    "container_uri": uri,
                    "subdir": "" if di % 5 else f"GTIFF_DIR:{di % 3 + 1}",
                    "bands": [1] if di % 2 == 0 else [1, 2, 3],
                    "status": statuses[di % len(statuses)],
                    "dmapping": {
                        "dtype": dm[0],
                        "no_data": dm[1],
                        "min_value": dm[2],
                        "max_value": dm[3],
                        "real_min_value": dm[4],
                        "real_max_value": dm[5],
                        "exponent": dm[6],
                    },
                    "geom_wkb": wkb,
                    "bbox": bbox,
                    "shape_srid": 32631 if 0.0 <= bbox["xmin"] <= 6.0 else 4326,
                    "overviews": di % 3 == 0,
                    "locked_by_job_id": "job-0" if di % 29 == 0 else None,
                }
            )
            di += 1

    # ---- tiles: closed-form pixels for the first 12 datasets, 1 band,
    # 2×2 blocks, plus a nodata stripe every 7th row (FIXTURES.md §tiles)
    tile_rows = []
    tile_datasets = dataset_rows[:12]
    for ridx, ds in enumerate(tile_datasets):
        nd = ds["dmapping"]["no_data"]
        for band in (1,):
            for by in range(BLOCKS):
                for bx in range(BLOCKS):
                    rows_idx = np.arange(BLOCK_H)[:, None]
                    cols_idx = np.arange(BLOCK_W)[None, :]
                    px = (
                        ridx * 1e4
                        + band * 1e3
                        + by * BLOCK_H * BLOCK_W
                        + rows_idx * BLOCK_W
                        + cols_idx
                    ) % MODULUS
                    px = px.astype(np.float64)
                    px[::7, :] = nd  # deterministic nodata stripe
                    tile_rows.append(
                        {
                            "container_uri": ds["container_uri"],
                            "band": band,
                            "level": 0,
                            "block_x": bx,
                            "block_y": by,
                            "px": px.ravel().tolist(),
                            "crs_srid": ds["shape_srid"],
                            "pix_to_crs": {
                                "a": 10.0, "b": 0.0, "c": ds["bbox"]["xmin"],
                                "d": 0.0, "e": -10.0, "f": ds["bbox"]["ymax"],
                            },
                        }
                    )

    # ---- cells: 8×8 patchwork of UTM-zone-like rectangles over the dataset
    # footprint area (J5 custom-grid spatial join, pg_grids.go:113-151)
    cell_rows = []
    for gi in range(8):
        for gj in range(8):
            x0 = -172.0 + gi * 4.0
            y0 = -42.0 + gj * 4.5
            wkb = rect_wkb(x0, y0, x0 + 4.0, y0 + 4.5)
            cell_rows.append(
                {
                    "id": f"utm_{gi}_{gj}",
                    "grid": "mgrs_like",
                    "crs": f"epsg:{32601 + gi}",
                    "srid": 32601 + gi,
                    "geom_wkb": wkb,
                    "bbox": {"xmin": x0, "ymin": y0, "xmax": x0 + 4.0, "ymax": y0 + 4.5},
                }
            )

    # ---- layouts (grid recipes, FIXTURES.md layouts)
    layout_rows = [
        {
            "name": "regular_256",
            "grid_flags": [],
            "grid_parameters": {
                "grid": "regular", "crs": "epsg:32631", "cell_size": "256",
                "resolution": "10", "ox": "0", "oy": "0",
            },
            "block_x_size": 256, "block_y_size": 256, "max_records": 1024,
            "overviews_min_size": 256, "interlacing_pattern": "Z=0>T>R>B;Z=1:>R>T>B",
        },
        {
            "name": "singlecell",
            "grid_flags": [],
            "grid_parameters": {"grid": "singlecell", "crs": "epsg:4326", "resolution": "0.001"},
            "block_x_size": 256, "block_y_size": 256, "max_records": 4,
            "overviews_min_size": -1, "interlacing_pattern": "R>Z>T>B",
        },
        {
            "name": "mgrs_like",
            "grid_flags": [],
            "grid_parameters": {"grid": "mgrs_like", "resolution": "10"},
            "block_x_size": 256, "block_y_size": 256, "max_records": 1024,
            "overviews_min_size": 0, "interlacing_pattern": "Z=0>T>R>B",
        },
    ]

    # ---- container_layouts (J6: which layout produced which container) +
    # consolidation_params (per-variable storage recipe, create.sql:154-166)
    container_layout_rows = [
        {
            "container_uri": c["uri"],
            "layout_name": layout_rows[i % len(layout_rows)]["name"],
        }
        for i, c in enumerate(container_rows)
    ]
    consolidation_params_rows = [
        {
            "variable_id": v["id"],
            "dformat": v["dformat"],
            "exponent": 1.0 if i % 2 == 0 else 2.0,
            "compression": ["NONE", "LOSSLESS", "LOSSY"][i % 3],
            "resampling_alg": v["resampling_alg"],
            "storage_class": ["STANDARD", "INFREQUENT"][i % 2],
            "creation_params": {"COMPRESS": "ZSTD"} if i % 2 else {},
        }
        for i, v in enumerate(variable_rows)
    ]

    # ---- jobs / tasks / locked_datasets
    job_states = ["NEW", "CREATED", "CONSOLIDATIONINPROGRESS", "DONE", "FAILED"]
    job_rows = [
        {
            "id": f"job-{i}",
            "name": f"consolidation-{i}",
            "type": "consolidation" if i % 2 == 0 else "deletion",
            "state": job_states[i],
            "payload": "{}",
            "active_tasks": i,
            "failed_tasks": i % 2,
            "execution_level": i % 4,
            "waiting": i % 2 == 1,
            "creation_ts": t0 + timedelta(hours=i),
            "last_update_ts": t0 + timedelta(hours=i, minutes=30),
        }
        for i in range(5)
    ]
    task_states = ["NEW", "PENDING", "DONE", "FAILED", "CANCELLED"]
    task_rows = [
        {
            "id": _uuid("task", i),
            "job_id": f"job-{i % 5}",
            "state": task_states[(i * 7) % 5],
            "payload": bytes([i % 256]),
            "try_count": i % 3,  # deterministic, rng-free (byte-stability)
        }
        for i in range(20)
    ]
    locked_rows = [
        {"dataset_id": d["id"], "job_id": "job-0", "flag": i % 2}
        for i, d in enumerate(dataset_rows)
        if d["locked_by_job_id"] == "job-0"
    ]

    # ---- concave_aoi: concave / holed / multipolygon geometries assembled
    # from axis-aligned component rects on a 0.5 grid (exact in binary fp),
    # so DuckDB can verify interior-intersects ANALYTICALLY from the part
    # columns while Spark runs the real WKB through the general geometry
    # kernel.  Deliberately placed after all rng draws: adds no rng
    # consumption, so every other table stays byte-identical.
    conc_rows = []
    for i in range(240):
        x0 = -6.0 + 0.5 * (i % 23)
        y0 = -4.0 + 0.5 * ((i * 7) % 17)
        w = 0.5 + 0.5 * (i % 3)
        h = 0.5 + 0.5 * ((i // 3) % 3)
        kind = i % 4
        hole = None
        if kind == 0:  # L-shape (concave, 6 vertices)
            ring = [
                (x0, y0), (x0 + 2 * w, y0), (x0 + 2 * w, y0 + h),
                (x0 + w, y0 + h), (x0 + w, y0 + 2 * h), (x0, y0 + 2 * h),
            ]
            parts = [(x0, y0, x0 + 2 * w, y0 + h), (x0, y0, x0 + w, y0 + 2 * h)]
            wkb = polygon_wkb(ring)
        elif kind == 1:  # U-shape (concave, 8 vertices)
            ring = [
                (x0, y0), (x0 + 3 * w, y0), (x0 + 3 * w, y0 + 2 * h),
                (x0 + 2 * w, y0 + 2 * h), (x0 + 2 * w, y0 + h),
                (x0 + w, y0 + h), (x0 + w, y0 + 2 * h), (x0, y0 + 2 * h),
            ]
            parts = [
                (x0, y0, x0 + 3 * w, y0 + h),
                (x0, y0, x0 + w, y0 + 2 * h),
                (x0 + 2 * w, y0, x0 + 3 * w, y0 + 2 * h),
            ]
            wkb = polygon_wkb(ring)
        elif kind == 2:  # rect with a rectangular hole
            parts = [(x0, y0, x0 + 3 * w, y0 + 3 * h)]
            hole = (x0 + w, y0 + h, x0 + 2 * w, y0 + 2 * h)
            wkb = polygon_wkb(
                [(x0, y0), (x0 + 3 * w, y0), (x0 + 3 * w, y0 + 3 * h), (x0, y0 + 3 * h)],
                holes=[[
                    (hole[0], hole[1]), (hole[2], hole[1]),
                    (hole[2], hole[3]), (hole[0], hole[3]),
                ]],
            )
        else:  # two disjoint rects as a MultiPolygon
            parts = [
                (x0, y0, x0 + w, y0 + h),
                (x0 + 2 * w, y0 + 2 * h, x0 + 3 * w, y0 + 3 * h),
            ]
            wkb = multipolygon_wkb(
                [
                    [(p[0], p[1]), (p[2], p[1]), (p[2], p[3]), (p[0], p[3])]
                    for p in parts
                ]
            )
        xs = [p[0] for p in parts] + [p[2] for p in parts]
        ys = [p[1] for p in parts] + [p[3] for p in parts]
        row: dict = {
            "id": i,
            "geom_wkb": wkb,
            "bbox": {"xmin": min(xs), "ymin": min(ys), "xmax": max(xs), "ymax": max(ys)},
        }
        for pi in range(3):
            part = parts[pi] if pi < len(parts) else (None, None, None, None)
            for ci, cname in enumerate(("x0", "y0", "x1", "y1")):
                row[f"p{pi + 1}_{cname}"] = part[ci]
        for ci, cname in enumerate(("x0", "y0", "x1", "y1")):
            row[f"h_{cname}"] = hole[ci] if hole else None
        conc_rows.append(row)

    # ---- warp_src: source tiles for the cross-CRS warp oracle.  2×2 blocks
    # of 64² px in EPSG:4326, closed-form v(i,j) = (13i + 7j) mod 97 on
    # GLOBAL pixel indices, resolution 2^-6 degrees (binary-exact so the
    # inverse affine is bit-identical between numpy and DuckDB; see
    # get_cube_pixels_webmercator).  No rng consumption.
    warp_res = 0.015625  # 1/64 degree
    warp_rows = []
    for wby in range(2):
        for wbx in range(2):
            cc, rr = np.meshgrid(np.arange(64), np.arange(64))
            gi = wbx * 64 + cc
            gj = wby * 64 + rr
            v = ((13 * gi + 7 * gj) % 97).astype(np.float64)
            warp_rows.append(
                {
                    "container_uri": "warp://src",
                    "band": 1,
                    "level": 0,
                    "block_x": wbx,
                    "block_y": wby,
                    "px": v.ravel().tolist(),
                    "crs_srid": 4326,
                    "pix_to_crs": {
                        "a": warp_res, "b": 0.0, "c": 0.0,
                        "d": 0.0, "e": -warp_res, "f": 50.0,
                    },
                    "record_id": _uuid("warp-record", 0),
                    "record_datetime": t0,
                }
            )

    # ---- warp_src_utm: source tiles for the UTM cross-CRS warp oracle.
    # Same closed-form v(i,j) = (13i + 7j) mod 97, but the grid lives in
    # EPSG:32632 (UTM zone 32N): res 1024 m (binary-exact => exact inverse
    # affine), origin E=434176 / N=6684672 — 128x128 px straddling the
    # central meridian (E 434k..565k ~ lon 7.8..10.2E, N ~ lat 59.1..60.3N).
    # The oracle query re-derives the 4326->32632 FORWARD Krueger series in
    # SQL (functions/crs.py tm_forward_sql_columns).
    utm_res = 1024.0
    utm_rows = []
    for wby in range(2):
        for wbx in range(2):
            cc, rr = np.meshgrid(np.arange(64), np.arange(64))
            gi = wbx * 64 + cc
            gj = wby * 64 + rr
            v = ((13 * gi + 7 * gj) % 97).astype(np.float64)
            utm_rows.append(
                {
                    "container_uri": "warp://src-utm",
                    "band": 1,
                    "level": 0,
                    "block_x": wbx,
                    "block_y": wby,
                    "px": v.ravel().tolist(),
                    "crs_srid": 32632,
                    "pix_to_crs": {
                        "a": utm_res, "b": 0.0, "c": 434176.0,
                        "d": 0.0, "e": -utm_res, "f": 6684672.0,
                    },
                    "record_id": _uuid("warp-utm-record", 0),
                    "record_datetime": t0,
                }
            )

    # ---- warp_src_ps: source tiles for the POLAR cross-CRS warp oracle.
    # Same closed-form v(i,j) = (13i + 7j) mod 97, grid in EPSG:3031
    # (Antarctic Polar Stereographic): res 2048 m, origin E=-131072 /
    # N=2228224 (binary-exact), 128x128 px straddling the lon-0 meridian
    # at lat ~ -69.7..-72.3.  The oracle re-derives the 4326->3031 Snyder
    # forward in SQL (functions/crs.py ps_forward_sql_columns).
    ps_res = 2048.0
    ps_rows = []
    for wby in range(2):
        for wbx in range(2):
            cc, rr = np.meshgrid(np.arange(64), np.arange(64))
            gi = wbx * 64 + cc
            gj = wby * 64 + rr
            v = ((13 * gi + 7 * gj) % 97).astype(np.float64)
            ps_rows.append(
                {
                    "container_uri": "warp://src-ps",
                    "band": 1,
                    "level": 0,
                    "block_x": wbx,
                    "block_y": wby,
                    "px": v.ravel().tolist(),
                    "crs_srid": 3031,
                    "pix_to_crs": {
                        "a": ps_res, "b": 0.0, "c": -131072.0,
                        "d": 0.0, "e": -ps_res, "f": 2228224.0,
                    },
                    "record_id": _uuid("warp-ps-record", 0),
                    "record_datetime": t0,
                }
            )

    # ---- warp_src_lcc: source tiles for the LAMBERT CONFORMAL CONIC
    # cross-CRS warp oracle.  Same closed-form v(i,j) = (13i + 7j) mod 97,
    # grid in EPSG:2154 (RGF93 / Lambert-93): res 1024 m, origin
    # E=634880 / N=6665216 (multiples of 1024 keep index floors exact),
    # 128x128 px centered near the projection origin (3°E, 46.5°N).  The
    # oracle re-derives the 4326->2154 Snyder LCC forward in SQL
    # (functions/crs.py lcc_forward_sql_columns).
    lcc_res = 1024.0
    lcc_rows = []
    for wby in range(2):
        for wbx in range(2):
            cc, rr = np.meshgrid(np.arange(64), np.arange(64))
            gi = wbx * 64 + cc
            gj = wby * 64 + rr
            v = ((13 * gi + 7 * gj) % 97).astype(np.float64)
            lcc_rows.append(
                {
                    "container_uri": "warp://src-lcc",
                    "band": 1,
                    "level": 0,
                    "block_x": wbx,
                    "block_y": wby,
                    "px": v.ravel().tolist(),
                    "crs_srid": 2154,
                    "pix_to_crs": {
                        "a": lcc_res, "b": 0.0, "c": 634880.0,
                        "d": 0.0, "e": -lcc_res, "f": 6665216.0,
                    },
                    "record_id": _uuid("warp-lcc-record", 0),
                    "record_datetime": t0,
                }
            )

    # ---- warp_src_aea: source tiles for the ALBERS EQUAL-AREA cross-CRS
    # warp oracle.  Same closed-form v(i,j) = (13i + 7j) mod 97, grid in
    # EPSG:5070 (NAD83 / Conus Albers): res 1024 m, origin E=-65536 /
    # N=1671168 (multiples of 1024), 128x128 px centered near the CONUS
    # projection center (96°W, ~37.5°N).  Oracle re-derives the 4326->5070
    # Snyder forward in SQL (functions/crs.py aea_forward_sql_columns).
    aea_res = 1024.0
    aea_rows = []
    for wby in range(2):
        for wbx in range(2):
            cc, rr = np.meshgrid(np.arange(64), np.arange(64))
            gi = wbx * 64 + cc
            gj = wby * 64 + rr
            v = ((13 * gi + 7 * gj) % 97).astype(np.float64)
            aea_rows.append(
                {
                    "container_uri": "warp://src-aea",
                    "band": 1,
                    "level": 0,
                    "block_x": wbx,
                    "block_y": wby,
                    "px": v.ravel().tolist(),
                    "crs_srid": 5070,
                    "pix_to_crs": {
                        "a": aea_res, "b": 0.0, "c": -65536.0,
                        "d": 0.0, "e": -aea_res, "f": 1671168.0,
                    },
                    "record_id": _uuid("warp-aea-record", 0),
                    "record_datetime": t0,
                }
            )

    # ---- warp_src_laea: source tiles for the LAMBERT AZIMUTHAL EQUAL-AREA
    # cross-CRS warp oracle.  Same closed-form v(i,j) = (13i + 7j) mod 97,
    # grid in EPSG:3035 (ETRS89-extended / LAEA Europe): res 1024 m, origin
    # E=4255744 / N=3276800 (multiples of 1024 keep index floors exact),
    # 128x128 px centered near the projection origin (10°E, 52°N).  The
    # oracle re-derives the 4326->3035 Snyder LAEA forward in SQL
    # (functions/crs.py laea_forward_sql_columns).
    laea_res = 1024.0
    laea_rows = []
    for wby in range(2):
        for wbx in range(2):
            cc, rr = np.meshgrid(np.arange(64), np.arange(64))
            gi = wbx * 64 + cc
            gj = wby * 64 + rr
            v = ((13 * gi + 7 * gj) % 97).astype(np.float64)
            laea_rows.append(
                {
                    "container_uri": "warp://src-laea",
                    "band": 1,
                    "level": 0,
                    "block_x": wbx,
                    "block_y": wby,
                    "px": v.ravel().tolist(),
                    "crs_srid": 3035,
                    "pix_to_crs": {
                        "a": laea_res, "b": 0.0, "c": 4255744.0,
                        "d": 0.0, "e": -laea_res, "f": 3276800.0,
                    },
                    "record_id": _uuid("warp-laea-record", 0),
                    "record_datetime": t0,
                }
            )

    # ---- warp_src_sinu: source tiles for the SINUSOIDAL (MODIS grid,
    # SR-ORG:6974) cross-CRS warp oracle.  Same closed-form v(i,j) =
    # (13i + 7j) mod 97, grid in the MODIS sinusoidal projection
    # (R = 6371007.181 m): res 1024 m, origin E=732160 / N=4971520
    # (multiples of 1024), 128x128 px centered near (10E, 44N).  Oracle
    # re-derives the 4326->sinusoidal forward in SQL
    # (functions/crs.py sinu_forward_sql_columns).
    sinu_res = 1024.0
    sinu_rows = []
    for wby in range(2):
        for wbx in range(2):
            cc, rr = np.meshgrid(np.arange(64), np.arange(64))
            gi = wbx * 64 + cc
            gj = wby * 64 + rr
            v = ((13 * gi + 7 * gj) % 97).astype(np.float64)
            sinu_rows.append(
                {
                    "container_uri": "warp://src-sinu",
                    "band": 1,
                    "level": 0,
                    "block_x": wbx,
                    "block_y": wby,
                    "px": v.ravel().tolist(),
                    "crs_srid": 6974,
                    "pix_to_crs": {
                        "a": sinu_res, "b": 0.0, "c": 732160.0,
                        "d": 0.0, "e": -sinu_res, "f": 4971520.0,
                    },
                    "record_id": _uuid("warp-sinu-record", 0),
                    "record_datetime": t0,
                }
            )

    # ---- warp_src_bng: source tiles for the BRITISH NATIONAL GRID
    # (EPSG:27700, OSGB36/Airy 1830 + Helmert datum shift) cross-CRS warp
    # oracle.  Same closed-form v(i,j) = (13i + 7j) mod 97, grid in 27700:
    # res 1024 m, origin E=440320 / N=144384 (multiples of 1024), 128x128
    # px over southern England.  Oracle re-derives the full WGS84 -> ECEF
    # -> inverse-Helmert -> Bowring -> Krüger chain in SQL
    # (functions/crs.py tmgrid_from_wgs84_sql_ctes).
    bng_res = 1024.0
    bng_rows = []
    for wby in range(2):
        for wbx in range(2):
            cc, rr = np.meshgrid(np.arange(64), np.arange(64))
            gi = wbx * 64 + cc
            gj = wby * 64 + rr
            v = ((13 * gi + 7 * gj) % 97).astype(np.float64)
            bng_rows.append(
                {
                    "container_uri": "warp://src-bng",
                    "band": 1,
                    "level": 0,
                    "block_x": wbx,
                    "block_y": wby,
                    "px": v.ravel().tolist(),
                    "crs_srid": 27700,
                    "pix_to_crs": {
                        "a": bng_res, "b": 0.0, "c": 440320.0,
                        "d": 0.0, "e": -bng_res, "f": 144384.0,
                    },
                    "record_id": _uuid("warp-bng-record", 0),
                    "record_datetime": t0,
                }
            )

    # ---- rotated_footprints: NON-rectilinear dataset footprints for the
    # general polygon-union oracle (A1/A2 beyond the rectilinear domain).
    # Every union-area correction is CLOSED-FORM from the construction —
    # the Spark kernel (functions/polyunion.poly_union) never sees these
    # numbers, only the raw vertices:
    #   * job-r0: a chain of 5 diamonds (squares rotated 45°), r=2,
    #     centers (3i, 0): consecutive pairs overlap in a diamond of area
    #     (2r-d)^2/2 = 0.5 (d=3), non-consecutive pairs are disjoint
    #     (distance 6 >= 2r=4); plus two disjoint arbitrary-angle quads.
    #     Union = Σ shoelace - 4 × 0.5, components = 1 chain + 2 quads.
    #   * job-r1: an annulus built from 4 rects (outer=10, inner=6,
    #     thickness t=2) rotated 30° about its center: adjacent rects
    #     overlap in a t×t corner square (area 4, rotation-invariant), no
    #     triple overlaps.  Union = Σ shoelace - 4 × 4 = outer² - inner²
    #     = 64, one polygon with one hole.
    def _rot(pts, th, cx, cy):
        c, s = float(np.cos(th)), float(np.sin(th))
        return [
            (cx + c * (x - cx) - s * (y - cy), cy + s * (x - cx) + c * (y - cy))
            for x, y in pts
        ]

    def _quad_row(job, rec, kind, pts, cx=None, cy=None, r=None):
        (x1, y1), (x2, y2), (x3, y3), (x4, y4) = pts
        return {
            "job_id": job, "record_id": rec, "kind": kind,
            "cx": cx, "cy": cy, "r": r,
            "x1": x1, "y1": y1, "x2": x2, "y2": y2,
            "x3": x3, "y3": y3, "x4": x4, "y4": y4,
        }

    rot_rows = []
    overlap_rows = []
    DIAMOND_R, DIAMOND_D = 2.0, 3.0
    for i in range(5):
        cx = DIAMOND_D * i
        rot_rows.append(
            _quad_row(
                "job-r0", "rec-rot-0", "diamond",
                [(cx - DIAMOND_R, 0.0), (cx, -DIAMOND_R),
                 (cx + DIAMOND_R, 0.0), (cx, DIAMOND_R)],
                cx=cx, cy=0.0, r=DIAMOND_R,
            )
        )
        if i:
            overlap_rows.append(
                {"job_id": "job-r0",
                 "pair_area": (2 * DIAMOND_R - DIAMOND_D) ** 2 / 2.0}
            )
    rot_rows.append(
        _quad_row("job-r0", "rec-rot-0", "quad",
                  _rot([(20, 5), (24, 5), (24, 7), (20, 7)], 0.5, 22, 6))
    )
    rot_rows.append(
        _quad_row("job-r0", "rec-rot-0", "quad",
                  _rot([(30, -5), (33, -5), (33, -1), (30, -1)], 1.1, 31.5, -3))
    )
    ANN_OUT, ANN_T = 10.0, 2.0
    ann_rects = [
        [(0, 0), (ANN_OUT, 0), (ANN_OUT, ANN_T), (0, ANN_T)],
        [(0, ANN_OUT - ANN_T), (ANN_OUT, ANN_OUT - ANN_T),
         (ANN_OUT, ANN_OUT), (0, ANN_OUT)],
        [(0, 0), (ANN_T, 0), (ANN_T, ANN_OUT), (0, ANN_OUT)],
        [(ANN_OUT - ANN_T, 0), (ANN_OUT, 0),
         (ANN_OUT, ANN_OUT), (ANN_OUT - ANN_T, ANN_OUT)],
    ]
    for rect in ann_rects:
        shifted = [(x + 40.0, y) for x, y in rect]
        rot_rows.append(
            _quad_row("job-r1", "rec-rot-1", "annulus_rect",
                      _rot(shifted, np.pi / 6, 45.0, 5.0))
        )
    for _ in range(4):
        overlap_rows.append({"job_id": "job-r1", "pair_area": ANN_T * ANN_T})

    tables = {
        "rotated_footprints": rot_rows,
        "rotated_overlap_pairs": overlap_rows,
        "aoi": aoi_rows,
        "concave_aoi": conc_rows,
        "warp_src": warp_rows,
        "warp_src_utm": utm_rows,
        "warp_src_ps": ps_rows,
        "warp_src_lcc": lcc_rows,
        "warp_src_aea": aea_rows,
        "warp_src_laea": laea_rows,
        "warp_src_sinu": sinu_rows,
        "warp_src_bng": bng_rows,
        "records": record_rows,
        "variables": variable_rows,
        "instances": instance_rows,
        "containers": container_rows,
        "datasets": dataset_rows,
        "tiles": tile_rows,
        "cells": cell_rows,
        "layouts": layout_rows,
        "container_layouts": container_layout_rows,
        "consolidation_params": consolidation_params_rows,
        "jobs": job_rows,
        "tasks": task_rows,
        "locked_datasets": locked_rows,
    }
    # explicit arrow schemas where pylist inference is wrong (maps -> structs)
    str_map = pa.map_(pa.string(), pa.string())
    explicit = {
        "records": pa.schema(
            [
                ("id", pa.string()),
                ("name", pa.string()),
                ("datetime", pa.timestamp("us")),
                ("tags", str_map),
                ("aoi_id", pa.string()),
            ]
        ),
        "instances": pa.schema(
            [
                ("id", pa.string()),
                ("name", pa.string()),
                ("metadata", str_map),
                ("variable_id", pa.string()),
            ]
        ),
        "consolidation_params": pa.schema(
            [
                ("variable_id", pa.string()),
                (
                    "dformat",
                    pa.struct(
                        [
                            ("dtype", pa.string()),
                            ("no_data", pa.float64()),
                            ("min_value", pa.float64()),
                            ("max_value", pa.float64()),
                        ]
                    ),
                ),
                ("exponent", pa.float64()),
                ("compression", pa.string()),
                ("resampling_alg", pa.string()),
                ("storage_class", pa.string()),
                ("creation_params", str_map),
            ]
        ),
        "layouts": pa.schema(
            [
                ("name", pa.string()),
                ("grid_flags", pa.list_(pa.string())),
                ("grid_parameters", str_map),
                ("block_x_size", pa.int32()),
                ("block_y_size", pa.int32()),
                ("max_records", pa.int32()),
                ("overviews_min_size", pa.int32()),
                ("interlacing_pattern", pa.string()),
            ]
        ),
    }
    for name, rows in tables.items():
        if name in explicit:
            rows = [
                {**r, **{k: list(r[k].items()) for k in r if isinstance(r[k], dict)}}
                for r in rows
            ]
            table = pa.Table.from_pylist(rows, schema=explicit[name])
        else:
            table = pa.Table.from_pylist(rows)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


if __name__ == "__main__":
    print(generate())
