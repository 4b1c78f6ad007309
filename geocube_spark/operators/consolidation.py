"""Consolidation (R9) — the reference's big batch rewrite, as one Spark job.

Reference: §3.2 of SURVEY.md — internal/svc/consolidater.go (planning),
internal/image/handler_consolidation.go (execution), job state machine
job.go:28-57.  The 15-state machine collapses to: a planning query, a
partitioned write with an interlacing sort order, and an atomic swap.

Pieces:
- plan_consolidation: steps 1-4 (records of job -> cells -> per-cell dataset
  lists, W2 sort, L4/L5 set ops, R13/L4 work-skipping)
- interlacing_sort_columns: MuCOG pattern grammar -> sortWithinPartitions
  spec (R7/O12): the physical layout IS the optimization
- consolidate_tiles: the rewrite job — repartition by cell, sorted write
- swap_datasets: the ACTIVE↔TODELETE swap as an idempotent overwrite
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geocube_spark.operators.cover import RegularGridSpec, cover_regular_df

# MuCOG interlacing pattern grammar (layouts.proto:41-66): priorities among
# the four levels — [Z]oom/overview, [T]iles (geotiff blocks), [R]ecords,
# [B]ands.  Each level maps to the physical sort columns that realize its
# ordering in the consolidated-parquet layout (records chronologically,
# tiles row-major).
_PATTERN_COLS = {
    "Z": ["level"],
    "T": ["block_y", "block_x"],
    "R": ["record_datetime", "record_id"],
    "B": ["band"],
}


def interlacing_sort_columns(pattern: str) -> list[str]:
    """Translate a SINGLE-CLAUSE interlacing pattern like ``Z>T>R>B`` into
    the ordered sort-column list for sortWithinPartitions.  Selectors are
    validated but ignored here (a lone clause with a selector still orders
    every row it is asked to write); multi-clause patterns need
    :func:`interlacing_sort_exprs`, which computes per-clause sort keys.
    """
    from geocube_spark.operators.interlace import parse_interlacing

    clauses = parse_interlacing(pattern)
    cols: list[str] = []
    for lvl in clauses[0].order:
        for col in _PATTERN_COLS[lvl]:
            if col not in cols:
                cols.append(col)
    return cols


def interlacing_sort_exprs(
    df: DataFrame, pattern: str, rank_source: DataFrame | None = None
):
    """FULL-grammar sort keys for the consolidated-parquet sink: returns
    ``(df_with_keys, sort_column_names)`` realizing conditional per-level
    clauses and value/range selectors (``Z=0>T>R>B;Z=1:>R>T>B``).

    A row's primary key is the index of the FIRST clause whose selectors
    accept it (rows no clause selects sort last under the fallback
    Z>T>R>B, mirroring :func:`operators.interlace.interlace_order`);
    within a clause, four fixed-width string keys realize that clause's
    own level priority.  R/B selectors index the sorted distinct
    record/band sets — the ranks come from two dim-sized broadcast joins,
    computed only when a selector actually needs them (the 100 TB fact
    table is never globally windowed).

    ``rank_source`` pins the frame the R/B ranks are computed over: under
    per-cell batching (consolidate_tiles_cancellable) each batch must
    rank selector indices against the CONTAINER-GLOBAL chronological
    record/band sets, not the batch's subset — pass the full frame there;
    defaults to ``df`` itself for single-shot writes."""
    from geocube_spark.operators.interlace import (
        LEVELS,
        parse_interlacing,
    )

    clauses = parse_interlacing(pattern)
    need_r_idx = any(
        c.selectors["R"].values is not None
        or c.selectors["R"].lo is not None
        or c.selectors["R"].hi is not None
        for c in clauses
    )
    need_b_idx = any(
        c.selectors["B"].values is not None
        or c.selectors["B"].lo is not None
        or c.selectors["B"].hi is not None
        for c in clauses
    )
    ranks_over = df if rank_source is None else rank_source
    out = df
    if need_r_idx:
        rdim = (
            ranks_over.select("record_datetime", "record_id")
            .distinct()
            .withColumn(
                "_il_ridx",
                F.row_number().over(
                    Window.orderBy("record_datetime", "record_id")
                )
                - 1,
            )
        )
        out = out.join(F.broadcast(rdim), ["record_datetime", "record_id"])
    if need_b_idx:
        bdim = (
            ranks_over.select("band")
            .distinct()
            .withColumn(
                "_il_bidx", F.row_number().over(Window.orderBy("band")) - 1
            )
        )
        out = out.join(F.broadcast(bdim), ["band"])

    idx_col = {
        "Z": F.col("level").cast("long"),
        "R": F.col("_il_ridx").cast("long") if need_r_idx else F.lit(0),
        "B": F.col("_il_bidx").cast("long") if need_b_idx else F.lit(0),
    }
    key_str = {
        "Z": F.lpad(F.col("level").cast("string"), 6, "0"),
        "B": F.lpad(F.col("band").cast("string"), 6, "0"),
        "T": F.concat(
            F.lpad(F.col("block_y").cast("string"), 10, "0"),
            F.lpad(F.col("block_x").cast("string"), 10, "0"),
        ),
        "R": F.concat(
            F.lpad(
                F.unix_micros(F.col("record_datetime").cast("timestamp"))
                .cast("string"),
                20,
                "0",
            ),
            F.col("record_id").cast("string"),
        ),
    }

    def clause_pred(c):
        pred = F.lit(True)
        for lvl in LEVELS:
            sel = c.selectors[lvl]
            if sel.values is not None:
                pred = pred & idx_col[lvl].isin([int(v) for v in sel.values])
            else:
                if sel.lo is not None:
                    pred = pred & (idx_col[lvl] >= int(sel.lo))
                if sel.hi is not None:
                    pred = pred & (idx_col[lvl] < int(sel.hi))
        return pred

    clause_idx = F.lit(len(clauses))
    for i in range(len(clauses) - 1, -1, -1):
        clause_idx = F.when(clause_pred(clauses[i]), F.lit(i)).otherwise(
            clause_idx
        )
    out = out.withColumn("_il_clause", clause_idx)
    fallback_order = ("Z", "T", "R", "B")
    for pos in range(4):
        expr = key_str[fallback_order[pos]]
        for i in range(len(clauses) - 1, -1, -1):
            expr = F.when(
                F.col("_il_clause") == i, key_str[clauses[i].order[pos]]
            ).otherwise(expr)
        out = out.withColumn(f"_il_k{pos}", expr)
    return out, ["_il_clause", "_il_k0", "_il_k1", "_il_k2", "_il_k3"]


def plan_consolidation(
    datasets: DataFrame,
    records: DataFrame,
    job_id: str,
    grid: RegularGridSpec,
    max_records: int = 1024,
) -> DataFrame:
    """Planning query (§3.2 steps 1-4): locked datasets -> covering cells ->
    per-(cell, container-chunk) task rows.

    Output: one row per consolidation task with its dataset list, mirroring
    ConsolidationEvent (consolidation_event.go) — but as a DataFrame the
    execution job joins back on, not a message queue.
    """
    locked = datasets.filter(F.col("locked_by_job_id") == job_id)  # F11
    with_rec = locked.join(
        F.broadcast(
            records.select(
                F.col("id").alias("record_id"),
                F.col("datetime").alias("record_datetime"),
            )
        ),
        "record_id",
    )
    # union-geometry extent of the job (A1, reduced to bbox for planning):
    # a 1-row lazy aggregate fed straight into the cell explode — the whole
    # planning query stays ONE plan with no driver round-trip (the
    # reference's GetDatasetsGeometryUnion DB call, consolidater.go:216-221,
    # is this 1-row reduction)
    ext_df = with_rec.agg(
        F.lit(0).alias("rect_id"),
        F.min("bbox.xmin").alias("xmin"),
        F.min("bbox.ymin").alias("ymin"),
        F.max("bbox.xmax").alias("xmax"),
        F.max("bbox.ymax").alias("ymax"),
    )
    cells = cover_regular_df(ext_df, grid)
    # per-cell dataset lists: bbox-intersect join (map-side via broadcast of
    # the cell list when small; both sides pre-pruned by bbox)
    joined = with_rec.join(
        F.broadcast(cells),
        (F.col("bbox.xmin") <= F.col("cell_xmax"))
        & (F.col("bbox.xmax") >= F.col("cell_xmin"))
        & (F.col("bbox.ymin") <= F.col("cell_ymax"))
        & (F.col("bbox.ymax") >= F.col("cell_ymin")),
    )
    # W2 in-group order + L5 dedup + max_records chunking (consolidater.go:371-388)
    per_cell = (
        joined.dropDuplicates(["cell_uri", "id"])
        .groupBy("cell_uri")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("record_datetime").alias("t"),
                        F.col("record_id").alias("rid"),
                        F.col("id").alias("dataset_id"),
                        F.col("container_uri"),
                    )
                )
            ).alias("members")
        )
    )
    chunked = per_cell.select(
        "cell_uri",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.floor((F.size("members") - 1) / F.lit(max_records)).cast("int"),
                ),
                lambda i: F.slice("members", i * max_records + 1, max_records),
            )
        ).alias("chunk_idx", "datasets"),
    )
    return chunked.select(
        F.concat_ws("/", F.lit("consolidated"), "cell_uri", F.col("chunk_idx").cast("string")).alias(
            "out_container_uri"
        ),
        "cell_uri",
        "chunk_idx",
        "datasets",
        F.size("datasets").alias("n_datasets"),
    )


def union_footprints(
    datasets: DataFrame,
    group_cols: list[str],
    bbox_col: str = "bbox",
) -> DataFrame:
    """A1 (pg_containers.go:385-430 ST_Union): TRUE union of the grouped
    dataset footprints — real multipolygon WKB (rings with holes), exact
    area, polygon/hole counts, plus the envelope for coarse filters.

    Footprints are tile-grid rects, so the union is computed exactly on
    the rectilinear domain (``functions/polyunion.py``: breakpoint grid +
    boundary tracing).  One ``applyInPandas`` task per group; group size
    is bounded by the job's locked-dataset count, and the reduction is
    associative so map-side partial unions can pre-reduce if a single job
    ever locks an unbounded set.  The round-1/2 envelope approximation
    over-covered sparse jobs ~45x on the fixtures; consolidation AOIs now
    match the reference's ST_Union semantics."""
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from geocube_spark.functions.polyunion import rect_union, union_wkb

    in_schema = datasets.select(
        *group_cols,
        F.col(f"{bbox_col}.xmin").alias("_x0"),
        F.col(f"{bbox_col}.ymin").alias("_y0"),
        F.col(f"{bbox_col}.xmax").alias("_x1"),
        F.col(f"{bbox_col}.ymax").alias("_y1"),
    )
    group_fields = [in_schema.schema[c] for c in group_cols]
    out_schema = StructType(
        group_fields
        + [
            StructField("n_datasets", LongType(), False),
            StructField("xmin", DoubleType(), False),
            StructField("ymin", DoubleType(), False),
            StructField("xmax", DoubleType(), False),
            StructField("ymax", DoubleType(), False),
            StructField("union_area", DoubleType(), False),
            StructField("n_polygons", LongType(), False),
            StructField("n_holes", LongType(), False),
            StructField("union_wkb", BinaryType(), False),
        ]
    )

    def agg(key, pdf: pd.DataFrame) -> pd.DataFrame:
        rects = list(zip(pdf["_x0"], pdf["_y0"], pdf["_x1"], pdf["_y1"]))
        polys, area = rect_union(rects)
        row = dict(zip(group_cols, key))
        row.update(
            n_datasets=len(pdf),
            xmin=float(pdf["_x0"].min()),
            ymin=float(pdf["_y0"].min()),
            xmax=float(pdf["_x1"].max()),
            ymax=float(pdf["_y1"].max()),
            union_area=area,
            n_polygons=len(polys),
            n_holes=sum(len(h) for _, h in polys),
            union_wkb=union_wkb(polys),
        )
        return pd.DataFrame([row], columns=[f.name for f in out_schema.fields])

    return in_schema.groupBy(*group_cols).applyInPandas(agg, out_schema)


def union_polygon_footprints(
    quads: DataFrame,
    group_cols: list[str],
    vertex_cols: tuple[str, ...] = ("x1", "y1", "x2", "y2", "x3", "y3", "x4", "y4"),
) -> DataFrame:
    """A1 over the GENERAL polygon domain (pg_containers.go:385-430
    ST_Union for arbitrary footprints): union of rotated/skewed quads per
    group via the vertical-slab kernel (``functions/polyunion.poly_union``)
    — exact area, true multipolygon WKB with holes, component/hole counts.

    Same execution shape as the rectilinear ``union_footprints``: one
    bounded ``applyInPandas`` task per group (a job's locked-dataset
    count), associative so map-side partial unions can pre-reduce."""
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from geocube_spark.functions.polyunion import poly_union, union_wkb

    sel = quads.select(*group_cols, *vertex_cols)
    group_fields = [sel.schema[c] for c in group_cols]
    out_schema = StructType(
        group_fields
        + [
            StructField("n_datasets", LongType(), False),
            StructField("union_area", DoubleType(), False),
            StructField("n_polygons", LongType(), False),
            StructField("n_holes", LongType(), False),
            StructField("union_wkb", BinaryType(), False),
        ]
    )
    vc = vertex_cols

    def agg(key, pdf: pd.DataFrame) -> pd.DataFrame:
        cols = [pdf[c].to_numpy() for c in vc]
        polys = [
            [(cols[0][i], cols[1][i]), (cols[2][i], cols[3][i]),
             (cols[4][i], cols[5][i]), (cols[6][i], cols[7][i])]
            for i in range(len(pdf))
        ]
        pieces, area = poly_union(polys)
        row = dict(zip(group_cols, key))
        row.update(
            n_datasets=len(pdf),
            union_area=area,
            n_polygons=len(pieces),
            n_holes=sum(len(h) for _, h in pieces),
            union_wkb=union_wkb(pieces),
        )
        return pd.DataFrame([row], columns=[f.name for f in out_schema.fields])

    return sel.groupBy(*group_cols).applyInPandas(agg, out_schema)


def valid_shape_per_cell_general(
    quads_with_cells: DataFrame,
    cell_bounds_cols: tuple[str, str, str, str] = (
        "cell_xmin",
        "cell_ymin",
        "cell_xmax",
        "cell_ymax",
    ),
    vertex_cols: tuple[str, ...] = ("x1", "y1", "x2", "y2", "x3", "y3", "x4", "y4"),
) -> DataFrame:
    """A2 over the general polygon domain: per (cell, record), clip each
    footprint quad to the cell rect (Sutherland–Hodgman — the cell ring is
    convex) then union the clipped pieces exactly.  Zero-area results are
    dropped like the reference's dimension filter (pg_grids.go:126)."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from geocube_spark.functions.polyunion import clip_poly_rect, poly_union

    cx0, cy0, cx1, cy1 = cell_bounds_cols
    sel = quads_with_cells.select(
        "cell_uri", "record_id", *vertex_cols,
        F.col(cx0).alias("_cx0"), F.col(cy0).alias("_cy0"),
        F.col(cx1).alias("_cx1"), F.col(cy1).alias("_cy1"),
    )
    key_fields = [sel.schema["cell_uri"], sel.schema["record_id"]]
    out_schema = StructType(
        key_fields
        + [
            StructField("n_datasets", LongType(), False),
            StructField("v_area", DoubleType(), False),
            StructField("n_polygons", LongType(), False),
        ]
    )
    vc = vertex_cols

    def agg(key, pdf: pd.DataFrame) -> pd.DataFrame:
        cols = [pdf[c].to_numpy() for c in vc]
        bounds = [pdf[c].to_numpy() for c in ("_cx0", "_cy0", "_cx1", "_cy1")]
        clipped = []
        for i in range(len(pdf)):
            poly = [
                (cols[0][i], cols[1][i]), (cols[2][i], cols[3][i]),
                (cols[4][i], cols[5][i]), (cols[6][i], cols[7][i]),
            ]
            c = clip_poly_rect(
                poly, bounds[0][i], bounds[1][i], bounds[2][i], bounds[3][i]
            )
            if len(c) >= 3:
                clipped.append(c)
        pieces, area = poly_union(clipped)
        if area <= 0.0:
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        row = {
            "cell_uri": key[0],
            "record_id": key[1],
            "n_datasets": len(pdf),
            "v_area": area,
            "n_polygons": len(pieces),
        }
        return pd.DataFrame([row], columns=[f.name for f in out_schema.fields])

    return sel.groupBy("cell_uri", "record_id").applyInPandas(agg, out_schema)


def valid_shape_per_cell(
    datasets_with_cells: DataFrame,
    cell_bounds_cols: tuple[str, str, str, str] = (
        "cell_xmin",
        "cell_ymin",
        "cell_xmax",
        "cell_ymax",
    ),
) -> DataFrame:
    """A2 (pg_containers.go:409-430): per (cell, record), the intersection
    of the union of dataset shapes with the cell ring — envelope clamp for
    coarse filters PLUS the EXACT union area of the cell-clipped
    footprints (``v_area``, via the rectilinear union kernel), matching
    the reference's ST_Union ∩ cell semantics instead of the round-1/2
    envelope approximation.  Empty intersections (zero area) are dropped
    like the reference's dimension filter (pg_grids.go:126).

    One small ``applyInPandas`` task per (cell, record) group — group size
    is the record's dataset count within one cell, bounded by
    construction."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from geocube_spark.functions.polyunion import rect_union

    cx0, cy0, cx1, cy1 = cell_bounds_cols
    clipped = datasets_with_cells.select(
        "cell_uri",
        "record_id",
        F.greatest(F.col("bbox.xmin"), F.col(cx0)).alias("_x0"),
        F.greatest(F.col("bbox.ymin"), F.col(cy0)).alias("_y0"),
        F.least(F.col("bbox.xmax"), F.col(cx1)).alias("_x1"),
        F.least(F.col("bbox.ymax"), F.col(cy1)).alias("_y1"),
    ).filter((F.col("_x0") < F.col("_x1")) & (F.col("_y0") < F.col("_y1")))
    key_fields = [clipped.schema["cell_uri"], clipped.schema["record_id"]]
    out_schema = StructType(
        key_fields
        + [
            StructField("n_datasets", LongType(), False),
            StructField("v_xmin", DoubleType(), False),
            StructField("v_ymin", DoubleType(), False),
            StructField("v_xmax", DoubleType(), False),
            StructField("v_ymax", DoubleType(), False),
            StructField("v_area", DoubleType(), False),
        ]
    )

    def agg(key, pdf: pd.DataFrame) -> pd.DataFrame:
        rects = list(zip(pdf["_x0"], pdf["_y0"], pdf["_x1"], pdf["_y1"]))
        _, area = rect_union(rects)
        row = {
            "cell_uri": key[0],
            "record_id": key[1],
            "n_datasets": len(pdf),
            "v_xmin": float(pdf["_x0"].min()),
            "v_ymin": float(pdf["_y0"].min()),
            "v_xmax": float(pdf["_x1"].max()),
            "v_ymax": float(pdf["_y1"].max()),
            "v_area": area,
        }
        return pd.DataFrame([row], columns=[f.name for f in out_schema.fields])

    return clipped.groupBy("cell_uri", "record_id").applyInPandas(agg, out_schema)


def cog_reuse_short_circuit(
    datasets: DataFrame,
    layout_block: int,
    layout_dtype: str,
    layout_overviews: bool,
) -> DataFrame:
    """R13 (handler_consolidation.go:400-484): a single-source container that
    already matches the target structure (block size, dtype, overviews flag)
    skips consolidation.  Returns datasets annotated with ``reuse`` —
    planning then filters reuse==false into the work queue."""
    per_container = datasets.groupBy("container_uri").agg(
        F.count(F.lit(1)).alias("n_in_container")
    )
    annotated = datasets.join(F.broadcast(per_container), "container_uri")
    reuse = (
        (F.col("n_in_container") == 1)
        & (F.col("dmapping.dtype") == layout_dtype)
        & (F.col("overviews") == F.lit(layout_overviews))
    )
    _ = layout_block  # block-size parity is a tile-table invariant here
    return annotated.withColumn("reuse", reuse)


def reconsolidation_plan(
    datasets: DataFrame,
    container_uri: str,
    container_dmapping: dict,
    container_bands_count: int,
    uri_col: str = "container_uri",
) -> DataFrame:
    """csldPrepareOrdersNeedReconsolidation (consolidater.go:491-519) as a
    DataFrame plan: per dataset, decide whether it needs (re)consolidation
    against the target container family.

    - a dataset whose URI is NOT under ``container_uri`` (InGroupOfContainers,
      consolidation_event.go:223-225) always consolidates;
    - an already-consolidated dataset reconsolidates iff its DataMapping
      differs from the container's or it references a band beyond
      ``container_bands_count`` (NeedsReconsolidation,
      consolidation_event.go:229-242) — the decision is taken PER CONTAINER
      (any triggering dataset drags its whole container along, the
      memoized-by-URI semantics of the reference loop);
    - untouched consolidated containers are flagged ``reusable`` so their
      datasets can be appended to the order without rework
      (csldPrepareOrdersNeedConsolidation, consolidater.go:460-489).

    Returns datasets + (in_group, consolidation, reusable).  One partitioned
    window over the per-URI rows — dataset-per-container fan-in, never a
    global sort; at 10^9 datasets this is a groupBy(uri)-sized shuffle.

    Ported reference table: tests/test_consolidation_e2e.py::
    TestReconsolidationNeed (consolidater_test.go:71-139).
    """
    dm = container_dmapping
    nd = float(dm["no_data"])
    if math.isnan(nd):
        nd_eq = F.isnan(F.col("dmapping.no_data"))
    else:
        nd_eq = F.col("dmapping.no_data") == nd
    same_mapping = (
        (F.col("dmapping.dtype") == dm["dtype"])
        & nd_eq
        & (F.col("dmapping.min_value") == float(dm["min_value"]))
        & (F.col("dmapping.max_value") == float(dm["max_value"]))
        & (F.col("dmapping.real_min_value") == float(dm["real_min_value"]))
        & (F.col("dmapping.real_max_value") == float(dm["real_max_value"]))
        & (F.col("dmapping.exponent") == float(dm["exponent"]))
    )
    band_overflow = F.array_max(F.col("bands")) > int(container_bands_count)
    in_group = F.col(uri_col).startswith(container_uri)
    needs = in_group & (~same_mapping | band_overflow)
    w = Window.partitionBy(uri_col)
    container_needs = F.max(needs.cast("int")).over(w) == 1
    consolidation = F.when(~in_group, F.lit(True)).otherwise(container_needs)
    return (
        datasets.withColumn("in_group", in_group)
        .withColumn("consolidation", consolidation)
        .withColumn("reusable", in_group & ~consolidation)
    )


def consolidate_tiles(
    tiles_with_time: DataFrame,
    interlacing_pattern: str,
    out_path: str,
    cell_col: str = "cell_uri",
    spatial_cluster: bool = False,
    mode: str = "overwrite",
    rank_source: DataFrame | None = None,
) -> None:
    """The rewrite job (O12/R7): partition by cell, physically order rows by
    the interlacing pattern, write.  At 100 TB this is the operation that
    turns scattered small files into time-contiguous reads (the MuCOG 10-20×
    read win, docs/architecture/mucog.md:15).

    ``spatial_cluster=True`` swaps the pattern's row-major block ordering
    for the Morton key of (block_x, block_y)
    (functions/spatialkeys.zorder_expr): within each interlacing group,
    2D-adjacent blocks land in adjacent rows, so a bbox read touches
    contiguous row-group ranges (aligned 2^k quadrants are single key
    ranges) and parquet min/max stats on the stored ``z_order`` column
    skip whole row groups — the spatial analogue of the time
    interlacing."""
    from geocube_spark.functions.spatialkeys import zorder_expr
    from geocube_spark.operators.interlace import parse_interlacing

    clauses = parse_interlacing(interlacing_pattern)
    multi = len(clauses) > 1 or any(
        s.values is not None or s.lo is not None or s.hi is not None
        for c in clauses
        for s in c.selectors.values()
    )
    if multi:
        # full grammar: conditional clauses / selectors become computed
        # per-row sort keys (clause index + 4 fixed-width level keys)
        keyed, key_cols = interlacing_sort_exprs(
            tiles_with_time, interlacing_pattern, rank_source=rank_source
        )
        # the computed keys STAY in the written files (like the z_order
        # column below): dropping them post-sort would leave the writer
        # free to re-group on [cell] only, and stored keys give parquet
        # min/max stats a reader can range-prune on
        (
            keyed.drop("_il_ridx", "_il_bidx")
            .repartition(F.col(cell_col))
            .sortWithinPartitions(cell_col, *key_cols)
            .write.mode(mode)
            .partitionBy(cell_col)
            .parquet(out_path)
        )
        return

    # tolerate partial schemas (e.g. a single-record container with no
    # record_datetime): sort by the pattern columns that exist
    sort_cols = [
        c
        for c in interlacing_sort_columns(interlacing_pattern)
        if c in tiles_with_time.columns
    ]
    df = tiles_with_time
    if spatial_cluster:
        df = df.withColumn(
            "z_order", zorder_expr(F.col("block_x"), F.col("block_y"))
        )
        replaced = []
        for c in sort_cols:
            if c in ("block_x", "block_y"):
                if "z_order" not in replaced:
                    replaced.append("z_order")
            else:
                replaced.append(c)
        if "z_order" not in replaced:
            replaced.append("z_order")
        sort_cols = replaced
    # the partition column MUST lead the explicit sort: the partitioned
    # writer otherwise inserts its own sort on just [cell] to group output
    # files, and that sort does not preserve the interlacing order within
    # a cell (observed: files come back in input order, not sort order)
    (
        df.repartition(F.col(cell_col))
        .sortWithinPartitions(cell_col, *sort_cols)
        .write.mode(mode)
        .partitionBy(cell_col)
        .parquet(out_path)
    )


def consolidate_to_mucog(
    tiles_with_time: DataFrame,
    container_col: str = "out_container_uri",
    dtype: str = "float64",
    compression: str = "deflate",
    nodata: float | None = None,
    tile_order: str = "block",
    alpha_band: bool = False,
    on_error: str = "raise",
) -> DataFrame:
    """S5/S6 as REAL bytes: build one (Mu)COG GeoTIFF per output container
    from the tile table (``sources/gtiff.py`` — pure-stdlib TIFF 6.0 +
    GeoTIFF 1.1, no GDAL needed on executors).

    Mirrors internal/image/handler_consolidation.go: one consolidation task
    produces one container file.  Here that is one ``applyInPandas`` group
    per ``container_col`` — the group holds every (image, band, level,
    block) tile of the output container, bounded by construction to
    max_records × blocks × block_size (the same bound the reference's
    consolidation worker has to hold in RAM while GDAL rewrites the file).
    No driver collect; the emitted row carries the finished byte payload
    plus layout facts (header size, tile count) so a downstream
    ``foreachPartition`` / binary-file writer can PUT each container to
    object storage straight from the executor.

    Input rows: (container_col, band, level, block_x, block_y, px,
    pix_to_crs, crs_srid[, record_id, record_datetime]).  Images within a
    container are keyed by (record_datetime, record_id) — absent means a
    single-image COG.  Level-0 IFDs come first (time-sorted), then
    overview IFDs (NewSubfileType=1), per the COG spec ordering.
    ``tile_order='block'`` interlaces payloads so a time-series of one
    block is ONE contiguous range — the byte-level twin of the
    consolidated-parquet layout that ``timeseries_block_read`` proves out.
    """
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    import numpy as np

    from geocube_spark.sources.gtiff import RasterImage, header_size, write_tiff

    cols = set(tiles_with_time.columns)
    has_time = "record_datetime" in cols and "record_id" in cols
    sel = [
        F.col(container_col).alias("_container"),
        F.col("band"),
        F.col("level"),
        F.col("block_x"),
        F.col("block_y"),
        F.col("px"),
        F.col("pix_to_crs"),
        F.col("crs_srid"),
    ]
    if has_time:
        # coalesce to sentinel strings: a null record key would otherwise
        # surface as None and break the sorted() image ordering below
        sel += [
            F.coalesce(F.col("record_datetime").cast("string"), F.lit("")).alias("_t"),
            F.coalesce(F.col("record_id").cast("string"), F.lit("")).alias("_rid"),
        ]
    src = tiles_with_time.select(*sel)

    fields = [
        StructField("container_uri", StringType(), False),
        StructField("n_images", LongType(), False),
        StructField("n_tiles", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("header_bytes", LongType(), False),
        StructField("tiff", BinaryType(), False),
    ]
    if on_error == "capture":
        # per-TASK failure isolation (the queue consumer's contract,
        # cmd/consolidater/main.go:149-159): a container whose build
        # raises yields an error row instead of failing the whole Spark
        # job, so one poisoned task cannot sink a thousand-task pass
        fields.append(StructField("error", StringType(), True))
    out_schema = StructType(fields)

    def _assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        if has_time:
            img_keys = sorted(set(zip(pdf["_t"], pdf["_rid"])))
            groups = {k: pdf[(pdf["_t"] == k[0]) & (pdf["_rid"] == k[1])] for k in img_keys}
        else:
            groups = {("", ""): pdf}
        rec_rank = {k: i for i, k in enumerate(sorted(groups))}
        images: list[RasterImage] = []
        image_keys: list[dict] = []
        # a single block pixel size must hold across the whole container:
        # tile_size=(n, n) below is applied to every level
        px_lens = {len(p) for p in pdf["px"]}
        if len(px_lens) != 1:
            raise ValueError(f"mixed block pixel counts in container: {px_lens}")
        min_lvl = int(pdf["level"].min())
        # level-0 images first (time order), then overviews — COG layout
        for lvl in sorted(pdf["level"].unique()):
            for _k, g in sorted(groups.items()):
                g = g[g["level"] == lvl]
                if g.empty:
                    continue
                n = int(round(len(g["px"].iloc[0]) ** 0.5))
                bx0, bx1 = int(g["block_x"].min()), int(g["block_x"].max())
                by0, by1 = int(g["block_y"].min()), int(g["block_y"].max())
                band_ids = sorted(g["band"].unique())
                tr = g["pix_to_crs"].iloc[0]
                if not all(t == tr for t in g["pix_to_crs"]):
                    raise ValueError(
                        f"mixed pix_to_crs within container image {_k!r}"
                    )
                h = (by1 - by0 + 1) * n
                w = (bx1 - bx0 + 1) * n
                arr = np.full(
                    (len(band_ids), h, w),
                    nodata if nodata is not None else 0,
                    dtype=dtype,
                )
                for row in g.itertuples(index=False):
                    bi = band_ids.index(row.band)
                    y0 = (int(row.block_y) - by0) * n
                    x0 = (int(row.block_x) - bx0) * n
                    arr[bi, y0 : y0 + n, x0 : x0 + n] = (
                        np.asarray(row.px, dtype="float64")
                        .reshape(n, n)
                        .astype(dtype)
                    )
                # pyramid.build_level carries the LEVEL-0 pix_to_crs on
                # every overview row; one overview-level-L pixel covers 2^L
                # level-0 pixels, so the scale is 2^lvl relative to that
                # fixed base — NOT 2^(lvl - min_lvl): a container holding
                # only levels >= 1 (no full-res rows) would otherwise have
                # every transform under-scaled by 2^min_lvl.
                s = float(2 ** int(lvl))
                if alpha_band:
                    # explicit validity mask as the last band (ExtraSamples
                    # unassociated alpha) — what the reference's
                    # consolidation emits so GDAL-side consumers keep the
                    # nodata semantics after any format hop
                    # (handler_consolidation_test.go:16-178).  Opaque value
                    # = dtype max for integers, 255 for floats (GDAL
                    # convention); a pixel is opaque when ANY band is valid.
                    if nodata is None:
                        invalid = np.zeros(arr.shape[1:], dtype=bool)
                    elif np.isnan(nodata):
                        invalid = np.isnan(arr).all(axis=0)
                    else:
                        invalid = (arr == nodata).all(axis=0)
                    opaque = (
                        np.iinfo(arr.dtype).max
                        if np.issubdtype(arr.dtype, np.integer)
                        else 255.0
                    )
                    arr = np.concatenate(
                        [arr, np.where(invalid, 0, opaque)[None].astype(arr.dtype)]
                    )
                images.append(
                    RasterImage(
                        bands=arr,
                        alpha=alpha_band,
                        transform=(
                            tr["a"] * s, tr["b"] * s,
                            tr["c"] + bx0 * n * tr["a"] * s,
                            tr["d"] * s, tr["e"] * s,
                            tr["f"] + by0 * n * tr["e"] * s,
                        ),
                        epsg=int(g["crs_srid"].iloc[0]),
                        nodata=nodata,
                        subfile_type=0 if lvl == min_lvl else 1,
                    )
                )
                image_keys.append({"Z": int(lvl), "R": rec_rank[_k], "B": 0})
        if tile_order not in ("image", "block"):
            # full interlacing pattern (layouts.proto:41-66): per-level
            # clauses/ranges order the tile data region across zoom levels
            # and records; bands live pixel-interleaved inside each tile
            # payload (B is innermost by construction of this writer)
            order = tile_order
        else:
            # 'block' interlacing needs identical tile grids AND a single
            # zoom level: MuCOG interlaces within a zoom level only, so the
            # presence of any overview IFD forces per-image order even when
            # tile counts coincide (e.g. one block per level).
            # subfile_type in the key makes overview/full-res grids
            # distinct.
            grids = {
                (
                    -(-im.bands.shape[2] // n),
                    -(-im.bands.shape[1] // n),
                    im.bands.shape[0],
                    im.subfile_type,
                )
                for im in images
            }
            all_full_res = all(im.subfile_type == 0 for im in images)
            order = (
                tile_order
                if len(images) > 1 and len(grids) == 1 and all_full_res
                else "image"
            )
        data = write_tiff(
            images,
            tile_size=(n, n),
            compression=compression,
            tile_order=order,
            image_keys=image_keys if order not in ("image", "block") else None,
        )
        return pd.DataFrame(
            [
                {
                    "container_uri": key[0],
                    "n_images": len(images),
                    "n_tiles": sum(
                        -(-im.bands.shape[2] // n) * -(-im.bands.shape[1] // n)
                        * im.bands.shape[0]
                        for im in images
                    ),
                    "n_bytes": len(data),
                    "header_bytes": header_size(data),
                    "tiff": data,
                }
            ],
            columns=[f.name for f in out_schema.fields],
        )

    if on_error == "capture":

        def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
            try:
                out = _assemble(key, pdf)
                out["error"] = None
                return out
            except Exception as exc:
                return pd.DataFrame(
                    [{
                        "container_uri": key[0], "n_images": 0, "n_tiles": 0,
                        "n_bytes": 0, "header_bytes": 0, "tiff": b"",
                        "error": f"{type(exc).__name__}: {exc}",
                    }],
                    columns=[f.name for f in out_schema.fields],
                )

    else:
        build = _assemble

    return src.groupBy("_container").applyInPandas(build, out_schema)


# --------------------------------------------- cooperative cancellation (§2.9)
#
# The reference's consolidation worker polls a cancel MARKER FILE between
# work units (handler_consolidation.go:373-395: {storage}/{jobID}_{taskID}
# exists -> abort before committing).  Same protocol here: the rewrite is
# split into cell batches; the marker is re-checked before each batch, and
# a cancelled job never reaches the atomic publish — the staging directory
# is discarded, the live layout untouched.  This is the executable arc
# behind CONSOLIDATIONINPROGRESS -> CONSOLIDATIONCANCELLING in
# streaming/jobs.py (job.go:395-401).


def cancel_marker_path(cancel_dir: str, job_id: str, task_id: str = "") -> str:
    import os

    name = f"{job_id}_{task_id}" if task_id else job_id
    return os.path.join(cancel_dir, name)


def request_cancellation(cancel_dir: str, job_id: str, task_id: str = "") -> None:
    """Drop the cancel marker (the reference writes it to
    cancelledJobsStorage; any shared filesystem/object store works — the
    worker only checks existence)."""
    import os

    os.makedirs(cancel_dir, exist_ok=True)
    with open(cancel_marker_path(cancel_dir, job_id, task_id), "w"):
        pass


def is_cancelled(cancel_dir: str, job_id: str, task_id: str = "") -> bool:
    import os

    if os.path.exists(cancel_marker_path(cancel_dir, job_id)):
        return True  # job-level cancel covers every task
    return bool(task_id) and os.path.exists(
        cancel_marker_path(cancel_dir, job_id, task_id)
    )


def consolidate_tiles_cancellable(
    tiles_with_time: DataFrame,
    interlacing_pattern: str,
    out_path: str,
    job_id: str,
    cancel_dir: str,
    cell_col: str = "cell_uri",
    batch_cells: int = 8,
    progress=None,
) -> str:
    """consolidate_tiles with the reference's mid-task cancellation
    protocol: cells are rewritten in batches of ``batch_cells``; the
    cancel marker is checked BEFORE EACH BATCH, and on cancellation the
    staging directory is deleted and ``"CANCELLED"`` returned — the
    atomic publish (staging -> out_path rename) only happens after every
    batch lands, so a cancelled or crashed job can never half-publish.
    ``progress(done_batches, total_batches)`` is invoked after each
    batch (the worker's heartbeat hook).  Returns ``"DONE"`` or
    ``"CANCELLED"`` — the caller maps these onto the job state machine
    arcs (ConsolidationDone / CancellationDone)."""
    import os
    import shutil

    staging = out_path.rstrip("/") + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    # the task list is dim-sized driver work, exactly like the reference's
    # per-event task loop — NOT a data collect
    cells = [
        r[0]
        for r in tiles_with_time.select(cell_col).distinct().orderBy(cell_col).collect()
    ]
    batches = [
        cells[i : i + batch_cells] for i in range(0, len(cells), batch_cells)
    ]
    for bi, batch in enumerate(batches):
        if is_cancelled(cancel_dir, job_id, task_id=str(bi)):
            shutil.rmtree(staging, ignore_errors=True)
            return "CANCELLED"
        consolidate_tiles(
            tiles_with_time.filter(F.col(cell_col).isin(batch)),
            interlacing_pattern,
            staging,
            cell_col=cell_col,
            mode="append",
            # selector indices (R=0:2 etc.) must resolve against the
            # container-global record/band chronology, not this batch's
            rank_source=tiles_with_time,
        )
        if progress is not None:
            progress(bi + 1, len(batches))
    if is_cancelled(cancel_dir, job_id):
        # a cancel that lands after the last batch but before publish
        # still wins — the reference checks one final time before commit
        shutil.rmtree(staging, ignore_errors=True)
        return "CANCELLED"
    shutil.rmtree(out_path, ignore_errors=True)
    os.replace(staging, out_path)  # atomic on one filesystem
    return "DONE"


def swap_datasets(datasets: DataFrame, job_id: str, new_datasets: DataFrame) -> DataFrame:
    """csldSwapDatasets (consolidater.go:559+): old ACTIVE rows of the job ->
    TODELETE; new rows -> ACTIVE.  As a pure transform over the datasets
    table — the write is an idempotent overwrite (Delta MERGE when
    available), re-runnable per the reference's retry arcs."""
    flipped = datasets.withColumn(
        "status",
        F.when(
            (F.col("locked_by_job_id") == job_id) & (F.col("status") == "ACTIVE"),
            F.lit("TODELETE"),
        ).otherwise(F.col("status")),
    )
    activated = new_datasets.withColumn("status", F.lit("ACTIVE"))
    return flipped.unionByName(activated, allowMissingColumns=True)
