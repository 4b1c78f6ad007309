"""GetCube logical plan — headers-only (R12), slice grouping (A3/A4), tag
merge (A6).

Reference trace: internal/svc/catalog.go:146-340 (§3.1 steps 1-6).  The
"logical plan of the cube" is an ordered list of slice groups: datasets
grouped by record (A3) or by user-supplied record groups (A4), ordered by
(record datetime, record id) (W1), each slice carrying merged tags (A6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geocube_spark.plans.find_datasets import DatasetFilters, find_datasets


def group_by_record(datasets_with_records: DataFrame) -> DataFrame:
    """A3: one slice per record, datasets collected, slice order = record
    time (catalog.go:296-318).

    collect_list carries the per-dataset metadata struct; slice ordering is
    by (record_datetime, record_id) which also keys the group — so a plain
    groupBy + orderBy reproduces the reference's contiguous grouping.
    """
    meta_cols = [
        c
        for c in ("id", "instance_id", "container_uri", "subdir", "bands", "dmapping")
        if c in datasets_with_records.columns
    ]
    return (
        datasets_with_records.groupBy("record_id", "record_datetime", "record_name")
        .agg(
            F.count(F.lit(1)).alias("n_datasets"),
            F.collect_list(F.struct(*meta_cols)).alias("datasets"),
        )
        .orderBy("record_datetime", "record_id")
    )


def group_by_record_groups(
    datasets_with_records: DataFrame, groups: list[list[str]]
) -> DataFrame:
    """A4: user-supplied list-of-lists of record ids merged into one slice,
    original group order kept (catalog.go:277-293; records.proto:69-85).

    The mapping table (group_idx, member_idx, record_id) is exploded and
    broadcast-joined; group_idx preserves user order, member_idx preserves
    in-group order (hard part #5 in SURVEY §7).
    """
    from geocube_spark.functions.localdf import values_df

    spark = datasets_with_records.sparkSession
    mapping = values_df(
        spark,
        [
            (gi, mi, rid)
            for gi, group in enumerate(groups)
            for mi, rid in enumerate(group)
        ],
        ["group_idx", "member_idx", "record_id"],
    )
    joined = datasets_with_records.join(F.broadcast(mapping), "record_id", "inner")
    return (
        joined.groupBy("group_idx")
        .agg(
            F.count(F.lit(1)).alias("n_datasets"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("member_idx"),
                        F.col("record_datetime"),
                        F.col("record_id"),
                        F.col("id").alias("dataset_id"),
                    )
                )
            ).alias("members"),
            F.min("record_datetime").alias("slice_datetime"),
        )
        .orderBy("group_idx")
    )


def merge_tags(grouped: DataFrame, tags_col: str = "tags_list") -> DataFrame:
    """A6 (catalog.go:540-561): merge tag maps across a slice's records —
    keys whose value agrees across all records are kept as-is; divergent
    keys are suffixed ``key.i`` per source index.

    Implemented over a collected array of maps with JVM-side higher-order
    functions: flatten to entries, then keep consensus keys once and
    divergent keys with their per-record suffix.
    """
    maps = F.col(tags_col)
    n = F.size(maps)
    # all distinct keys across the group's maps
    all_keys = F.array_distinct(F.flatten(F.transform(maps, lambda m: F.map_keys(m))))
    # a key is consensus iff every map contains it with the same value
    first_val = lambda k: F.element_at(maps, 1)[k]  # noqa: E731

    def consensus(k):
        return F.size(
            F.filter(maps, lambda m: F.coalesce(m[k] == first_val(k), F.lit(False)))
        ) == n

    consensus_entries = F.filter(
        F.transform(all_keys, lambda k: F.struct(k.alias("key"), first_val(k).alias("value"))),
        lambda e: F.size(
            F.filter(
                maps,
                lambda m: F.coalesce(m[e["key"]] == first_val(e["key"]), F.lit(False)),
            )
        )
        == n,
    )
    divergent_keys = F.filter(all_keys, lambda k: ~consensus(k))
    divergent_entries = F.flatten(
        F.transform(
            divergent_keys,
            lambda k: F.filter(
                F.transform(
                    F.sequence(F.lit(1), n),
                    lambda i: F.struct(
                        F.concat(k, F.lit("."), (i - 1).cast("string")).alias("key"),
                        F.element_at(maps, i)[k].alias("value"),
                    ),
                ),
                lambda e: e["value"].isNotNull(),
            ),
        )
    )
    merged = F.map_from_entries(F.concat(consensus_entries, divergent_entries))
    return grouped.withColumn("merged_tags", merged)


def get_cube(
    datasets: DataFrame,
    records: DataFrame,
    tiles: DataFrame,
    flt: DatasetFilters,
    nodata: float,
    min_valid_fraction: float = 0.0,
    bands: list[int] | None = None,
    base_res: float | None = None,
    out_res: float | None = None,
    max_level: int = 0,
) -> DataFrame:
    """Full GetCube read path (§3.1 steps 1-8): catalog plan -> tile join ->
    per-slice latest-wins mosaic -> valid-pixel filter.

    O8 (-ovr AUTO, image.go:402): when ``base_res`` AND ``out_res`` are
    given and the tile table carries a ``level`` column, the coarsest
    overview whose resolution still covers the request is selected as a
    driver literal BEFORE the dataset join — a zoomed-out cube read
    partition-prunes the full-res tiles away.

    One slice per record datetime group; output rows are mosaicked blocks
    keyed by (record slice, band, block).  The catalog side is the same
    ``find_datasets`` plan as headers-only; the pixel side joins the tile
    table on container_uri (shuffle on the tile side only — the dataset list
    is broadcast) and reduces per block.

    Slices here = one per record (A3); pass the result through the caller's
    grouping for A4 record-groups.
    """
    from geocube_spark.operators.mosaic import filter_valid_slices, mosaic_blocks

    d = find_datasets(datasets, records, flt)
    if "record_datetime" not in d.columns:
        # the mosaic needs record time even when no time/tag predicate forced
        # the records join (O5 join-avoidance skipped it)
        d = d.join(
            F.broadcast(
                records.select(
                    F.col("id").alias("record_id"),
                    F.col("datetime").alias("record_datetime"),
                )
            ),
            "record_id",
        )
    slim = d.select(
        "container_uri",
        "record_id",
        "record_datetime",
        F.col("dmapping.no_data").alias("ds_nodata"),
    )
    if bands is not None:  # F13 band-subset projection (image.go:221-231)
        tiles = tiles.filter(F.col("band").isin(bands))
    if base_res is not None and out_res is not None and "level" in tiles.columns:
        from geocube_spark.plans.overview import scan_at_overview

        tiles, _ = scan_at_overview(tiles, base_res, out_res, max_level)
    joined = tiles.join(F.broadcast(slim), "container_uri")
    # mosaic per (record-slice is implicit: each record is its own slice in
    # headers; the cube's pixel plane merges ALL matching records per block)
    merged = mosaic_blocks(joined, nodata=nodata)
    return filter_valid_slices(merged, nodata=nodata, min_valid_fraction=min_valid_fraction)


def get_cube_headers(
    datasets: DataFrame,
    records: DataFrame,
    flt: DatasetFilters,
    record_groups: list[list[str]] | None = None,
) -> DataFrame:
    """R12 headers-only cube: the full §3.1 steps 1-5 plan without pixels.
    This is the minimum end-to-end slice per SURVEY §7 Phase 1."""
    d = find_datasets(datasets, records, flt)
    if record_groups is not None:
        return group_by_record_groups(d, record_groups)
    return group_by_record(d)
