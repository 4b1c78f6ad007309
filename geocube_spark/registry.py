"""Driver-contract query registry.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with an
equivalent DuckDB oracle SQL string over the driver's parquet views
(region nation customer supplier part orders lineitem events documents
embeddings).  The TPC-H-ish tables exercise the geocube catalog operators
through the SAME code paths (plans.find_datasets etc.) by aliasing them to
the canonical entity schema — per FIXTURES.md §"Relational correctness
harness".  Spatial/raster operators run on the deterministic fixture tables
(geocube_spark.fixtures) and their oracles read the same parquet files.

DuckDB 1.0 dialect notes (tested):
- map extract ``m['k']`` returns a LIST -> use ``m['k'][1]``
- existence -> ``list_contains(map_keys(m), 'k')``
- ``sum(BIGINT)`` -> HUGEINT -> always CAST to BIGINT
- array sums -> ``list_aggregate(l, 'sum')``
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geocube_spark.fixtures import cached
from geocube_spark.functions.dataformat import cast_expr, cast_sql
from geocube_spark.functions.text import (
    bpe_ish_token_count,
    bpe_ish_token_count_sql,
    lang_guess,
    lang_guess_sql,
    normalized_md5,
    normalized_md5_sql,
    punct_ratio,
    punct_ratio_sql,
    quality_score,
    quality_score_sql,
    token_count,
    token_count_sql,
)
from geocube_spark.functions.vectors import cosine_expr, cosine_sql
from geocube_spark.operators import dedup as dd
from geocube_spark.operators import similarity as sim
from geocube_spark.operators.cover import RegularGridSpec, cover_regular
from geocube_spark.operators.mosaic import mosaic_blocks, valid_count_expr
from geocube_spark.operators.pyramid import build_level
from geocube_spark.plans.cube import group_by_record
from geocube_spark.plans.find_datasets import DatasetFilters, find_datasets
from geocube_spark.plans.find_records import RecordFilters, find_records

FIXTURE_DIR = "/root/repo/.fixtures"

# fixture dmappings used by the cast query (fixtures.DMAPPINGS[0] -> UInt8)
_SRC_DM = {
    "dtype": "Int16", "no_data": -32768.0, "min_value": 0.0, "max_value": 10000.0,
    "real_min_value": 0.0, "real_max_value": 1.0, "exponent": 1.0,
}
_DST_DM = {
    "dtype": "UInt8", "no_data": 0.0, "min_value": 1.0, "max_value": 255.0,
    "real_min_value": 0.0, "real_max_value": 1.0, "exponent": 1.0,
}


def ensure_fixtures() -> str:
    # probe the NEWEST fixture table so stale fixture dirs regenerate
    if not os.path.exists(os.path.join(FIXTURE_DIR, "warp_src_bng.parquet")):
        from geocube_spark import fixtures

        fixtures.generate(FIXTURE_DIR, n_records=200)
    return FIXTURE_DIR


def ensure_consolidated(spark: SparkSession) -> str:
    """Materialize the consolidated (MuCOG-equivalent) tile layout once:
    partitioned by cell, physically sorted by the interlacing pattern, so a
    time-series read of one block is a contiguous partition-pruned scan —
    the reference's docs/architecture/mucog.md benchmark restated."""

    def build(out):
        from geocube_spark.operators.consolidation import consolidate_tiles

        fd = ensure_fixtures()
        tiles = spark.read.parquet(f"{fd}/tiles.parquet")
        datasets = spark.read.parquet(f"{fd}/datasets.parquet")
        records = spark.read.parquet(f"{fd}/records.parquet")
        joined = (
            tiles.join(
                datasets.select("container_uri", "record_id").dropDuplicates(
                    ["container_uri"]
                ),
                "container_uri",
            )
            .join(
                F.broadcast(
                    records.select(
                        F.col("id").alias("record_id"),
                        F.col("datetime").alias("record_datetime"),
                    )
                ),
                "record_id",
            )
            .withColumn("cell_uri", F.concat_ws("_", "block_x", "block_y"))
        )
        consolidate_tiles(joined, "Z=0>T>R>B", out)

    return cached(os.path.join(FIXTURE_DIR, "consolidated_tiles"), [], build)


def ensure_pyramided(spark: SparkSession) -> str:
    """Materialize the Int16 stack's overview pyramid ONCE, partitioned by
    level (handler_consolidation.go:489-500 levels math): level 0 verbatim
    plus the AVERAGE level-1 overview, written ``partitionBy("level")`` so
    the O8 auto-selection literal prunes whole level directories at the
    scan."""

    def build(out):
        fd = ensure_fixtures()
        tiles = spark.read.parquet(f"{fd}/tiles.parquet")
        datasets = spark.read.parquet(f"{fd}/datasets.parquet")
        src = tiles.join(
            datasets.filter(F.col("dmapping.no_data") == -32768.0).select(
                "container_uri"
            ),
            "container_uri",
            "left_semi",
        )
        lvl1 = build_level(src, level=1, alg="AVERAGE", nodata=-32768.0)
        src.select(*lvl1.columns).unionByName(lvl1).write.mode(
            "overwrite"
        ).partitionBy("level").parquet(out)

    return cached(os.path.join(FIXTURE_DIR, "pyramid_tiles"), [], build)


def ensure_zarr_fixture() -> str:
    """Closed-form Zarr v2 store: 2 bands x 100x100 float64, 32x32 chunks
    (edge chunks overhang and pad with fill -1), zlib compressor, value
    v(b,y,x) = (13x + 7y + 29b) mod 101 — fully re-derivable in SQL."""

    def build(out):
        import numpy as np

        from geocube_spark.sources.zarr import write_zarr_array

        ensure_fixtures()
        b, y, x = np.meshgrid(
            np.arange(2), np.arange(100), np.arange(100), indexing="ij"
        )
        arr = ((13 * x + 7 * y + 29 * b) % 101).astype(np.float64)
        write_zarr_array(
            out, arr, chunks=(1, 32, 32), compressor="zlib", fill_value=-1.0,
            attrs={"crs": "EPSG:4326", "transform": [0.01, 0.0, 0.0, 0.0, -0.01, 50.0]},
        )

    return cached(os.path.join(FIXTURE_DIR, "zarr_demo"), [], build)


def ensure_stac_fixture() -> str:
    """Deterministic STAC item collection (JSONL, 40 items x 2 assets)."""

    def build(out):
        from geocube_spark.sources.stac import write_stac_fixture

        ensure_fixtures()
        write_stac_fixture(out)

    return cached(os.path.join(FIXTURE_DIR, "stac_items.jsonl"), [], build)


# ------------------------------------------------------------ entity mapping
# TPC-H -> canonical catalog schema, so the driver tables flow through the
# real plan builders (the relational-correctness harness of FIXTURES.md).


def datasets_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.select(
        F.concat_ws(
            "-", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
        ).alias("id"),
        F.col("l_orderkey").cast("string").alias("record_id"),
        F.col("l_suppkey").cast("string").alias("instance_id"),
        F.concat(
            F.lit("file:///synth/"), F.col("l_partkey").cast("string"), F.lit(".tif")
        ).alias("container_uri"),
        F.col("l_returnflag").alias("status"),
        F.col("l_quantity").alias("quantity"),
        F.col("l_extendedprice").alias("extendedprice"),
        F.col("l_discount").alias("discount"),
    )


_DATASETS_SQL = """
    SELECT l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR AS id,
           l_orderkey::VARCHAR AS record_id,
           l_suppkey::VARCHAR AS instance_id,
           'file:///synth/' || l_partkey::VARCHAR || '.tif' AS container_uri,
           l_returnflag AS status,
           l_quantity AS quantity,
           l_extendedprice AS extendedprice,
           l_discount AS discount
    FROM lineitem
"""


def records_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return o.select(
        F.col("o_orderkey").cast("string").alias("id"),
        F.col("o_orderdate").alias("datetime"),
        F.concat(F.lit("ORD_"), F.col("o_orderkey").cast("string")).alias("name"),
        F.create_map(
            F.lit("STATUS"), F.col("o_orderstatus"),
            F.lit("PRIORITY"), F.col("o_orderpriority"),
        ).alias("tags"),
        F.col("o_custkey").cast("string").alias("aoi_id"),
        F.col("o_totalprice").alias("totalprice"),
    )


_RECORDS_SQL = """
    SELECT o_orderkey::VARCHAR AS id,
           o_orderdate AS datetime,
           'ORD_' || o_orderkey::VARCHAR AS name,
           o_orderstatus AS status_tag,
           o_orderpriority AS priority_tag,
           o_custkey::VARCHAR AS aoi_id,
           o_totalprice AS totalprice
    FROM orders
"""


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores TIMESTAMP(NANOS) which Spark's parquet reader
    rejects; read under the legacy nanos-as-long conf and expose both the
    exact ``ts_ns`` (long) and a µs-precision ``ts`` timestamp."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes)["ts"] == "bigint":
        ev = ev.withColumnRenamed("ts", "ts_ns").withColumn(
            "ts", F.timestamp_micros(F.expr("ts_ns div 1000"))
        )
    else:
        # ts may surface as TIMESTAMP_NTZ depending on the reader conf at
        # session-build time.  Derive ts_ns with timestampdiff over NTZ
        # values directly: a cast to zoned TIMESTAMP would interpret the
        # wall-clock in spark.sql.session.timeZone, making ts_ns differ
        # between sessions (the bigint branch above is timezone-fixed).
        ev = ev.withColumn(
            "ts_ns",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00',"
                " CAST(ts AS TIMESTAMP_NTZ)) * 1000"
            ),
        )
    return ev


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label"
    )


_EMB_SQL = "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding, label FROM embeddings"


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# =============================================================== catalog ops

# F1+F2+F3+J1+W1: the FindDatasets core — status filter, instance IN-list,
# time range, conditional records join, global (datetime, id) order.
@q(
    "find_datasets_core",
    f"""
    WITH d AS ({_DATASETS_SQL}), r AS ({_RECORDS_SQL})
    SELECT d.id, d.record_id, d.instance_id,
           strftime(r.datetime, '%Y-%m-%d') AS record_date
    FROM d JOIN r ON d.record_id = r.id
    WHERE d.status = 'N'
      AND d.instance_id IN ('1','2','3','4','5','6','7')
      AND r.datetime >= TIMESTAMP '1996-01-01'
      AND r.datetime <= TIMESTAMP '1998-12-31'
    """,
)
def find_datasets_core(spark, sf_dir):
    from datetime import datetime

    flt = DatasetFilters(
        status="N",
        instance_ids=[str(i) for i in range(1, 8)],
        time_from=datetime(1996, 1, 1),
        time_to=datetime(1998, 12, 31),
    )
    out = find_datasets(datasets_view(spark, sf_dir), records_view(spark, sf_dir), flt)
    return out.select(
        "id",
        "record_id",
        "instance_id",
        F.date_format("record_datetime", "yyyy-MM-dd").alias("record_date"),
    )


# F4: tag predicates — equality, existence, glob on tag values.
@q(
    "find_datasets_tags",
    f"""
    WITH d AS ({_DATASETS_SQL}), r AS ({_RECORDS_SQL})
    SELECT d.id, r.status_tag AS tag_status, r.priority_tag AS tag_priority
    FROM d JOIN r ON d.record_id = r.id
    WHERE d.status = 'A'
      AND r.status_tag = 'F'
      AND r.priority_tag LIKE '1-%'
    """,
)
def find_datasets_tags(spark, sf_dir):
    flt = DatasetFilters(status="A", tags={"STATUS": "F", "PRIORITY": "1-*"}, order=False)
    out = find_datasets(datasets_view(spark, sf_dir), records_view(spark, sf_dir), flt)
    return out.select(
        "id",
        F.element_at("record_tags", "STATUS").alias("tag_status"),
        F.element_at("record_tags", "PRIORITY").alias("tag_priority"),
    )


# F5/F9: record-name glob translation (?, *, trailing (?i)).
@q(
    "find_datasets_name_glob",
    f"""
    WITH d AS ({_DATASETS_SQL}), r AS ({_RECORDS_SQL})
    SELECT d.id, r.name AS record_name
    FROM d JOIN r ON d.record_id = r.id
    WHERE r.name LIKE 'ORD\\_1??' ESCAPE '\\'
      AND d.status = 'R'
    """.replace("??", "__"),
)
def find_datasets_name_glob(spark, sf_dir):
    flt = DatasetFilters(status="R", record_name_glob="ORD_1??", order=False)
    out = find_datasets(datasets_view(spark, sf_dir), records_view(spark, sf_dir), flt)
    return out.select("id", F.col("record_name"))


# F6: container URI pattern buckets (equality + LIKE + ILIKE, OR-ed).
@q(
    "find_datasets_uri_globs",
    f"""
    WITH d AS ({_DATASETS_SQL})
    SELECT d.id, d.container_uri FROM d
    WHERE d.container_uri LIKE 'file:///synth/12%.tif'
       OR d.container_uri = 'file:///synth/777.tif'
       OR lower(d.container_uri) LIKE lower('FILE:///SYNTH/99_.TIF')
    """,
)
def find_datasets_uri_globs(spark, sf_dir):
    flt = DatasetFilters(
        status=None,
        container_uri_globs=["file:///synth/12*.tif", "file:///synth/777.tif", "FILE:///SYNTH/99?.TIF(?i)"],
        order=False,
    )
    out = find_datasets(datasets_view(spark, sf_dir), None, flt)
    return out.select("id", "container_uri")


# F3/C9: zero-time = unbounded (only an upper bound here).
@q(
    "find_datasets_unbounded_time",
    f"""
    WITH d AS ({_DATASETS_SQL}), r AS ({_RECORDS_SQL})
    SELECT CAST(count(*) AS BIGINT) AS n_datasets,
           CAST(count(DISTINCT d.record_id) AS BIGINT) AS n_records
    FROM d JOIN r ON d.record_id = r.id
    WHERE r.datetime <= TIMESTAMP '1995-06-30' AND d.status = 'A'
    """,
)
def find_datasets_unbounded_time(spark, sf_dir):
    from datetime import datetime

    flt = DatasetFilters(status="A", time_to=datetime(1995, 6, 30), order=False)
    out = find_datasets(datasets_view(spark, sf_dir), records_view(spark, sf_dir), flt)
    return out.agg(
        F.count(F.lit(1)).alias("n_datasets"),
        F.countDistinct("record_id").alias("n_records"),
    )


# L1: deterministic pagination (order by datetime, id-string — W1 key).
@q(
    "list_records_paginated",
    f"""
    WITH r AS ({_RECORDS_SQL})
    SELECT r.id, strftime(r.datetime, '%Y-%m-%d') AS record_date, r.name
    FROM r
    ORDER BY r.datetime, r.id
    LIMIT 50 OFFSET 100
    """,
)
def list_records_paginated(spark, sf_dir):
    flt = RecordFilters(offset=100, limit=50)
    out = find_records(records_view(spark, sf_dir), None, flt)
    return out.select(
        "id", F.date_format("datetime", "yyyy-MM-dd").alias("record_date"), "name"
    )


# F2 for records: GetRecords RPC / ReadRecords id = ANY($1)
# (pg_records.go:193-225) — explicit id-list fetch through the same
# find_records plan (RecordFilters.ids), ordered by time like FindRecords.
# Includes one id absent from the table ('59999' at every SF): a filter
# simply drops it; the client-level get_records twin errors instead
# (tests/test_client.py).
@q(
    "get_records_by_id",
    f"""
    WITH r AS ({_RECORDS_SQL})
    SELECT r.id, r.name, strftime(r.datetime, '%Y-%m-%d') AS record_date
    FROM r
    WHERE r.id IN ('1', '7', '33', '65', '129', '4000', '59999')
    ORDER BY r.datetime, r.id
    """,
)
def get_records_by_id(spark, sf_dir):
    flt = RecordFilters(ids=["1", "7", "33", "65", "129", "4000", "59999"])
    out = find_records(records_view(spark, sf_dir), None, flt)
    return out.select(
        "id", "name", F.date_format("datetime", "yyyy-MM-dd").alias("record_date")
    )


# A3/R12: headers-only cube — slices grouped by record, ordered by time.
@q(
    "cube_headers_by_record",
    f"""
    WITH d AS ({_DATASETS_SQL}), r AS ({_RECORDS_SQL})
    SELECT d.record_id,
           strftime(r.datetime, '%Y-%m-%d') AS record_date,
           CAST(count(*) AS BIGINT) AS n_datasets,
           min(d.id) AS first_dataset_id
    FROM d JOIN r ON d.record_id = r.id
    WHERE d.status = 'A'
      AND r.datetime >= TIMESTAMP '1997-01-01' AND r.datetime <= TIMESTAMP '1997-03-31'
    GROUP BY d.record_id, r.datetime
    """,
)
def cube_headers_by_record(spark, sf_dir):
    from datetime import datetime

    flt = DatasetFilters(
        status="A", time_from=datetime(1997, 1, 1), time_to=datetime(1997, 3, 31)
    )
    d = find_datasets(datasets_view(spark, sf_dir), records_view(spark, sf_dir), flt)
    grouped = group_by_record(d)
    return grouped.select(
        "record_id",
        F.date_format("record_datetime", "yyyy-MM-dd").alias("record_date"),
        "n_datasets",
        F.array_min(F.transform("datasets", lambda s: s["id"])).alias("first_dataset_id"),
    )


# A5: UpdateDatasets dry-run impact count — group by the 7-scalar mapping
# (here: the distinct flag pairs stand in for the dmapping struct).
@q(
    "impact_count",
    """
    SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def impact_count(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.groupBy(
        F.col("l_returnflag").alias("returnflag"), F.col("l_linestatus").alias("linestatus")
    ).agg(F.count(F.lit(1)).alias("n"))


# J7: TidyDB pending-cleanup anti-join (customers no order references).
@q(
    "tidy_anti_join",
    """
    SELECT c.c_custkey, c.c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def tidy_anti_join(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return c.join(
        o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select("c_custkey", "c_name")


# W4: latest-first mosaic rank — newest row per group with (time, id)
# tie-break, the per-pixel winner rule of A7 expressed relationally.
@q(
    "mosaic_rank_latest",
    """
    SELECT record_id, dataset_id, ship_date FROM (
        SELECT l_orderkey::VARCHAR AS record_id,
               l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR AS dataset_id,
               strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
               row_number() OVER (
                   PARTITION BY l_orderkey
                   ORDER BY l_shipdate DESC, l_linenumber DESC
               ) AS rk
        FROM lineitem
    ) WHERE rk = 1
    """,
)
def mosaic_rank_latest(spark, sf_dir):
    # W4 latest-first-rank SEMANTICS, executed as a max-struct aggregation:
    # top-1-per-key needs no full sort — partial aggregation (map-side
    # combine) replaces the window's sort-the-whole-partition shuffle,
    # 2.5x faster at sf0.1 and strictly better at 100 TB.  The oracle
    # expresses the same thing with row_number(); the rank-k>1 form stays
    # a true window (events_latest_per_user, operators/mosaic.py:52).
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.max(
                F.struct(
                    F.col("l_shipdate").alias("d"), F.col("l_linenumber").alias("n")
                )
            ).alias("m")
        )
        .select(
            F.col("l_orderkey").cast("string").alias("record_id"),
            F.concat_ws(
                "-", F.col("l_orderkey").cast("string"), F.col("m.n").cast("string")
            ).alias("dataset_id"),
            F.date_format("m.d", "yyyy-MM-dd").alias("ship_date"),
        )
    )


# L6: reconsolidation union — two overlapping dataset selections unioned and
# deduped by id.
@q(
    "union_reconsolidation",
    f"""
    WITH d AS ({_DATASETS_SQL})
    SELECT CAST(count(*) AS BIGINT) AS n FROM (
        SELECT DISTINCT id FROM (
            SELECT id FROM d WHERE quantity > 40
            UNION ALL
            SELECT id FROM d WHERE discount >= 0.08
        )
    )
    """,
)
def union_reconsolidation(spark, sf_dir):
    d = datasets_view(spark, sf_dir)
    a = d.filter(F.col("quantity") > 40)
    b = d.filter(F.col("discount") >= 0.08)
    return (
        a.unionByName(b)
        .dropDuplicates(["id"])
        .agg(F.count(F.lit(1)).alias("n"))
    )


# A10: task counters pivot (events stand in for tasks).
@q(
    "task_counters_pivot",
    """
    SELECT user_id,
           CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
           CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
           CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
           CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
    FROM events GROUP BY user_id
    """,
)
def task_counters_pivot(spark, sf_dir):
    ev = read_events(spark, sf_dir).select("user_id", "event_type")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )


# J6: container_layouts join — DISTINCT + per-layout grouping.
@q(
    "container_layouts",
    """
    SELECT p.p_brand AS layout_name,
           CAST(count(DISTINCT l.l_partkey) AS BIGINT) AS n_containers,
           CAST(count(*) AS BIGINT) AS n_datasets
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def container_layouts(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_brand").alias("layout_name"))
        .agg(
            F.countDistinct("l_partkey").alias("n_containers"),
            F.count(F.lit(1)).alias("n_datasets"),
        )
    )


# ================================================================ TPC-H core


@q(
    "tpch_q1",
    """
    SELECT l_returnflag, l_linestatus,
           round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
           round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_base_price,
           round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS sum_disc_price,
           round(CAST(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS DOUBLE), 2) AS sum_charge,
           round(CAST(avg(l_quantity) AS DOUBLE), 4) AS avg_qty,
           round(CAST(avg(l_extendedprice) AS DOUBLE), 4) AS avg_price,
           round(CAST(avg(l_discount) AS DOUBLE), 4) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= "2001-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@q(
    "tpch_q3",
    """
    SELECT l_orderkey,
           round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-03-15'
      AND l.l_shipdate > TIMESTAMP '1997-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")), o["o_custkey"] == c["c_custkey"])
        .filter((F.col("o_orderdate") < "1997-03-15") & (F.col("l_shipdate") > "1997-03-15"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@q(
    "tpch_q5",
    """
    SELECT n_name,
           round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def tpch_q5(spark, sf_dir):
    t = {
        n: spark.read.parquet(f"{sf_dir}/{n}.parquet")
        for n in ("customer", "orders", "lineitem", "supplier", "nation", "region")
    }
    return (
        t["lineitem"]
        .join(t["orders"], t["lineitem"]["l_orderkey"] == t["orders"]["o_orderkey"])
        .join(t["customer"], t["orders"]["o_custkey"] == t["customer"]["c_custkey"])
        .join(
            t["supplier"],
            (t["lineitem"]["l_suppkey"] == t["supplier"]["s_suppkey"])
            & (t["customer"]["c_nationkey"] == t["supplier"]["s_nationkey"]),
        )
        .join(F.broadcast(t["nation"]), t["supplier"]["s_nationkey"] == t["nation"]["n_nationkey"])
        .join(F.broadcast(t["region"]), t["nation"]["n_regionkey"] == t["region"]["r_regionkey"])
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@q(
    "tpch_q6",
    """
    SELECT round(CAST(sum(l_extendedprice * l_discount) AS DOUBLE), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@q(
    "tpch_q10",
    """
    SELECT c.c_custkey, c.c_name,
           round(CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 2) AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def tpch_q10(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
            ),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@q(
    "tpch_q12",
    """
    SELECT l_linestatus AS shipmode,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    """,
)
def tpch_q12(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
        )
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.col("l_linestatus").alias("shipmode"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@q(
    "tpch_q18",
    """
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS totalprice,
           round(CAST(sum(l.l_quantity) AS DOUBLE), 2) AS sum_qty
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def tpch_q18(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        li.join(big.withColumnRenamed("l_orderkey", "bk"), li["l_orderkey"] == F.col("bk"), "left_semi")
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice").alias("totalprice"),
            "sum_qty",
        )
    )


# PageRank (5 power-iteration rounds, dangling-mass redistribution) over
# the customer->supplier purchase graph — the iterative-graph companion to
# dedup_components; oracle replays the identical rounds as generated CTEs
# (operators/graph.py).
_PR_EDGES_SQL = """
    SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                    's' || CAST(l.l_suppkey AS VARCHAR) AS dst
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""


from geocube_spark.operators.graph import pagerank_sql  # noqa: E402


@q(
    "graph_pagerank",
    "SELECT node, round(rank, 6) AS rank FROM (\n"
    + pagerank_sql(_PR_EDGES_SQL, iterations=5)
    + "\n) ORDER BY rank DESC, node LIMIT 20",
)
def graph_pagerank(spark, sf_dir):
    from geocube_spark.operators.graph import pagerank

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    pr = pagerank(edges, iterations=5)
    return (
        pr.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(20)
    )


# Synchronous label-propagation communities (Raghavan et al. 2007) over
# the same purchase graph — deterministic smallest-label tie-break, fixed
# 5 rounds (part of the contract: sync LPA oscillates on bipartite
# regions).  O(edges) per round; oracle replays identical rounds.  The
# graph is deterministically thinned to 1/4 of orders: LPA costs two
# shuffles per round on the symmetrized edge list, and the full purchase
# graph would make this the suite's slowest query for no extra semantic
# coverage (pagerank already runs the full graph).
from geocube_spark.operators.graph import (  # noqa: E402
    label_propagation,
    label_propagation_sql,
)


_LPA_EDGES_SQL = """
    SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                    's' || CAST(l.l_suppkey AS VARCHAR) AS dst
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey % 4 = 0
"""


@q(
    "graph_label_propagation",
    "SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes FROM (\n"
    + label_propagation_sql(_LPA_EDGES_SQL, iterations=4)
    + "\n) GROUP BY label ORDER BY n_nodes DESC, community LIMIT 15",
)
def graph_label_propagation_q(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderkey") % 4 == 0
    )
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    lp = label_propagation(edges, iterations=4)
    return (
        lp.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy(F.col("n_nodes").desc(), "community")
        .limit(15)
    )


# Materialized-view lifecycle (warehouse MV freshness protocol on the
# commit log): the MV commit pins exact upstream versions; staleness is a
# METADATA comparison (no data read); auto-refresh re-pins; the previous
# materialization stays time-travel readable.  Deterministic lifecycle ->
# constant-tuple oracle (catalog_time_travel family).
@q(
    "materialized_view_lifecycle",
    """
    SELECT CAST(1 AS BIGINT) AS mv_v1,
           CAST(1 AS INT) AS fresh_after_create,
           CAST(0 AS INT) AS fresh_after_dep_write,
           CAST(22 AS BIGINT) AS cached_total,
           CAST(122 AS BIGINT) AS auto_total,
           CAST(1 AS INT) AS fresh_after_refresh,
           CAST(22 AS BIGINT) AS time_travel_total
    """,
)
def materialized_view_lifecycle_q(spark, sf_dir):
    import shutil
    import tempfile

    from geocube_spark.sources.catalog import Catalog
    from geocube_spark.sources.matview import (
        create_materialized_view,
        read_materialized_view,
        view_staleness,
    )

    def builder(cat):
        return cat.read("base").groupBy().agg(F.sum("v").cast("long").alias("total"))

    root = tempfile.mkdtemp(prefix="mvcat_")
    try:
        cat = Catalog(spark, root, retain_versions=4)
        # values_df: a JVM LocalRelation whose size estimate is accurate,
        # so Catalog.write's small-write coalesce fires (a pickled-RDD
        # createDataFrame reports unknown size and 32 empty-ish write
        # tasks); same rows, same schema
        from geocube_spark.functions.localdf import values_df

        cat.write("base", values_df(spark, [(10,), (12,)], ["v"]))
        mv_v1 = create_materialized_view(cat, "mv", builder, ["base"])
        fresh1 = int(view_staleness(cat, "mv")["fresh"])
        cat.write("base", values_df(spark, [(100,), (22,)], ["v"]))
        fresh2 = int(view_staleness(cat, "mv")["fresh"])
        cached = read_materialized_view(cat, "mv").collect()[0]["total"]
        auto = read_materialized_view(cat, "mv", builder, mode="auto").collect()[0][
            "total"
        ]
        fresh3 = int(view_staleness(cat, "mv")["fresh"])
        tt = cat.read("mv", version=1).collect()[0]["total"]
        row = (mv_v1, fresh1, fresh2, cached, auto, fresh3, tt)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [row],
        "mv_v1 long, fresh_after_create int, fresh_after_dep_write int, "
        "cached_total long, auto_total long, fresh_after_refresh int, "
        "time_travel_total long",
    ).coalesce(1)  # 1 row; without this the collect pays 32 empty tasks


# Catalog time travel (Delta-style read-as-of over the commit log):
# two committed versions of a scratch table, read back by version + the
# history surface.  The lifecycle is deterministic, so the oracle is the
# fixed invariant tuple (S2 storage-management family).
@q(
    "catalog_time_travel",
    """
    SELECT CAST(10 AS BIGINT) AS v1_rows,
           CAST(20 AS BIGINT) AS v2_rows,
           CAST(20 AS BIGINT) AS current_rows,
           CAST(2 AS BIGINT) AS n_versions,
           CAST(2 AS BIGINT) AS newest_version
    """,
)
def catalog_time_travel(spark, sf_dir):
    import shutil
    import tempfile

    from geocube_spark.functions.localdf import values_df
    from geocube_spark.sources.catalog import Catalog

    root = tempfile.mkdtemp(prefix="ttcat_")
    try:
        cat = Catalog(spark, root, retain_versions=4)
        cat.write("t", spark.range(10).coalesce(1))
        cat.write("t", spark.range(20).coalesce(1))
        hist = cat.history("t").collect()
        row = (
            cat.read("t", version=1).count(),
            cat.read("t", version=2).count(),
            cat.read("t").count(),
            len(hist),
            int(hist[0]["version"]),
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return values_df(
        spark,
        [row],
        ["v1_rows", "v2_rows", "current_rows", "n_versions", "newest_version"],
    ).select(*[F.col(c).cast("long") for c in (
        "v1_rows", "v2_rows", "current_rows", "n_versions", "newest_version"
    )])


# The remaining TPC-H query SHAPES, adapted to the driver's trimmed
# schemas (no partsupp table; no l_shipmode/commitdate/receiptdate,
# p_container, c_phone columns — q2/q11 are genuinely inexpressible
# without partsupp and are omitted).  Each keeps the canonical query's
# operator pattern: EXISTS semi-joins (q4), multi-nation θ-joins (q7),
# CASE-ratio market share (q8), profit rollup (q9), left-join histogram
# (q13), promo ratio (q14), scalar-subquery max (q15), NOT-IN + count
# distinct (q16), correlated-avg filter (q17), disjunctive pushdown
# (q19), nested IN with HAVING (q20), strict-latest waiting analysis
# (q21), anti-join over a scalar-avg threshold (q22).


@q(
    "tpch_q4",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def tpch_q4(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    filtered = o.filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01")
    )
    return (
        filtered.join(
            li,
            (filtered["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > filtered["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@q(
    "tpch_q7",
    """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS l_year,
           round(CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 2) AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    WHERE ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
        OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
      AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def tpch_q7(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.filter(F.col("l_shipdate").between("1996-01-01", "1997-12-31"))
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@q(
    "tpch_q8",
    """
    WITH vol AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn ON cn.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = cn.n_regionkey
      WHERE r.r_name = 'EUROPE' AND p.p_type = 'PROMO'
        AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    )
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume) AS DOUBLE), 6) AS mkt_share
    FROM vol GROUP BY o_year ORDER BY o_year
    """,
)
def tpch_q8(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rk")
    )
    vol = (
        li.join(F.broadcast(p.filter(F.col("p_type") == "PROMO")), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(
            o.filter(F.col("o_orderdate").between("1996-01-01", "1997-12-31")),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
            F.col("cn_rk") == F.col("r_regionkey"),
        )
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0)
                )
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@q(
    "tpch_q9",
    """
    -- FIXED-POINT: profit in 1e-4-dollar integer units so the sum is
    -- exact at any SF (a double sum flips the 2-dp rounding at sf0.1)
    SELECT sn.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
           CAST(sum(
                 CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
                   * (100 - CAST(round(l.l_discount * 100, 0) AS BIGINT))
                 - CAST(round(p.p_retailprice * 100, 0) AS BIGINT)
                   * CAST(round(l.l_quantity, 0) AS BIGINT) * 10
               ) AS BIGINT) AS sum_profit_e4
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_type = 'STANDARD'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def tpch_q9(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
    )
    # integer 1e-4-dollar units: exact under any summation order / SF
    profit_e4 = (
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        * (100 - F.round(F.col("l_discount") * 100, 0).cast("long"))
        - F.round(F.col("p_retailprice") * 100, 0).cast("long")
        * F.round(F.col("l_quantity"), 0).cast("long")
        * 10
    )
    return (
        li.join(
            F.broadcast(p.filter(F.col("p_type") == "STANDARD")),
            li["l_partkey"] == p["p_partkey"],
        )
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(profit_e4).cast("long").alias("sum_profit_e4"))
        .orderBy("nation", "o_year")
    )


@q(
    "tpch_q13",
    """
    WITH c_orders AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority != '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(count(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    per_cust = (
        c.join(
            o.filter(F.col("o_orderpriority") != "1-URGENT"),
            c["c_custkey"] == o["o_custkey"],
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@q(
    "tpch_q14",
    """
    SELECT round(CAST(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                       THEN l.l_extendedprice * (1 - l.l_discount)
                                       ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 4)
           AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
      AND l.l_shipdate < TIMESTAMP '1997-04-01'
    """,
)
def tpch_q14(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-04-01")
        )
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue")
        )
    )


@q(
    "tpch_q15",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def tpch_q15(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.join(F.broadcast(mx), revenue["total_revenue"] == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@q(
    "tpch_q16",
    """
    SELECT p.p_brand, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand != 'Brand#2' AND p.p_size IN (5, 10, 15, 20, 25)
      AND NOT EXISTS
          (SELECT 1 FROM supplier s
           WHERE s.s_suppkey = l.l_suppkey AND s.s_acctbal < 0)
    GROUP BY p.p_brand, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_size
    """,
)
def tpch_q16(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    bad = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(bad, li["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(
            F.broadcast(
                p.filter(
                    (F.col("p_brand") != "Brand#2")
                    & F.col("p_size").isin(5, 10, 15, 20, 25)
                )
            ),
            li["l_partkey"] == p["p_partkey"],
        )
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
    )


@q(
    "tpch_q17",
    """
    WITH pa AS (
      SELECT l_partkey, 0.5 * avg(l_quantity) AS half_avg
      FROM lineitem GROUP BY l_partkey
    )
    SELECT round(CAST(sum(l.l_extendedprice) / 7.0 AS DOUBLE), 4) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#15' AND p.p_size < 10
      AND l.l_quantity < pa.half_avg
    """,
)
def tpch_q17(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    pa = li.groupBy(F.col("l_partkey").alias("pa_key")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg")
    )
    return (
        li.join(
            F.broadcast(p.filter((F.col("p_brand") == "Brand#15") & (F.col("p_size") < 10))),
            li["l_partkey"] == p["p_partkey"],
        )
        .join(pa, li["l_partkey"] == F.col("pa_key"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


@q(
    "tpch_q19",
    """
    SELECT round(CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 2)
           AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@q(
    "tpch_q20",
    """
    SELECT s.s_name, CAST(s.s_suppkey AS BIGINT) AS s_suppkey
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_type = 'PROMO'
        AND l.l_shipdate >= TIMESTAMP '1997-01-01'
        AND l.l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l.l_suppkey
      HAVING sum(l.l_quantity) > 300
    )
    ORDER BY s.s_suppkey
    """,
)
def tpch_q20(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    heavy = (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(
            F.broadcast(p.filter(F.col("p_type") == "PROMO")),
            li["l_partkey"] == p["p_partkey"],
        )
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 300)
        .select("l_suppkey")
    )
    return (
        s.join(heavy, s["s_suppkey"] == heavy["l_suppkey"], "left_semi")
        .select("s_name", F.col("s_suppkey").cast("long"))
        .orderBy("s_suppkey")
    )


@q(
    "tpch_q21",
    """
    WITH per_supp AS (
      SELECT l_orderkey, l_suppkey, max(l_shipdate) AS m
      FROM lineitem GROUP BY l_orderkey, l_suppkey
    ),
    per_order AS (
      SELECT l_orderkey, max(m) AS mx,
             count(*) FILTER (m = max_m) AS n_at_max, count(*) AS n_supp
      FROM (SELECT *, max(m) OVER (PARTITION BY l_orderkey) AS max_m FROM per_supp)
      GROUP BY l_orderkey
    ),
    waiting AS (
      SELECT ps.l_suppkey
      FROM per_supp ps JOIN per_order po
        ON ps.l_orderkey = po.l_orderkey AND ps.m = po.mx
      WHERE po.n_at_max = 1 AND po.n_supp >= 2
    )
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM waiting w JOIN supplier s ON s.s_suppkey = w.l_suppkey
    GROUP BY s.s_name ORDER BY numwait DESC, s.s_name LIMIT 20
    """,
)
def tpch_q21(spark, sf_dir):
    from pyspark.sql import Window

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("m")
    )
    w = Window.partitionBy("l_orderkey")
    enriched = per_supp.withColumn("mx", F.max("m").over(w)).withColumn(
        "n_at_max",
        F.sum(F.when(F.col("m") == F.col("mx"), 1).otherwise(0)).over(w),
    ).withColumn("n_supp", F.count(F.lit(1)).over(w))
    waiting = enriched.filter(
        (F.col("m") == F.col("mx"))
        & (F.col("n_at_max") == 1)
        & (F.col("n_supp") >= 2)
    ).select("l_suppkey")
    return (
        waiting.join(F.broadcast(s), waiting["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@q(
    "tpch_q22",
    """
    WITH threshold AS (
      SELECT avg(c_acctbal) AS t FROM customer WHERE c_acctbal > 0.0
    ),
    eligible AS (
      -- every fixture customer has orders, so the canonical "no orders"
      -- anti-join is restated over the urgent subset to stay non-vacuous
      SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
      FROM customer c, threshold
      WHERE c.c_acctbal > threshold.t
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderpriority = '1-URGENT')
    )
    SELECT CAST(c_nationkey AS INT) AS cntrycode,
           CAST(count(*) AS BIGINT) AS numcust,
           round(CAST(sum(c_acctbal) AS DOUBLE), 2) AS totacctbal
    FROM eligible GROUP BY c_nationkey ORDER BY cntrycode
    """,
)
def tpch_q22(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    t = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("t"))
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.crossJoin(F.broadcast(t))
        .filter(F.col("c_acctbal") > F.col("t"))
        .join(urgent, c["c_custkey"] == urgent["o_custkey"], "left_anti")
        .groupBy(F.col("c_nationkey").cast("int").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# q2/q11 need PARTSUPP, which the driver's table set omits — it is DERIVED
# deterministically from part x supplier with dbgen's own supplier-
# assignment formula (4 suppliers per part, ps_suppkey = (p + i*(S/4 +
# (p-1) div S)) mod S + 1) and integer-hash availqty/supplycost, so both
# engines rebuild the identical table from the same parquet inputs at any
# SF.  All arithmetic is integer until the final /100.0, so the derived
# values are bit-equal across engines.
_PARTSUPP_SQL = """
    sc AS (SELECT CAST(count(*) AS BIGINT) AS s FROM supplier),
    partsupp AS (
        SELECT p.p_partkey AS ps_partkey,
               ((p.p_partkey + i.i * (sc.s // 4 + (p.p_partkey - 1) // sc.s))
                   % sc.s) + 1 AS ps_suppkey,
               ((p.p_partkey * 37
                 + (((p.p_partkey + i.i * (sc.s // 4 + (p.p_partkey - 1) // sc.s))
                     % sc.s) + 1) * 11) % 9999) + 1 AS ps_availqty,
               CAST(((p.p_partkey * 13
                 + (((p.p_partkey + i.i * (sc.s // 4 + (p.p_partkey - 1) // sc.s))
                     % sc.s) + 1) * 7) % 90000) + 10000 AS DOUBLE) / 100.0
                   AS ps_supplycost
        FROM part p CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) i
        CROSS JOIN sc
    )"""


def _partsupp(spark, sf_dir):
    """Spark twin of _PARTSUPP_SQL: part x {0..3} with the supplier count
    broadcast in-plan (no driver collect)."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    sc_ = s.agg(F.count(F.lit(1)).cast("long").alias("s"))
    expanded = (
        p.select("p_partkey")
        .withColumn("i", F.explode(F.array(*[F.lit(i) for i in range(4)])))
        .crossJoin(F.broadcast(sc_))
    )
    pk = F.col("p_partkey")
    suppkey = (
        F.pmod(
            pk
            + F.col("i")
            * (F.floor(F.col("s") / 4) + F.floor((pk - 1) / F.col("s"))),
            F.col("s"),
        )
        + 1
    ).cast("long")
    return expanded.select(
        pk.alias("ps_partkey"),
        suppkey.alias("ps_suppkey"),
        (F.pmod(pk * 37 + suppkey * 11, F.lit(9999)) + 1)
        .cast("long")
        .alias("ps_availqty"),
        (
            (F.pmod(pk * 13 + suppkey * 7, F.lit(90000)) + 10000).cast("double")
            / 100.0
        ).alias("ps_supplycost"),
    )


@q(
    "tpch_q2",
    f"""
    WITH {_PARTSUPP_SQL},
    europe AS (
        SELECT s.s_suppkey, s.s_acctbal, s.s_name, n.n_name
        FROM supplier s
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
    ),
    mincost AS (
        SELECT ps.ps_partkey, min(ps.ps_supplycost) AS mc
        FROM partsupp ps JOIN europe e ON e.s_suppkey = ps.ps_suppkey
        GROUP BY ps.ps_partkey
    )
    SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_brand,
           ps.ps_supplycost
    FROM part p
    JOIN partsupp ps ON ps.ps_partkey = p.p_partkey
    JOIN europe e ON e.s_suppkey = ps.ps_suppkey
    JOIN mincost m ON m.ps_partkey = ps.ps_partkey
                  AND ps.ps_supplycost = m.mc
    WHERE p.p_size < 10 AND p.p_type = 'LARGE'
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
    LIMIT 100
    """,
)
def tpch_q2(spark, sf_dir):
    """Min-cost supplier per part in a region (TPC-H Q2 shape, trimmed
    schema).  The correlated-min subquery becomes a broadcast join of the
    per-part min-cost table; supplier/nation/region dims all broadcast —
    the only shuffle is the partsupp groupBy for mincost."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    ps = _partsupp(spark, sf_dir)
    europe = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(
            F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    eps = ps.join(F.broadcast(europe), ps["ps_suppkey"] == europe["s_suppkey"])
    mincost = eps.groupBy(F.col("ps_partkey").alias("mc_key")).agg(
        F.min("ps_supplycost").alias("mc")
    )
    target = p.filter((F.col("p_size") < 10) & (F.col("p_type") == "LARGE"))
    return (
        eps.join(F.broadcast(target), eps["ps_partkey"] == target["p_partkey"])
        .join(
            F.broadcast(mincost),
            (F.col("ps_partkey") == F.col("mc_key"))
            & (F.col("ps_supplycost") == F.col("mc")),
        )
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
            "ps_supplycost",
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@q(
    "tpch_q11",
    f"""
    WITH {_PARTSUPP_SQL},
    germany AS (
        SELECT s.s_suppkey FROM supplier s
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name = 'NATION_7'
    ),
    gps AS (
        SELECT ps.ps_partkey, ps.ps_supplycost * ps.ps_availqty AS v
        FROM partsupp ps JOIN germany g ON g.s_suppkey = ps.ps_suppkey
    ),
    tot AS (SELECT sum(v) AS t FROM gps)
    SELECT ps_partkey, round(sum(v), 2) AS part_value
    FROM gps, tot
    GROUP BY ps_partkey, tot.t
    HAVING round(sum(v), 2) > round(0.001 * tot.t, 2)
    ORDER BY part_value DESC, ps_partkey
    """,
)
def tpch_q11(spark, sf_dir):
    """Inventory-value concentration (TPC-H Q11 shape): one shuffle of
    (partkey, value) partials; the corpus total is a 1-row broadcast; the
    HAVING compares 2-dp-rounded values on both engines so summation-order
    dust cannot flip a boundary part."""
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    ps = _partsupp(spark, sf_dir)
    germany = (
        s.join(
            F.broadcast(n.filter(F.col("n_name") == "NATION_7")),
            s["s_nationkey"] == n["n_nationkey"],
        ).select("s_suppkey")
    )
    gps = ps.join(
        F.broadcast(germany), ps["ps_suppkey"] == germany["s_suppkey"]
    ).select(
        "ps_partkey",
        (F.col("ps_supplycost") * F.col("ps_availqty")).alias("v"),
    )
    tot = gps.agg(F.sum("v").alias("t"))
    return (
        gps.groupBy("ps_partkey")
        .agg(F.round(F.sum("v"), 2).alias("part_value"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("part_value") > F.round(0.001 * F.col("t"), 2))
        .select("ps_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "ps_partkey")
    )


# ======================================================== dedup / similarity


@q(
    "dedup_exact_groups",
    f"""
    SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc, CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM (SELECT doc_id, {normalized_md5_sql('text')} AS fp FROM documents)
    GROUP BY fp HAVING count(*) > 1
    """,
)
def dedup_exact_groups(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return (
        docs.select("doc_id", normalized_md5(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


@q(
    "dedup_keep_first",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents d
    WHERE doc_id = (
        SELECT min(doc_id) FROM documents d2
        WHERE {normalized_md5_sql('d2.text')} = {normalized_md5_sql('d.text')}
    )
    """,
)
def dedup_keep_first(spark, sf_dir):
    kept = dd.dedup_exact(_docs(spark, sf_dir))
    return kept.agg(
        F.count(F.lit(1)).alias("n_kept"), F.sum("n_chars").alias("total_chars")
    )


@q("ngram_jaccard_pairs")
def ngram_jaccard_pairs(spark, sf_dir):
    out = dd.ngram_jaccard_pairs(_docs(spark, sf_dir), shingle_k=3, threshold=0.2)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


# build the real oracle for the n-gram Jaccard family from the shared SQL
# helpers — reused at several thresholds (exact query + minhash verifier)
from geocube_spark.functions.vectors import word_shingles_sql  # noqa: E402


def _ngram_jaccard_sql(threshold: float, select: str | None = None) -> str:
    """DuckDB exact n-gram Jaccard pairs >= threshold; ``select`` overrides
    the final projection (default: the (doc_a, doc_b, jaccard) rows)."""
    final = select or (
        "SELECT doc_a, doc_b, round(inter * 1.0 / (sa.n + sb.n - inter), 6)"
        " AS jaccard"
    )
    return f"""
    WITH sh AS (
        SELECT doc_id, unnest({word_shingles_sql('text', 3)}) AS shingle
        FROM documents
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    {final}
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE inter * 1.0 / (sa.n + sb.n - inter) >= {threshold}
"""


ORACLES["ngram_jaccard_pairs"] = _ngram_jaccard_sql(0.2)


def _count_row(**dfs) -> DataFrame:
    """One row of named row-counts via a tagged union + conditional sums —
    NOT a chain of 1-row cross joins, so the plan audit sees a plain
    aggregate instead of BroadcastNestedLoopJoins."""
    names = list(dfs)
    parts = [
        df.select(*[F.lit(1 if n == name else 0).alias(n) for n in names])
        for name, df in dfs.items()
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.agg(
        *[F.coalesce(F.sum(n), F.lit(0)).cast("long").alias(n) for n in names]
    )


def _pair_flags(exact: DataFrame, approx: DataFrame, keys: list[str]) -> DataFrame:
    """Full-outer join of two pair sets with presence flags (``_e`` exact,
    ``_a`` approx).  Containment counts (|exact|, |approx|, missed, false)
    all come out of ONE aggregate over this join, so each — possibly very
    expensive — side is executed exactly once.  The previous shape (count
    branches + anti-joins unioned by ``_count_row``) embedded the same
    subplan 2-3×, and Spark does not CSE across union branches: at sf0.1
    that re-ran a quadratic LSH join three times (91 s for a query whose
    single-execution cost is ~1 s)."""
    e = exact.select(*keys).withColumn("_e", F.lit(1))
    a = approx.select(*keys).withColumn("_a", F.lit(1))
    return e.join(a, keys, "full_outer")


# --- sketch-family queries are hash-seeded (xxhash64 / seeded hyperplanes),
# so DuckDB cannot recompute their raw outputs.  Instead each query emits a
# DETERMINISTIC INVARIANT against its exact sibling, value-checked by the
# oracle: recall/containment counts that the oracle derives from SQL where
# possible (exact-pair counts, doc counts) and pins as the seeded constant
# where not (the sketch side).  Theorems (pigeonhole completeness,
# verify-step precision) appear as structural zeros.


@q(
    "minhash_lsh_candidates",
    _ngram_jaccard_sql(
        0.5,
        select=(
            "SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,"
            " CAST(count(*) AS BIGINT) AS n_verified_true,"
            " CAST(0 AS BIGINT) AS n_true_missed"
        ),
    ),
)
def minhash_lsh_candidates(spark, sf_dir):
    """Invariant: the LSH candidate set (32 hashes, 8 bands of 4) contains
    EVERY pair with true n-gram Jaccard >= 0.5 (n_true_missed = 0 — banding
    recall on this corpus/seed), and the candidates that survive the exact
    Jaccard verify step are EXACTLY the true pairs (n_verified_true ==
    n_true_pairs — containment + verify precision).  Every checked column
    is re-derived by the oracle from exact SQL at the queried SF, so the
    contract is scale-parametric: no seeded count is pinned and the check
    passes identically at sf0.001/0.01/0.1 (sweep-verified)."""
    docs = _docs(spark, sf_dir)
    # ONE tokenize+shingle kernel for both sides (LSH signatures + exact
    # verify): lazily checkpoint the shared shingle-set frame (guide §1.2)
    sh = dd.shingle_sets(docs).localCheckpoint(eager=False)
    cands = dd.minhash_lsh_candidates(docs, num_hashes=32, bands=8, shingles=sh)
    true_pairs = dd.ngram_jaccard_pairs(
        docs, shingle_k=3, threshold=0.5, shingles=sh
    ).select("doc_a", "doc_b")
    flags = _pair_flags(true_pairs, cands, ["doc_a", "doc_b"])
    return flags.agg(
        F.coalesce(F.sum("_e"), F.lit(0)).cast("long").alias("n_true_pairs"),
        F.coalesce(
            F.sum(F.when(F.col("_e").isNotNull() & F.col("_a").isNotNull(), 1)),
            F.lit(0),
        ).cast("long").alias("n_verified_true"),
        F.coalesce(
            F.sum(F.when(F.col("_e").isNotNull() & F.col("_a").isNull(), 1)), F.lit(0)
        ).cast("long").alias("n_true_missed"),
    )


# Pathological LSH skew: a boilerplate header shared by 5% of the corpus
# puts every hot doc in the SAME band buckets (one mega-bucket ~100× the
# median — the shape AQE's skew-join split exists for, see
# dedup.minhash_lsh_candidates docstring).  Header >> tail, so hot pairs
# are true near-dups and the containment invariant stays checkable.
_SKEW_HEADER = (
    "terms of service apply to this document and all derivative works "
    "the following boilerplate header is identical across every affected "
    "record in the corpus and dominates its shingle set entirely"
)
_SKEW_TEXT_SQL = (
    f"CASE WHEN doc_id % 20 = 0 THEN '{_SKEW_HEADER}' || ' ' || "
    "substr(text, 1, 20) ELSE text END"
)


@q(
    "minhash_lsh_skew",
    f"""
    WITH sh AS (
        SELECT doc_id, unnest({word_shingles_sql(_SKEW_TEXT_SQL, 3)}) AS shingle
        FROM documents
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
           CAST((SELECT count(*) FROM documents WHERE doc_id % 20 = 0)
                AS BIGINT) AS n_hot_docs,
           CAST(1 AS BIGINT) AS recall_ge_90pct
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5
    """,
)
def minhash_lsh_skew(spark, sf_dir):
    """minhash_lsh_candidates on a POWER-LAW corpus: 5% of docs share a
    dominant boilerplate header (J ~ 0.85 pairwise), so one LSH bucket
    per band holds the whole hot cluster (~100× the median bucket).
    Scale-parametric contract: n_true_pairs and n_hot_docs re-derived by
    the exact SQL twin on the identically-transformed corpus at the
    queried SF; recall_ge_90pct floored with margin (banding recall at
    J ~ 0.85 is 1-(1-J⁴)⁸ ~ 99.7% per pair; sweep-verified green at
    sf0.001/0.01/0.1 — containment is NOT claimed, because pairs at J
    just over the 0.5 threshold can escape all 8 bands).  The banded
    equi-join shuffles by (band, signature), so the mega-bucket is one
    hot key: AQE skew-join splitting keeps the reduce side balanced, and
    tests/test_dedup_components.py::TestLshSkew bounds the wall-time
    ratio vs the uniform corpus at equal size."""
    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 20 == 0,
            F.concat(
                F.lit(_SKEW_HEADER), F.lit(" "), F.substring("text", 1, 20)
            ),
        ).otherwise(F.col("text")),
    )
    sh = dd.shingle_sets(docs).localCheckpoint(eager=False)
    cands = dd.minhash_lsh_candidates(docs, num_hashes=32, bands=8, shingles=sh)
    true_pairs = dd.ngram_jaccard_pairs(
        docs, shingle_k=3, threshold=0.5, shingles=sh
    ).select("doc_a", "doc_b")
    flags = _pair_flags(true_pairs, cands, ["doc_a", "doc_b"])
    hot = docs.filter(F.col("doc_id") % 20 == 0).select(
        F.lit(None).cast("int").alias("_e"),
        F.lit(None).cast("int").alias("_a"),
        F.lit(1).alias("_h"),
    )
    return flags.select("_e", "_a").withColumn("_h", F.lit(0)).unionByName(
        hot
    ).agg(
        F.coalesce(F.sum("_e"), F.lit(0)).cast("long").alias("n_true_pairs"),
        F.coalesce(F.sum("_h"), F.lit(0)).cast("long").alias("n_hot_docs"),
        (
            F.coalesce(
                F.sum(
                    F.when(F.col("_e").isNotNull() & F.col("_a").isNotNull(), 1)
                ),
                F.lit(0),
            )
            * 10
            >= F.coalesce(F.sum("_e"), F.lit(0)) * 9
        ).cast("long").alias("recall_ge_90pct"),
    )


def _components_oracle() -> str:
    """Ground-truth clusters via DuckDB's recursive CTE over the SAME exact
    jaccard>=0.5 pair graph the Spark side feeds to the large-star/small-star
    algorithm — transitive closure checked value-for-value."""
    jacc = _ngram_jaccard_sql(0.5, select="SELECT doc_a, doc_b")
    return f"""
    WITH RECURSIVE p AS ({jacc}),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p),
    reach(u, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
        UNION
        SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
    ),
    lab AS (SELECT u AS node, min(lbl) AS component FROM reach GROUP BY u)
    SELECT node, component,
           CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS component_size
    FROM lab ORDER BY node
    """


@q("dedup_components", _components_oracle())
def dedup_components(spark, sf_dir):
    """Near-dup pair graph -> transitive duplicate clusters (the step between
    pair detection and 'keep one per cluster').  Alternating large-star /
    small-star rounds, O(log n) convergence; see
    dedup.connected_components."""
    pairs = dd.ngram_jaccard_pairs(_docs(spark, sf_dir), shingle_k=3, threshold=0.5)
    return dd.connected_components(pairs).orderBy("node")


# Canonical-document selection: the step AFTER clustering — keep the
# highest-quality member of every duplicate cluster (what a curation
# pipeline actually ships downstream).  Plan: the same O(log n) CC rounds,
# then ONE max-struct aggregation per cluster (map-side partial combine,
# no per-cluster sort).  Argmax is decided on the 6-dp-ROUNDED quality in
# BOTH engines so a last-ulp scoring difference cannot flip the winner;
# ties break to the lowest doc_id.  Singletons keep themselves
# (component = own id via left join + coalesce).
def _canonical_oracle() -> str:
    jacc = _ngram_jaccard_sql(0.5, select="SELECT doc_a, doc_b")
    return f"""
    WITH RECURSIVE p AS ({jacc}),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p),
    reach(u, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
        UNION
        SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
    ),
    lab AS (SELECT u AS node, min(lbl) AS component FROM reach GROUP BY u),
    scored AS (
        SELECT coalesce(l.component, d.doc_id) AS component,
               d.doc_id,
               round({quality_score_sql('d.text')}, 6) AS q
        FROM documents d LEFT JOIN lab l ON d.doc_id = l.node
    ),
    ranked AS (
        SELECT component, doc_id, q,
               row_number() OVER (
                   PARTITION BY component ORDER BY q DESC, doc_id
               ) AS rk,
               count(*) OVER (PARTITION BY component) AS n
        FROM scored
    )
    SELECT component, doc_id AS kept_doc_id, q AS kept_quality,
           CAST(n AS BIGINT) AS n_members,
           CAST(n - 1 AS BIGINT) AS n_dropped
    FROM ranked WHERE rk = 1 ORDER BY component
    """


@q("dedup_canonical", _canonical_oracle())
def dedup_canonical(spark, sf_dir):
    from geocube_spark.functions.text import quality_score

    docs = _docs(spark, sf_dir)
    pairs = dd.ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.5)
    comp = dd.connected_components(pairs).select("node", "component")
    scored = (
        docs.join(comp, docs["doc_id"] == comp["node"], "left")
        .select(
            F.coalesce("component", "doc_id").alias("component"),
            "doc_id",
            F.round(quality_score(F.col("text")), 6).alias("q"),
        )
    )
    agg = scored.groupBy("component").agg(
        F.max(
            F.struct(F.col("q"), (-F.col("doc_id")).alias("nid"))
        ).alias("m"),
        F.count("*").alias("n"),
    )
    return (
        agg.select(
            "component",
            (-F.col("m.nid")).alias("kept_doc_id"),
            F.col("m.q").alias("kept_quality"),
            F.col("n").cast("long").alias("n_members"),
            (F.col("n") - 1).cast("long").alias("n_dropped"),
        )
        .orderBy("component")
    )


# Leakage-safe train/val/test split: the unit of assignment is the
# near-dup CLUSTER (component), never the document — two 0.9-Jaccard
# copies of a page can't straddle train and test (the eval-inflation
# failure Lee 2022 measured).  Shard = portable md5->int bucket of the
# component id (byte-equal in both engines); oracle replays the
# recursive-CTE transitive closure + the same hash.
def _leakage_split_oracle() -> str:
    from geocube_spark.operators.pipeline import leakage_safe_split_sql

    jacc = _ngram_jaccard_sql(0.5, select="SELECT doc_a, doc_b")
    assign = leakage_safe_split_sql("SELECT node, component FROM lab")
    return f"""
    WITH RECURSIVE p AS ({jacc}),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM p UNION SELECT doc_b, doc_a FROM p),
    reach(u, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
        UNION
        SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
    ),
    lab AS (SELECT u AS node, min(lbl) AS component FROM reach GROUP BY u),
    assigned AS ({assign})
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT component) AS BIGINT) AS n_components
    FROM assigned GROUP BY split
    """


@q("leakage_safe_split", _leakage_split_oracle())
def leakage_safe_split_q(spark, sf_dir):
    from geocube_spark.operators.pipeline import leakage_safe_split

    docs = _docs(spark, sf_dir)
    pairs = dd.ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.5)
    assigned = leakage_safe_split(docs, pairs)
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("component").cast("long").alias("n_components"),
    )


# Skew-hardened CC: a deterministic POWER-LAW pair graph (two hub docs
# receive ~1/3 and ~2/3 of all edges — the crawl-boilerplate shape that
# makes one groupBy/join key hot) run through the SALTED large-star/
# small-star path (salt_buckets=8: two-level min agg + salted edges⋈mins
# join, dedup.connected_components).  Labels are provably independent of
# the bucket count; the oracle derives them in closed form from the edge
# rule: doc i (>0) attaches to 0 if i≡0 (mod 3), to 1 if i≡1, to i-2
# (≡0-attached) if i≡2 — so component(i) = 1 iff i ≡ 1 (mod 3), else 0.
@q(
    "dedup_components_skew",
    """
    WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
    lab AS (
        SELECT i AS node,
               CASE WHEN i % 3 = 1 THEN 1 ELSE 0 END AS component
        FROM ids
    )
    SELECT node, component,
           CAST(count(*) OVER (PARTITION BY component) AS BIGINT)
               AS component_size
    FROM lab ORDER BY node
    """,
)
def dedup_components_skew(spark, sf_dir):
    docs = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("i"))
    edges = docs.filter(F.col("i") > 0).select(
        F.col("i").alias("doc_a"),
        F.when(F.col("i") % 3 == 0, F.lit(0))
        .when(F.col("i") % 3 == 1, F.lit(1))
        .otherwise(F.col("i") - 2)
        .cast("long")
        .alias("doc_b"),
    )
    return dd.connected_components(edges, salt_buckets=8).orderBy("node")


@q("minhash_near_duplicates", _ngram_jaccard_sql(0.5))
def minhash_near_duplicates(spark, sf_dir):
    """LSH candidates + exact-Jaccard verification >= 0.5.  Because banding
    recall is total on this corpus (see minhash_lsh_candidates) and the
    verify step computes TRUE Jaccard, the output must equal the exact
    quadratic join — so the oracle is the full exact SQL, value-for-value."""
    out = dd.minhash_near_duplicates(_docs(spark, sf_dir), threshold=0.5)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def _sf_fixture(prefix: str, sf_dir: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/")) or "default"
    return os.path.join(FIXTURE_DIR, f"{prefix}_{tag}")


def ensure_minhash_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the frozen-corpus LSH bucket index once per SF
    (dedup.build_minhash_index over the doc_id % 5 != 0 'already ingested'
    majority), parquet partitioned by band, keyed on the source documents'
    bytes."""

    def build(out):
        corpus = _docs(spark, sf_dir).filter(F.col("doc_id") % 5 != 0)
        dd.build_minhash_index(corpus).write.partitionBy("band").parquet(out)

    return cached(
        _sf_fixture("minhash_index", sf_dir),
        [os.path.join(sf_dir, "documents.parquet")],
        build,
    )


@q(
    "incremental_dedup",
    _ngram_jaccard_sql(
        0.5,
        select=(
            "SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,"
            " CAST(count(*) AS BIGINT) AS n_verified_true,"
            " CAST(0 AS BIGINT) AS n_true_missed"
        ),
    ).replace(
        "WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5",
        "WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5"
        " AND (doc_a % 5 = 0 OR doc_b % 5 = 0)",
    ),
)
def incremental_dedup(spark, sf_dir):
    """INCREMENTAL dedup: a new ingest batch (doc_id % 5 = 0, 20% of the
    corpus) deduped against the PERSISTED LSH bucket index of the frozen
    majority plus itself — corpus text is never re-shingled; only candidate
    ids are fetched back (dedup.incremental_dedup).  Invariant mirrors
    minhash_lsh_candidates, restricted to pairs with >= 1 delta endpoint:
    the verified output equals the exact quadratic truth (containment +
    verify precision), re-derived by the oracle from exact SQL at the
    queried SF — scale-parametric, no seeded count pinned."""
    docs = _docs(spark, sf_dir)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    idx = spark.read.parquet(ensure_minhash_index(spark, sf_dir))
    # the delta signatures, the candidate verify and the exact twin all
    # read ONE lazily-checkpointed shingle frame (delta ⊂ docs)
    sh = dd.shingle_sets(docs).localCheckpoint(eager=False)
    verified = dd.incremental_dedup(
        idx,
        delta,
        docs,
        threshold=0.5,
        all_shingles=sh,
        # the delta is a predicate slice of docs, so its shingle frame is
        # the same filter on the shared checkpoint — no semi-join needed
        delta_shingles=sh.filter(F.col("doc_id") % 5 == 0),
    ).select("doc_a", "doc_b")
    true_pairs = (
        dd.ngram_jaccard_pairs(docs, shingle_k=3, threshold=0.5, shingles=sh)
        .filter((F.col("doc_a") % 5 == 0) | (F.col("doc_b") % 5 == 0))
        .select("doc_a", "doc_b")
    )
    flags = _pair_flags(true_pairs, verified, ["doc_a", "doc_b"])
    return flags.agg(
        F.coalesce(F.sum("_e"), F.lit(0)).cast("long").alias("n_true_pairs"),
        F.coalesce(
            F.sum(F.when(F.col("_e").isNotNull() & F.col("_a").isNotNull(), 1)),
            F.lit(0),
        ).cast("long").alias("n_verified_true"),
        F.coalesce(
            F.sum(F.when(F.col("_e").isNotNull() & F.col("_a").isNull(), 1)), F.lit(0)
        ).cast("long").alias("n_true_missed"),
    )


@q(
    "simhash_near_duplicates",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(1 AS BIGINT) AS pairs_found,
           CAST(0 AS BIGINT) AS n_missed_vs_exact,
           CAST(0 AS BIGINT) AS n_false_vs_exact
    FROM documents
    """,
)
def simhash_near_duplicates(spark, sf_dir):
    """Rotated-prefix SimHash LSH vs the exact all-pairs Hamming join, as a
    containment invariant.  n_missed_vs_exact = 0 is a THEOREM (4 disjoint
    16-bit blocks + pigeonhole cover every pair with Hamming <= 3), and
    n_false_vs_exact = 0 is the verify step — so the two independent
    implementations must produce identical pair sets.  pairs_found = 1
    guards against the degenerate both-sides-empty pass (the corpus
    contains exact-duplicate documents at every SF, so Hamming-0 pairs
    always exist).  All checked columns are scale-parametric — no seeded
    pair count is pinned; sweep-verified at sf0.001/0.01/0.1."""
    docs = _docs(spark, sf_dir)
    # both paths consume the SAME fingerprints: hash the corpus once and
    # checkpoint (lazily — the first consumer materializes it), instead of
    # tokenizing + simhashing the text twice (one corpus scan saved)
    fp = dd.simhash_fingerprints(docs).localCheckpoint(eager=False)
    lsh = dd.simhash_near_duplicates(
        docs, max_hamming=3, fingerprints=fp
    ).select("doc_a", "doc_b")
    exact = dd.simhash_all_pairs(docs, max_hamming=3, fingerprints=fp).select(
        "doc_a", "doc_b"
    )
    flags = _pair_flags(exact, lsh, ["doc_a", "doc_b"]).select(
        F.lit(0).alias("n_docs"),
        F.coalesce("_a", F.lit(0)).alias("n_lsh"),
        F.when(F.col("_e").isNotNull() & F.col("_a").isNull(), 1).otherwise(0).alias(
            "n_missed_vs_exact"
        ),
        F.when(F.col("_a").isNotNull() & F.col("_e").isNull(), 1).otherwise(0).alias(
            "n_false_vs_exact"
        ),
    )
    doc_rows = docs.select(
        F.lit(1).alias("n_docs"),
        F.lit(0).alias("n_lsh"),
        F.lit(0).alias("n_missed_vs_exact"),
        F.lit(0).alias("n_false_vs_exact"),
    )
    agg = doc_rows.unionByName(flags).agg(
        *[
            F.coalesce(F.sum(n), F.lit(0)).cast("long").alias(n)
            for n in ("n_docs", "n_lsh", "n_missed_vs_exact", "n_false_vs_exact")
        ]
    )
    return agg.select(
        "n_docs",
        (F.col("n_lsh") > 0).cast("long").alias("pairs_found"),
        "n_missed_vs_exact",
        "n_false_vs_exact",
    )


@q(
    "embedding_topk",
    f"""
    WITH e AS ({_EMB_SQL}),
    q0 AS (SELECT embedding AS qv FROM e WHERE vec_id = 0)
    SELECT e.vec_id, round({cosine_sql('e.embedding', 'q0.qv')}, 6) AS score
    FROM e, q0
    ORDER BY {cosine_sql('e.embedding', 'q0.qv')} DESC, e.vec_id
    LIMIT 20
    """,
)
def embedding_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    scored = emb.crossJoin(F.broadcast(qv)).select(
        "vec_id", cosine_expr(F.col("embedding"), F.col("qv")).alias("raw_score")
    )
    return (
        scored.orderBy(F.col("raw_score").desc(), F.col("vec_id"))
        .limit(20)
        .select("vec_id", F.round("raw_score", 6).alias("score"))
    )


# Greedy k-center diversity sampling (Gonzalez 1985 2-approximation): k
# maximally-spread exemplars for labeling/coreset selection.  Each round is
# a TakeOrdered(1) reduction + a vectorized least() fold — no corpus
# shuffle; the oracle unrolls the identical greedy recursion as k CTE
# stages, so selections and distances match exactly.
from geocube_spark.operators.diversity import (  # noqa: E402
    kcenter_sample,
    kcenter_sample_sql,
)


@q("kcenter_diversity_sample", kcenter_sample_sql(_EMB_SQL, k=8))
def kcenter_diversity_sample(spark, sf_dir):
    return kcenter_sample(spark, _emb(spark, sf_dir), k=8)


# SQ8 scalar-quantized ANN (LLM-pipeline op): 8-bit per-dimension codes
# prefilter 4x over-retrieved candidates, exact cosine rescores only those.
# At deployment the 1-byte code column is what's persisted/scanned (4x
# fewer bytes than float32); the oracle is the EXACT brute-force top-k —
# the claim under test is that the quantized prefilter + rescore recovers
# it identically.
@q(
    "embedding_sq8_topk",
    f"""
    WITH e AS ({_EMB_SQL}),
    q0 AS (SELECT embedding AS qv FROM e WHERE vec_id = 0)
    SELECT e.vec_id, round({cosine_sql('e.embedding', 'q0.qv')}, 6) AS score
    FROM e, q0
    ORDER BY {cosine_sql('e.embedding', 'q0.qv')} DESC, e.vec_id
    LIMIT 15
    """,
)
def embedding_sq8_topk(spark, sf_dir):
    from geocube_spark.operators.similarity import sq8_topk

    emb = _emb(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    out = sq8_topk(emb, list(qv), k=15, expand=4)
    return out.select("vec_id", F.round("score", 6).alias("score"))


# Product-quantized ANN (Jégou 2011): the 64-dim float vector becomes 32
# one-byte subspace codes (8x smaller than float32); the prefilter scan
# reads ONLY the codes and scores them through an m*ks ADC lookup table
# folded JVM-side — no Python, no float vector read.  Exact cosine
# rescores just the expand*k broadcast candidates.  Oracle = exact
# brute-force top-k: the claim is that ADC prefilter + rescore recovers
# it identically (measured margin: the worst true-top-15 prefilter rank
# is 25 across sf0.001/0.01/0.1 vs the 120-candidate budget).
@q(
    "embedding_pq_topk",
    f"""
    WITH e AS ({_EMB_SQL}),
    q0 AS (SELECT embedding AS qv FROM e WHERE vec_id = 0)
    SELECT e.vec_id, round({cosine_sql('e.embedding', 'q0.qv')}, 6) AS score
    FROM e, q0
    ORDER BY {cosine_sql('e.embedding', 'q0.qv')} DESC, e.vec_id
    LIMIT 15
    """,
)
def embedding_pq_topk(spark, sf_dir):
    from geocube_spark.operators.similarity import pq_topk

    emb = _emb(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    out = pq_topk(emb, list(qv), k=15, m=32, ks=64, expand=8)
    return out.select("vec_id", F.round("score", 6).alias("score"))


# Matryoshka (truncated-dimension) prefilter quality: rank by cosine
# over only the first d coordinates, measure recall of the exact top-15
# within the top-60 prefix candidates, for d = 16/32/48.  On MRL-trained
# embeddings the prefix ranking is near-exact; on this random corpus the
# measured recall curve IS the result — both engines derive both
# rankings, so the oracle is exact (no tuned equality claim).
@q(
    "embedding_matryoshka_recall",
    f"""
    WITH e AS ({_EMB_SQL}),
    q0 AS (SELECT embedding AS qv FROM e WHERE vec_id = 0),
    dims AS (SELECT CAST(d.range AS INT) AS prefix_dim FROM (VALUES (16), (32), (48)) AS v(x), LATERAL (SELECT v.x AS range) d),
    exact AS (
        SELECT e.vec_id, row_number() OVER (
            ORDER BY {cosine_sql('e.embedding', 'q0.qv')} DESC, e.vec_id
        ) AS rk
        FROM e, q0
    ),
    pre AS (
        SELECT dims.prefix_dim, e.vec_id, row_number() OVER (
            PARTITION BY dims.prefix_dim
            ORDER BY {cosine_sql('list_slice(e.embedding, 1, dims.prefix_dim)',
                                  'list_slice(q0.qv, 1, dims.prefix_dim)')} DESC,
                     e.vec_id
        ) AS prk
        FROM e, q0, dims
    )
    SELECT p.prefix_dim,
           CAST(60 AS BIGINT) AS n_candidates,
           round(CAST(count(x.vec_id) AS DOUBLE) / 15, 6) AS recall_at_15
    FROM pre p
    LEFT JOIN (SELECT vec_id FROM exact WHERE rk <= 15) x
      ON p.vec_id = x.vec_id AND p.prk <= 60
    WHERE p.prk <= 60 OR FALSE
    GROUP BY p.prefix_dim
    ORDER BY p.prefix_dim
    """,
)
def embedding_matryoshka_recall(spark, sf_dir):
    from functools import reduce

    from geocube_spark.operators.similarity import (
        brute_force_topk,
        matryoshka_candidates,
    )

    emb = _emb(spark, sf_dir)
    qv = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    exact = brute_force_topk(emb, qv, k=15).select(
        "vec_id", F.lit(1).alias("is_exact")
    )
    tagged = [
        matryoshka_candidates(emb, qv, 60, d)
        .select("vec_id")
        .withColumn("prefix_dim", F.lit(d))
        for d in (16, 32, 48)
    ]
    # one distributed plan: union the tagged candidate sets, broadcast-join
    # the exact top-k, aggregate recall per prefix length (no driver loop)
    cands = reduce(lambda a, b: a.unionByName(b), tagged)
    return (
        cands.join(F.broadcast(exact), "vec_id", "left")
        .groupBy("prefix_dim")
        .agg(
            F.count("*").cast("long").alias("n_candidates"),
            F.round(F.sum(F.coalesce("is_exact", F.lit(0))) / 15.0, 6).alias(
                "recall_at_15"
            ),
        )
        .orderBy("prefix_dim")
    )


# All-pairs exact near-dup: distributed block GEMM (no driver collect, no
# corpus broadcast).  Membership is decided on the 6-dp-ROUNDED cosine in
# BOTH engines (the GEMM sieves with 1e-9 slack), so numpy-blocked vs
# sequential float summation cannot flip a borderline pair.
@q(
    "embedding_near_dup_exact",
    f"""
    WITH e AS ({_EMB_SQL})
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({cosine_sql('a.embedding', 'b.embedding')}, 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round({cosine_sql('a.embedding', 'b.embedding')}, 6) >= 0.4
    """,
)
def embedding_near_dup_exact(spark, sf_dir):
    out = sim.embedding_all_pairs_exact(_emb(spark, sf_dir), threshold=0.4)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine")).filter(
        F.col("cosine") >= 0.4
    )


# Hard-negative mining (ANCE-style): per anchor, top-k most-similar
# DIFFERENT-label vectors — broadcast anchor batch, one corpus pass,
# windowed rank on the 6-dp-rounded cosine.  Exact SQL twin.
@q(
    "hard_negative_mining",
    f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
                        AS embedding, label FROM embeddings),
    a AS (SELECT vec_id AS anchor_id, embedding AS av, label AS al
          FROM e WHERE vec_id < 8),
    scored AS (
      SELECT a.anchor_id, e.vec_id AS negative_id,
             round({cosine_sql('e.embedding', 'a.av')}, 6) AS score
      FROM e JOIN a ON e.label != a.al
    ),
    ranked AS (
      SELECT anchor_id, negative_id, score,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY score DESC, negative_id) AS rank
      FROM scored
    )
    SELECT anchor_id, negative_id, score, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def hard_negative_mining(spark, sf_dir):
    return sim.hard_negatives(_emb(spark, sf_dir), F.col("vec_id") < 8, k=5)


# SemDeDup (Abbas et al. 2023): within-cluster cosine dedup, keep-lowest-id.
# Cluster input = the fixture label column (at corpus scale: the IVF coarse
# quantizer); fixture vectors are near-orthogonal so the threshold is set
# low (0.3) to exercise the flagging path — real corpora run 0.95+.
@q(
    "semantic_dedup",
    f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
                        AS embedding, CAST(label AS BIGINT) AS cl FROM embeddings),
    dups AS (
      SELECT DISTINCT b.vec_id
      FROM e a JOIN e b ON a.cl = b.cl AND a.vec_id < b.vec_id
      WHERE round({cosine_sql('a.embedding', 'b.embedding')}, 6) >= 0.3
    )
    SELECT e.vec_id, e.cl AS cluster, (d.vec_id IS NOT NULL) AS is_dup
    FROM e LEFT JOIN dups d USING (vec_id)
    """,
)
def semantic_dedup_q(spark, sf_dir):
    return sim.semantic_dedup(_emb(spark, sf_dir), cluster_col="label", threshold=0.3)


@q(
    "embedding_lsh_topk",
    """
    SELECT CAST(20 AS BIGINT) AS n_results,
           CAST(1 AS BIGINT) AS recall_ge_half,
           CAST(0 AS BIGINT) AS n_score_mismatch
    FROM (SELECT 1)
    """,
)
def embedding_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH ANN top-20 (bits=4, multiprobe Hamming <= 2) measured
    against the exact top-20.  Scale-parametric contract: n_results = 20
    (multiprobe covers 11/16 buckets ~ 69% of a uniform corpus, and every
    SF has >= 500 vectors >> k, so the probe set always fills k);
    recall_ge_half — expected recall ~ 0.69 on uniform-random embeddings
    (the LSH worst case: max pair cosine < 0.6), measured 16/20 at
    sf0.001/0.01/0.1, floored at 1/2 with margin; n_score_mismatch = 0
    proves every returned score is the TRUE cosine (semi-join on (vec_id,
    rounded score) against the corpus-wide exact scores).  No seeded
    recall constant is pinned — sweep-verified at all three SFs."""
    emb = _emb(spark, sf_dir)
    qrow = emb.filter(F.col("vec_id") == 0).first()
    qv = list(qrow["embedding"])
    lsh = sim.lsh_topk(emb, qv, k=20, bits=4, multiprobe_hamming=2).select(
        "vec_id", F.round("score", 6).alias("score")
    )
    exact_all = sim.brute_force_topk(emb, qv, k=20)
    # scores re-derived over the whole corpus (not just the top-k) so a
    # wrong score on a non-top hit would still be caught; all three checks
    # hang off ONE pass over the lsh result (left-join flags), so the ANN
    # probe and the exact ranking each execute once
    corpus_scores = sim.with_broadcast_arrays(emb, _qv=qv).select(
        "vec_id",
        F.round(cosine_expr(F.col("embedding"), F.col("_qv")), 6).alias("score"),
    )
    flagged = lsh.join(
        corpus_scores.withColumn("_m", F.lit(1)), ["vec_id", "score"], "left"
    ).join(exact_all.select("vec_id").withColumn("_h", F.lit(1)), ["vec_id"], "left")
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_results"),
        (F.coalesce(F.sum("_h"), F.lit(0)) * 2 >= F.count(F.lit(1)))
        .cast("long")
        .alias("recall_ge_half"),
        F.coalesce(F.sum(F.when(F.col("_m").isNull(), 1)), F.lit(0))
        .cast("long")
        .alias("n_score_mismatch"),
    )


@q(
    "embedding_near_dup_lsh",
    f"""
    WITH e AS ({_EMB_SQL})
    SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
           CAST(1 AS BIGINT) AS recall_ge_70pct,
           CAST(0 AS BIGINT) AS n_false_pairs
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round({cosine_sql('a.embedding', 'b.embedding')}, 6) >= 0.4
    """,
)
def embedding_near_dup_lsh(spark, sf_dir):
    """Multi-probe LSH near-dup pairs vs the exact all-pairs GEMM.
    Scale-parametric contract: n_true_pairs is re-derived by the oracle
    from the exact SQL join at the queried SF; recall_ge_70pct — bits=4
    with probe Hamming 1 per side covers bucket distance <= 2, measured
    recall 51/66, 53/59, 804/920 at sf0.001/0.01/0.1 (>= 0.77 everywhere),
    floored at 0.70 with margin; n_false_pairs = 0 is the verify-step
    theorem (every emitted pair is cosine-verified).  No seeded pair count
    is pinned — sweep-verified at all three SFs."""
    emb = _emb(spark, sf_dir)
    lsh = (
        sim.embedding_near_duplicates(emb, threshold=0.4, bits=4, multiprobe=1)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .filter(F.col("cosine") >= 0.4)
    )
    exact = (
        sim.embedding_all_pairs_exact(emb, threshold=0.4)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .filter(F.col("cosine") >= 0.4)
    )
    flags = _pair_flags(exact, lsh, ["id_a", "id_b"])
    return flags.agg(
        F.coalesce(F.sum("_e"), F.lit(0)).cast("long").alias("n_true_pairs"),
        (
            F.coalesce(F.sum("_a"), F.lit(0)) * 10
            >= F.coalesce(F.sum("_e"), F.lit(0)) * 7
        )
        .cast("long")
        .alias("recall_ge_70pct"),
        F.coalesce(
            F.sum(F.when(F.col("_a").isNotNull() & F.col("_e").isNull(), 1)), F.lit(0)
        ).cast("long").alias("n_false_pairs"),
    )


@q(
    "embedding_ivf_topk",
    """
    SELECT CAST(20 AS BIGINT) AS n_results,
           CAST(1 AS BIGINT) AS recall_ge_half,
           CAST(0 AS BIGINT) AS n_score_mismatch
    FROM (SELECT 1)
    """,
)
def embedding_ivf_topk(spark, sf_dir):
    """IVF ANN top-20 probing 3 of 8 k-means clusters vs the exact top-20.
    Scale-parametric contract: n_results = 20 (3 probed cells hold ~3/8 of
    the corpus, always >> k at every SF); recall_ge_half — the true top-20
    concentrate in the query's nearest cells, measured recall 16/15/13 of
    20 at sf0.001/0.01/0.1, floored at 1/2 with margin; n_score_mismatch
    = 0 proves returned scores are true cosines (anti-join vs corpus-wide
    scores).  No seeded recall constant is pinned — sweep-verified at all
    three SFs."""
    emb = _emb(spark, sf_dir)
    qrow = emb.filter(F.col("vec_id") == 0).first()
    qv = list(qrow["embedding"])
    ivf = sim.ivf_topk(emb, qv, k=20, n_clusters=8, nprobe=3).select(
        "vec_id", F.round("score", 6).alias("score")
    )
    exact_all = sim.brute_force_topk(emb, qv, k=20)
    corpus_scores = sim.with_broadcast_arrays(emb, _qv=qv).select(
        "vec_id",
        F.round(cosine_expr(F.col("embedding"), F.col("_qv")), 6).alias("score"),
    )
    flagged = ivf.join(
        corpus_scores.withColumn("_m", F.lit(1)), ["vec_id", "score"], "left"
    ).join(exact_all.select("vec_id").withColumn("_h", F.lit(1)), ["vec_id"], "left")
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_results"),
        (F.coalesce(F.sum("_h"), F.lit(0)) * 2 >= F.count(F.lit(1)))
        .cast("long")
        .alias("recall_ge_half"),
        F.coalesce(F.sum(F.when(F.col("_m").isNull(), 1)), F.lit(0))
        .cast("long")
        .alias("n_score_mismatch"),
    )


@q(
    "embedding_ivfpq_topk",
    """
    SELECT CAST(20 AS BIGINT) AS n_results,
           CAST(1 AS BIGINT) AS recall_ge_half,
           CAST(0 AS BIGINT) AS n_score_mismatch
    FROM (SELECT 1)
    """,
)
def embedding_ivfpq_topk(spark, sf_dir):
    """IVF-PQ (the composed production ANN path): coarse pruning cuts the
    rows scanned (3 of 8 cells), PQ codes cut the bytes per scanned row
    (32 one-byte codes vs the 256-byte float vector), exact rescore of
    the 160 broadcast candidates makes every returned score a true
    cosine.  Same scale-parametric contract as embedding_ivf_topk:
    n_results = 20; recall vs the exact top-20 floored at 1/2 (measured
    16/15/13 of 20 at sf0.001/0.01/0.1 — IDENTICAL to plain IVF, i.e.
    the PQ prefilter at expand=8 loses nothing on top of the cluster
    pruning); n_score_mismatch = 0 via anti-join against corpus-wide
    scores."""
    emb = _emb(spark, sf_dir)
    qv = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    out = sim.ivfpq_topk(
        emb, qv, k=20, n_clusters=8, nprobe=3, m=32, ks=64, expand=8
    ).select("vec_id", F.round("score", 6).alias("score"))
    exact_all = sim.brute_force_topk(emb, qv, k=20)
    corpus_scores = sim.with_broadcast_arrays(emb, _qv=qv).select(
        "vec_id",
        F.round(cosine_expr(F.col("embedding"), F.col("_qv")), 6).alias("score"),
    )
    flagged = out.join(
        corpus_scores.withColumn("_m", F.lit(1)), ["vec_id", "score"], "left"
    ).join(
        exact_all.select("vec_id").withColumn("_h", F.lit(1)), ["vec_id"], "left"
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_results"),
        (F.coalesce(F.sum("_h"), F.lit(0)) * 2 >= F.count(F.lit(1)))
        .cast("long")
        .alias("recall_ge_half"),
        F.coalesce(F.sum(F.when(F.col("_m").isNull(), 1)), F.lit(0))
        .cast("long")
        .alias("n_score_mismatch"),
    )


def _scan_partition_pruned(plan: str, probe) -> int:
    """1 iff the executed plan's FileSourceScan carries PartitionFilters on
    ``cluster`` whose literal set contains EVERY probed id.  Parses the
    filter body (attribute ids like ``cluster#125`` stripped first) instead
    of bare substring matching — ``'1' in line`` would false-pass via the
    digits of an attribute id even when partition 1 is not pruned to."""
    import re

    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    if not pf or "cluster" not in pf[0]:
        return 0
    m = re.search(r"PartitionFilters:\s*\[(.*?)\]", pf[0])
    if not m or not m.group(1).strip():
        return 0
    body = re.sub(r"#\d+", "", m.group(1))  # cluster#125 -> cluster
    lits = {int(x) for x in re.findall(r"(?<![\w.])(\d+)(?![\w.])", body)}
    return int(bool(lits) and all(int(c) in lits for c in probe))


def ensure_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the persisted IVF layout once per SF: cluster id as a
    partition column + centroid sidecar (similarity.ivf_build_index).
    Keyed on the source embeddings' bytes, so a regenerated SF table
    invalidates the committed index and it can never silently diverge
    from the on-the-fly IVF twin."""

    def build(out):
        sim.ivf_build_index(_emb(spark, sf_dir), out, n_clusters=8)

    return cached(
        _sf_fixture("ivf_index", sf_dir),
        [os.path.join(sf_dir, "embeddings.parquet")],
        build,
    )


@q(
    "embedding_ivf_indexed",
    """
    SELECT CAST(20 AS BIGINT) AS n_results,
           CAST(1 AS BIGINT) AS recall_ge_half,
           CAST(1 AS BIGINT) AS partition_pruned
    FROM (SELECT 1)
    """,
)
def embedding_ivf_indexed(spark, sf_dir):
    """IVF ANN over the PERSISTED index (cluster = partition column, probe =
    partition-pruned scan of 3 of 8 directories).  Same frozen quantizer as
    embedding_ivf_topk, so the result set — and recall vs the exact ranking
    (measured 16/15/13 of 20 at sf0.001/0.01/0.1, floored at 1/2 with
    margin; scale-parametric, no seeded constant pinned) — must be
    identical to the on-the-fly variant.

    ``partition_pruned`` is derived from the EXECUTED PLAN of the probe (not
    from re-counting probed rows, which is true by construction): the scan's
    ``PartitionFilters`` must exist and name every probed cluster id, i.e.
    directory pruning happens before IO.  Driver-side string inspection of
    plan metadata — no data is collected."""
    idx = ensure_ivf_index(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    qrow = emb.filter(F.col("vec_id") == 0).first()
    qv = list(qrow["embedding"])
    probe_df = sim.ivf_topk_indexed(spark, idx, qv, k=20, nprobe=3)
    plan = probe_df._jdf.queryExecution().executedPlan().toString()
    probe = sim.probe_clusters(sim.ivf_load_centroids(idx), qv, 3)
    pruned = _scan_partition_pruned(plan, probe)
    ivf = probe_df.select("vec_id", F.round("score", 6).alias("score"))
    exact_all = sim.brute_force_topk(emb, qv, k=20)
    flagged = ivf.join(
        exact_all.select("vec_id").withColumn("_h", F.lit(1)), ["vec_id"], "left"
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_results"),
        (F.coalesce(F.sum("_h"), F.lit(0)) * 2 >= F.count(F.lit(1)))
        .cast("long")
        .alias("recall_ge_half"),
        F.lit(pruned).cast("long").alias("partition_pruned"),
    )


def ensure_ivf_appended_index(spark: SparkSession, sf_dir: str) -> str:
    """The INCREMENTAL-GROWTH twin of ensure_ivf_index: build the index
    from the even-vec_id half, then ivf_append the odd half with the
    frozen quantizer.  Build and append commit as one cached step."""

    def build(out):
        emb = _emb(spark, sf_dir)
        first = emb.filter(F.col("vec_id") % 2 == 0)
        rest = emb.filter(F.col("vec_id") % 2 == 1)
        sim.ivf_build_index(first, out, n_clusters=8)
        sim.ivf_append(rest, out)

    return cached(
        _sf_fixture("ivf_index_append", sf_dir),
        [os.path.join(sf_dir, "embeddings.parquet")],
        build,
    )


@q(
    "embedding_ivf_append",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS n_indexed,
           CAST(20 AS BIGINT) AS n_results,
           CAST(20 AS BIGINT) AS n_agree,
           CAST(1 AS BIGINT) AS n_appends,
           CAST(1 AS BIGINT) AS partition_pruned
    FROM embeddings
    """,
)
def embedding_ivf_append(spark, sf_dir):
    """Incremental IVF append (the growth path ivf_build_index promises):
    index built from HALF the corpus, the other half appended with the
    FROZEN quantizer.  Invariants the oracle pins:

    * the grown index holds every corpus row (n_indexed == n_total);
    * a probe over the appended index agrees EXACTLY with the on-the-fly
      IVF using the same frozen centroids over the full corpus
      (n_agree == n_results == 20 — a theorem: identical quantizer,
      identical candidate set, identical scoring);
    * probes stay partition-pruned after the append (from the executed
      plan's PartitionFilters, as in embedding_ivf_indexed);
    * the sidecar records exactly one append."""
    idx = ensure_ivf_appended_index(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    qrow = emb.filter(F.col("vec_id") == 0).first()
    qv = list(qrow["embedding"])
    side = sim.ivf_load_sidecar(idx)
    cents = side["centroids"]
    n_appends = int(side.get("meta", {}).get("appends", 0))

    probe_df = sim.ivf_topk_indexed(spark, idx, qv, k=20, nprobe=3)
    plan = probe_df._jdf.queryExecution().executedPlan().toString()
    probe = sim.probe_clusters(cents, qv, 3)
    pruned = _scan_partition_pruned(plan, probe)

    indexed = probe_df.select("vec_id", F.round("score", 9).alias("score"))
    onthefly = sim.ivf_topk(emb, qv, k=20, nprobe=3, centroids=cents).select(
        "vec_id", F.round("score", 9).alias("score"), F.lit(1).alias("_m")
    )
    n_indexed = spark.read.parquet(idx).count()
    joined = indexed.join(onthefly, ["vec_id", "score"], "left")
    return joined.agg(
        F.lit(int(emb.count())).cast("long").alias("n_total"),
        F.lit(int(n_indexed)).cast("long").alias("n_indexed"),
        F.count(F.lit(1)).cast("long").alias("n_results"),
        F.coalesce(F.sum("_m"), F.lit(0)).cast("long").alias("n_agree"),
        F.lit(n_appends).cast("long").alias("n_appends"),
        F.lit(pruned).cast("long").alias("partition_pruned"),
    )


@q(
    "embedding_ivf_drift",
    """
    SELECT CAST(8 AS BIGINT) AS n_clusters,
           CAST(count(*) AS BIGINT) AS n_rows_total,
           CAST(1 AS BIGINT) AS dist_ordered
    FROM embeddings
    """,
)
def embedding_ivf_drift(spark, sf_dir):
    """Index-health report over the APPENDED index (sim.ivf_drift_report):
    per-cluster quantization error.  Oracle invariants: every corpus row is
    accounted for across clusters, the cluster count matches the build, and
    mean <= max error in every cluster (dist_ordered — a structural zero
    like the sketch-family oracles; the error VALUES are seeded kmeans
    outputs DuckDB cannot recompute)."""
    idx = ensure_ivf_appended_index(spark, sf_dir)
    rep = sim.ivf_drift_report(spark, idx)
    return rep.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("n_rows").cast("long").alias("n_rows_total"),
        F.min((F.col("mean_dist") <= F.col("max_dist")).cast("int"))
        .cast("long")
        .alias("dist_ordered"),
    )


# Passage-level dedup (Lee et al. 2022 exact-substring style): spans of
# word-8-grams repeated >= 2x corpus-wide, merged per doc via
# gaps-and-islands — the curation step that cuts boilerplate without
# dropping whole documents.  Exact value oracle (same tokenization + span
# algebra in SQL).
from geocube_spark.operators import passages as _wp  # noqa: E402
from geocube_spark.operators.passages import (  # noqa: E402
    duplicated_passage_report,
    duplicated_passage_report_sql,
)


@q("duplicated_passages", duplicated_passage_report_sql(k=8, min_count=2))
def duplicated_passages(spark, sf_dir):
    return duplicated_passage_report(_docs(spark, sf_dir), k=8, min_count=2)


# Winnowing fingerprints (Schleimer 2003, the MOSS algorithm): rightmost
# window-min of portable md5 gram hashes keeps ~2/(w+1) of the grams yet
# guarantees any shared >= w+k-1 token run yields a shared fingerprint;
# pairs join over the THINNED fingerprint stream only.  Exact value
# oracle — DuckDB replays the identical selection and pair counting.
@q("winnow_plagiarism_pairs", _wp.winnow_pairs_sql(k=3, w=4, min_shared=2))
def winnow_plagiarism_pairs(spark, sf_dir):
    return _wp.winnow_pairs(_docs(spark, sf_dir), k=3, w=4, min_shared=2)


# ============================================================= text analysis


@q(
    "text_quality",
    f"""
    SELECT doc_id,
           CAST({token_count_sql('text')} AS BIGINT) AS n_tokens,
           round({punct_ratio_sql('text')}, 6) AS punct_ratio,
           round({quality_score_sql('text')}, 6) AS quality
    FROM documents
    """,
)
def text_quality(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(quality_score(F.col("text")), 6).alias("quality"),
    )


@q(
    "pii_redaction",
    r"""
    WITH injected AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN substr(text, 1, 64)
                    ELSE substr(text, 1, 64)
                         || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com ph +1-555-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                         || ' ip 192.168.' || CAST(doc_id % 256 AS VARCHAR)
                         || '.7 ssn 123-45-6789'
               END AS text2
        FROM documents
    )
    SELECT doc_id,
           CAST(length(regexp_extract_all(text2,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_email,
           CAST(length(regexp_extract_all(text2,
               '\+?\d{1,3}-\d{3}-\d{4}')) AS BIGINT) AS n_phone,
           CAST(length(regexp_extract_all(text2,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)
             AS n_ip,
           CAST(length(regexp_extract_all(text2,
               '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(text2,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\+?\d{1,3}-\d{3}-\d{4}', '[PHONE]', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
               '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g') AS redacted
    FROM injected
    """,
)
def pii_redaction(spark, sf_dir):
    """PII scrub (LLM-pipeline op): per-class counts + sequential
    redaction, all JVM-side regexp (operators/pii.py).  The synthetic
    corpus has no natural PII, so both engines deterministically inject
    identical email/phone/IP/SSN spans into 2/3 of the documents first —
    the oracle then checks count AND byte-identical redacted text."""
    from geocube_spark.operators.pii import pii_redact

    docs = _docs(spark, sf_dir)
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.substring("text", 1, 64)
        ).otherwise(
            F.concat(
                F.substring("text", 1, 64),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com ph +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" ip 192.168."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7 ssn 123-45-6789"),
            )
        ).alias("text2"),
    )
    return pii_redact(injected, text_col="text2", out_col="redacted").drop(
        "text2"
    )


# Corpus reporting rollup: multi-level aggregates in ONE pass via
# GROUPING SETS (rollup source -> (source, lang) -> grand total) — the
# Spark rollup() lowering Catalyst expands to a single Expand + hash agg,
# so corpus dashboards don't re-scan per level.  Rolled-up levels are
# labeled '<all>' on both engines.
@q(
    "corpus_rollup",
    """
    SELECT coalesce(source, '<all>') AS source,
           coalesce(lang, '<all>') AS lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY ROLLUP (source, lang)
    ORDER BY source, lang
    """,
)
def corpus_rollup(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return (
        docs.rollup("source", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(
            F.coalesce("source", F.lit("<all>")).alias("source"),
            F.coalesce("lang", F.lit("<all>")).alias("lang"),
            "n_docs",
            "total_chars",
        )
        .orderBy("source", "lang")
    )


# Exact length percentiles per source (corpus length distribution — the
# filter-threshold picker of every curation pipeline).  Spark's exact
# percentile agg and DuckDB's quantile_cont share the linear-interpolation
# definition, so values match to rounding.
@q(
    "doc_length_percentiles",
    """
    SELECT source,
           round(quantile_cont(n_chars, 0.25), 6) AS p25,
           round(quantile_cont(n_chars, 0.5), 6) AS p50,
           round(quantile_cont(n_chars, 0.75), 6) AS p75,
           round(quantile_cont(n_chars, 0.95), 6) AS p95
    FROM documents GROUP BY source ORDER BY source
    """,
)
def doc_length_percentiles(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    pct = F.percentile(F.col("n_chars"), F.array(
        F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.95)
    ))
    return (
        docs.groupBy("source")
        .agg(pct.alias("p"))
        .select(
            "source",
            F.round(F.col("p")[0], 6).alias("p25"),
            F.round(F.col("p")[1], 6).alias("p50"),
            F.round(F.col("p")[2], 6).alias("p75"),
            F.round(F.col("p")[3], 6).alias("p95"),
        )
        .orderBy("source")
    )


@q(
    "text_langid",
    f"""
    SELECT doc_id, {lang_guess_sql('text')} AS lang_guess, lang AS lang_label
    FROM documents
    """,
)
def text_langid(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", lang_guess(F.col("text")).alias("lang_guess"), F.col("lang").alias("lang_label")
    )


@q(
    "text_token_counts",
    f"""
    SELECT doc_id,
           CAST({token_count_sql('text')} AS BIGINT) AS ws_tokens,
           CAST({bpe_ish_token_count_sql('text')} AS BIGINT) AS bpe_tokens
    FROM documents
    """,
)
def text_token_counts(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
    )


@q(
    "doc_fingerprints",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT {normalized_md5_sql('text')}) AS BIGINT) AS n_distinct_fp,
           CAST(0 AS BIGINT) AS n_fp_collisions
    FROM documents
    """,
)
def doc_fingerprints(spark, sf_dir):
    """64-bit rolling fingerprints (xxhash64 of normalized text) checked
    against the portable md5 fingerprint: both hash the SAME normalization,
    so the distinct-fingerprint count must equal DuckDB's distinct-md5
    count unless xxhash64 collides — and collisions are counted explicitly
    (distinct (fp64, md5) pairs minus distinct fp64) and must be zero."""
    from geocube_spark.functions.text import fingerprint64

    docs = _docs(spark, sf_dir)
    fps = docs.select(
        fingerprint64(F.col("text")).alias("fp64"),
        normalized_md5(F.col("text")).alias("md5"),
    )
    return fps.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct("fp64").cast("long").alias("n_distinct_fp"),
        (F.count_distinct(F.struct("fp64", "md5")) - F.count_distinct("fp64"))
        .cast("long")
        .alias("n_fp_collisions"),
    )


# BM25 ranked retrieval: map-side query-term filter before the first
# shuffle, broadcast df/stats joins, global top-k (operators/retrieval.py).
_BM25_TERMS = ["join", "hash", "vector"]

from geocube_spark.operators.retrieval import (  # noqa: E402
    bigram_logprob,
    bigram_logprob_sql,
    bm25_topk,
    bm25_topk_sql,
    decontamination_overlap,
    decontamination_overlap_sql,
    document_chunks,
    document_chunks_sql,
    hybrid_rrf,
    hybrid_rrf_sql,
    kneser_ney_logprob,
    kneser_ney_logprob_sql,
    nb_lang_confusion,
    nb_lang_confusion_sql,
    perplexity_buckets_sql,
    unigram_logprob,
    unigram_logprob_sql,
)
from geocube_spark.operators.bloom import (  # noqa: E402
    bloom_decontamination_report,
    bloom_decontamination_sql,
)


# Hybrid lexical+semantic retrieval: reciprocal-rank fusion of the BM25
# top-N and cosine top-N lists (Cormack et al. 2009) — list fusion, not
# full-corpus ranking, so both sides stay TakeOrdered at any scale.
@q("hybrid_search_rrf", hybrid_rrf_sql(_BM25_TERMS, k=15, n_list=100))
def hybrid_search_rrf(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    qv = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    return hybrid_rrf(
        _docs(spark, sf_dir), emb, _BM25_TERMS, qv, k=15, n_list=100
    )


@q("text_bm25_topk", bm25_topk_sql(_BM25_TERMS, k=15))
def text_bm25_topk(spark, sf_dir):
    return bm25_topk(_docs(spark, sf_dir), _BM25_TERMS, k=15)


# Train/eval contamination: distinct shared word-8-grams per (train, eval)
# pair; eval side broadcast, train corpus never shuffled by shingle.
@q(
    "decontamination_overlap",
    decontamination_overlap_sql("doc_id % 7 = 0", n=8),
)
def decontamination_overlap_q(spark, sf_dir):
    return decontamination_overlap(_docs(spark, sf_dir), F.col("doc_id") % 7 == 0, n=8)


# In-engine classifier training (the GPT-3/WebText quality-classifier
# pattern): batch GD for a linear model as R chained full-corpus
# aggregates — weights ride as a 1-row broadcast, no driver loop, no ML
# library.  Cross-engine determinism by construction: rational sigmoid
# (no libm exp), integer-derived features, per-round weight rounding to
# absorb summation-order ulp drift.  Oracle replays identical rounds.
from geocube_spark.operators.classifier import (  # noqa: E402
    classifier_report,
    classifier_report_sql,
)


@q("quality_classifier_train", classifier_report_sql("lang = 'en'"))
def quality_classifier_train_q(spark, sf_dir):
    return classifier_report(_docs(spark, sf_dir), F.col("lang") == "en")


# Bloom-filter decontamination prefilter (GPT-3 appendix C pattern): the
# eval grams build a bit filter rebuilt bit-for-bit by the oracle (portable
# md5 positions), train docs probe it map-side (one BHJ against the m/32-row
# words relation, zero train-side shuffles), exact verify join only reported
# for the false-positive gap.  No false negatives by construction.
@q("bloom_decontamination", bloom_decontamination_sql("doc_id % 19 = 3", n=8))
def bloom_decontamination_q(spark, sf_dir):
    return bloom_decontamination_report(
        _docs(spark, sf_dir), F.col("doc_id") % 19 == 3, n=8
    )


# RAG chunking: overlapping token windows, pure map-side (no shuffle).
@q("document_chunking", document_chunks_sql(chunk_tokens=64, overlap=16))
def document_chunking(spark, sf_dir):
    return document_chunks(_docs(spark, sf_dir), chunk_tokens=64, overlap=16)


# Unigram-LM quality score: corpus-trained MLE logprobs, broadcast back
# onto the token stream (perplexity-filter stand-in).
@q("unigram_logprob", unigram_logprob_sql())
def unigram_logprob_q(spark, sf_dir):
    return unigram_logprob(_docs(spark, sf_dir))


# Model-based language ID: multinomial Naive Bayes with Laplace smoothing
# (the fastText-langid stand-in — exact closed form, so the oracle
# recomputes the identical model).  One (term, class) count shuffle
# trains it; scoring is a broadcast join over the token stream and a
# partitioned per-doc argmin.  Output = the confusion matrix vs the
# heuristic labels.
@q("nb_lang_confusion", nb_lang_confusion_sql())
def nb_lang_confusion_q(spark, sf_dir):
    return nb_lang_confusion(_docs(spark, sf_dir))


# CCNet-style quality partition (Wenzek 2020): LM-score every doc, cut the
# corpus into equal head/middle/tail perplexity terciles (head = the slice
# CCNet keeps).  Exact ntile twin here; perplexity_bucket_assign is the
# sketch-threshold 100 TB path (no global sort), tested in
# tests/test_retrieval.py.
@q("perplexity_buckets", perplexity_buckets_sql())
def perplexity_buckets_q(spark, sf_dir):
    from geocube_spark.operators.retrieval import perplexity_buckets

    return perplexity_buckets(_docs(spark, sf_dir))


# Interpolated bigram LM (Jelinek–Mercer): the KenLM-perplexity-filter
# stand-in one order up from the unigram score — exact MLE counts, so the
# DuckDB oracle recomputes the identical model (operators/retrieval.py).
@q("bigram_logprob", bigram_logprob_sql(lam=0.8))
def bigram_logprob_q(spark, sf_dir):
    return bigram_logprob(_docs(spark, sf_dir), lam=0.8)


# Corpus profiling: exact token-count quantiles per source-language slice —
# a partial-agg-friendly groupBy (one shuffle of (lang, stats) pairs, never
# the documents).  Spark's exact `percentile` and DuckDB's quantile_cont
# share linear interpolation.
@q(
    "corpus_profile",
    f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(quantile_cont({token_count_sql('text')}, 0.5), 4) AS p50_tokens,
           round(quantile_cont({token_count_sql('text')}, 0.9), 4) AS p90_tokens,
           round(avg(length(text)), 4) AS avg_chars
    FROM documents
    GROUP BY lang
    """,
)
def corpus_profile(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    nt = token_count(F.col("text")).cast("double")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile(nt, F.lit(0.5)), 4).alias("p50_tokens"),
        F.round(F.percentile(nt, F.lit(0.9)), 4).alias("p90_tokens"),
        F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
    )


# Sequence packing (concat-and-chunk): assign each document to a fixed
# token-capacity training chunk by its running-sum start offset, sharded by
# source so the window is partitioned (no global single-partition sort).
_PACK_CAPACITY = 2048


@q(
    "sequence_packing",
    f"""
    WITH t AS (
      SELECT source, doc_id, {bpe_ish_token_count_sql('text')} AS nt FROM documents
    ),
    c AS (
      SELECT source, nt,
             coalesce(sum(nt) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM t
    )
    SELECT source, CAST(cb // {_PACK_CAPACITY} AS BIGINT) AS chunk_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS n_tokens
    FROM c GROUP BY source, cb // {_PACK_CAPACITY}
    """,
)
def sequence_packing(spark, sf_dir):
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    t = docs.select(
        "source", "doc_id", bpe_ish_token_count(F.col("text")).alias("nt")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn("cb", F.coalesce(F.sum("nt").over(w), F.lit(0)))
    return (
        c.withColumn("chunk_id", F.floor(F.col("cb") / _PACK_CAPACITY))
        .groupBy("source", "chunk_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
    )


# Event-time interval join (streaming/joins.py interval_join — the
# stream-stream attribution shape, run here in batch mode through the
# SAME code path; stream==batch convergence is pytest-checked): attribute
# each purchase to the same user's clicks in the preceding 30 minutes.
@q(
    "events_click_attribution",
    """
    SELECT p.event_id AS purchase_id,
           CAST(count(c.event_id) AS BIGINT) AS n_clicks,
           round(coalesce(sum(c.value), 0.0), 6) AS clicked_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
     AND c.ts < p.ts
    GROUP BY p.event_id ORDER BY p.event_id
    """,
)
def events_click_attribution(spark, sf_dir):
    from geocube_spark.streaming.joins import interval_join

    ev = read_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("l_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("r_ts"),
        F.col("value").alias("click_value"),
    )
    joined = interval_join(
        purchases, clicks, key="user_id", lookback="30 minutes"
    )
    # LEFT-join semantics for the report: purchases with no clicks keep a
    # zero row (the streaming operator is inner by contract; re-attach
    # unmatched purchases via the purchase dim)
    counts = joined.groupBy("purchase_id").agg(
        F.count("click_id").cast("long").alias("n_clicks"),
        F.round(F.sum("click_value"), 6).alias("clicked_value"),
    )
    return (
        purchases.select("purchase_id")
        .join(counts, "purchase_id", "left")
        .select(
            "purchase_id",
            F.coalesce("n_clicks", F.lit(0)).cast("long").alias("n_clicks"),
            F.coalesce("clicked_value", F.lit(0.0)).alias("clicked_value"),
        )
        .orderBy("purchase_id")
    )


# Gap-based sessionization (batch twin of the streaming stateful operator,
# streaming/sessions.py): new session when the same-user gap exceeds 30 min.
@q(
    "events_sessions",
    """
    WITH flag AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sidx
      FROM flag
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(value) AS DOUBLE), 4) AS sum_value
    FROM sess GROUP BY user_id, sidx
    """,
)
def events_sessions(spark, sf_dir):
    from geocube_spark.streaming.sessions import sessionize_batch

    ev = read_events(spark, sf_dir).select("user_id", "ts", "value")
    out = sessionize_batch(ev, gap_minutes=30)
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_value", 4).alias("sum_value"),
    )


# ======================================================== events / streaming


# Time-series gap filling (EO: cloud-masked observations interpolated
# along the acquisition axis): linear interpolation between nearest valid
# neighbors per series, pure PARTITIONED ignore-nulls windows — no global
# sort, no UDF (operators/timeseries.py).  Gaps are injected
# deterministically (event_id % 5); both engines evaluate the identical
# fill expression structure, ties broken by event_id.
@q(
    "timeseries_gap_fill",
    (lambda inner: f"""
    WITH f AS ({inner})
    SELECT event_id, user_id,
           round(filled, 6) AS filled_value,
           CAST(v IS NULL AS BIGINT) AS was_gap
    FROM f
    """)(
        __import__(
            "geocube_spark.operators.timeseries", fromlist=["interpolate_gaps_sql"]
        ).interpolate_gaps_sql(
            "SELECT event_id, user_id, epoch_us(ts) AS t_us,"
            " CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v"
            " FROM events",
            key="user_id",
            t="t_us",
            v="v",
            order="t_us, event_id",
        )
    ),
)
def timeseries_gap_fill(spark, sf_dir):
    from geocube_spark.operators.timeseries import interpolate_gaps

    ev = read_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.expr("ts_ns div 1000").alias("t_us"),
        F.when(F.col("event_id") % 5 == 0, F.lit(None))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    out = interpolate_gaps(
        ev, ["user_id"], "t_us", "v", order_cols=["t_us", "event_id"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("filled", 6).alias("filled_value"),
        F.col("v").isNull().cast("long").alias("was_gap"),
    )


# Funnel analysis (view -> click -> purchase): each step's timestamp is
# the user's FIRST qualifying event strictly after the previous step —
# the classic product-analytics sequential conversion.  Per-step frames
# are user-level aggregates joined on user_id (shuffle by user, never by
# event); both engines use the identical µs timeline and strict-after
# semantics.
@q(
    "events_funnel",
    """
    WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
    s1 AS (SELECT user_id, min(t) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (
        SELECT e.user_id, min(e.t) AS t2
        FROM ev e JOIN s1 USING (user_id)
        WHERE e.event_type = 'click' AND e.t > s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.t) AS t3
        FROM ev e JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.t > s2.t2
        GROUP BY e.user_id
    )
    SELECT 1 AS step, CAST('view' AS VARCHAR) AS event_type,
           CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
    UNION ALL
    SELECT 2, 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
    UNION ALL
    SELECT 3, 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)
    """,
)
def events_funnel(spark, sf_dir):
    ev = read_events(spark, sf_dir).select(
        "user_id", "event_type", F.expr("ts_ns div 1000").alias("t")
    )
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("t") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("t") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t3"))
    )
    rows = [
        (1, "view", s1),
        (2, "click", s2),
        (3, "purchase", s3),
    ]
    out = None
    for step, name, frame in rows:
        agg = frame.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
            F.lit(step).alias("step"),
            F.lit(name).alias("event_type"),
            "n_users",
        )
        out = agg if out is None else out.unionByName(agg)
    return out


# Rolling smoothing + anomaly flags per series: centered 5-point moving
# average and a rolling z-score (both PARTITIONED windows over the same
# series layout as the gap fill — no global sort, no UDF).  An event is
# anomalous when it sits > 2 rolling-sigma from the rolling mean of its
# PRECEDING 20 events; output is the per-user anomaly census, determinate
# because both engines evaluate the identical window frames and the flag
# compares on 6-dp-rounded deviations.
@q(
    "timeseries_rolling_anomalies",
    """
    WITH ev AS (
        SELECT user_id, event_id, epoch_us(ts) AS t, value
        FROM events
    ),
    w AS (
        SELECT user_id, event_id, value,
               avg(value) OVER (PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS smooth,
               avg(value) OVER (PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS mu,
               stddev_samp(value) OVER (PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS sigma
        FROM ev
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(avg(smooth), 4) AS mean_smoothed,
           CAST(sum(CASE WHEN sigma IS NOT NULL AND sigma > 0
                         AND round(abs(value - mu) - 2 * sigma, 6) > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM w
    GROUP BY user_id
    """,
)
def timeseries_rolling_anomalies(spark, sf_dir):
    from pyspark.sql import Window

    ev = read_events(spark, sf_dir).select(
        "user_id", "event_id", F.expr("ts_ns div 1000").alias("t"), "value"
    )
    order = [F.col("t"), F.col("event_id")]
    w_sm = (
        Window.partitionBy("user_id").orderBy(*order).rowsBetween(-2, 2)
    )
    w_mu = (
        Window.partitionBy("user_id").orderBy(*order).rowsBetween(-20, -1)
    )
    scored = ev.select(
        "user_id",
        "value",
        F.avg("value").over(w_sm).alias("smooth"),
        F.avg("value").over(w_mu).alias("mu"),
        F.stddev_samp("value").over(w_mu).alias("sigma"),
    )
    return scored.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.avg("smooth"), 4).alias("mean_smoothed"),
        F.sum(
            F.when(
                F.col("sigma").isNotNull()
                & (F.col("sigma") > 0)
                & (
                    F.round(
                        F.abs(F.col("value") - F.col("mu")) - 2 * F.col("sigma"),
                        6,
                    )
                    > 0
                ),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_anomalies"),
    )


# k-anonymity ladder (Samarati/Sweeney full-domain generalization): coarsen
# the (user, time) quasi-identifiers level by level until every published
# group reaches k, suppressing stragglers at the coarsest rung.  One
# shrinking-cardinality aggregate per level; all-integer contract.
def _kanon_oracle() -> str:
    from geocube_spark.operators.pii import k_anonymity_report_sql

    return k_anonymity_report_sql(
        25,
        [
            ("user200_hour", "CAST(user_id % 200 AS VARCHAR) || '|' || CAST(hour(ts) AS VARCHAR)"),
            ("user50_6hband", "CAST(user_id % 50 AS VARCHAR) || '|' || CAST(hour(ts) // 6 AS VARCHAR)"),
            ("user10", "CAST(user_id % 10 AS VARCHAR)"),
        ],
    )


@q("k_anonymity_ladder", _kanon_oracle())
def k_anonymity_ladder_q(spark, sf_dir):
    from geocube_spark.operators.pii import k_anonymity_report

    ev = read_events(spark, sf_dir)
    levels = [
        (
            "user200_hour",
            F.concat(
                (F.col("user_id") % 200).cast("string"),
                F.lit("|"),
                F.hour("ts").cast("string"),
            ),
        ),
        (
            "user50_6hband",
            F.concat(
                (F.col("user_id") % 50).cast("string"),
                F.lit("|"),
                F.floor(F.hour("ts") / 6).cast("string"),
            ),
        ),
        ("user10", (F.col("user_id") % 10).cast("string")),
    ]
    return k_anonymity_report(ev, 25, levels)


@q(
    "events_hourly_rollup",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(value) AS DOUBLE), 4) AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def events_hourly_rollup(spark, sf_dir):
    ev = read_events(spark, sf_dir)
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# Spark's NATIVE session_window operator (vs the gaps-and-islands plan of
# events_sessions): per-user 30-min-gap sessions straight from the
# built-in; the oracle derives identical sessions via lag + running sum.
@q(
    "events_session_windows",
    """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
)
def events_session_windows(spark, sf_dir):
    ev = read_events(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


# Trending top-k per day (batch twin of streaming/jobs.run_trending_stream —
# the UPDATE-mode merge + read-side rank is stream==batch tested in
# tests/test_streaming_ops.py; this oracle-checks the ranking semantics).
@q(
    "events_trending_topk",
    """
    WITH counts AS (
      SELECT date_trunc('day', ts) AS d, event_type, count(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT strftime(d, '%Y-%m-%d') AS day, event_type,
             CAST(n_events AS BIGINT) AS n_events,
             row_number() OVER (PARTITION BY d
                                ORDER BY n_events DESC, event_type) AS rank
      FROM counts
    )
    SELECT day, event_type, n_events, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def events_trending_topk(spark, sf_dir):
    from pyspark.sql import Window

    ev = read_events(spark, sf_dir)
    counts = ev.groupBy(
        F.date_trunc("day", "ts").alias("d"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("d").orderBy(F.col("n_events").desc(), "event_type")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "event_type",
            F.col("n_events").cast("long"),
            "rank",
        )
    )


@q(
    "events_latest_per_user",
    """
    SELECT user_id, event_id, event_type FROM (
        SELECT user_id, event_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rk
        FROM events
    ) WHERE rk = 1
    """,
)
def events_latest_per_user(spark, sf_dir):
    from pyspark.sql import Window

    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts_ns").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "event_id", "event_type")
    )


# ==================================================== spatial / raster (fx)


@q(
    "spatial_bbox_refine",
    f"""
    SELECT id FROM read_parquet('{FIXTURE_DIR}/datasets.parquet')
    WHERE status = 'ACTIVE'
      AND bbox.xmin <= -160.0 AND bbox.xmax >= -168.0
      AND bbox.ymin <= -25.0 AND bbox.ymax >= -40.0
      AND (shape_srid != 4326 OR
           (bbox.xmin < -160.0 AND bbox.xmax > -168.0
            AND bbox.ymin < -25.0 AND bbox.ymax > -40.0))
    """,
)
def spatial_bbox_refine(spark, sf_dir):
    fd = ensure_fixtures()
    datasets = spark.read.parquet(f"{fd}/datasets.parquet")
    flt = DatasetFilters(
        status="ACTIVE", extent=(-168.0, -40.0, -160.0, -25.0), refine_srid=4326, order=False
    )
    return find_datasets(datasets, None, flt).select("id")


# General-geometry exact refine (F8 complete): the fixture AOIs are concave
# (L/U shapes), holed, and multipolygon, assembled from axis-aligned
# component rects — Spark runs the real WKB through the general
# Sutherland–Hodgman/even-odd kernel, DuckDB verifies analytically from the
# part columns (interior-intersects = strict overlap with any part, minus
# full containment of the overlap in the hole).
_CONC_RECT = (-2.0, -1.0, 2.5, 1.5)


@q(
    "spatial_concave_refine",
    f"""
    SELECT id FROM read_parquet('{FIXTURE_DIR}/concave_aoi.parquet')
    WHERE ((p1_x0 < {_CONC_RECT[2]} AND p1_x1 > {_CONC_RECT[0]}
            AND p1_y0 < {_CONC_RECT[3]} AND p1_y1 > {_CONC_RECT[1]})
        OR (p2_x0 IS NOT NULL AND p2_x0 < {_CONC_RECT[2]} AND p2_x1 > {_CONC_RECT[0]}
            AND p2_y0 < {_CONC_RECT[3]} AND p2_y1 > {_CONC_RECT[1]})
        OR (p3_x0 IS NOT NULL AND p3_x0 < {_CONC_RECT[2]} AND p3_x1 > {_CONC_RECT[0]}
            AND p3_y0 < {_CONC_RECT[3]} AND p3_y1 > {_CONC_RECT[1]}))
      AND NOT (h_x0 IS NOT NULL
               AND h_x0 <= greatest(p1_x0, {_CONC_RECT[0]})
               AND least(p1_x1, {_CONC_RECT[2]}) <= h_x1
               AND h_y0 <= greatest(p1_y0, {_CONC_RECT[1]})
               AND least(p1_y1, {_CONC_RECT[3]}) <= h_y1)
    """,
)
def spatial_concave_refine(spark, sf_dir):
    from geocube_spark.functions.geometry import bbox_intersects, make_intersects_udf

    fd = ensure_fixtures()
    df = spark.read.parquet(f"{fd}/concave_aoi.parquet")
    exact = make_intersects_udf(_CONC_RECT)
    return (
        df.filter(bbox_intersects(F.col("bbox"), *_CONC_RECT))
        .filter(exact(F.col("geom_wkb")))
        .select("id")
    )


@q(
    "cast_tiles_checksum",
    f"""
    SELECT t.container_uri, t.block_x, t.block_y,
           round(list_aggregate({cast_sql('t.px', _SRC_DM, _DST_DM)}, 'sum'), 6) AS px_sum,
           CAST(len(list_filter({cast_sql('t.px', _SRC_DM, _DST_DM)}, v -> v = 0.0)) AS BIGINT) AS n_nodata
    FROM read_parquet('{FIXTURE_DIR}/tiles.parquet') t
    JOIN read_parquet('{FIXTURE_DIR}/datasets.parquet') d ON t.container_uri = d.container_uri
    WHERE d.dmapping.dtype = 'Int16' AND d.dmapping.exponent = 1.0 AND t.level = 0
    """,
)
def cast_tiles_checksum(spark, sf_dir):
    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/tiles.parquet")
    datasets = spark.read.parquet(f"{fd}/datasets.parquet")
    src = tiles.join(
        datasets.select("container_uri", "dmapping").filter(
            (F.col("dmapping.dtype") == "Int16") & (F.col("dmapping.exponent") == 1.0)
        ),
        "container_uri",
    ).filter(F.col("level") == 0)
    casted = src.select(
        "container_uri",
        "block_x",
        "block_y",
        cast_expr(F.col("px"), _SRC_DM, _DST_DM).alias("cpx"),
    )
    return casted.select(
        "container_uri",
        "block_x",
        "block_y",
        F.round(F.aggregate("cpx", F.lit(0.0), lambda a, v: a + v), 6).alias("px_sum"),
        F.size(F.filter("cpx", lambda v: v == 0.0)).cast("long").alias("n_nodata"),
    )


# A7 latest-wins mosaic over the Int16 fixture stack, checksummed per block;
# oracle re-derives the winner per (block, pixel) with a window over the
# exploded pixel index — same (datetime desc, record_id desc) tie-break.
@q(
    "mosaic_latest_first",
    f"""
    WITH t AS (
        SELECT ti.band, ti.block_x, ti.block_y, ti.px,
               r.datetime AS rt, d.record_id
        FROM read_parquet('{FIXTURE_DIR}/tiles.parquet') ti
        JOIN read_parquet('{FIXTURE_DIR}/datasets.parquet') d
          ON ti.container_uri = d.container_uri
        JOIN read_parquet('{FIXTURE_DIR}/records.parquet') r ON d.record_id = r.id
        WHERE ti.level = 0 AND d.dmapping.no_data = -32768.0
    ),
    px AS (
        SELECT band, block_x, block_y, i.range AS i,
               list_extract(px, i.range + 1) AS v, rt, record_id
        FROM t, range(0, 4096) i
    ),
    ranked AS (
        SELECT band, block_x, block_y, i, v,
               row_number() OVER (
                   PARTITION BY band, block_x, block_y, i
                   ORDER BY (v = -32768.0) ASC, rt DESC, record_id DESC
               ) AS rk
        FROM px
    ),
    merged AS (SELECT * FROM ranked WHERE rk = 1)
    SELECT band, block_x, block_y,
           round(sum(v), 6) AS px_sum,
           CAST(count(*) FILTER (v != -32768.0) AS BIGINT) AS n_valid
    FROM merged GROUP BY band, block_x, block_y
    """,
)
def mosaic_latest_first(spark, sf_dir):
    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/tiles.parquet")
    datasets = spark.read.parquet(f"{fd}/datasets.parquet")
    records = spark.read.parquet(f"{fd}/records.parquet")
    joined = (
        tiles.join(
            datasets.filter(F.col("dmapping.no_data") == -32768.0).select(
                "container_uri", "record_id"
            ),
            "container_uri",
        )
        .join(
            F.broadcast(
                records.select(
                    F.col("id").alias("record_id"), F.col("datetime").alias("record_datetime")
                )
            ),
            "record_id",
        )
        .filter(F.col("level") == 0)
    )
    out = mosaic_blocks(joined, nodata=-32768.0)
    return out.select(
        "band",
        "block_x",
        "block_y",
        F.round(F.aggregate("px", F.lit(0.0), lambda a, v: a + v), 6).alias("px_sum"),
        valid_count_expr(F.col("px"), F.lit(-32768.0)).cast("long").alias("n_valid"),
    )


# A8 overview pyramid, level 1: nodata-aware 2×2 AVERAGE pooling.  The
# oracle assembles the 4 child blocks per parent and recomputes each output
# pixel's window mean with the same sum/len op order.
@q(
    "pyramid_level1",
    f"""
    WITH t AS (
        SELECT ti.* FROM read_parquet('{FIXTURE_DIR}/tiles.parquet') ti
        JOIN read_parquet('{FIXTURE_DIR}/datasets.parquet') d
          ON ti.container_uri = d.container_uri
        WHERE ti.level = 0 AND d.dmapping.no_data = -32768.0
    ),
    quads AS (
        SELECT container_uri, band,
               first(px) FILTER (block_x = 0 AND block_y = 0) AS q0,
               first(px) FILTER (block_x = 1 AND block_y = 0) AS q1,
               first(px) FILTER (block_x = 0 AND block_y = 1) AS q2,
               first(px) FILTER (block_x = 1 AND block_y = 1) AS q3
        FROM t GROUP BY container_uri, band
    ),
    opx AS (
        SELECT container_uri, band, i.range AS i,
               (i.range // 64) * 2 AS sr, (i.range % 64) * 2 AS sc
        FROM quads, range(0, 4096) i
    ),
    vals AS (
        SELECT o.container_uri, o.band, o.i,
               CASE WHEN o.sr < 64 AND o.sc < 64 THEN
                   [qq.q0[(o.sr % 64) * 64 + (o.sc % 64) + 1],
                    qq.q0[(o.sr % 64) * 64 + (o.sc % 64) + 2],
                    qq.q0[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 1],
                    qq.q0[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 2]]
               WHEN o.sr < 64 THEN
                   [qq.q1[(o.sr % 64) * 64 + (o.sc % 64) + 1],
                    qq.q1[(o.sr % 64) * 64 + (o.sc % 64) + 2],
                    qq.q1[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 1],
                    qq.q1[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 2]]
               WHEN o.sc < 64 THEN
                   [qq.q2[(o.sr % 64) * 64 + (o.sc % 64) + 1],
                    qq.q2[(o.sr % 64) * 64 + (o.sc % 64) + 2],
                    qq.q2[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 1],
                    qq.q2[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 2]]
               ELSE
                   [qq.q3[(o.sr % 64) * 64 + (o.sc % 64) + 1],
                    qq.q3[(o.sr % 64) * 64 + (o.sc % 64) + 2],
                    qq.q3[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 1],
                    qq.q3[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 2]]
               END AS w
        FROM opx o JOIN quads qq USING (container_uri, band)
    ),
    pooled AS (
        SELECT container_uri, band, i,
               CASE WHEN len(list_filter(w, v -> v != -32768.0)) = 0
                    THEN -32768.0
                    ELSE list_aggregate(list_filter(w, v -> v != -32768.0), 'sum')
                         / len(list_filter(w, v -> v != -32768.0))
               END AS v
        FROM vals
    )
    SELECT container_uri, band, 0 AS block_x, 0 AS block_y,
           round(sum(v), 4) AS px_sum
    FROM pooled GROUP BY container_uri, band
    """,
)
def pyramid_level1(spark, sf_dir):
    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/tiles.parquet")
    datasets = spark.read.parquet(f"{fd}/datasets.parquet")
    src = tiles.join(
        datasets.filter(F.col("dmapping.no_data") == -32768.0).select("container_uri"),
        "container_uri",
        "left_semi",
    )
    lvl1 = build_level(src, level=1, alg="AVERAGE", nodata=-32768.0)
    return lvl1.select(
        "container_uri",
        "band",
        F.col("block_x").cast("int").alias("block_x"),
        F.col("block_y").cast("int").alias("block_y"),
        F.round(F.aggregate("px", F.lit(0.0), lambda a, v: a + v), 4).alias("px_sum"),
    )


# O8 automatic overview-level selection (-ovr AUTO, image.go:402): a read
# requesting 25 m output over a 10 m catalog must hit the level-1 overview
# (base_res * 2^1 = 20 <= 25 < 40), not the full-res scan.  Spark reads the
# level-partitioned pyramid store through scan_at_overview — the chosen
# level is a driver literal, so `level = 1` prunes whole level directories
# at the scan (asserted in tests/test_plan_quality.py).  The oracle
# INDEPENDENTLY re-derives the level from the resolutions in SQL
# (floor(log2(out/base)) clamped) AND re-pools the level-1 pixels from the
# base tiles (the pyramid_level1 pooling), so a wrong level choice or a
# wrong materialized overview both hash-mismatch.
@q(
    "get_cube_overview_auto",
    f"""
    WITH sel AS (
        SELECT CAST(greatest(0, least(CAST(floor(log2(25.0 / 10.0)) AS INT), 1))
                    AS INT) AS lvl
    ),
    t AS (
        SELECT ti.* FROM read_parquet('{FIXTURE_DIR}/tiles.parquet') ti
        JOIN read_parquet('{FIXTURE_DIR}/datasets.parquet') d
          ON ti.container_uri = d.container_uri
        WHERE ti.level = 0 AND d.dmapping.no_data = -32768.0
    ),
    quads AS (
        SELECT container_uri, band,
               first(px) FILTER (block_x = 0 AND block_y = 0) AS q0,
               first(px) FILTER (block_x = 1 AND block_y = 0) AS q1,
               first(px) FILTER (block_x = 0 AND block_y = 1) AS q2,
               first(px) FILTER (block_x = 1 AND block_y = 1) AS q3
        FROM t GROUP BY container_uri, band
    ),
    opx AS (
        SELECT container_uri, band, i.range AS i,
               (i.range // 64) * 2 AS sr, (i.range % 64) * 2 AS sc
        FROM quads, range(0, 4096) i
    ),
    vals AS (
        SELECT o.container_uri, o.band, o.i,
               CASE WHEN o.sr < 64 AND o.sc < 64 THEN
                   [qq.q0[(o.sr % 64) * 64 + (o.sc % 64) + 1],
                    qq.q0[(o.sr % 64) * 64 + (o.sc % 64) + 2],
                    qq.q0[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 1],
                    qq.q0[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 2]]
               WHEN o.sr < 64 THEN
                   [qq.q1[(o.sr % 64) * 64 + (o.sc % 64) + 1],
                    qq.q1[(o.sr % 64) * 64 + (o.sc % 64) + 2],
                    qq.q1[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 1],
                    qq.q1[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 2]]
               WHEN o.sc < 64 THEN
                   [qq.q2[(o.sr % 64) * 64 + (o.sc % 64) + 1],
                    qq.q2[(o.sr % 64) * 64 + (o.sc % 64) + 2],
                    qq.q2[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 1],
                    qq.q2[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 2]]
               ELSE
                   [qq.q3[(o.sr % 64) * 64 + (o.sc % 64) + 1],
                    qq.q3[(o.sr % 64) * 64 + (o.sc % 64) + 2],
                    qq.q3[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 1],
                    qq.q3[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 2]]
               END AS w
        FROM opx o JOIN quads qq USING (container_uri, band)
    ),
    pooled AS (
        SELECT container_uri, band, i,
               CASE WHEN len(list_filter(w, v -> v != -32768.0)) = 0
                    THEN -32768.0
                    ELSE list_aggregate(list_filter(w, v -> v != -32768.0), 'sum')
                         / len(list_filter(w, v -> v != -32768.0))
               END AS v
        FROM vals
    )
    SELECT p.container_uri, p.band, sel.lvl AS level,
           round(sum(p.v), 4) AS px_sum
    FROM pooled p, sel
    GROUP BY p.container_uri, p.band, sel.lvl
    """,
)
def get_cube_overview_auto(spark, sf_dir):
    from geocube_spark.plans.overview import scan_at_overview

    pyr = ensure_pyramided(spark)
    store = spark.read.parquet(pyr)
    pruned, lvl = scan_at_overview(store, base_res=10.0, out_res=25.0, max_level=1)
    return (
        pruned.groupBy("container_uri", "band")
        .agg(
            F.round(
                F.sum(F.aggregate("px", F.lit(0.0), lambda a, v: a + v)), 4
            ).alias("px_sum")
        )
        .select(
            "container_uri",
            "band",
            F.lit(lvl).cast("int").alias("level"),
            "px_sum",
        )
    )


# R11+C10+S7 end-to-end: the reference's most common consumer path
# (svc/catalog.go:386-506 GetXYZTile + image.go:522-584 toPNG + palette.go):
# mosaic datasets onto one WebMercator XYZ tile, normalize through the
# DataMapping, color through the palette LUT, encode a REAL PNG, decode it
# back, and checksum the RGBA planes.  The decode-back makes the S7 codec
# part of the verified surface (a bit-broken IDAT would corrupt the sums).
# Oracle: pixel values re-derived analytically (inverse mercator is pure
# IEEE mul/div on the lon->ix axis; atan/exp ulps on lat sit far from the
# 1/64-degree floor boundaries), then the identical LUT application — the
# 256-entry LUT is inlined as literals, index rounding is HALF-EVEN on
# both sides (np.round / round_even) because v in {16,48,80} lands on
# exact .5 ties.  PNG encode/decode cancels in the oracle by roundtrip
# identity, which is precisely what the engine proves by doing it.
def _xyz_png_pieces():
    from geocube_spark.functions.palette import ColorPoint, build_lut
    from geocube_spark.operators.regrid import xyz_tile_grid

    pts = [
        ColorPoint(0.0, 0, 0, 128, 255),
        ColorPoint(0.5, 255, 165, 0, 255),
        ColorPoint(1.0, 255, 255, 255, 255),
    ]
    (ox, oy), res = xyz_tile_grid(64, 43, 7)
    return pts, build_lut(pts), ox, oy, res


_XYZ_PNG_PTS, _XYZ_PNG_LUT, _XYZ_OX, _XYZ_OY, _XYZ_RES = _xyz_png_pieces()


def _xyz_png_oracle() -> str:
    luts = {
        ch: "[" + ", ".join(str(e[k]) for e in _XYZ_PNG_LUT) + "]"
        for k, ch in enumerate("rgba")
    }
    return f"""
    WITH cells AS (SELECT i.range AS idx FROM range(0, 65536) i),
    ll AS (
        SELECT idx,
               degrees(({_XYZ_OX!r} + ((idx % 256) + 0.5) * {_XYZ_RES!r})
                       / 6378137.0) AS lon,
               degrees(2*atan(exp(({_XYZ_OY!r} - ((idx // 256) + 0.5) * {_XYZ_RES!r})
                                  / 6378137.0)) - pi()/2) AS lat
        FROM cells
    ),
    src AS (
        SELECT idx, CAST(floor(lon / 0.015625) AS BIGINT) AS ix,
               CAST(floor((50.0 - lat) / 0.015625) AS BIGINT) AS iy
        FROM ll
    ),
    v AS (
        SELECT idx,
               CASE WHEN ix >= 0 AND ix < 128 AND iy >= 0 AND iy < 128
                    THEN CAST((13*ix + 7*iy) % 97 AS DOUBLE) END AS val
        FROM src
    ),
    li AS (
        SELECT CASE WHEN val IS NULL THEN NULL
               ELSE CAST(round_even(least(greatest(val / 96.0, 0.0), 1.0) * 255, 0)
                    AS INT) + 1 END AS k
        FROM v
    )
    SELECT CAST(64 AS INT) AS x, CAST(43 AS INT) AS y, CAST(7 AS INT) AS z,
           CAST(256 AS BIGINT) AS width, CAST(256 AS BIGINT) AS height,
           CAST(sum(CASE WHEN k IS NULL THEN 0 ELSE {luts["r"]}[k] END) AS BIGINT) AS r_sum,
           CAST(sum(CASE WHEN k IS NULL THEN 0 ELSE {luts["g"]}[k] END) AS BIGINT) AS g_sum,
           CAST(sum(CASE WHEN k IS NULL THEN 0 ELSE {luts["b"]}[k] END) AS BIGINT) AS b_sum,
           CAST(sum(CASE WHEN k IS NULL THEN 0 ELSE {luts["a"]}[k] END) AS BIGINT) AS a_sum,
           CAST(count(*) FILTER (k IS NULL) AS BIGINT) AS n_transparent
    FROM li
    """


@q("xyz_tile_png", _xyz_png_oracle())
def xyz_tile_png(spark, sf_dir):
    import pandas as _pd

    from geocube_spark.operators.regrid import xyz_tile

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src.parquet")
    tile = xyz_tile(tiles, 64, 43, 7, nodata=-1.0, src_srid=4326)
    dm = {
        "dtype": "Float64", "no_data": -1.0, "min_value": 0.0, "max_value": 96.0,
        "real_min_value": 0.0, "real_max_value": 1.0, "exponent": 1.0,
    }
    pts = _XYZ_PNG_PTS
    cols = [
        "x", "y", "z", "width", "height",
        "r_sum", "g_sum", "b_sum", "a_sum", "n_transparent",
    ]

    def render(batches):
        from geocube_spark.sources.png import decode_png, slice_to_png

        for pdf in batches:
            rows = []
            for px in pdf["px"]:
                png = slice_to_png(list(px), 256, 256, dm, palette_points=pts)
                back = decode_png(png)  # the S7 roundtrip, real bytes
                flat = back.reshape(-1, 4).astype("int64")
                rows.append((
                    64, 43, 7, back.shape[1], back.shape[0],
                    int(flat[:, 0].sum()), int(flat[:, 1].sum()),
                    int(flat[:, 2].sum()), int(flat[:, 3].sum()),
                    int((flat[:, 3] == 0).sum()),
                ))
            yield _pd.DataFrame(rows, columns=cols)

    return tile.select("px").mapInPandas(
        render,
        "x int, y int, z int, width long, height long, r_sum long,"
        " g_sum long, b_sum long, a_sum long, n_transparent long",
    )


@q(
    "cover_regular_grid",
    """
    WITH cells AS (
        SELECT i.range AS i, j.range AS j
        FROM range(CAST(floor(-10.0 / 2.56) AS BIGINT), CAST(ceil(12.0 / 2.56) AS BIGINT)) i,
             range(CAST(floor(-5.0 / 2.56) AS BIGINT), CAST(ceil(7.0 / 2.56) AS BIGINT)) j
        WHERE (i.range * 2.56) < 12.0 AND (i.range * 2.56 + 2.56) > -10.0
          AND (j.range * 2.56) < 7.0 AND (j.range * 2.56 + 2.56) > -5.0
    )
    SELECT 'cell/' || i::VARCHAR || '/' || j::VARCHAR AS cell_uri,
           CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j
    FROM cells
    """,
)
def cover_regular_grid(spark, sf_dir):
    spec = RegularGridSpec(crs="epsg:32631", cell_size=256, resolution=0.01)
    out = cover_regular(spark, [(-10.0, -5.0, 12.0, 7.0)], spec)
    return out.select("cell_uri", "i", "j")


# A1: TRUE union geometry of a job's locked datasets (pg_containers.go:
# 385-430 ST_Union) — the consolidation AOI as a real multipolygon.  The
# oracle re-derives the exact union AREA by the same breakpoint-grid
# decomposition in SQL (every grid cell is fully in or out of the union,
# so covered-cell area == union area, no approximation); the WKB itself is
# checked in pytest (shoelace == grid area, ring orientation, hole
# attachment).  On these fixtures the old envelope over-covered ~45x
# (18401 vs 409.82).
@q(
    "union_geometry_job",
    f"""
    WITH r AS (
        SELECT bbox.xmin AS x0, bbox.ymin AS y0, bbox.xmax AS x1, bbox.ymax AS y1
        FROM read_parquet('{FIXTURE_DIR}/datasets.parquet')
        WHERE locked_by_job_id = 'job-0'
    ),
    xs AS (SELECT DISTINCT x0 AS v FROM r UNION SELECT DISTINCT x1 FROM r),
    xsl AS (SELECT v AS xa, LEAD(v) OVER (ORDER BY v) AS xb FROM xs),
    ys AS (SELECT DISTINCT y0 AS v FROM r UNION SELECT DISTINCT y1 FROM r),
    ysl AS (SELECT v AS ya, LEAD(v) OVER (ORDER BY v) AS yb FROM ys),
    cells AS (
        SELECT xa, xb, ya, yb FROM xsl, ysl
        WHERE xb IS NOT NULL AND yb IS NOT NULL
    ),
    cov AS (
        SELECT * FROM cells c
        WHERE EXISTS (
            SELECT 1 FROM r
            WHERE r.x0 <= c.xa AND r.x1 >= c.xb AND r.y0 <= c.ya AND r.y1 >= c.yb
        )
    )
    SELECT 'job-0' AS job_id,
           (SELECT CAST(count(*) AS BIGINT) FROM r) AS n_datasets,
           (SELECT min(x0) FROM r) AS xmin, (SELECT min(y0) FROM r) AS ymin,
           (SELECT max(x1) FROM r) AS xmax, (SELECT max(y1) FROM r) AS ymax,
           round((SELECT sum((xb - xa) * (yb - ya)) FROM cov), 6) AS union_area
    """,
)
def union_geometry_job(spark, sf_dir):
    from geocube_spark.operators.consolidation import union_footprints

    fd = ensure_fixtures()
    datasets = spark.read.parquet(f"{fd}/datasets.parquet")
    flt = DatasetFilters(status=None, locked_by_job_id="job-0", order=False)
    locked = find_datasets(datasets, None, flt).withColumn(
        "job_id", F.col("locked_by_job_id")
    )
    out = union_footprints(locked, ["job_id"])
    return out.select(
        "job_id", "n_datasets", "xmin", "ymin", "xmax", "ymax",
        F.round("union_area", 6).alias("union_area"),
    )


# Chebyshev (L-inf) AOI buffering: Minkowski dilation commutes with union,
# so buffer(union(rects), d) = union(inflate(rect, d)) — exact through the
# same rect_union kernel; oracle replays the coordinate-compression union
# over the inflated rects.  (The vector-side ST_Buffer surface the
# reference gets from PostGIS, on the rectilinear domain.)
@q(
    "aoi_buffer_union",
    f"""
    WITH r AS (
        SELECT bbox.xmin - 0.25 AS x0, bbox.ymin - 0.25 AS y0,
               bbox.xmax + 0.25 AS x1, bbox.ymax + 0.25 AS y1
        FROM read_parquet('{FIXTURE_DIR}/datasets.parquet')
        WHERE locked_by_job_id = 'job-0'
    ),
    xs AS (SELECT DISTINCT x0 AS v FROM r UNION SELECT DISTINCT x1 FROM r),
    xsl AS (SELECT v AS xa, LEAD(v) OVER (ORDER BY v) AS xb FROM xs),
    ys AS (SELECT DISTINCT y0 AS v FROM r UNION SELECT DISTINCT y1 FROM r),
    ysl AS (SELECT v AS ya, LEAD(v) OVER (ORDER BY v) AS yb FROM ys),
    cells AS (
        SELECT xa, xb, ya, yb FROM xsl, ysl
        WHERE xb IS NOT NULL AND yb IS NOT NULL
    ),
    cov AS (
        SELECT * FROM cells c
        WHERE EXISTS (
            SELECT 1 FROM r
            WHERE r.x0 <= c.xa AND r.x1 >= c.xb AND r.y0 <= c.ya AND r.y1 >= c.yb
        )
    )
    SELECT 'job-0' AS job_id,
           (SELECT CAST(count(*) AS BIGINT) FROM r) AS n_datasets,
           round((SELECT sum((xb - xa) * (yb - ya)) FROM cov), 6) AS buffered_area
    """,
)
def aoi_buffer_union(spark, sf_dir):
    from geocube_spark.operators.consolidation import union_footprints

    fd = ensure_fixtures()
    datasets = spark.read.parquet(f"{fd}/datasets.parquet")
    flt = DatasetFilters(status=None, locked_by_job_id="job-0", order=False)
    locked = find_datasets(datasets, None, flt).withColumn(
        "job_id", F.col("locked_by_job_id")
    )
    d = 0.25
    inflated = (
        locked.withColumn(
            "bbox",
            F.struct(
                (F.col("bbox.xmin") - d).alias("xmin"),
                (F.col("bbox.ymin") - d).alias("ymin"),
                (F.col("bbox.xmax") + d).alias("xmax"),
                (F.col("bbox.ymax") + d).alias("ymax"),
            ),
        )
    )
    out = union_footprints(inflated, ["job_id"])
    return out.select(
        "job_id", "n_datasets", F.round("union_area", 6).alias("buffered_area")
    )


# A1 over the GENERAL polygon domain: union of ROTATED footprints (diamond
# chain, arbitrary-angle quads, a rotated annulus with a hole).  The oracle
# is ANALYTIC: per-quad shoelace area computed by DuckDB from the raw
# vertices, minus the closed-form pairwise-overlap corrections recorded at
# fixture-construction time (consecutive-diamond lens (2r-d)^2/2, annulus
# corner t^2 — see fixtures.py); component/hole counts follow from the
# construction.  The Spark side sees ONLY vertices and computes the union
# with the vertical-slab kernel — a genuinely independent derivation.
@q(
    "union_geometry_rotated",
    f"""
    WITH sl AS (
        SELECT job_id,
               abs((x1*y2 - x2*y1) + (x2*y3 - x3*y2)
                 + (x3*y4 - x4*y3) + (x4*y1 - x1*y4)) / 2.0 AS area
        FROM read_parquet('{FIXTURE_DIR}/rotated_footprints.parquet')
    ),
    corr AS (
        SELECT job_id, sum(pair_area) AS overlap
        FROM read_parquet('{FIXTURE_DIR}/rotated_overlap_pairs.parquet')
        GROUP BY job_id
    )
    SELECT sl.job_id,
           CAST(count(*) AS BIGINT) AS n_datasets,
           round(sum(sl.area) - any_value(corr.overlap), 6) AS union_area,
           CAST(CASE sl.job_id WHEN 'job-r0' THEN 3 ELSE 1 END AS BIGINT)
               AS n_polygons,
           CAST(CASE sl.job_id WHEN 'job-r0' THEN 0 ELSE 1 END AS BIGINT)
               AS n_holes
    FROM sl JOIN corr ON sl.job_id = corr.job_id
    GROUP BY sl.job_id
    ORDER BY sl.job_id
    """,
)
def union_geometry_rotated(spark, sf_dir):
    from geocube_spark.operators.consolidation import union_polygon_footprints

    fd = ensure_fixtures()
    quads = spark.read.parquet(f"{fd}/rotated_footprints.parquet")
    out = union_polygon_footprints(quads, ["job_id"])
    return out.select(
        "job_id", "n_datasets",
        F.round("union_area", 6).alias("union_area"),
        "n_polygons", "n_holes",
    ).orderBy("job_id")


# A2 over the general domain: the diamond chain clipped per cell by
# vertical cell boundaries, then unioned.  Fully data-driven oracle: the
# area of a diamond |x-cx|+|y-cy| <= r left of a vertical line x = t is
# the closed-form piecewise quadratic F(t) (0 / (t-cx+r)^2 / 2r^2-(cx+r-t)^2
# / 2r^2), so the clipped area is F(hi)-F(lo); consecutive-pair lens
# corrections apply when the lens midpoint falls inside the cell (cells are
# cut at diamond centers, outside every lens).
@q(
    "valid_shape_rotated_cells",
    f"""
    WITH cells(cell_uri, cxlo, cxhi) AS (
        VALUES ('cell/r0', -3.0, 3.0), ('cell/r1', 3.0, 9.0)
    ),
    d AS (
        SELECT * FROM read_parquet('{FIXTURE_DIR}/rotated_footprints.parquet')
        WHERE kind = 'diamond'
    ),
    jd AS (
        SELECT c.cell_uri, d.record_id, d.cx, d.r,
               greatest(d.cx - d.r, c.cxlo) AS lo,
               least(d.cx + d.r, c.cxhi) AS hi
        FROM d JOIN cells c
          ON d.cx - d.r < c.cxhi AND d.cx + d.r > c.cxlo
    ),
    areas AS (
        SELECT cell_uri, record_id,
               (CASE WHEN hi <= cx THEN (hi - cx + r) * (hi - cx + r)
                     ELSE 2*r*r - (cx + r - hi) * (cx + r - hi) END
              - CASE WHEN lo <= cx THEN (lo - cx + r) * (lo - cx + r)
                     ELSE 2*r*r - (cx + r - lo) * (cx + r - lo) END
               ) AS clip_area
        FROM jd
    ),
    lens AS (
        SELECT c.cell_uri,
               sum((2*a.r - (b.cx - a.cx)) * (2*a.r - (b.cx - a.cx)) / 2.0)
                   AS overlap
        FROM d a JOIN d b ON b.cx = a.cx + 3.0
        JOIN cells c
          ON (a.cx + b.cx) / 2.0 > c.cxlo AND (a.cx + b.cx) / 2.0 < c.cxhi
        GROUP BY c.cell_uri
    )
    SELECT a.cell_uri, a.record_id,
           CAST(count(*) AS BIGINT) AS n_datasets,
           round(sum(a.clip_area) - coalesce(any_value(l.overlap), 0), 6)
               AS v_area
    FROM areas a LEFT JOIN lens l ON a.cell_uri = l.cell_uri
    GROUP BY a.cell_uri, a.record_id
    ORDER BY a.cell_uri
    """,
)
def valid_shape_rotated_cells(spark, sf_dir):
    from geocube_spark.functions.localdf import values_df
    from geocube_spark.operators.consolidation import valid_shape_per_cell_general

    fd = ensure_fixtures()
    quads = spark.read.parquet(f"{fd}/rotated_footprints.parquet").filter(
        F.col("kind") == "diamond"
    )
    cells = values_df(
        spark,
        [("cell/r0", -3.0, -5.0, 3.0, 5.0), ("cell/r1", 3.0, -5.0, 9.0, 5.0)],
        ["cell_uri", "cell_xmin", "cell_ymin", "cell_xmax", "cell_ymax"],
    )
    qx = quads.withColumn(
        "qxmin", F.least("x1", "x2", "x3", "x4")
    ).withColumn("qxmax", F.greatest("x1", "x2", "x3", "x4"))
    joined = qx.join(
        F.broadcast(cells),
        (F.col("qxmin") < F.col("cell_xmax")) & (F.col("qxmax") > F.col("cell_xmin")),
    )
    out = valid_shape_per_cell_general(joined)
    return out.select(
        "cell_uri", "record_id", "n_datasets",
        F.round("v_area", 6).alias("v_area"),
    ).orderBy("cell_uri")


# F10/J2: FindRecords with an AOI spatial filter — records ⋈ aoi (the dim
# side broadcast) gated on the coarse bbox phase of ST_Intersects
# (pg_records.go:93-107), time-ordered like every record listing.
@q(
    "find_records_aoi",
    f"""
    SELECT r.id, r.name, a.id AS aoi_id
    FROM read_parquet('{FIXTURE_DIR}/records.parquet') r
    JOIN read_parquet('{FIXTURE_DIR}/aoi.parquet') a ON r.aoi_id = a.id
    WHERE a.bbox.xmin <= -150.0 AND a.bbox.xmax >= -165.0
      AND a.bbox.ymin <= -20.0 AND a.bbox.ymax >= -38.0
    ORDER BY r.datetime, r.id
    """,
)
def find_records_aoi(spark, sf_dir):
    fd = ensure_fixtures()
    records = spark.read.parquet(f"{fd}/records.parquet")
    aoi = spark.read.parquet(f"{fd}/aoi.parquet")
    flt = RecordFilters(aoi_extent=(-165.0, -38.0, -150.0, -20.0))
    out = find_records(records, aoi, flt)
    return out.select("id", "name", "aoi_id")


# A4: user-supplied record groups merged into slices, group order preserved.
@q(
    "cube_grouped_records",
    f"""
    WITH d AS ({_DATASETS_SQL}), g(group_idx, record_id) AS (
        VALUES (0, '4'), (0, '1'), (1, '2'), (2, '7'), (2, '3'), (2, '5')
    )
    SELECT g.group_idx, CAST(count(*) AS BIGINT) AS n_datasets,
           min(d.id) AS first_dataset_id
    FROM d JOIN g ON d.record_id = g.record_id
    GROUP BY g.group_idx
    """,
)
def cube_grouped_records(spark, sf_dir):
    from geocube_spark.plans.cube import group_by_record_groups

    d = find_datasets(
        datasets_view(spark, sf_dir), records_view(spark, sf_dir), DatasetFilters(status=None)
    )
    groups = [["4", "1"], ["2"], ["7", "3", "5"]]
    out = group_by_record_groups(d, groups)
    return out.select(
        "group_idx",
        F.col("n_datasets").cast("long").alias("n_datasets"),
        F.array_min(F.transform("members", lambda m: m["dataset_id"])).alias(
            "first_dataset_id"
        ),
    )


# A6: tag merge across a slice's records — consensus keys kept, divergent
# keys suffixed; checked via consensus/divergent counts per group.
@q(
    "tag_merge_groups",
    f"""
    WITH r AS ({_RECORDS_SQL}),
    per_cust AS (
        SELECT aoi_id AS cust,
               CAST(count(*) AS BIGINT) AS n_records,
               count(DISTINCT status_tag) AS d_status,
               count(DISTINCT priority_tag) AS d_priority
        FROM r GROUP BY aoi_id HAVING count(*) >= 2
    )
    SELECT cust, n_records,
           CAST((CASE WHEN d_status = 1 THEN 1 ELSE 0 END)
              + (CASE WHEN d_priority = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_consensus,
           CAST((CASE WHEN d_status > 1 THEN n_records ELSE 0 END)
              + (CASE WHEN d_priority > 1 THEN n_records ELSE 0 END) AS BIGINT) AS n_suffixed
    FROM per_cust
    """,
)
def tag_merge_groups(spark, sf_dir):
    from geocube_spark.plans.cube import merge_tags

    r = records_view(spark, sf_dir)
    grouped = (
        r.groupBy(F.col("aoi_id").alias("cust"))
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.collect_list("tags").alias("tags_list"),
        )
        .filter(F.col("n_records") >= 2)
    )
    merged = merge_tags(grouped)
    keys = F.map_keys(F.col("merged_tags"))
    return merged.select(
        "cust",
        "n_records",
        F.size(F.filter(keys, lambda k: ~k.contains("."))).cast("long").alias("n_consensus"),
        F.size(F.filter(keys, lambda k: k.contains("."))).cast("long").alias("n_suffixed"),
    )


# F12/A9: valid-pixel count + threshold filter over the tile table.
@q(
    "valid_pixel_filter",
    f"""
    SELECT t.container_uri, t.block_x, t.block_y,
           CAST(len(list_filter(t.px, v -> v != -32768.0)) AS BIGINT) AS n_valid
    FROM read_parquet('{FIXTURE_DIR}/tiles.parquet') t
    JOIN read_parquet('{FIXTURE_DIR}/datasets.parquet') d
      ON t.container_uri = d.container_uri
    WHERE t.level = 0 AND d.dmapping.no_data = -32768.0
      AND len(list_filter(t.px, v -> v != -32768.0)) >= CAST(ceil(0.8 * 4096) AS BIGINT)
    """,
)
def valid_pixel_filter(spark, sf_dir):
    from geocube_spark.operators.mosaic import filter_valid_slices

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/tiles.parquet")
    datasets = spark.read.parquet(f"{fd}/datasets.parquet")
    src = tiles.filter(F.col("level") == 0).join(
        datasets.filter(F.col("dmapping.no_data") == -32768.0).select("container_uri"),
        "container_uri",
        "left_semi",
    )
    kept = filter_valid_slices(src, nodata=-32768.0, min_valid_fraction=0.8)
    return kept.select(
        "container_uri",
        "block_x",
        "block_y",
        valid_count_expr(F.col("px"), F.lit(-32768.0)).cast("long").alias("n_valid"),
    )


# J5: custom-grid cover — AOI × cells spatial join returning per-cell
# intersection bounds (two-phase: bbox prune, exact convex clip).
@q(
    "cover_custom_cells",
    f"""
    SELECT id, srid,
           greatest(bbox.xmin, -165.0) AS ix0,
           greatest(bbox.ymin, -38.0) AS iy0,
           least(bbox.xmax, -150.0) AS ix1,
           least(bbox.ymax, -20.0) AS iy1
    FROM read_parquet('{FIXTURE_DIR}/cells.parquet')
    WHERE bbox.xmin < -150.0 AND bbox.xmax > -165.0
      AND bbox.ymin < -20.0 AND bbox.ymax > -38.0
    """,
)
def cover_custom_cells(spark, sf_dir):
    from geocube_spark.operators.cover import cover_custom

    fd = ensure_fixtures()
    cells = spark.read.parquet(f"{fd}/cells.parquet")
    out = cover_custom([(-165.0, -38.0, -150.0, -20.0)], cells)
    return out.select(
        "id",
        "srid",
        F.element_at("isect_bounds", 1).alias("ix0"),
        F.element_at("isect_bounds", 2).alias("iy0"),
        F.element_at("isect_bounds", 3).alias("ix1"),
        F.element_at("isect_bounds", 4).alias("iy1"),
    )


# R8 (complete): custom-grid PER-CELL SUBGRID recursion — CustomGrid.Covers
# (customgrid.go:70-108) composes the J5 intersections with a subgrid built
# in each cell's OWN CRS.  The oracle re-derives the projected intersection
# bbox per cell through tm_forward_sql_columns (one UNION branch per UTM
# zone in the fixture grid), then replays the identical singlecell /
# regular-range arithmetic in SQL.  Bounds are rounded to mm on both sides
# so floor/ceil boundaries sit ~6 orders of magnitude above the ~3 nm
# numpy-vs-SQL transform noise.
def _subgrid_crs_bbox_cte(x0: float, y0: float, x1: float, y1: float) -> str:
    from geocube_spark.functions.crs import tm_forward_sql_columns

    branches = "\n        UNION ALL ".join(
        f"SELECT id, srid, {tm_forward_sql_columns('lon', 'lat', s)} "
        f"FROM corners WHERE srid = {s}"
        for s in range(32601, 32609)
    )
    return f"""
    isect AS (
        SELECT id, srid,
               greatest(bbox.xmin, {x0}) AS ix0, greatest(bbox.ymin, {y0}) AS iy0,
               least(bbox.xmax, {x1}) AS ix1, least(bbox.ymax, {y1}) AS iy1
        FROM read_parquet('{FIXTURE_DIR}/cells.parquet')
        WHERE grid = 'mgrs_like'
          AND bbox.xmin < {x1} AND bbox.xmax > {x0}
          AND bbox.ymin < {y1} AND bbox.ymax > {y0}
    ),
    corners AS (
        SELECT id, srid,
               CASE c.k WHEN 0 THEN ix0 WHEN 1 THEN ix1 WHEN 2 THEN ix1 ELSE ix0 END AS lon,
               CASE c.k WHEN 0 THEN iy0 WHEN 1 THEN iy0 WHEN 2 THEN iy1 ELSE iy1 END AS lat
        FROM isect, (SELECT unnest([0, 1, 2, 3]) AS k) c
    ),
    en AS (
        {branches}
    ),
    crs_bbox AS (
        SELECT id, srid,
               round(min(utm_e), 3) AS bx0, round(min(utm_n), 3) AS by0,
               round(max(utm_e), 3) AS bx1, round(max(utm_n), 3) AS by1
        FROM en GROUP BY id, srid
    )"""


_SUBGRID_AOI = (-165.0, -38.0, -150.0, -20.0)


@q(
    "cover_custom_subgrid",
    f"""
    WITH {_subgrid_crs_bbox_cte(*_SUBGRID_AOI)},
    tiles AS (
        SELECT id AS cell_id, srid, i, j,
               (i * 25600.0) AS cxmin, (0.0 - j * 25600.0) AS cymax,
               bx0, by0, bx1, by1
        FROM crs_bbox,
             unnest(generate_series(
                 CAST(floor(bx0 / 25600.0) AS BIGINT),
                 greatest(CAST(ceil(bx1 / 25600.0) AS BIGINT) - 1,
                          CAST(floor(bx0 / 25600.0) AS BIGINT)))) AS t_i(i),
             unnest(generate_series(
                 CAST(floor((0.0 - by1) / 25600.0) AS BIGINT),
                 greatest(CAST(ceil((0.0 - by0) / 25600.0) AS BIGINT) - 1,
                          CAST(floor((0.0 - by1) / 25600.0) AS BIGINT)))) AS t_j(j)
    )
    SELECT cell_id || '/' || i::VARCHAR || '/' || j::VARCHAR AS cell_uri,
           cell_id, srid, CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j
    FROM tiles
    WHERE cxmin < bx1 AND cxmin + 25600.0 > bx0
      AND cymax > by0 AND cymax - 25600.0 < by1
    """,
)
def cover_custom_subgrid(spark, sf_dir):
    """Regular subgrid recursion: Parameters = subgrid=regular,
    resolution=100, cell_size=256 (span 25.6 km per subcell)."""
    from geocube_spark.operators.cover import cover_custom_subgrid as _cover

    fd = ensure_fixtures()
    cells = spark.read.parquet(f"{fd}/cells.parquet").filter(F.col("grid") == "mgrs_like")
    out = _cover(
        [_SUBGRID_AOI], cells,
        {"subgrid": "regular", "resolution": "100", "cell_size": "256"},
    )
    return out.select("cell_uri", "cell_id", "srid", "i", "j")


@q(
    "cover_custom_subgrid_singlecell",
    f"""
    WITH {_subgrid_crs_bbox_cte(*_SUBGRID_AOI)}
    SELECT id AS cell_id, srid,
           id || '/' || printf('%.3f', bx0) || '/' || printf('%.3f', by1)
              || '/' || CAST(floor(abs(bx1 - bx0) / 10.0 + 0.5) AS BIGINT)::VARCHAR
              || '/' || CAST(floor(abs(by1 - by0) / 10.0 + 0.5) AS BIGINT)::VARCHAR AS cell_uri,
           bx0 AS origin_x, by1 AS origin_y,
           CAST(floor(abs(bx1 - bx0) / 10.0 + 0.5) AS BIGINT) AS width,
           CAST(floor(abs(by1 - by0) / 10.0 + 0.5) AS BIGINT) AS height
    FROM crs_bbox
    """,
)
def cover_custom_subgrid_singlecell(spark, sf_dir):
    """Default subgrid (customgrid.go:44-54: 'resolution' alone implies
    singlecell): one tile per custom cell, URI cellID/originX/originY/w/h."""
    from geocube_spark.operators.cover import cover_custom_subgrid as _cover

    fd = ensure_fixtures()
    cells = spark.read.parquet(f"{fd}/cells.parquet").filter(F.col("grid") == "mgrs_like")
    out = _cover([_SUBGRID_AOI], cells, {"resolution": "10"})
    return out.select(
        "cell_id", "srid", "cell_uri", "origin_x", "origin_y", "width", "height"
    )


# CRUD e2e under the oracle gate: a grid and layout created through the
# CLIENT API (create_grid bulk-cell insert + create_layout validation)
# drive TileAOI end-to-end; the oracle re-derives the per-cell singlecell
# subgrid analytically from the SAME two literal cells.  Proves the
# write path (validation + catalog commit) feeds the read path.
_CRUD_CELLS = [
    ("Z1", 32601, (-172.0, -42.0, -168.0, -37.5)),
    ("Z2", 32602, (-168.0, -42.0, -164.0, -37.5)),
]
_CRUD_AOI = (-170.0, -40.0, -166.0, -38.0)


def ensure_crud_catalog(spark: SparkSession) -> str:
    def build(root):
        from geocube_spark.client import GeocubeClient
        from geocube_spark.functions.geometry import rect_wkb

        client = GeocubeClient(spark, root)
        client.create_grid(
            "crud_mgrs",
            "two UTM-zone cells created through the API",
            [
                {"id": cid, "crs": f"epsg:{srid}", "srid": srid,
                 "geom_wkb": rect_wkb(*rect)}
                for cid, srid, rect in _CRUD_CELLS
            ],
        )
        client.create_layout(
            "crud_layout", {"grid": "crud_mgrs", "resolution": "10"}
        )

    return cached(os.path.join(FIXTURE_DIR, "crud_catalog"), [], build)


def _crud_cover_oracle() -> str:
    from geocube_spark.functions.crs import tm_forward_sql_columns

    x0, y0, x1, y1 = _CRUD_AOI
    values = []
    for cid, srid, (cx0, cy0, cx1, cy1) in _CRUD_CELLS:
        ix0, iy0 = max(cx0, x0), max(cy0, y0)
        ix1, iy1 = min(cx1, x1), min(cy1, y1)
        for lon, lat in ((ix0, iy0), (ix1, iy0), (ix1, iy1), (ix0, iy1)):
            values.append(f"('{cid}', {srid}, {lon!r}, {lat!r})")
    rows = ",\n        ".join(values)
    branches = "\n        UNION ALL ".join(
        f"SELECT id, srid, {tm_forward_sql_columns('lon', 'lat', srid)} "
        f"FROM corners WHERE srid = {srid}"
        for srid in sorted({srid for _, srid, _ in _CRUD_CELLS})
    )
    return f"""
    WITH corners(id, srid, lon, lat) AS (VALUES
        {rows}
    ),
    en AS (
        {branches}
    ),
    crs_bbox AS (
        SELECT id, srid,
               round(min(utm_e), 3) AS bx0, round(min(utm_n), 3) AS by0,
               round(max(utm_e), 3) AS bx1, round(max(utm_n), 3) AS by1
        FROM en GROUP BY id, srid
    )
    SELECT id AS cell_id, srid,
           id || '/' || printf('%.3f', bx0) || '/' || printf('%.3f', by1)
              || '/' || CAST(floor(abs(bx1 - bx0) / 10.0 + 0.5) AS BIGINT)::VARCHAR
              || '/' || CAST(floor(abs(by1 - by0) / 10.0 + 0.5) AS BIGINT)::VARCHAR AS cell_uri,
           bx0 AS origin_x, by1 AS origin_y,
           CAST(floor(abs(bx1 - bx0) / 10.0 + 0.5) AS BIGINT) AS width,
           CAST(floor(abs(by1 - by0) / 10.0 + 0.5) AS BIGINT) AS height
    FROM crs_bbox
    """


@q("grid_crud_cover_roundtrip", _crud_cover_oracle())
def grid_crud_cover_roundtrip(spark, sf_dir):
    from geocube_spark.client import GeocubeClient

    root = ensure_crud_catalog(spark)
    client = GeocubeClient(spark, root)
    out = client.tile_aoi([_CRUD_AOI], "crud_layout")
    return out.select(
        "cell_id", "srid", "cell_uri", "origin_x", "origin_y", "width", "height"
    )


# Reconsolidation-need planning (csldPrepareOrdersNeedReconsolidation,
# consolidater.go:491-519): per dataset, (re)consolidate iff it is outside
# the container family, its DataMapping changed, or a band exceeds the
# container's band count — memoized per container (any trigger drags the
# container's siblings along); untouched containers are flagged reusable.
# Container base = the fixture family with the exp-1 Int16 mapping and 2
# bands, so all three decision arms fire on real rows.
@q(
    "reconsolidation_need",
    f"""
    WITH d AS (
        SELECT container_uri, bands, dmapping,
               starts_with(container_uri, 'file:///synth/') AS in_group,
               (dmapping.dtype = 'Int16' AND dmapping.no_data = -32768.0
                AND dmapping.min_value = 0.0 AND dmapping.max_value = 10000.0
                AND dmapping.real_min_value = 0.0 AND dmapping.real_max_value = 1.0
                AND dmapping.exponent = 1.0) AS same_mapping,
               list_max(bands) > 2 AS band_overflow
        FROM read_parquet('{FIXTURE_DIR}/datasets.parquet')
    ),
    flagged AS (
        SELECT container_uri, in_group,
               in_group AND (NOT same_mapping OR band_overflow) AS needs
        FROM d
    ),
    per AS (
        SELECT container_uri, in_group,
               CASE WHEN NOT in_group THEN TRUE
                    ELSE max(needs) OVER (PARTITION BY container_uri) END AS consolidation
        FROM flagged
    )
    SELECT container_uri,
           CAST(count(*) AS BIGINT) AS n_datasets,
           bool_or(consolidation) AS consolidation,
           bool_or(in_group AND NOT consolidation) AS reusable
    FROM per GROUP BY container_uri
    """,
)
def reconsolidation_need(spark, sf_dir):
    from geocube_spark.operators.consolidation import reconsolidation_plan

    fd = ensure_fixtures()
    datasets = spark.read.parquet(f"{fd}/datasets.parquet")
    dm = {
        "dtype": "Int16", "no_data": -32768.0, "min_value": 0.0,
        "max_value": 10000.0, "real_min_value": 0.0, "real_max_value": 1.0,
        "exponent": 1.0,
    }
    out = reconsolidation_plan(
        datasets, "file:///synth/", dm, container_bands_count=2
    )
    return out.groupBy("container_uri").agg(
        F.count(F.lit(1)).cast("long").alias("n_datasets"),
        F.bool_or("consolidation").alias("consolidation"),
        F.bool_or(F.col("in_group") & ~F.col("consolidation")).alias("reusable"),
    )


# Client-level Consolidate RPC end-to-end: csldInit (job create + INIT
# locks + params check, svc/consolidater.go:108-151) composed with
# csldPrepareOrders (union extent -> regular-grid cover -> per-cell sorted
# dataset lists -> max_records chunks -> task rows, consolidater.go:166-407)
# through the job state machine to CONSOLIDATIONINPROGRESS.  The Spark side
# returns the COMMITTED task payloads of the job; the oracle independently
# re-derives every step in SQL from the same fixture parquet.
_CSLD_INSTANCE_0 = "888ae788-dbc4-5f8a-82a1-4244d4315d66"  # fixtures._uuid("instance", 0)


def _code_files(*rels: str) -> list[str]:
    pkg = os.path.dirname(os.path.abspath(__file__))
    return [os.path.join(pkg, rel) for rel in rels]


def ensure_consolidate_job(spark: SparkSession) -> str:
    """Run ``client.consolidate()`` ONCE over a copy of the fixture catalog
    (job id deterministic in the job name, task ids deterministic in the
    job+container, so re-runs are byte-stable).  The fixture's job-0 locks
    are released first — the conflict arm is covered in
    tests/test_client.py::TestConsolidateOrchestration.

    Keyed to the code that PRODUCES the catalog, so a change to the
    planning path regenerates the fixture instead of hash-checking a stale
    frozen catalog (the oracle would otherwise keep passing against output
    the current code no longer emits)."""
    import shutil

    def build(root):
        from geocube_spark.client import GeocubeClient

        fd = ensure_fixtures()
        os.makedirs(root)
        for t in ("aoi", "records", "variables", "instances", "containers",
                  "datasets", "layouts", "consolidation_params", "jobs",
                  "tasks", "locked_datasets"):
            shutil.copy(os.path.join(fd, f"{t}.parquet"),
                        os.path.join(root, f"{t}.parquet"))
        c = GeocubeClient(spark, root)
        c.catalog.write(
            "datasets",
            c.catalog.read("datasets").withColumn(
                "locked_by_job_id", F.lit(None).cast("string")
            ),
        )
        c.catalog.write(
            "locked_datasets",
            c.catalog.read("locked_datasets").filter(F.col("job_id") != "job-0"),
        )
        # a finer layout THROUGH THE API (create_layout validation in
        # the loop): span 256*0.25=64 units and max_records=8, so the plan
        # yields many cells and multiple chunks per cell
        c.create_layout(
            "e2e_fine",
            {"grid": "regular", "crs": "epsg:4326", "cell_size": "256",
             "resolution": "0.0625", "ox": "0", "oy": "0"},
            max_records=8,
        )
        c.consolidate("e2e", _CSLD_INSTANCE_0, "e2e_fine")

    return cached(
        os.path.join(FIXTURE_DIR, "consolidate_job_catalog"),
        _code_files("client.py", "operators/consolidation.py",
                    "operators/cover.py", "streaming/jobs.py"),
        build,
    )


@q(
    "consolidate_e2e",
    f"""
    WITH sel AS (
        SELECT id, record_id, container_uri, bbox
        FROM read_parquet('{FIXTURE_DIR}/datasets.parquet')
        WHERE status = 'ACTIVE' AND instance_id = '{_CSLD_INSTANCE_0}'
    ),
    wr AS (
        SELECT sel.*, r.datetime AS rt
        FROM sel JOIN read_parquet('{FIXTURE_DIR}/records.parquet') r
          ON sel.record_id = r.id
    ),
    ext AS (
        SELECT min(bbox.xmin) AS xmin, min(bbox.ymin) AS ymin,
               max(bbox.xmax) AS xmax, max(bbox.ymax) AS ymax
        FROM wr
    ),
    ij AS (
        SELECT xmin, ymin, xmax, ymax,
               CAST(floor(xmin / 16.0) AS BIGINT) AS i0,
               greatest(CAST(ceil(xmax / 16.0) AS BIGINT) - 1,
                        CAST(floor(xmin / 16.0) AS BIGINT)) AS i1,
               CAST(floor(ymin / 16.0) AS BIGINT) AS j0,
               greatest(CAST(ceil(ymax / 16.0) AS BIGINT) - 1,
                        CAST(floor(ymin / 16.0) AS BIGINT)) AS j1
        FROM ext
    ),
    ci AS (
        SELECT unnest(generate_series(i0, i1)) AS i, j0, j1,
               xmin, ymin, xmax, ymax
        FROM ij
    ),
    cij AS (
        SELECT i, unnest(generate_series(j0, j1)) AS j, xmin, ymin, xmax, ymax
        FROM ci
    ),
    cells AS (
        SELECT i, j,
               i * 16.0 AS cx0, j * 16.0 AS cy0,
               i * 16.0 + 16.0 AS cx1, j * 16.0 + 16.0 AS cy1
        FROM cij
        WHERE i * 16.0 < xmax AND i * 16.0 + 16.0 > xmin
          AND j * 16.0 < ymax AND j * 16.0 + 16.0 > ymin
    ),
    joined AS (
        SELECT 'cell/' || c.i || '/' || c.j AS cell_uri, wr.*
        FROM wr JOIN cells c
          ON wr.bbox.xmin <= c.cx1 AND wr.bbox.xmax >= c.cx0
         AND wr.bbox.ymin <= c.cy1 AND wr.bbox.ymax >= c.cy0
    ),
    per AS (
        SELECT cell_uri,
               list(id ORDER BY rt, record_id, id, container_uri) AS members
        FROM joined GROUP BY cell_uri
    ),
    chunks AS (
        SELECT cell_uri, members,
               unnest(generate_series(
                   0, CAST(floor((len(members) - 1) / 8) AS BIGINT)
               )) AS g
        FROM per
    )
    SELECT 'consolidated/' || cell_uri || '/' || g AS out_container_uri,
           cell_uri,
           CAST(g AS INT) AS chunk_idx,
           array_to_string(list_slice(members, g * 8 + 1, (g + 1) * 8), ',')
               AS dataset_ids,
           CAST(len(list_slice(members, g * 8 + 1, (g + 1) * 8)) AS INT)
               AS n_datasets
    FROM chunks
    """,
)
def consolidate_e2e(spark, sf_dir):
    import uuid as _uuid_mod

    from geocube_spark.sources.catalog import Catalog

    root = ensure_consolidate_job(spark)
    job_id = str(_uuid_mod.uuid5(_uuid_mod.NAMESPACE_URL, "geocube-spark/job/e2e"))
    tasks = Catalog(spark, root).read("tasks").filter(F.col("job_id") == job_id)
    return tasks.select(
        F.from_json(
            F.col("payload").cast("string"),
            "out_container_uri string, cell_uri string, chunk_idx int, "
            "dataset_ids array<string>, n_datasets int",
        ).alias("p")
    ).select(
        "p.out_container_uri", "p.cell_uri", "p.chunk_idx",
        # the ordered id list as one string: list-typed cells come back from
        # the DuckDB oracle as numpy arrays the hash compare cannot take
        F.array_join("p.dataset_ids", ",").alias("dataset_ids"),
        "p.n_datasets",
    )


# J1 over CO-BUCKETED catalog tables (sources/bucketed.py): the hottest
# fact⋈fact join with the shuffle moved to write time — the plan carries
# ZERO Exchange (asserted in tests/test_bucketed.py); here the RESULT is
# hash-checked so the layout provably never changes answers.
@q(
    "bucketed_catalog_join",
    f"""
    SELECT d.record_id, r.name,
           CAST(count(*) AS BIGINT) AS n_datasets,
           min(d.id) AS first_dataset_id
    FROM read_parquet('{FIXTURE_DIR}/datasets.parquet') d
    JOIN read_parquet('{FIXTURE_DIR}/records.parquet') r ON d.record_id = r.id
    GROUP BY d.record_id, r.name
    """,
)
def bucketed_catalog_join(spark, sf_dir):
    from geocube_spark.sources.bucketed import bucketed_join, ensure_bucketed_catalog

    fd = ensure_fixtures()
    dt, rt = ensure_bucketed_catalog(spark, fd, n_buckets=8)
    return (
        bucketed_join(spark, dt, rt)
        .groupBy("record_id", "name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_datasets"),
            F.min("id").alias("first_dataset_id"),
        )
    )


# Deletion planning relational core (delRemoveDatasets,
# operations.go:230-334): removing the TODELETE rows, which containers
# become EMPTY — anti-join of doomed container URIs against the
# survivors' — and of those, which are MANAGED (physical deletion tasks)
# vs merely dropped from the index.  process_deletion_job runs exactly
# this plan; here it is hash-checked row-for-row against DuckDB.
@q(
    "deletion_empties_containers",
    f"""
    WITH d AS (SELECT * FROM read_parquet('{FIXTURE_DIR}/datasets.parquet')),
    doomed AS (SELECT DISTINCT container_uri FROM d WHERE status = 'TODELETE'),
    survivors AS (SELECT DISTINCT container_uri FROM d WHERE status <> 'TODELETE'),
    dead AS (
        SELECT container_uri FROM doomed
        WHERE container_uri NOT IN (SELECT container_uri FROM survivors)
    )
    SELECT c.uri, c.managed, c.storage_class
    FROM read_parquet('{FIXTURE_DIR}/containers.parquet') c
    JOIN dead ON c.uri = dead.container_uri
    """,
)
def deletion_empties_containers(spark, sf_dir):
    fd = ensure_fixtures()
    d = spark.read.parquet(f"{fd}/datasets.parquet")
    doomed = d.filter(F.col("status") == "TODELETE").select("container_uri").distinct()
    survivors = d.filter(F.col("status") != "TODELETE").select("container_uri").distinct()
    dead = doomed.join(survivors, "container_uri", "left_anti")
    containers = spark.read.parquet(f"{fd}/containers.parquet")
    return containers.join(
        dead.withColumnRenamed("container_uri", "uri"), "uri", "left_semi"
    ).select("uri", "managed", "storage_class")


# L4 + R13: consolidation work-skipping — full-container exclusion and
# COG-reuse short-circuit as planning filters.
@q(
    "consolidation_work_skipping",
    f"""
    WITH d AS (
        SELECT d.*, c.n_in_container FROM read_parquet('{FIXTURE_DIR}/datasets.parquet') d
        JOIN (
            SELECT container_uri, CAST(count(*) AS BIGINT) AS n_in_container
            FROM read_parquet('{FIXTURE_DIR}/datasets.parquet') GROUP BY container_uri
        ) c USING (container_uri)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(*) FILTER (
               n_in_container = 1 AND dmapping.dtype = 'Int16' AND overviews
           ) AS BIGINT) AS n_reusable
    FROM d
    """,
)
def consolidation_work_skipping(spark, sf_dir):
    from geocube_spark.operators.consolidation import cog_reuse_short_circuit

    fd = ensure_fixtures()
    datasets = spark.read.parquet(f"{fd}/datasets.parquet")
    annotated = cog_reuse_short_circuit(
        datasets, layout_block=256, layout_dtype="Int16", layout_overviews=True
    )
    return annotated.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(F.col("reuse")).alias("n_reusable"),
    )


# Full GetCube read path over the fixture catalog: find_datasets -> tile
# join -> latest-wins mosaic -> valid filter, checksummed per block.  The
# oracle re-derives the same plan in SQL (catalog filter + window winner).
@q(
    "get_cube_pixels",
    f"""
    WITH d AS (
        SELECT * FROM read_parquet('{FIXTURE_DIR}/datasets.parquet')
        WHERE status = 'ACTIVE' AND dmapping.no_data = -32768.0
    ),
    t AS (
        SELECT ti.band, ti.block_x, ti.block_y, ti.px, r.datetime AS rt, d.record_id
        FROM read_parquet('{FIXTURE_DIR}/tiles.parquet') ti
        JOIN d ON ti.container_uri = d.container_uri
        JOIN read_parquet('{FIXTURE_DIR}/records.parquet') r ON d.record_id = r.id
        WHERE ti.level = 0
          AND r.datetime >= TIMESTAMP '2018-01-01' AND r.datetime <= TIMESTAMP '2018-03-01'
    ),
    px AS (
        SELECT band, block_x, block_y, i.range AS i,
               list_extract(px, i.range + 1) AS v, rt, record_id
        FROM t, range(0, 4096) i
    ),
    ranked AS (
        SELECT band, block_x, block_y, i, v,
               row_number() OVER (
                   PARTITION BY band, block_x, block_y, i
                   ORDER BY (v = -32768.0) ASC, rt DESC, record_id DESC
               ) AS rk
        FROM px
    )
    SELECT band, block_x, block_y,
           round(sum(v), 6) AS px_sum,
           CAST(count(*) FILTER (v != -32768.0) AS BIGINT) AS n_valid
    FROM ranked WHERE rk = 1
    GROUP BY band, block_x, block_y
    """,
)
def get_cube_pixels(spark, sf_dir):
    from datetime import datetime

    from geocube_spark.plans.cube import get_cube

    fd = ensure_fixtures()
    datasets = spark.read.parquet(f"{fd}/datasets.parquet").filter(
        F.col("dmapping.no_data") == -32768.0
    )
    records = spark.read.parquet(f"{fd}/records.parquet")
    tiles = spark.read.parquet(f"{fd}/tiles.parquet").filter(F.col("level") == 0)
    flt = DatasetFilters(
        status="ACTIVE",
        time_from=datetime(2018, 1, 1),
        time_to=datetime(2018, 3, 1),
        order=False,
    )
    cube = get_cube(datasets, records, tiles, flt, nodata=-32768.0)
    return cube.select(
        "band",
        "block_x",
        "block_y",
        F.round(F.aggregate("px", F.lit(0.0), lambda a, v: a + v), 6).alias("px_sum"),
        valid_count_expr(F.col("px"), F.lit(-32768.0)).cast("long").alias("n_valid"),
    )


# R2 cross-CRS warp (image.go:321-422): the warp_src fixture (EPSG:4326,
# closed-form pixels, binary-exact 2^-6° grid) is reprojected onto a
# WebMercator grid through the real regrid operator; DuckDB re-derives every
# output pixel analytically (inverse mercator -> source index -> closed-form
# value).  NEAR kernel so both engines agree bit-for-bit (the only libm
# deltas are ulps in atan/exp, far from any floor boundary).
@q(
    "get_cube_pixels_webmercator",
    f"""
    WITH cells AS (
        SELECT obx.range AS obx, oby.range AS oby, i.range AS idx
        FROM range(0, 2) obx, range(0, 4) oby, range(0, 4096) i
    ),
    ll AS (
        SELECT obx, oby, idx,
               degrees(((obx*64 + (idx % 64) + 0.5) * 1750.0 + 0.0)
                       / 6378137.0) AS lon,
               degrees(2*atan(exp((6447000.0 - (oby*64 + (idx // 64) + 0.5) * 1750.0)
                                  / 6378137.0)) - pi()/2) AS lat
        FROM cells
    ),
    src AS (
        SELECT obx, oby,
               CAST(floor(lon / 0.015625) AS BIGINT) AS ix,
               CAST(floor((50.0 - lat) / 0.015625) AS BIGINT) AS iy
        FROM ll
    ),
    v AS (
        SELECT obx, oby,
               CASE WHEN ix >= 0 AND ix < 128 AND iy >= 0 AND iy < 128
                    THEN CAST((13*ix + 7*iy) % 97 AS DOUBLE) ELSE -1.0 END AS val
        FROM src
    )
    SELECT obx AS out_block_x, oby AS out_block_y,
           round(sum(val), 6) AS px_sum,
           CAST(count(*) FILTER (val != -1.0) AS BIGINT) AS n_valid
    FROM v GROUP BY 1, 2
    HAVING n_valid > 0
    """,
)
def get_cube_pixels_webmercator(spark, sf_dir):
    from geocube_spark.operators.regrid import regrid_to_grid

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src.parquet")
    out = regrid_to_grid(
        tiles,
        out_origin=(0.0, 6447000.0),
        out_res=1750.0,
        out_block=64,
        nodata=-1.0,
        resampling="NEAR",
        src_srid=4326,
        dst_srid=3857,
    )
    return out.groupBy("out_block_x", "out_block_y").agg(
        F.round(
            F.sum(F.aggregate("px", F.lit(0.0), lambda a, v: a + v)), 6
        ).alias("px_sum"),
        F.sum(F.size(F.filter("px", lambda v: v != -1.0))).cast("long").alias("n_valid"),
    )


# Cross-CRS warp through the closed-form UTM kernel (C6 full-projection
# support; mirrors proj.go:47-73's PROJ-backed per-zone CRSs).  Source grid
# lives in EPSG:32632; output is a 4326 lat/lon grid, so the DuckDB twin
# needs only the FORWARD Krueger series (output pixel center -> easting/
# northing -> integer source index) — re-derived in SQL to order n⁶ by
# tm_forward_sql_columns, agreeing with numpy to ~3 nm.  res 1024 m and
# binary-exact grid constants keep the floor() boundaries far from the
# transform's ulp noise.
from geocube_spark.functions.crs import tm_forward_sql_columns  # noqa: E402


@q(
    "warp_cross_crs_utm",
    f"""
    WITH cells AS (
        SELECT obx.range AS obx, oby.range AS oby, i.range AS idx
        FROM range(-1, 3) obx, range(-1, 2) oby, range(0, 4096) i
    ),
    en AS (
        SELECT obx, oby, idx,
               {tm_forward_sql_columns(
                   "8.0 + (obx*64 + (idx % 64) + 0.5) * 0.015625",
                   "60.125 - (oby*64 + (idx // 64) + 0.5) * 0.015625",
                   32632,
               )}
        FROM cells
    ),
    src AS (
        SELECT obx, oby,
               CAST(floor((utm_e - 434176.0) / 1024.0) AS BIGINT) AS ix,
               CAST(floor((6684672.0 - utm_n) / 1024.0) AS BIGINT) AS iy
        FROM en
    ),
    v AS (
        SELECT obx, oby,
               CASE WHEN ix >= 0 AND ix < 128 AND iy >= 0 AND iy < 128
                    THEN CAST((13*ix + 7*iy) % 97 AS DOUBLE) ELSE -1.0 END AS val
        FROM src
    )
    SELECT obx AS out_block_x, oby AS out_block_y,
           round(sum(val), 6) AS px_sum,
           CAST(count(*) FILTER (val != -1.0) AS BIGINT) AS n_valid
    FROM v GROUP BY 1, 2
    HAVING n_valid > 0
    """,
)
def warp_cross_crs_utm(spark, sf_dir):
    from geocube_spark.operators.regrid import regrid_to_grid

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src_utm.parquet")
    out = regrid_to_grid(
        tiles,
        out_origin=(8.0, 60.125),
        out_res=0.015625,
        out_block=64,
        nodata=-1.0,
        resampling="NEAR",
        src_srid=32632,
        dst_srid=4326,
    )
    return out.groupBy("out_block_x", "out_block_y").agg(
        F.round(
            F.sum(F.aggregate("px", F.lit(0.0), lambda a, v: a + v)), 6
        ).alias("px_sum"),
        F.sum(F.size(F.filter("px", lambda v: v != -1.0))).cast("long").alias("n_valid"),
    )


# Polar cross-CRS warp (C6 generality: the EPSG:3031 Antarctic science
# grid): NEAR-warp the EPSG:3031 fixture raster onto a 4326 grid near 71°S.
# Oracle = the same Snyder polar-stereographic forward re-derived in SQL
# (ps_forward_sql_columns emits the identical operation sequence, so the
# floor()ed source indices are bit-identical, like the UTM twin above).
from geocube_spark.functions.crs import ps_forward_sql_columns  # noqa: E402


@q(
    "warp_cross_crs_polar",
    f"""
    WITH cells AS (
        SELECT obx.range AS obx, oby.range AS oby, i.range AS idx
        FROM range(-2, 6) obx, range(-1, 3) oby, range(0, 4096) i
    ),
    en AS (
        SELECT obx, oby, idx,
               {ps_forward_sql_columns(
                   "-2.0 + (obx*64 + (idx % 64) + 0.5) * 0.015625",
                   "-69.875 - (oby*64 + (idx // 64) + 0.5) * 0.015625",
                   3031,
               )}
        FROM cells
    ),
    src AS (
        SELECT obx, oby,
               CAST(floor((ps_e - (-131072.0)) / 2048.0) AS BIGINT) AS ix,
               CAST(floor((2228224.0 - ps_n) / 2048.0) AS BIGINT) AS iy
        FROM en
    ),
    v AS (
        SELECT obx, oby,
               CASE WHEN ix >= 0 AND ix < 128 AND iy >= 0 AND iy < 128
                    THEN CAST((13*ix + 7*iy) % 97 AS DOUBLE) ELSE -1.0 END AS val
        FROM src
    )
    SELECT obx AS out_block_x, oby AS out_block_y,
           round(sum(val), 6) AS px_sum,
           CAST(count(*) FILTER (val != -1.0) AS BIGINT) AS n_valid
    FROM v GROUP BY 1, 2
    HAVING n_valid > 0
    """,
)
def warp_cross_crs_polar(spark, sf_dir):
    from geocube_spark.operators.regrid import regrid_to_grid

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src_ps.parquet")
    out = regrid_to_grid(
        tiles,
        out_origin=(-2.0, -69.875),
        out_res=0.015625,
        out_block=64,
        nodata=-1.0,
        resampling="NEAR",
        src_srid=3031,
        dst_srid=4326,
    )
    return (
        out.groupBy("out_block_x", "out_block_y")
        .agg(
            F.round(
                F.sum(F.aggregate("px", F.lit(0.0), lambda a, v: a + v)), 6
            ).alias("px_sum"),
            F.sum(F.size(F.filter("px", lambda v: v != -1.0)))
            .cast("long")
            .alias("n_valid"),
        )
        .filter(F.col("n_valid") > 0)
    )


# Lambert Conformal Conic cross-CRS warp (C6: the biggest remaining
# real-world projection family — Lambert-93 national mosaics): NEAR-warp
# the EPSG:2154 fixture raster onto a 4326 grid over France.  Oracle = the
# same Snyder LCC forward re-derived in SQL (lcc_forward_sql_columns emits
# the identical operation sequence, so the floor()ed source indices are
# bit-identical, like the UTM/polar twins).
from geocube_spark.functions.crs import lcc_forward_sql_columns  # noqa: E402


@q(
    "warp_cross_crs_lcc",
    f"""
    WITH cells AS (
        SELECT obx.range AS obx, oby.range AS oby, i.range AS idx
        FROM range(-1, 3) obx, range(-1, 3) oby, range(0, 4096) i
    ),
    en AS (
        SELECT obx, oby, idx,
               {lcc_forward_sql_columns(
                   "2.0 + (obx*64 + (idx % 64) + 0.5) * 0.015625",
                   "47.125 - (oby*64 + (idx // 64) + 0.5) * 0.015625",
                   2154,
               )}
        FROM cells
    ),
    src AS (
        SELECT obx, oby,
               CAST(floor((lcc_e - 634880.0) / 1024.0) AS BIGINT) AS ix,
               CAST(floor((6665216.0 - lcc_n) / 1024.0) AS BIGINT) AS iy
        FROM en
    ),
    v AS (
        SELECT obx, oby,
               CASE WHEN ix >= 0 AND ix < 128 AND iy >= 0 AND iy < 128
                    THEN CAST((13*ix + 7*iy) % 97 AS DOUBLE) ELSE -1.0 END AS val
        FROM src
    )
    SELECT obx AS out_block_x, oby AS out_block_y,
           round(sum(val), 6) AS px_sum,
           CAST(count(*) FILTER (val != -1.0) AS BIGINT) AS n_valid
    FROM v GROUP BY 1, 2
    HAVING n_valid > 0
    """,
)
def warp_cross_crs_lcc(spark, sf_dir):
    from geocube_spark.operators.regrid import regrid_to_grid

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src_lcc.parquet")
    out = regrid_to_grid(
        tiles,
        out_origin=(2.0, 47.125),
        out_res=0.015625,
        out_block=64,
        nodata=-1.0,
        resampling="NEAR",
        src_srid=2154,
        dst_srid=4326,
    )
    return (
        out.groupBy("out_block_x", "out_block_y")
        .agg(
            F.round(
                F.sum(F.aggregate("px", F.lit(0.0), lambda a, v: a + v)), 6
            ).alias("px_sum"),
            F.sum(F.size(F.filter("px", lambda v: v != -1.0)))
            .cast("long")
            .alias("n_valid"),
        )
        .filter(F.col("n_valid") > 0)
    )


# Focal 3x3 mean via distributed halo exchange (operators/focal.py):
# tiles ship only 1-px edge strips to their 8 neighbors (shuffle ~1.6 %
# of the raster at block=64, never O(pixels)); each block assembles a
# padded window and runs a vectorized numpy stencil.  Raster borders
# clamp like np.pad(mode='edge').  Oracle recomputes every pixel's
# clamped neighborhood mean from the closed-form grid.
@q(
    "focal_mean_blocks",
    """
    WITH centers AS (
        SELECT i.range AS gi, j.range AS gj
        FROM range(0, 128) i, range(0, 128) j
    ),
    n AS (
        SELECT gi, gj,
               CAST((13 * LEAST(127, GREATEST(0, gi + di.range))
                     + 7 * LEAST(127, GREATEST(0, gj + dj.range))) % 97
                    AS DOUBLE) AS v
        FROM centers, range(-1, 2) di, range(-1, 2) dj
    ),
    m AS (SELECT gi, gj, sum(v) / 9 AS fm FROM n GROUP BY gi, gj)
    SELECT CAST(gi // 64 AS INT) AS block_x, CAST(gj // 64 AS INT) AS block_y,
           CAST(count(*) AS BIGINT) AS n_px,
           round(sum(fm), 6) AS fm_sum
    FROM m GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def focal_mean_blocks(spark, sf_dir):
    from geocube_spark.operators.focal import focal_mean

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src.parquet")
    out = focal_mean(tiles, block=64)
    return (
        out.select(
            F.col("block_x").cast("int").alias("block_x"),
            F.col("block_y").cast("int").alias("block_y"),
            F.size("px").alias("n_px"),
            F.aggregate("px", F.lit(0.0), lambda a, v: a + v).alias("s"),
        )
        .groupBy("block_x", "block_y")
        .agg(
            F.sum("n_px").cast("long").alias("n_px"),
            F.round(F.sum("s"), 6).alias("fm_sum"),
        )
        .orderBy("block_x", "block_y")
    )


# The remaining gdaldem terrain indices — TRI (mean |center-neighbor|),
# TPI (center - neighbor mean), roughness (window max-min) — on one halo
# plan each; the oracle recomputes every pixel's clamped 3x3 window stats
# from the closed-form grid (completes the gdaldem family next to
# slope/aspect/hillshade/color-relief).
@q(
    "focal_terrain_indices",
    """
    WITH centers AS (
        SELECT i.range AS gi, j.range AS gj,
               CAST((13 * i.range + 7 * j.range) % 97 AS DOUBLE) AS c
        FROM range(0, 128) i, range(0, 128) j
    ),
    n AS (
        SELECT gi, gj, c,
               CAST((13 * LEAST(127, GREATEST(0, gi + di.range))
                     + 7 * LEAST(127, GREATEST(0, gj + dj.range))) % 97
                    AS DOUBLE) AS v,
               (di.range = 0 AND dj.range = 0) AS is_center
        FROM centers, range(-1, 2) di, range(-1, 2) dj
    ),
    px AS (
        SELECT gi, gj,
               sum(CASE WHEN is_center THEN 0 ELSE abs(v - c) END) / 8 AS tri,
               any_value(c) - sum(CASE WHEN is_center THEN 0 ELSE v END) / 8 AS tpi,
               max(v) - min(v) AS rough
        FROM n GROUP BY gi, gj
    )
    SELECT CAST(gi // 64 AS INT) AS block_x, CAST(gj // 64 AS INT) AS block_y,
           round(sum(tri), 6) AS tri_sum,
           round(sum(tpi), 6) AS tpi_sum,
           round(sum(rough), 6) AS rough_sum
    FROM px GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def focal_terrain_indices(spark, sf_dir):
    from geocube_spark.operators.focal import (
        focal_roughness,
        focal_tpi,
        focal_tri,
    )

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src.parquet")

    def block_sum(df, alias):
        return (
            df.select(
                "block_x", "block_y",
                F.aggregate("px", F.lit(0.0), lambda a, v: a + v).alias("s"),
            )
            .groupBy("block_x", "block_y")
            .agg(F.round(F.sum("s"), 6).alias(alias))
        )

    tri = block_sum(focal_tri(tiles, block=64), "tri_sum")
    tpi = block_sum(focal_tpi(tiles, block=64), "tpi_sum")
    rough = block_sum(focal_roughness(tiles, block=64), "rough_sum")
    return (
        tri.join(tpi, ["block_x", "block_y"])
        .join(rough, ["block_x", "block_y"])
        .select(
            F.col("block_x").cast("int"),
            F.col("block_y").cast("int"),
            "tri_sum", "tpi_sum", "rough_sum",
        )
        .orderBy("block_x", "block_y")
    )


# Distributed region labeling (gdal_polygonize-lite): per-block
# union-find + border-strip stitching + alternating-star CC
# (operators/regions.py).  The mask is a 10-px checkerboard over 64-px
# blocks — 10 ∤ 64, so interior cells straddle block borders and the
# ANALYTIC region count (one region per checker cell: same-color cells
# meet only diagonally, and 4-connectivity excludes diagonals) matches
# ONLY if cross-block stitching is exact.
@q(
    "raster_region_labeling",
    """
    WITH px AS (
        SELECT CAST(((i.range // 10) + (j.range // 10)) % 2 AS DOUBLE) AS m,
               i.range // 10 AS ci, j.range // 10 AS cj
        FROM range(0, 128) i, range(0, 128) j
    ),
    cells AS (SELECT m, ci, cj, count(*) AS n FROM px GROUP BY 1, 2, 3)
    SELECT m AS val,
           CAST(count(*) AS BIGINT) AS n_regions,
           CAST(sum(n) AS BIGINT) AS n_pixels,
           CAST(max(n) AS BIGINT) AS max_region_px
    FROM cells GROUP BY m ORDER BY m
    """,
)
def raster_region_labeling(spark, sf_dir):
    from geocube_spark.operators.regions import region_stats

    b = 64
    from geocube_spark.functions.localdf import values_df

    # values_df: LocalRelation (1 partition) — a pickled-RDD createDataFrame
    # spreads 4 parameter rows over defaultParallelism partitions and every
    # downstream stage pays ~32 mostly-empty tasks (guide §2.2)
    blocks = values_df(
        spark,
        [(bx, by) for bx in range(2) for by in range(2)],
        ["block_x", "block_y"],
    )
    mask = blocks.withColumn(
        "px",
        F.transform(
            F.sequence(F.lit(0), F.lit(b * b - 1)),
            lambda k: (
                (
                    (F.col("block_y") * b + (k / b).cast("int")).cast("long") / 10
                ).cast("long")
                + (
                    (F.col("block_x") * b + k % b).cast("long") / 10
                ).cast("long")
            )
            % 2
            * F.lit(1.0),
        ),
    )
    return region_stats(mask, block=b)


# Change detection (EO composition): two temporal epochs of the same
# grid -> per-pixel |delta| threshold (map algebra, zip_with — no UDF,
# no shuffle) -> stitched region labeling of the change mask.  Epoch B
# adds two bump patches to epoch A's gradient, one crossing all four
# block borders, so the patch count is right ONLY if diff, threshold
# and stitching all compose.  Oracle: the bumps in closed form.
@q(
    "change_detection",
    """
    WITH px AS (
        SELECT CASE
                 WHEN i.range BETWEEN 10 AND 19 AND j.range BETWEEN 30 AND 39 THEN 1.0
                 WHEN i.range BETWEEN 20 AND 27 AND j.range BETWEEN 20 AND 27 THEN 1.0
                 ELSE 0.0
               END AS m
        FROM range(0, 48) i, range(0, 48) j
    ),
    patches AS (
        SELECT 2 AS n_change_regions, CAST(100 AS BIGINT) AS max_patch_px
    )
    SELECT CAST(n_change_regions AS BIGINT) AS n_change_regions,
           CAST((SELECT sum(m) FROM px) AS BIGINT) AS n_changed_px,
           max_patch_px
    FROM patches
    """,
)
def change_detection(spark, sf_dir):
    from geocube_spark.operators.regions import region_stats

    b = 24
    from geocube_spark.functions.localdf import values_df

    blocks = values_df(
        spark,
        [(bx, by) for bx in range(2) for by in range(2)],
        ["block_x", "block_y"],
    )

    def _gi(k):
        return (F.col("block_y") * b + (k / b).cast("int")).cast("long")

    def _gj(k):
        return (F.col("block_x") * b + k % b).cast("long")

    # epoch A: a smooth gradient; epoch B: gradient + two bumps (+5), one
    # 10x10 inside the top-right block, one 8x8 centered on the block
    # corner so the change patch itself straddles all four blocks
    epoch_a = blocks.withColumn(
        "px_a",
        F.transform(
            F.sequence(F.lit(0), F.lit(b * b - 1)),
            lambda k: (_gi(k) * 48 + _gj(k)).cast("double") / 100.0,
        ),
    )
    epoch_b = epoch_a.withColumn(
        "px_b",
        F.transform(
            F.sequence(F.lit(0), F.lit(b * b - 1)),
            lambda k: (_gi(k) * 48 + _gj(k)).cast("double") / 100.0
            + F.when(
                (_gi(k).between(10, 19) & _gj(k).between(30, 39))
                | (_gi(k).between(20, 27) & _gj(k).between(20, 27)),
                5.0,
            ).otherwise(0.0),
        ),
    )
    mask = epoch_b.withColumn(
        "px",
        F.zip_with(
            "px_b",
            "px_a",
            lambda nb, oa: (F.abs(nb - oa) > 2.5).cast("double"),
        ),
    ).select("block_x", "block_y", "px")
    stats = region_stats(mask, block=b).filter(F.col("val") == 1.0)
    return stats.select(
        F.col("n_regions").alias("n_change_regions"),
        F.col("n_pixels").alias("n_changed_px"),
        F.col("max_region_px").alias("max_patch_px"),
    )


# Contour extraction (gdal_contour): distributed marching squares with a
# 1-px halo exchange and relational polyline stitching (endpoint-key
# links -> connected components; operators/contours.py).  The fixture is
# a Chebyshev cone, whose level-L contour is a chamfered square ring:
# n_segments = 8L exactly, total_length = 8L - 4 + 2*sqrt(2) (the four
# marching-squares corner chamfers), one closed polyline — theorems of
# the fixture, and the L=10.5 ring crosses all four block borders so the
# halo + stitch are load-bearing.
@q(
    "contour_extraction",
    """
    SELECT 4.5 AS level, CAST(1 AS BIGINT) AS n_polylines,
           CAST(36 AS BIGINT) AS n_segments,
           round(8 * 4.5 - 4 + 2 * sqrt(2), 6) AS total_length
    UNION ALL
    SELECT 10.5, CAST(1 AS BIGINT), CAST(84 AS BIGINT),
           round(8 * 10.5 - 4 + 2 * sqrt(2), 6)
    """,
)
def contour_extraction(spark, sf_dir):
    from geocube_spark.operators.contours import contour_report

    b = 24
    from geocube_spark.functions.localdf import values_df

    blocks = values_df(
        spark,
        [(bx, by) for bx in range(2) for by in range(2)],
        ["block_x", "block_y"],
    )
    tiles = blocks.withColumn(
        "px",
        F.transform(
            F.sequence(F.lit(0), F.lit(b * b - 1)),
            lambda k: F.greatest(
                F.abs((F.col("block_y") * b + (k / b).cast("int")).cast("double") - 24.0),
                F.abs((F.col("block_x") * b + k % b).cast("double") - 24.0),
            ),
        ),
    )
    return contour_report(tiles, [4.5, 10.5], block=b)


# Polygonize (gdal_polygonize's relational core): boundary geometry of
# every labeled region as joins/aggregates — perimeter = 4n − 2·adj,
# holes via the Euler characteristic χ = V − E + F of the pixel cell
# complex (operators/regions.polygonize_report).  The mask packs a solid
# rect, a DONUT (hole), an enclosed hole-fill, an L, and the background
# (3 holes) across all four block borders, so stitching, adjacency,
# corner dedup and χ are each load-bearing.  The oracle recomputes every
# quantity from the same generated mask with pre-shifted equi-joins (no
# hand-baked constants; n_regions=1/val holds by construction and is
# exactly what the stitch must reproduce).
@q(
    "region_polygonize",
    """
    WITH px AS (
        SELECT i.range AS gi, j.range AS gj,
               CASE
                 WHEN i.range BETWEEN 4 AND 9 AND j.range BETWEEN 4 AND 13 THEN 1.0
                 WHEN i.range BETWEEN 21 AND 26 AND j.range BETWEEN 21 AND 26 THEN 4.0
                 WHEN i.range BETWEEN 18 AND 29 AND j.range BETWEEN 18 AND 29 THEN 2.0
                 WHEN (i.range BETWEEN 34 AND 37 AND j.range BETWEEN 8 AND 19)
                   OR (i.range BETWEEN 26 AND 37 AND j.range BETWEEN 8 AND 11) THEN 3.0
                 ELSE 0.0
               END AS val
        FROM range(0, 48) i, range(0, 48) j
    ),
    pxr AS (SELECT val, gi, gj - 1 AS gj FROM px),
    pxd AS (SELECT val, gi - 1 AS gi, gj FROM px),
    adj AS (
        SELECT val, CAST(count(*) AS BIGINT) AS n_adj FROM (
            SELECT a.val FROM px a JOIN pxr b ON b.gi = a.gi AND b.gj = a.gj AND b.val = a.val
            UNION ALL
            SELECT a.val FROM px a JOIN pxd b ON b.gi = a.gi AND b.gj = a.gj AND b.val = a.val
        ) GROUP BY val
    ),
    corners AS (
        SELECT val, CAST(count(DISTINCT (gi + di) * 4294967296 + gj + dj) AS BIGINT) AS v
        FROM px, (VALUES (0, 0), (0, 1), (1, 0), (1, 1)) AS d(di, dj)
        GROUP BY val
    ),
    nn AS (SELECT val, CAST(count(*) AS BIGINT) AS n FROM px GROUP BY val)
    SELECT nn.val,
           CAST(1 AS BIGINT) AS n_regions,
           nn.n AS n_px,
           4 * nn.n - 2 * COALESCE(adj.n_adj, 0) AS perimeter,
           1 - (corners.v - (4 * nn.n - COALESCE(adj.n_adj, 0)) + nn.n) AS n_holes
    FROM nn JOIN corners USING (val) LEFT JOIN adj USING (val)
    ORDER BY nn.val
    """,
)
def region_polygonize(spark, sf_dir):
    from geocube_spark.operators.regions import polygonize_report

    b = 24
    from geocube_spark.functions.localdf import values_df

    blocks = values_df(
        spark,
        [(bx, by) for bx in range(2) for by in range(2)],
        ["block_x", "block_y"],
    )

    def _val(k):
        gi = (F.col("block_y") * b + (k / b).cast("int")).cast("long")
        gj = (F.col("block_x") * b + k % b).cast("long")
        return (
            F.when(gi.between(4, 9) & gj.between(4, 13), 1.0)
            .when(gi.between(21, 26) & gj.between(21, 26), 4.0)
            .when(gi.between(18, 29) & gj.between(18, 29), 2.0)
            .when(
                (gi.between(34, 37) & gj.between(8, 19))
                | (gi.between(26, 37) & gj.between(8, 11)),
                3.0,
            )
            .otherwise(0.0)
        )
    mask = blocks.withColumn(
        "px", F.transform(F.sequence(F.lit(0), F.lit(b * b - 1)), _val)
    )
    return polygonize_report(mask, block=b)


# Morphological opening (erode then dilate — the speckle-removing mask
# cleanup) on the same halo-exchange plan: two chained radius-1 focal
# min/max passes; the oracle replays both windowed extrema with edge
# clamp over the closed-form grid.
@q(
    "focal_morphology_open",
    """
    WITH centers AS (
        SELECT i.range AS gi, j.range AS gj
        FROM range(0, 128) i, range(0, 128) j
    ),
    er AS (
        SELECT gi, gj,
               min(CAST((13 * LEAST(127, GREATEST(0, gi + di.range))
                         + 7 * LEAST(127, GREATEST(0, gj + dj.range))) % 97
                        AS DOUBLE)) AS e
        FROM centers, range(-1, 2) di, range(-1, 2) dj
        GROUP BY gi, gj
    ),
    op AS (
        -- clamp FIRST, then a plain equi-join: expression keys push the
        -- planner into a nested loop (500x slower on this 147k x 16k join)
        SELECT gi0 AS gi, gj0 AS gj, max(er.e) AS o
        FROM (SELECT c.gi AS gi0, c.gj AS gj0,
                     LEAST(127, GREATEST(0, c.gi + di.range)) AS ni,
                     LEAST(127, GREATEST(0, c.gj + dj.range)) AS nj
              FROM centers c, range(-1, 2) di, range(-1, 2) dj) q
        JOIN er ON er.gi = q.ni AND er.gj = q.nj
        GROUP BY gi0, gj0
    )
    SELECT CAST(gi // 64 AS INT) AS block_x, CAST(gj // 64 AS INT) AS block_y,
           CAST(count(*) AS BIGINT) AS n_px,
           round(sum(o), 6) AS open_sum,
           round(min(o), 6) AS open_min,
           round(max(o), 6) AS open_max
    FROM op GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def focal_morphology_open(spark, sf_dir):
    from geocube_spark.operators.focal import focal_dilate, focal_erode

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src.parquet")
    opened = focal_dilate(focal_erode(tiles, block=64), block=64)
    return (
        opened.select(
            F.col("block_x").cast("int").alias("block_x"),
            F.col("block_y").cast("int").alias("block_y"),
            F.size("px").alias("n_px"),
            F.aggregate("px", F.lit(0.0), lambda a, v: a + v).alias("s"),
            F.array_min("px").alias("mn"),
            F.array_max("px").alias("mx"),
        )
        .groupBy("block_x", "block_y")
        .agg(
            F.sum("n_px").cast("long").alias("n_px"),
            F.round(F.sum("s"), 6).alias("open_sum"),
            F.round(F.min("mn"), 6).alias("open_min"),
            F.round(F.max("mx"), 6).alias("open_max"),
        )
        .orderBy("block_x", "block_y")
    )


# Horn slope (the gdaldem slope algorithm) over the same halo-exchange
# plan: 1-2-1-weighted finite differences / 8·cellsize, slope =
# atan(sqrt(zx²+zy²)) in radians.  Oracle recomputes each pixel's clamped
# Horn derivative from the closed-form grid.
@q(
    "focal_slope_blocks",
    """
    WITH centers AS (
        SELECT i.range AS gi, j.range AS gj
        FROM range(0, 128) i, range(0, 128) j
    ),
    n AS (
        SELECT gi, gj, di.range AS di, dj.range AS dj,
               CAST((13 * LEAST(127, GREATEST(0, gi + di.range))
                     + 7 * LEAST(127, GREATEST(0, gj + dj.range))) % 97
                    AS DOUBLE) AS v
        FROM centers, range(-1, 2) di, range(-1, 2) dj
    ),
    d AS (
        SELECT gi, gj,
               sum(CASE WHEN di = 1 THEN (CASE WHEN dj = 0 THEN 2 ELSE 1 END) * v
                        WHEN di = -1 THEN -(CASE WHEN dj = 0 THEN 2 ELSE 1 END) * v
                        ELSE 0 END) / (8 * 1024.0) AS zx,
               sum(CASE WHEN dj = 1 THEN (CASE WHEN di = 0 THEN 2 ELSE 1 END) * v
                        WHEN dj = -1 THEN -(CASE WHEN di = 0 THEN 2 ELSE 1 END) * v
                        ELSE 0 END) / (8 * 1024.0) AS zy
        FROM n GROUP BY gi, gj
    ),
    m AS (SELECT gi, gj, atan(sqrt(zx * zx + zy * zy)) AS slope FROM d)
    SELECT CAST(gi // 64 AS INT) AS block_x, CAST(gj // 64 AS INT) AS block_y,
           CAST(count(*) AS BIGINT) AS n_px,
           round(sum(slope), 6) AS slope_sum,
           round(max(slope), 6) AS slope_max
    FROM m GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def focal_slope_blocks(spark, sf_dir):
    from geocube_spark.operators.focal import focal_slope

    fd = ensure_fixtures()
    # use the 1024 m UTM fixture grid so cellsize is in meters (terrain
    # semantics), matching the oracle's 8*1024 divisor
    tiles = spark.read.parquet(f"{fd}/warp_src_utm.parquet")
    out = focal_slope(tiles, cellsize=1024.0, block=64)
    return (
        out.select(
            F.col("block_x").cast("int").alias("block_x"),
            F.col("block_y").cast("int").alias("block_y"),
            F.size("px").alias("n_px"),
            F.aggregate("px", F.lit(0.0), lambda a, v: a + v).alias("s"),
            F.array_max("px").alias("mx"),
        )
        .groupBy("block_x", "block_y")
        .agg(
            F.sum("n_px").cast("long").alias("n_px"),
            F.round(F.sum("s"), 6).alias("slope_sum"),
            F.round(F.max("mx"), 6).alias("slope_max"),
        )
        .orderBy("block_x", "block_y")
    )


# Analytical hillshade (GDAL formula: Horn derivatives -> slope/aspect ->
# 255·(cos z·cos s + sin z·sin s·cos(az−aspect)), clamped at 0) — the
# third halo-exchange kernel; oracle re-derives every pixel in SQL.
@q(
    "focal_hillshade_blocks",
    """
    WITH centers AS (
        SELECT i.range AS gi, j.range AS gj
        FROM range(0, 128) i, range(0, 128) j
    ),
    n AS (
        SELECT gi, gj, di.range AS di, dj.range AS dj,
               CAST((13 * LEAST(127, GREATEST(0, gi + di.range))
                     + 7 * LEAST(127, GREATEST(0, gj + dj.range))) % 97
                    AS DOUBLE) AS v
        FROM centers, range(-1, 2) di, range(-1, 2) dj
    ),
    d AS (
        SELECT gi, gj,
               sum(CASE WHEN di = 1 THEN (CASE WHEN dj = 0 THEN 2 ELSE 1 END) * v
                        WHEN di = -1 THEN -(CASE WHEN dj = 0 THEN 2 ELSE 1 END) * v
                        ELSE 0 END) / (8 * 1024.0) * 30.0 AS zx,
               sum(CASE WHEN dj = 1 THEN (CASE WHEN di = 0 THEN 2 ELSE 1 END) * v
                        WHEN dj = -1 THEN -(CASE WHEN di = 0 THEN 2 ELSE 1 END) * v
                        ELSE 0 END) / (8 * 1024.0) * 30.0 AS zy
        FROM n GROUP BY gi, gj
    ),
    m AS (
        SELECT gi, gj,
               GREATEST(0.0,
                   255.0 * (cos(radians(45.0)) * cos(atan(sqrt(zx*zx + zy*zy)))
                   + sin(radians(45.0)) * sin(atan(sqrt(zx*zx + zy*zy)))
                     * cos(radians(360.0 - 315.0 + 90.0) - atan2(zy, -zx)))
               ) AS shade
        FROM d
    )
    SELECT CAST(gi // 64 AS INT) AS block_x, CAST(gj // 64 AS INT) AS block_y,
           CAST(count(*) AS BIGINT) AS n_px,
           round(sum(shade), 4) AS shade_sum
    FROM m GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def focal_hillshade_blocks(spark, sf_dir):
    from geocube_spark.operators.focal import focal_hillshade

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src_utm.parquet")
    out = focal_hillshade(tiles, cellsize=1024.0, z_factor=30.0, block=64)
    return (
        out.select(
            F.col("block_x").cast("int").alias("block_x"),
            F.col("block_y").cast("int").alias("block_y"),
            F.size("px").alias("n_px"),
            F.aggregate("px", F.lit(0.0), lambda a, v: a + v).alias("s"),
        )
        .groupBy("block_x", "block_y")
        .agg(
            F.sum("n_px").cast("long").alias("n_px"),
            F.round(F.sum("s"), 4).alias("shade_sum"),
        )
        .orderBy("block_x", "block_y")
    )


# 5x5 binomial (Gaussian) smoothing — the RADIUS-2 halo exchange (r-px
# strips, (block+2r)² windows), proving the halo machinery generalizes
# past 3x3.  Weights are the [1,4,6,4,1] outer product / 256; integer
# sums stay exact so the SQL oracle matches bit-for-bit before rounding.
@q(
    "focal_gaussian_blocks",
    """
    WITH centers AS (
        SELECT i.range AS gi, j.range AS gj
        FROM range(0, 128) i, range(0, 128) j
    ),
    n AS (
        SELECT gi, gj,
               (CASE ABS(di.range) WHEN 0 THEN 6 WHEN 1 THEN 4 ELSE 1 END)
               * (CASE ABS(dj.range) WHEN 0 THEN 6 WHEN 1 THEN 4 ELSE 1 END)
                 AS w,
               CAST((13 * LEAST(127, GREATEST(0, gi + di.range))
                     + 7 * LEAST(127, GREATEST(0, gj + dj.range))) % 97
                    AS DOUBLE) AS v
        FROM centers, range(-2, 3) di, range(-2, 3) dj
    ),
    m AS (SELECT gi, gj, sum(w * v) / 256.0 AS g FROM n GROUP BY gi, gj)
    SELECT CAST(gi // 64 AS INT) AS block_x, CAST(gj // 64 AS INT) AS block_y,
           CAST(count(*) AS BIGINT) AS n_px,
           round(sum(g), 6) AS g_sum,
           round(max(g), 6) AS g_max
    FROM m GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def focal_gaussian_blocks(spark, sf_dir):
    from geocube_spark.operators.focal import focal_gaussian

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src.parquet")
    out = focal_gaussian(tiles, block=64)
    return (
        out.select(
            F.col("block_x").cast("int").alias("block_x"),
            F.col("block_y").cast("int").alias("block_y"),
            F.size("px").alias("n_px"),
            F.aggregate("px", F.lit(0.0), lambda a, v: a + v).alias("s"),
            F.array_max("px").alias("mx"),
        )
        .groupBy("block_x", "block_y")
        .agg(
            F.sum("n_px").cast("long").alias("n_px"),
            F.round(F.sum("s"), 6).alias("g_sum"),
            F.round(F.max("mx"), 6).alias("g_max"),
        )
        .orderBy("block_x", "block_y")
    )


# Point sampling (operators/focal.py sample_points): extract raster
# values under labeled points — the training-data-extraction primitive.
# Points broadcast; each probes one block row by equi-join on computed
# (block_x, block_y); no raster shuffle.  Oracle evaluates the
# closed-form grid at the same pixel indices.
@q(
    "raster_point_sample",
    """
    SELECT CAST(k.range AS BIGINT) AS point_id,
           CAST((13 * (5 + 7 * k.range) + 7 * (3 + 6 * k.range)) % 97
                AS DOUBLE) AS value
    FROM range(0, 16) k ORDER BY point_id
    """,
)
def raster_point_sample(spark, sf_dir):
    from geocube_spark.operators.focal import sample_points

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src.parquet")
    res = 0.015625
    points = spark.range(0, 16, 1, 1).select(
        F.col("id").alias("point_id"),
        ((5 + 7 * F.col("id") + 0.5) * res).alias("x"),
        (50.0 - (3 + 6 * F.col("id") + 0.5) * res).alias("y"),
    )
    out = sample_points(
        tiles, points, transform=(res, 0.0, 0.0, 0.0, -res, 50.0), block=64
    )
    # single-band level-0 fixture: project the plane keys away so the
    # oracle twin stays two columns
    return out.select("point_id", "value").orderBy("point_id")


# Zonal statistics (classic EO analysis pushed into the engine): 9
# deterministic zones over the warp_src fixture raster; per-zone count/
# sum/min/max/mean via broadcast θ-join + HOF window aggregation + one
# O(#overlaps) shuffle (operators/zonal.py).  Oracle re-derives every
# zone in pixel space against the closed-form v(i,j) = (13i+7j) mod 97.
@q(
    "zonal_statistics",
    """
    WITH zones AS (
        SELECT CAST(z.range AS INT) AS zone_id,
               (z.range % 3) * 40 + 2 AS x0p,
               (z.range // 3) * 40 + 3 AS y0p
        FROM range(0, 9) z
    ),
    px AS (
        SELECT i.range AS gi, j.range AS gj,
               CAST((13 * i.range + 7 * j.range) % 97 AS DOUBLE) AS v
        FROM range(0, 128) i, range(0, 128) j
    ),
    hit AS (
        SELECT zone_id, v FROM zones JOIN px
        ON gi >= x0p AND gi < x0p + 35 AND gj >= y0p AND gj < y0p + 30
    )
    SELECT zone_id, CAST(count(*) AS BIGINT) AS n_pixels,
           sum(v) AS sum_value, min(v) AS min_value, max(v) AS max_value,
           round(sum(v) / count(*), 6) AS mean_value
    FROM hit GROUP BY zone_id ORDER BY zone_id
    """,
)
def zonal_statistics(spark, sf_dir):
    from geocube_spark.operators.zonal import zonal_stats

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src.parquet")
    res = 0.015625
    zones = spark.range(0, 9, 1, 1).select(
        F.col("id").cast("int").alias("zone_id"),
        ((F.col("id") % 3) * 40 + 2).alias("x0p"),
        ((F.col("id") / 3).cast("int") * 40 + 3).alias("y0p"),
    ).select(
        "zone_id",
        (F.col("x0p") * res).alias("xmin"),
        (50.0 - (F.col("y0p") + 30) * res).alias("ymin"),
        ((F.col("x0p") + 35) * res).alias("xmax"),
        (50.0 - F.col("y0p") * res).alias("ymax"),
    )
    out = zonal_stats(tiles, zones, block=64)
    return out.select(
        "zone_id", "n_pixels", "sum_value", "min_value", "max_value",
        F.round("mean_value", 6).alias("mean_value"),
    ).orderBy("zone_id")


# Map algebra / normalized difference (operators/algebra.py): derive a
# second band deterministically from the fixture band ((3x+7) mod 97 —
# never zero-sum against band 1), compute per-pixel (b2-b1)/(b2+b1) with
# zip_with, and reduce per block.  Pure HOF codegen — no UDF, no shuffle
# before the 4-row final agg; the oracle replays the same algebra in
# pixel space.
@q(
    "band_normalized_difference",
    """
    WITH px AS (
        SELECT i.range AS gi, j.range AS gj,
               CAST((13 * i.range + 7 * j.range) % 97 AS DOUBLE) AS b1
        FROM range(0, 128) i, range(0, 128) j
    ),
    nd AS (
        SELECT gi // 64 AS block_x, gj // 64 AS block_y,
               (((b1 * 3 + 7) % 97) - b1) / (((b1 * 3 + 7) % 97) + b1) AS v
        FROM px
    )
    SELECT CAST(block_x AS INT) AS block_x, CAST(block_y AS INT) AS block_y,
           CAST(count(*) AS BIGINT) AS n_px,
           round(sum(v), 6) AS nd_sum,
           round(min(v), 6) AS nd_min,
           round(max(v), 6) AS nd_max
    FROM nd GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def band_normalized_difference(spark, sf_dir):
    from geocube_spark.operators.algebra import normalized_difference

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src.parquet")
    two_band = tiles.withColumn(
        "px2", F.transform(F.col("px"), lambda x: (x * 3 + 7) % 97)
    )
    nd = normalized_difference(two_band, "px", "px2", out_col="nd")
    return (
        nd.select(
            "block_x", "block_y",
            F.size("nd").alias("n_px"),
            F.aggregate("nd", F.lit(0.0), lambda a, v: a + v).alias("s"),
            F.array_min("nd").alias("mn"),
            F.array_max("nd").alias("mx"),
        )
        .groupBy("block_x", "block_y")
        .agg(
            F.sum("n_px").cast("long").alias("n_px"),
            F.round(F.sum("s"), 6).alias("nd_sum"),
            F.round(F.min("mn"), 6).alias("nd_min"),
            F.round(F.max("mx"), 6).alias("nd_max"),
        )
        .orderBy("block_x", "block_y")
    )


# Space-filling-curve indexing (layout tools for 100 TB file-skipping):
# geohash cell occupancy of the dataset bbox centers, plus the Morton
# (Z-order) key of each dataset's coarse grid cell — both closed-form
# bit arithmetic with exact SQL twins (functions/spatialkeys.py).
from geocube_spark.functions.spatialkeys import (  # noqa: E402
    geohash_expr,
    geohash_sql,
    lonlat_to_tile_sql,
    quadkey_from_xyz_sql,
    zorder_expr,
    zorder_sql,
)


@q(
    "geohash_spatial_index",
    f"""
    WITH d AS (
        SELECT (bbox.xmin + bbox.xmax) / 2 AS cx,
               (bbox.ymin + bbox.ymax) / 2 AS cy,
               CAST(floor((bbox.xmin + 180) / 0.5) AS BIGINT) AS gx,
               CAST(floor((bbox.ymin + 90) / 0.5) AS BIGINT) AS gy
        FROM read_parquet('{FIXTURE_DIR}/datasets.parquet')
    ),
    keyed AS (
        SELECT {geohash_sql('cx', 'cy', 5)} AS geohash,
               {zorder_sql('gx', 'gy', 10)} AS z_key
        FROM d
    )
    SELECT geohash,
           CAST(count(*) AS BIGINT) AS n_datasets,
           CAST(min(z_key) AS BIGINT) AS z_min,
           CAST(max(z_key) AS BIGINT) AS z_max
    FROM keyed GROUP BY geohash ORDER BY geohash
    """,
)
def geohash_spatial_index(spark, sf_dir):
    fd = ensure_fixtures()
    d = spark.read.parquet(f"{fd}/datasets.parquet").select(
        ((F.col("bbox.xmin") + F.col("bbox.xmax")) / 2).alias("cx"),
        ((F.col("bbox.ymin") + F.col("bbox.ymax")) / 2).alias("cy"),
        F.floor((F.col("bbox.xmin") + 180) / 0.5).cast("long").alias("gx"),
        F.floor((F.col("bbox.ymin") + 90) / 0.5).cast("long").alias("gy"),
    )
    keyed = d.select(
        geohash_expr(F.col("cx"), F.col("cy"), 5).alias("geohash"),
        zorder_expr(F.col("gx"), F.col("gy"), 10).alias("z_key"),
    )
    return (
        keyed.groupBy("geohash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_datasets"),
            F.min("z_key").cast("long").alias("z_min"),
            F.max("z_key").cast("long").alias("z_max"),
        )
        .orderBy("geohash")
    )


# Best-available-pixel compositing (White et al. 2014 — the Landsat BAP
# recipe): three acquisitions with per-layer cloud masks; each pixel
# takes the observation maximizing seasonal_score + distance-to-cloud
# (the proximity_map EDT plane), clouds ineligible, ties to the latest
# acquisition.  Dyadic scores (quarters + d2/64) are exact doubles, so
# the per-pixel choice is bit-deterministic and the oracle replays it
# with a quadratic distance join + window rank.
@q(
    "bap_cloudfree_composite",
    """
    WITH px AS (
        SELECT t.range AS t, i.range AS gi, j.range AS gj,
               CAST((13 * i.range + 7 * j.range + 23 * t.range) % 89
                    AS DOUBLE) AS v
        FROM range(0, 3) t, range(0, 128) i, range(0, 128) j
    ),
    tgt AS (SELECT t, gi AS tx, gj AS ty FROM px WHERE v = 0),
    near AS (
        SELECT p.t, p.gi, p.gj,
               min((p.gi - g.tx) * (p.gi - g.tx)
                   + (p.gj - g.ty) * (p.gj - g.ty)) AS d2raw
        FROM px p JOIN tgt g
          ON g.t = p.t AND abs(p.gi - g.tx) <= 8 AND abs(p.gj - g.ty) <= 8
        GROUP BY 1, 2, 3
    ),
    sc AS (
        SELECT p.t, p.gi, p.gj, p.v,
               least(coalesce(n.d2raw, 64), 64) AS d2
        FROM px p LEFT JOIN near n
          ON n.t = p.t AND n.gi = p.gi AND n.gj = p.gj
    ),
    scored AS (
        SELECT *,
               CASE WHEN d2 > 0 THEN
                    (CASE t WHEN 0 THEN 0.25 WHEN 1 THEN 0.5 ELSE 0.375 END)
                    + d2 / 64.0
               ELSE -1.0 END AS score
        FROM sc
    ),
    win AS (
        SELECT gi, gj, t, v, score,
               row_number() OVER (PARTITION BY gi, gj
                                  ORDER BY score DESC, t DESC) AS rk
        FROM scored
    )
    SELECT CAST(gi // 64 AS INT) AS block_x, CAST(gj // 64 AS INT) AS block_y,
           round(sum(CASE WHEN score >= 0 THEN v END), 6) AS px_sum,
           CAST(count(*) FILTER (score >= 0 AND t = 0) AS BIGINT) AS n_t0,
           CAST(count(*) FILTER (score >= 0 AND t = 1) AS BIGINT) AS n_t1,
           CAST(count(*) FILTER (score >= 0 AND t = 2) AS BIGINT) AS n_t2,
           CAST(count(*) FILTER (score < 0) AS BIGINT) AS n_allcloud
    FROM win WHERE rk = 1
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def bap_cloudfree_composite(spark, sf_dir):
    from geocube_spark.operators.mosaic import bap_composite
    from geocube_spark.operators.proximity import proximity_map

    scores = {0: 0.25, 1: 0.5, 2: 0.375}
    from geocube_spark.functions.localdf import values_df

    blocks = values_df(
        spark,
        [(t, bx, by) for t in scores for bx in range(2) for by in range(2)],
        ["t", "block_x", "block_y"],
    )
    def _v(k):
        gi = (F.col("block_x") * 64 + k % 64).cast("long")
        gj = (F.col("block_y") * 64 + F.floor(k / 64)).cast("long")
        return ((13 * gi + 7 * gj + 23 * F.col("t")) % 89).cast("double")

    # closed-form px arrays as ONE projection — no explode/groupBy shuffle
    # just to build the synthetic blocks
    tiles_all = blocks.select(
        "t",
        "block_x",
        "block_y",
        F.transform(F.sequence(F.lit(0), F.lit(4095)), _v).alias("px"),
    )
    # ONE batched EDT pass for every acquisition: proximity_map keyed by
    # (t, block) — one halo exchange + one applyInPandas over 3× the
    # groups, instead of three sequential per-layer plane passes.  The px
    # plane rides the exchange (carry=): no tiles⋈map re-join, so the
    # whole query is scan -> mask pack -> EDT shuffle -> pick shuffle.
    pm = proximity_map(
        tiles_all, max_dist=8, target_value=0.0, extra_keys=("t",), carry=("px",)
    )
    score_map = F.create_map(
        *[x for t, sc in scores.items() for x in (F.lit(t), F.lit(sc))]
    )
    layers = pm.withColumn("layer_score", F.element_at(score_map, F.col("t")))
    out = bap_composite(layers, d2_cap=64)
    chosen = F.zip_with(
        F.col("px"), F.col("chosen_t"), lambda v, t: F.struct(v.alias("v"), t.alias("t"))
    )
    return out.select(
        F.col("block_x").cast("int").alias("block_x"),
        F.col("block_y").cast("int").alias("block_y"),
        F.round(
            F.aggregate(
                chosen,
                F.lit(0.0),
                lambda a, c: a + F.when(c["t"] >= 0, c["v"]).otherwise(F.lit(0.0)),
            ),
            6,
        ).alias("px_sum"),
        F.size(F.filter(F.col("chosen_t"), lambda t: t == 0)).cast("long").alias("n_t0"),
        F.size(F.filter(F.col("chosen_t"), lambda t: t == 1)).cast("long").alias("n_t1"),
        F.size(F.filter(F.col("chosen_t"), lambda t: t == 2)).cast("long").alias("n_t2"),
        F.size(F.filter(F.col("chosen_t"), lambda t: t < 0)).cast("long").alias("n_allcloud"),
    ).orderBy("block_x", "block_y")


# Incremental overview maintenance (A8 + S9: keep pyramids fresh under
# landing-zone ingest without full rebuilds): one level-0 block per
# container gets an ingest "update" (+50 on valid pixels), pyramid_delta
# recomputes ONLY the ancestor path from the mixed old/new children.
# Oracle replays the level-1 pooling with the bumped child — a stale or
# over-eager recompute both hash-mismatch.
@q(
    "pyramid_incremental_refresh",
    f"""
    WITH t AS (
        SELECT ti.* FROM read_parquet('{FIXTURE_DIR}/tiles.parquet') ti
        JOIN read_parquet('{FIXTURE_DIR}/datasets.parquet') d
          ON ti.container_uri = d.container_uri
        WHERE ti.level = 0 AND d.dmapping.no_data = -32768.0
    ),
    bumped AS (
        SELECT container_uri, band, block_x, block_y,
               CASE WHEN block_x = 0 AND block_y = 1
                    THEN list_transform(px, v -> CASE WHEN v = -32768.0
                         THEN v ELSE v + 50.0 END)
                    ELSE px END AS px
        FROM t
    ),
    quads AS (
        SELECT container_uri, band,
               first(px) FILTER (block_x = 0 AND block_y = 0) AS q0,
               first(px) FILTER (block_x = 1 AND block_y = 0) AS q1,
               first(px) FILTER (block_x = 0 AND block_y = 1) AS q2,
               first(px) FILTER (block_x = 1 AND block_y = 1) AS q3
        FROM bumped GROUP BY container_uri, band
    ),
    opx AS (
        SELECT container_uri, band, i.range AS i,
               (i.range // 64) * 2 AS sr, (i.range % 64) * 2 AS sc
        FROM quads, range(0, 4096) i
    ),
    vals AS (
        SELECT o.container_uri, o.band, o.i,
               CASE WHEN o.sr < 64 AND o.sc < 64 THEN
                   [qq.q0[(o.sr % 64) * 64 + (o.sc % 64) + 1],
                    qq.q0[(o.sr % 64) * 64 + (o.sc % 64) + 2],
                    qq.q0[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 1],
                    qq.q0[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 2]]
               WHEN o.sr < 64 THEN
                   [qq.q1[(o.sr % 64) * 64 + (o.sc % 64) + 1],
                    qq.q1[(o.sr % 64) * 64 + (o.sc % 64) + 2],
                    qq.q1[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 1],
                    qq.q1[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 2]]
               WHEN o.sc < 64 THEN
                   [qq.q2[(o.sr % 64) * 64 + (o.sc % 64) + 1],
                    qq.q2[(o.sr % 64) * 64 + (o.sc % 64) + 2],
                    qq.q2[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 1],
                    qq.q2[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 2]]
               ELSE
                   [qq.q3[(o.sr % 64) * 64 + (o.sc % 64) + 1],
                    qq.q3[(o.sr % 64) * 64 + (o.sc % 64) + 2],
                    qq.q3[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 1],
                    qq.q3[(o.sr % 64 + 1) * 64 + (o.sc % 64) + 2]]
               END AS w
        FROM opx o JOIN quads qq USING (container_uri, band)
    ),
    pooled AS (
        SELECT container_uri, band, i,
               CASE WHEN len(list_filter(w, v -> v != -32768.0)) = 0
                    THEN -32768.0
                    ELSE list_aggregate(list_filter(w, v -> v != -32768.0), 'sum')
                         / len(list_filter(w, v -> v != -32768.0))
               END AS v
        FROM vals
    )
    SELECT container_uri, band, CAST(1 AS INT) AS level,
           CAST(count(DISTINCT i) / 4096 AS BIGINT) AS n_delta_blocks,
           round(sum(v), 4) AS px_sum
    FROM pooled GROUP BY container_uri, band
    ORDER BY container_uri, band
    """,
)
def pyramid_incremental_refresh(spark, sf_dir):
    from geocube_spark.operators.pyramid import build_pyramid, pyramid_delta

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/tiles.parquet")
    datasets = spark.read.parquet(f"{fd}/datasets.parquet")
    src = tiles.join(
        datasets.filter(F.col("dmapping.no_data") == -32768.0).select(
            "container_uri"
        ),
        "container_uri",
        "left_semi",
    )
    prev = build_pyramid(src, max_level=1, alg="AVERAGE", nodata=-32768.0)
    new0 = src.withColumn(
        "px",
        F.when(
            (F.col("block_x") == 0) & (F.col("block_y") == 1),
            F.transform(
                "px",
                lambda v: F.when(v == -32768.0, v).otherwise(v + 50.0),
            ),
        ).otherwise(F.col("px")),
    )
    touched = src.filter(
        (F.col("block_x") == 0) & (F.col("block_y") == 1)
    ).select("container_uri", "band", "block_x", "block_y")
    delta, _updated = pyramid_delta(
        new0, prev, touched, max_level=1, alg="AVERAGE", nodata=-32768.0
    )
    return (
        delta.groupBy("container_uri", "band")
        .agg(
            F.first("level").cast("int").alias("level"),
            F.count(F.lit(1)).cast("long").alias("n_delta_blocks"),
            F.round(
                F.sum(F.aggregate("px", F.lit(0.0), lambda a, v: a + v)), 4
            ).alias("px_sum"),
        )
        .orderBy("container_uri", "band")
    )


# Mann-Kendall / Theil-Sen temporal trend (the nonparametric trend pair
# of EO time-series analysis): per-pixel S statistic + median pairwise
# slope over a 5-layer closed-form stack with nodata gaps.  Everything
# is JVM HOF expressions (series materialized once per pixel); slopes
# report as sum(median * 24) — exact integers-over-24 for this time
# axis, so cross-engine sums carry no float-association tolerance.
@q(
    "temporal_trend_mk",
    """
    WITH px AS (
        SELECT t.range AS t, i.range AS gi, j.range AS gj,
               CAST((13 * i.range + 7 * j.range + 17 * t.range) % 97
                    AS DOUBLE) AS v
        FROM range(0, 5) t, range(0, 128) i, range(0, 128) j
    ),
    pairs AS (
        SELECT a.gi, a.gj, a.v AS va, b.v AS vb, a.t AS ta, b.t AS tb
        FROM px a JOIN px b ON b.gi = a.gi AND b.gj = a.gj AND b.t > a.t
        WHERE a.v != 0 AND b.v != 0
    ),
    perpx AS (
        SELECT gi, gj,
               CAST(sum(sign(vb - va)) AS BIGINT) AS s,
               median((vb - va) / (tb - ta)) AS slope
        FROM pairs GROUP BY gi, gj
    ),
    obs AS (
        SELECT gi, gj, count(*) FILTER (v != 0) AS nv
        FROM px GROUP BY gi, gj
    )
    SELECT CAST(o.gi // 64 AS INT) AS block_x,
           CAST(o.gj // 64 AS INT) AS block_y,
           CAST(count(*) AS BIGINT) AS n_px,
           CAST(count(*) FILTER (o.nv >= 2) AS BIGINT) AS n_trendable,
           CAST(coalesce(sum(p.s), 0) AS BIGINT) AS sum_s,
           CAST(count(*) FILTER (p.s > 0) AS BIGINT) AS n_pos,
           CAST(count(*) FILTER (p.s < 0) AS BIGINT) AS n_neg,
           round(coalesce(sum(p.slope * 24), 0), 6) AS slope24_sum
    FROM obs o LEFT JOIN perpx p ON p.gi = o.gi AND p.gj = o.gj
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def temporal_trend_mk(spark, sf_dir):
    from geocube_spark.operators.mosaic import temporal_trend

    from geocube_spark.functions.localdf import values_df

    blocks = values_df(
        spark,
        [(bx, by, t) for bx in range(2) for by in range(2) for t in range(5)],
        ["block_x", "block_y", "t"],
    )
    gi = (F.col("block_x") * 64 + F.col("k") % 64).cast("long")
    gj = (F.col("block_y") * 64 + (F.col("k") / 64).cast("int")).cast("long")
    tiles = (
        blocks.withColumn("k", F.explode(F.sequence(F.lit(0), F.lit(4095))))
        .withColumn(
            "v",
            ((13 * gi + 7 * gj + 17 * F.col("t")) % 97).cast("double"),
        )
        .groupBy("block_x", "block_y", "t")
        .agg(F.array_sort(F.collect_list(F.struct("k", "v"))).alias("kv"))
        .select(
            "block_x",
            "block_y",
            "t",
            F.transform("kv", lambda e: e["v"]).alias("px"),
        )
    )
    return temporal_trend(tiles, time_col="t", nodata=0.0)


# Bing quadkey spatial index (companion to geohash/Morton): dataset bbox
# centroids -> zoom-8 WebMercator tiles -> base-4 quadkeys whose string
# PREFIXES are ancestor tiles, so zoom-out reads are prefix range scans.
# Both engines replay the identical slippy-map tile math and the digit
# interleave; the zoom-5 prefix rollup proves the subtree-prefix property
# on real data.
@q(
    "quadkey_spatial_index",
    f"""
    WITH d AS (
        SELECT (bbox.xmin + bbox.xmax) / 2 AS cx,
               (bbox.ymin + bbox.ymax) / 2 AS cy
        FROM read_parquet('{FIXTURE_DIR}/datasets.parquet')
    ),
    t AS (
        SELECT {lonlat_to_tile_sql('cx', 'cy', 8)[0]} AS tx,
               {lonlat_to_tile_sql('cx', 'cy', 8)[1]} AS ty
        FROM d
    ),
    k AS (SELECT {quadkey_from_xyz_sql('tx', 'ty', 8)} AS qk FROM t)
    SELECT substr(qk, 1, 5) AS prefix,
           CAST(count(*) AS BIGINT) AS n_datasets,
           CAST(count(DISTINCT qk) AS BIGINT) AS n_tiles,
           min(qk) AS qk_min, max(qk) AS qk_max
    FROM k GROUP BY 1 ORDER BY 1
    """,
)
def quadkey_spatial_index(spark, sf_dir):
    from geocube_spark.functions.spatialkeys import (
        lonlat_to_tile_expr,
        quadkey_from_xyz_expr,
    )

    fd = ensure_fixtures()
    d = spark.read.parquet(f"{fd}/datasets.parquet").select(
        ((F.col("bbox.xmin") + F.col("bbox.xmax")) / 2).alias("cx"),
        ((F.col("bbox.ymin") + F.col("bbox.ymax")) / 2).alias("cy"),
    )
    tx, ty = lonlat_to_tile_expr(F.col("cx"), F.col("cy"), 8)
    keyed = d.select(quadkey_from_xyz_expr(tx, ty, 8).alias("qk"))
    return (
        keyed.groupBy(F.substring("qk", 1, 5).alias("prefix"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_datasets"),
            F.count_distinct("qk").cast("long").alias("n_tiles"),
            F.min("qk").alias("qk_min"),
            F.max("qk").alias("qk_max"),
        )
        .orderBy("prefix")
    )


# Brovey pansharpening (R2/A12 companion): three deterministic MS bands +
# a pan band derived from the fixture px, ratio-scaled per pixel with pure
# nested zip_with (operators/algebra.pansharpen_brovey); oracle replays
# the identical algebra over the regenerated 128x128 grid.
@q(
    "pansharpen_brovey",
    """
    WITH px AS (
        SELECT i.range AS gi, j.range AS gj,
               CAST((13 * i.range + 7 * j.range) % 97 AS DOUBLE) AS r
        FROM range(0, 128) i, range(0, 128) j
    ),
    bands AS (
        SELECT gi // 64 AS block_x, gj // 64 AS block_y, r,
               (r * 3 + 7) % 97 AS g,
               (r * 5 + 11) % 97 AS b,
               (r * 7 + 3) % 97 AS pan
        FROM px
    ),
    sharp AS (
        SELECT block_x, block_y,
               CASE WHEN (r + g + b) / 3 != 0
                    THEN pan / ((r + g + b) / 3) ELSE 0 END AS q,
               r, g, b
        FROM bands
    )
    SELECT CAST(block_x AS INT) AS block_x, CAST(block_y AS INT) AS block_y,
           CAST(count(*) AS BIGINT) AS n_px,
           round(sum(r * q), 4) AS sharp_r_sum,
           round(sum(g * q), 4) AS sharp_g_sum,
           round(sum(b * q), 4) AS sharp_b_sum
    FROM sharp GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def pansharpen_brovey_q(spark, sf_dir):
    from geocube_spark.operators.algebra import pansharpen_brovey

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src.parquet")
    multiband = (
        tiles.withColumn("g", F.transform(F.col("px"), lambda x: (x * 3 + 7) % 97))
        .withColumn("b", F.transform(F.col("px"), lambda x: (x * 5 + 11) % 97))
        .withColumn("pan", F.transform(F.col("px"), lambda x: (x * 7 + 3) % 97))
    )
    sharp = pansharpen_brovey(multiband, "px", "g", "b", "pan")
    return (
        sharp.select(
            "block_x", "block_y",
            F.size("px").alias("n_px"),
            F.aggregate("sharp_px", F.lit(0.0), lambda a, v: a + v).alias("sr"),
            F.aggregate("sharp_g", F.lit(0.0), lambda a, v: a + v).alias("sg"),
            F.aggregate("sharp_b", F.lit(0.0), lambda a, v: a + v).alias("sb"),
        )
        .groupBy("block_x", "block_y")
        .agg(
            F.sum("n_px").cast("long").alias("n_px"),
            F.round(F.sum("sr"), 4).alias("sharp_r_sum"),
            F.round(F.sum("sg"), 4).alias("sharp_g_sum"),
            F.round(F.sum("sb"), 4).alias("sharp_b_sum"),
        )
        .orderBy("block_x", "block_y")
    )


# Global histogram equalization (contrast stretch): one histogram pass
# (map-side-combined bin counts), bins-row CDF window, 1-row broadcast LUT,
# scan-speed remap (operators/algebra.histogram_equalize).  Integer-count
# math — the oracle replays it exactly over the regenerated grid.
@q(
    "histogram_equalization",
    """
    WITH px AS (
        SELECT i.range AS gi, j.range AS gj,
               CAST((13 * i.range + 7 * j.range) % 97 AS DOUBLE) AS v
        FROM range(0, 128) i, range(0, 128) j
    ),
    hist AS (SELECT CAST(floor(v) AS INT) AS bin, count(*) AS n FROM px GROUP BY 1),
    c AS (SELECT bin, n, sum(n) OVER (ORDER BY bin) AS cdf FROM hist),
    s AS (SELECT bin, cdf,
                 (SELECT CAST(sum(n) AS DOUBLE) FROM hist) AS n_total,
                 (SELECT CAST(min(cdf) AS DOUBLE) FROM c) AS cdf_min
          FROM c),
    lut AS (SELECT bin,
                   CASE WHEN n_total > cdf_min
                        THEN round((cdf - cdf_min) / (n_total - cdf_min) * 96, 0)
                        ELSE 0 END AS remap
            FROM s),
    eq AS (SELECT p.gi // 64 AS block_x, p.gj // 64 AS block_y, l.remap AS e
           FROM px p JOIN lut l ON CAST(floor(p.v) AS INT) = l.bin)
    SELECT CAST(block_x AS INT) AS block_x, CAST(block_y AS INT) AS block_y,
           CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(e) AS BIGINT) AS eq_sum,
           CAST(min(e) AS BIGINT) AS eq_min,
           CAST(max(e) AS BIGINT) AS eq_max
    FROM eq GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def histogram_equalization(spark, sf_dir):
    from geocube_spark.operators.algebra import histogram_equalize

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src.parquet")
    eq = histogram_equalize(tiles, bins=97, vmin=0.0, vmax=97.0)
    return (
        eq.select(
            "block_x", "block_y",
            F.size("px_eq").alias("n_px"),
            F.aggregate("px_eq", F.lit(0.0), lambda a, v: a + v).alias("s"),
            F.array_min("px_eq").alias("mn"),
            F.array_max("px_eq").alias("mx"),
        )
        .groupBy("block_x", "block_y")
        .agg(
            F.sum("n_px").cast("long").alias("n_px"),
            F.sum("s").cast("long").alias("eq_sum"),
            F.min("mn").cast("long").alias("eq_min"),
            F.max("mx").cast("long").alias("eq_max"),
        )
        .orderBy("block_x", "block_y")
    )


# Vector->raster burning (gdal_rasterize analog, polygonize's inverse):
# center-inside even-odd rule, holes excluded, max-wins overlaps.  Spark
# runs the REAL WKB through the vectorized ring-crossing kernel behind a
# bbox-tile equi-join + per-(polygon,tile) applyInPandas (one decode per
# group); the oracle rasterizes the same L-shape + hole + overlapping
# square analytically from its rect composition.
@q(
    "rasterize_polygons",
    """
    WITH cells AS (
        SELECT CAST(c.range % 32 AS INT) AS gi, CAST(c.range // 32 AS INT) AS gj,
               (c.range % 32) + 0.5 AS cx, (c.range // 32) + 0.5 AS cy
        FROM range(0, 1024) c
    ),
    burned AS (
        SELECT gi, gj,
               CASE WHEN cx > 24 AND cx < 30 AND cy > 24 AND cy < 30 THEN 9.0
                    WHEN ((cx < 20 AND cy < 8) OR (cx < 8 AND cy < 20))
                         AND NOT (cx > 2 AND cx < 6 AND cy > 2 AND cy < 6)
                    THEN 5.0 END AS burn
        FROM cells
    )
    SELECT CAST(gj AS INT) AS gj, CAST(count(*) AS BIGINT) AS n_burned,
           CAST(min(gi) AS INT) AS min_gi, CAST(max(gi) AS INT) AS max_gi,
           round(sum(burn), 6) AS burn_sum
    FROM burned WHERE burn IS NOT NULL
    GROUP BY gj ORDER BY gj
    """,
)
def rasterize_polygons_q(spark, sf_dir):
    from geocube_spark.functions.geometry import polygon_wkb
    from geocube_spark.operators.rasterize import rasterize_polygons

    lshape = polygon_wkb(
        [(0.0, 0.0), (20.0, 0.0), (20.0, 8.0), (8.0, 8.0), (8.0, 20.0), (0.0, 20.0)],
        holes=[[(2.0, 2.0), (6.0, 2.0), (6.0, 6.0), (2.0, 6.0)]],
    )
    square = polygon_wkb(
        [(24.0, 24.0), (30.0, 24.0), (30.0, 30.0), (24.0, 30.0)]
    )
    from geocube_spark.functions.localdf import values_df

    # LocalRelation (X'..' hex literals): one partition instead of 32
    # near-empty ones for a 2-polygon parameter table (guide §2.2)
    polys = values_df(
        spark,
        [(1, bytes(lshape), 5.0), (2, bytes(square), 9.0)],
        ["poly_id", "wkb", "burn_val"],
    )
    out = rasterize_polygons(polys, nx=32, ny=32)
    return (
        out.groupBy("gj")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_burned"),
            F.min("gi").cast("int").alias("min_gi"),
            F.max("gi").cast("int").alias("max_gi"),
            F.round(F.sum("burn"), 6).alias("burn_sum"),
        )
        .select(F.col("gj").cast("int").alias("gj"), "n_burned", "min_gi", "max_gi", "burn_sum")
        .orderBy("gj")
    )


# D8 flow direction + accumulation (O'Callaghan & Mark 1984): every DEM
# cell drains to its steepest-descent neighbor; accumulation counts the
# cells draining through each one.  Direction is ONE equi-join + argmax;
# accumulation iterates 1 + sum(inflow) joins over the edge relation to
# the fixpoint (the fixture DEM's longest flow path is 8 — the sawtooth
# drains tile row/col 7 across the boundary, one extra hop — so 8 rounds
# are exact; under-iterating is caught by tests/test_hydrology_interp.py's
# mass-conservation invariant, not by the oracle, which replays the same
# round count).  The oracle unrolls the identical recursion as generated CTEs —
# all-integer mass, exact parity.
def _flow_oracle() -> str:
    from geocube_spark.operators.hydrology import flow_summary_sql

    cells = """
        SELECT CAST(c.range % 64 AS INT) AS i, CAST(c.range // 64 AS INT) AS j,
               CAST((c.range % 64) % 8 + (c.range // 64) % 8 AS DOUBLE) AS z
        FROM range(0, 4096) c
    """
    return flow_summary_sql(cells, tile=8, rounds=8)


@q("flow_accumulation", _flow_oracle())
def flow_accumulation_q(spark, sf_dir):
    from geocube_spark.operators.hydrology import flow_summary

    # partition the synthetic DEM by a cells-per-task target (a 256² tile),
    # not by core count: range() otherwise spreads 4096 cells over
    # defaultParallelism partitions and every downstream stage pays one
    # task per (mostly empty) partition — scale-adaptive, a continental
    # DEM still fans out (guide §2.2: fewer, larger map tasks)
    n_cells, cells_per_task = 4096, 1 << 16
    cells = spark.range(0, n_cells, 1, max(1, n_cells // cells_per_task)).select(
        (F.col("id") % 64).cast("int").alias("i"),
        (F.col("id") / 64).cast("int").alias("j"),
        ((F.col("id") % 64) % 8 + F.floor(F.col("id") / 64) % 8)
        .cast("double")
        .alias("z"),
    )
    return flow_summary(cells, tile=8, rounds=8)


# IDW point-to-raster interpolation (Shepard weighting, finite search
# radius): 24 deterministic stations gridded onto 16x16 cell centers.  The
# scale path is the bucketed equi-join in operators/interpolate.py (station
# -> 3x3 influence buckets, cells -> own bucket); the oracle brute-forces
# the same radius-cutoff relation, which the bucket join reconstructs
# exactly.
from geocube_spark.operators.interpolate import idw_grid, idw_grid_sql  # noqa: E402

_IDW_PTS_SQL = """
    SELECT CAST((37 * p.range + 11) % 128 AS DOUBLE) AS x,
           CAST((53 * p.range + 29) % 128 AS DOUBLE) AS y,
           CAST((17 * p.range) % 61 AS DOUBLE) AS val
    FROM range(0, 24) p
"""
_IDW_CELLS_SQL = """
    SELECT CAST(c.range % 16 AS INT) AS ci, CAST(c.range // 16 AS INT) AS cj,
           CAST(4 + 8 * (c.range % 16) AS DOUBLE) AS cx,
           CAST(4 + 8 * (c.range // 16) AS DOUBLE) AS cy
    FROM range(0, 256) c
"""


@q("idw_interpolation", idw_grid_sql(_IDW_PTS_SQL, _IDW_CELLS_SQL, radius=32.0))
def idw_interpolation_q(spark, sf_dir):
    pts = spark.range(0, 24, 1, 1).select(
        ((37 * F.col("id") + 11) % 128).cast("double").alias("x"),
        ((53 * F.col("id") + 29) % 128).cast("double").alias("y"),
        ((17 * F.col("id")) % 61).cast("double").alias("val"),
    )
    cells = spark.range(0, 256, 1, 1).select(
        (F.col("id") % 16).cast("int").alias("ci"),
        (F.col("id") / 16).cast("int").alias("cj"),
        (4 + 8 * (F.col("id") % 16)).cast("double").alias("cx"),
        (4 + 8 * F.floor(F.col("id") / 16)).cast("double").alias("cy"),
    )
    return idw_grid(pts, cells, radius=32.0)


# Seamline feathering (gdalwarp cutline-blend pattern): overlapping
# acquisitions blend with weights = distance to their footprint edge, so
# seams fade instead of cutting (the latest-wins mosaic's complement).
# Two synthetic acquisitions with offset footprints; pixels outside both
# are NULL (nodata).  Integer pixel-distance weights; oracle recomputes
# the identical blend analytically.
@q(
    "mosaic_feather_blend",
    """
    WITH px AS (
        SELECT i.range AS gi, j.range AS gj,
               CAST((13 * i.range + 7 * j.range) % 97 AS DOUBLE) AS v
        FROM range(0, 128) i, range(0, 128) j
    ),
    w AS (
        SELECT gi, gj, v,
               CAST((CAST(v AS INT) + 10) % 97 AS DOUBLE) AS vb,
               greatest(0, least(gi + 1, 96 - gi, gj + 1, 112 - gj)) AS wa,
               greatest(0, least(gi - 31, 128 - gi, gj + 1, 128 - gj)) AS wb
        FROM px
    ),
    bl AS (
        SELECT gi // 64 AS bx, gj // 64 AS by,
               CASE WHEN wa + wb > 0 THEN (wa * v + wb * vb) / (wa + wb) END AS o
        FROM w
    )
    SELECT CAST(bx AS INT) AS block_x, CAST(by AS INT) AS block_y,
           CAST(count(*) AS BIGINT) AS n_px,
           CAST(count(o) AS BIGINT) AS n_valid,
           round(sum(coalesce(o, 0)), 6) AS blend_sum
    FROM bl GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def mosaic_feather_blend_q(spark, sf_dir):
    from geocube_spark.operators.mosaic import feather_blend

    fd = ensure_fixtures()
    src = spark.read.parquet(f"{fd}/warp_src.parquet")
    a = src.select(
        "block_x", "block_y", "px",
        F.lit(0).alias("fp_x0"), F.lit(96).alias("fp_x1"),
        F.lit(0).alias("fp_y0"), F.lit(112).alias("fp_y1"),
    )
    b = src.select(
        "block_x", "block_y",
        F.transform(
            "px", lambda v: ((v.cast("int") + 10) % 97).cast("double")
        ).alias("px"),
        F.lit(32).alias("fp_x0"), F.lit(128).alias("fp_x1"),
        F.lit(0).alias("fp_y0"), F.lit(128).alias("fp_y1"),
    )
    out = feather_blend(a.unionByName(b), block=64)
    return (
        out.select(
            "block_x", "block_y",
            F.size("px_blend").alias("n_px"),
            F.expr("size(filter(px_blend, v -> v IS NOT NULL))").alias("n_valid"),
            F.expr(
                "aggregate(px_blend, 0.0D, (a, v) -> a + coalesce(v, 0.0D))"
            ).alias("s"),
        )
        .groupBy("block_x", "block_y")
        .agg(
            F.sum("n_px").cast("long").alias("n_px"),
            F.sum("n_valid").cast("long").alias("n_valid"),
            F.round(F.sum("s"), 6).alias("blend_sum"),
        )
        .select(
            F.col("block_x").cast("int").alias("block_x"),
            F.col("block_y").cast("int").alias("block_y"),
            "n_px", "n_valid", "blend_sum",
        )
        .orderBy("block_x", "block_y")
    )


# QA-band cloud masking (Landsat C2 bit semantics: cloud=bit3, shadow=bit4,
# snow=bit5): per-block flag counts + the clear-masked value sum — the
# reduction every composite pipeline runs before aggregation.  The QA word
# is derived per-pixel from the fixture value by a Knuth multiplicative
# hash, so the oracle regenerates it exactly; all-bit-test integer math.
@q(
    "qa_band_mask",
    """
    WITH px AS (
        SELECT i.range AS gi, j.range AS gj,
               CAST((13 * i.range + 7 * j.range) % 97 AS DOUBLE) AS v,
               (CAST((13 * i.range + 7 * j.range) % 97 AS BIGINT) * 2654435761) % 1024 AS qa
        FROM range(0, 128) i, range(0, 128) j
    ),
    flagged AS (
        SELECT gi // 64 AS bx, gj // 64 AS by, v,
               CAST((qa >> 3) & 1 AS INT) AS cloud,
               CAST((qa >> 4) & 1 AS INT) AS shadow,
               CAST((qa >> 5) & 1 AS INT) AS snow,
               CASE WHEN (qa & 56) = 0 THEN 1 ELSE 0 END AS clear
        FROM px
    )
    SELECT CAST(bx AS INT) AS block_x, CAST(by AS INT) AS block_y,
           CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(cloud) AS BIGINT) AS n_cloud,
           CAST(sum(shadow) AS BIGINT) AS n_shadow,
           CAST(sum(snow) AS BIGINT) AS n_snow,
           CAST(sum(clear) AS BIGINT) AS n_clear,
           CAST(sum(CASE WHEN clear = 1 THEN v ELSE 0 END) AS BIGINT) AS clear_sum
    FROM flagged GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def qa_band_mask_q(spark, sf_dir):
    from geocube_spark.operators.algebra import qa_mask_summary

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src.parquet").withColumn(
        "qa",
        F.transform(
            "px", lambda v: (v.cast("long") * F.lit(2654435761)) % 1024
        ),
    )
    return qa_mask_summary(tiles)


# STAC ingest (beyond-reference S-class: the de-facto public satellite
# catalog format — a migrating user's first job is STAC item -> record,
# STAC asset -> dataset).  Items read with an EXPLICIT schema (one pass,
# no inference scan); footprint bboxes via pure JVM array functions; the
# searchable properties land in the record tag map so F4 predicates
# apply unchanged.  Oracle re-parses the same JSONL with DuckDB
# read_json and re-derives every aggregate.
@q(
    "stac_ingest_rollup",
    f"""
    SELECT properties.platform AS platform,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(len(list_filter(map_values(assets),
                a -> list_contains(a.roles, 'data')))) AS BIGINT) AS n_data_assets,
           round(avg(properties."eo:cloud_cover"), 6) AS avg_cloud,
           min(properties.datetime) AS first_dt,
           round(min(list_min(list_transform(flatten(geometry.coordinates),
                p -> p[1]))), 6) AS env_xmin,
           round(max(list_max(list_transform(flatten(geometry.coordinates),
                p -> p[2]))), 6) AS env_ymax
    FROM read_json('{FIXTURE_DIR}/stac_items.jsonl', format='newline_delimited',
         columns={{id: 'VARCHAR', collection: 'VARCHAR',
                  geometry: 'STRUCT(type VARCHAR, coordinates DOUBLE[][][])',
                  properties: 'STRUCT(datetime VARCHAR, platform VARCHAR,
                               constellation VARCHAR, gsd DOUBLE,
                               "eo:cloud_cover" DOUBLE, "proj:epsg" DOUBLE)',
                  assets: 'MAP(VARCHAR, STRUCT(href VARCHAR, type VARCHAR,
                               roles VARCHAR[]))'}})
    GROUP BY 1 ORDER BY 1
    """,
)
def stac_ingest_rollup(spark, sf_dir):
    from geocube_spark.sources.stac import (
        read_stac_items,
        stac_assets_to_datasets,
        stac_items_to_records,
    )

    fx = ensure_stac_fixture()
    items = read_stac_items(spark, fx)
    recs = stac_items_to_records(items)
    ds = stac_assets_to_datasets(items, roles=["data"])
    per_rec = ds.groupBy(F.col("record_id").alias("id")).agg(
        F.count(F.lit(1)).alias("n_assets")
    )
    raw_dt = items.select(
        F.col("id"), F.col("properties.datetime").alias("dt_raw")
    )
    j = recs.join(per_rec, "id", "left").join(F.broadcast(raw_dt), "id")
    return (
        j.groupBy(F.col("tags")["platform"].alias("platform"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(F.coalesce("n_assets", F.lit(0)))
            .cast("long")
            .alias("n_data_assets"),
            F.round(
                F.avg(F.col("tags")["cloud_cover"].cast("double")), 6
            ).alias("avg_cloud"),
            F.min("dt_raw").alias("first_dt"),
            F.round(F.min("bbox.xmin"), 6).alias("env_xmin"),
            F.round(F.max("bbox.ymax"), 6).alias("env_ymax"),
        )
        .orderBy("platform")
    )


# Zarr v2 source (beyond-reference S-class: the cloud-native chunked
# array format the xarray/Pangeo stack publishes; GDAL reads it via its
# Zarr driver).  The chunk GRID is metadata-only — the driver reads the
# few-hundred-byte .zarray, enumerates keys arithmetically, and executors
# decompress their own chunks; a 100 TB store is exactly grid-many
# parallel file reads.  Oracle re-derives every pixel (incl. the
# fill-padded edge-chunk overhang) from the closed form.
@q(
    "zarr_block_read",
    """
    WITH cells AS (
        SELECT b.range AS b, gy.range AS gy, gx.range AS gx, i.range AS i
        FROM range(0, 2) b, range(0, 4) gy, range(0, 4) gx, range(0, 1024) i
    ),
    px AS (
        SELECT b, gy, gx,
               gy * 32 + i // 32 AS y, gx * 32 + i % 32 AS x
        FROM cells
    ),
    v AS (
        SELECT b, gx, gy,
               CASE WHEN y < 100 AND x < 100
                    THEN CAST((13 * x + 7 * y + 29 * b) % 101 AS DOUBLE)
                    ELSE -1.0 END AS val
        FROM px
    )
    SELECT CAST(b + 1 AS INT) AS band,
           CAST(gx AS INT) AS block_x, CAST(gy AS INT) AS block_y,
           round(sum(val), 6) AS px_sum,
           CAST(count(*) FILTER (val = -1.0) AS BIGINT) AS n_fill
    FROM v GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def zarr_block_read(spark, sf_dir):
    from geocube_spark.sources.zarr import zarr_tile_rows

    store = ensure_zarr_fixture()
    tiles = zarr_tile_rows(spark, store)
    # rows are already one per (band, block): pure projection, no shuffle
    return tiles.select(
        "band",
        "block_x",
        "block_y",
        F.round(
            F.aggregate("px", F.lit(0.0), lambda a, v: a + v), 6
        ).alias("px_sum"),
        F.size(F.filter("px", lambda v: v == -1.0)).cast("long").alias("n_fill"),
    ).orderBy("band", "block_x", "block_y")


# GDAL-proximity parity (gdal_proximity.py -values 0 -maxdist 16): per-pixel
# distance to the nearest zero-valued pixel, capped.  Spark side is the
# bounded-halo bucket join of operators/proximity.py (targets replicate to
# visible blocks, pixels never explode); the oracle is the INDEPENDENT
# quadratic truth — every pixel joined to every target within the Chebyshev
# box.  Distances are exact integer squared sums, so the match is
# bit-for-bit.
@q(
    "raster_proximity",
    """
    WITH px AS (
        SELECT i.range AS gi, j.range AS gj,
               CAST((13 * i.range + 7 * j.range) % 97 AS INT) AS v
        FROM range(0, 128) i, range(0, 128) j
    ),
    tgt AS (SELECT gi AS tx, gj AS ty FROM px WHERE v = 0),
    near AS (
        SELECT p.gi, p.gj,
               CAST(min((p.gi - t.tx) * (p.gi - t.tx)
                        + (p.gj - t.ty) * (p.gj - t.ty)) AS BIGINT) AS d2
        FROM px p JOIN tgt t
          ON abs(p.gi - t.tx) <= 16 AND abs(p.gj - t.ty) <= 16
        GROUP BY 1, 2
    ),
    cell AS (
        SELECT p.gi // 64 AS bx, p.gj // 64 AS by,
               CASE WHEN n.d2 IS NOT NULL AND n.d2 <= 256 THEN n.d2 END AS d2
        FROM px p LEFT JOIN near n ON n.gi = p.gi AND n.gj = p.gj
    )
    SELECT CAST(bx AS INT) AS block_x, CAST(by AS INT) AS block_y,
           CAST(count(d2) AS BIGINT) AS n_reached,
           CAST(count(*) - count(d2) AS BIGINT) AS n_unreached,
           CAST(coalesce(sum(d2), 0) AS BIGINT) AS sum_min_d2
    FROM cell GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def raster_proximity(spark, sf_dir):
    from geocube_spark.operators.proximity import proximity_summary

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src.parquet")
    return proximity_summary(tiles, max_dist=16, target_value=0.0)


# Dense-target variant: remapping v -> v mod 3 makes ~1/3 of all pixels
# targets (~5.4k on the 128² fixture vs ~170 above).  The per-block exact
# EDT (operators/proximity.py) is O(window pixels) independent of target
# density, so this costs the same as the sparse case — the quadratic
# pixel x target formulation it replaced would be ~32x slower here.  Same
# bit-for-bit integer-d² contract against the quadratic DuckDB truth.
@q(
    "raster_proximity_dense",
    """
    WITH px AS (
        SELECT i.range AS gi, j.range AS gj,
               CAST((13 * i.range + 7 * j.range) % 97 % 3 AS INT) AS v
        FROM range(0, 128) i, range(0, 128) j
    ),
    tgt AS (SELECT gi AS tx, gj AS ty FROM px WHERE v = 0),
    near AS (
        SELECT p.gi, p.gj,
               CAST(min((p.gi - t.tx) * (p.gi - t.tx)
                        + (p.gj - t.ty) * (p.gj - t.ty)) AS BIGINT) AS d2
        FROM px p JOIN tgt t
          ON abs(p.gi - t.tx) <= 8 AND abs(p.gj - t.ty) <= 8
        GROUP BY 1, 2
    ),
    cell AS (
        SELECT p.gi // 64 AS bx, p.gj // 64 AS by,
               CASE WHEN n.d2 IS NOT NULL AND n.d2 <= 64 THEN n.d2 END AS d2
        FROM px p LEFT JOIN near n ON n.gi = p.gi AND n.gj = p.gj
    )
    SELECT CAST(bx AS INT) AS block_x, CAST(by AS INT) AS block_y,
           CAST(count(d2) AS BIGINT) AS n_reached,
           CAST(count(*) - count(d2) AS BIGINT) AS n_unreached,
           CAST(coalesce(sum(d2), 0) AS BIGINT) AS sum_min_d2
    FROM cell GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def raster_proximity_dense(spark, sf_dir):
    from geocube_spark.operators.proximity import proximity_summary

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src.parquet").withColumn(
        "px", F.transform("px", lambda v: v % 3)
    )
    return proximity_summary(tiles, max_dist=8, target_value=0.0)


# Histogram matching / specification (Gonzalez & Woods §3.3.2): remap the
# source scene's values so their distribution follows a reference scene's —
# the radiometric normalization step before mosaicking acquisitions.  The
# CDF-inverse LUT is built on an integer cross-multiplied axis with NO
# inequality join (interleave + reverse running min), so both engines
# reproduce it bit-for-bit.  Ref image = (v^2 mod 89) of the same fixture.
@q(
    "histogram_matching",
    """
    WITH px AS (
        SELECT i.range AS gi, j.range AS gj,
               CAST((13 * i.range + 7 * j.range) % 97 AS INT) AS v
        FROM range(0, 128) i, range(0, 128) j
    ),
    hs AS (SELECT v AS bin, count(*) AS n FROM px GROUP BY 1),
    hr AS (SELECT (v * v) % 89 AS bin, count(*) AS n FROM px GROUP BY 1),
    cs AS (SELECT bin, CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cdf,
                  CAST((SELECT sum(n) FROM hs) AS BIGINT) AS nt FROM hs),
    cr AS (SELECT bin, CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cdf,
                  CAST((SELECT sum(n) FROM hr) AS BIGINT) AS nt FROM hr),
    merged AS (
        SELECT bin AS src_bin, CAST(NULL AS BIGINT) AS ref_bin,
               cdf * (SELECT max(nt) FROM cr) AS key, 0 AS is_ref FROM cs
        UNION ALL
        SELECT CAST(NULL AS BIGINT), bin,
               cdf * (SELECT max(nt) FROM cs) AS key, 1 FROM cr
    ),
    lut AS (
        SELECT src_bin,
               min(ref_bin) OVER (ORDER BY key, is_ref
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS matched
        FROM merged QUALIFY src_bin IS NOT NULL
    ),
    m AS (
        SELECT p.gi // 64 AS bx, p.gj // 64 AS by, l.matched AS mv
        FROM px p JOIN lut l ON p.v = l.src_bin
    )
    SELECT CAST(bx AS INT) AS block_x, CAST(by AS INT) AS block_y,
           CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(mv) AS BIGINT) AS m_sum,
           CAST(min(mv) AS BIGINT) AS m_min,
           CAST(max(mv) AS BIGINT) AS m_max
    FROM m GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def histogram_matching_q(spark, sf_dir):
    from geocube_spark.operators.algebra import histogram_match

    fd = ensure_fixtures()
    src = spark.read.parquet(f"{fd}/warp_src.parquet")
    ref = src.withColumn(
        "px",
        F.transform(
            "px",
            lambda v: ((v.cast("int") * v.cast("int")) % 89).cast("double"),
        ),
    )
    out = histogram_match(src, ref, src_bins=97, ref_bins=89)
    return (
        out.select(
            "block_x", "block_y",
            F.size("px_matched").alias("n_px"),
            F.aggregate("px_matched", F.lit(0.0), lambda a, v: a + v).alias("s"),
            F.array_min("px_matched").alias("mn"),
            F.array_max("px_matched").alias("mx"),
        )
        .groupBy("block_x", "block_y")
        .agg(
            F.sum("n_px").cast("long").alias("n_px"),
            F.sum("s").cast("long").alias("m_sum"),
            F.min("mn").cast("long").alias("m_min"),
            F.max("mx").cast("long").alias("m_max"),
        )
        .orderBy("block_x", "block_y")
    )


# Temporal median composite (A7 companion: reduce-all-acquisitions
# instead of latest-wins).  Five deterministic time layers are derived
# from the fixture band (v + 13t mod 97), the per-pixel median is taken
# across layers with pure HOF sort (operators/mosaic.temporal_composite),
# and blocks are summarized.  Oracle replays the same five-layer median
# per pixel in SQL.
@q(
    "temporal_median_composite",
    """
    WITH px AS (
        SELECT i.range AS gi, j.range AS gj,
               CAST((13 * i.range + 7 * j.range) % 97 AS DOUBLE) AS v
        FROM range(0, 128) i, range(0, 128) j
    ),
    layered AS (
        SELECT gi, gj, (v + 13 * t.range) % 97 AS vt
        FROM px, range(0, 5) t
    ),
    med AS (
        SELECT gi // 64 AS block_x, gj // 64 AS block_y,
               median(vt) AS m
        FROM layered GROUP BY gi, gj, gi // 64, gj // 64
    )
    SELECT CAST(block_x AS INT) AS block_x, CAST(block_y AS INT) AS block_y,
           CAST(5 AS INT) AS n_layers,
           round(sum(m), 6) AS med_sum,
           round(min(m), 6) AS med_min,
           round(max(m), 6) AS med_max
    FROM med GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def temporal_median_composite(spark, sf_dir):
    from geocube_spark.operators.mosaic import temporal_composite

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src.parquet")
    layers = tiles.select(
        "block_x", "block_y", "px",
        F.explode(
            F.array(*[F.lit(float(t)) for t in range(5)])
        ).alias("t"),
    ).select(
        "block_x", "block_y",
        F.transform(F.col("px"), lambda x: (x + 13 * F.col("t")) % 97).alias("px"),
    )
    out = temporal_composite(layers, stat="median", block=64)
    return (
        out.select(
            "block_x", "block_y", "n_layers",
            F.round(
                F.aggregate("px", F.lit(0.0), lambda a, v: a + v), 6
            ).alias("med_sum"),
            F.round(F.array_min("px"), 6).alias("med_min"),
            F.round(F.array_max("px"), 6).alias("med_max"),
        )
        .orderBy("block_x", "block_y")
    )


# Sinusoidal (MODIS land grid) cross-CRS warp (C6: SR-ORG:6974,
# R = 6371007.181 m — the grid every MOD09/MCD43 product ships in):
# NEAR-warp the sinusoidal fixture raster onto a 4326 grid; oracle = the
# same spherical sinusoidal forward re-derived in SQL, so the floor()ed
# source indices are bit-identical like the UTM/polar/LCC/AEA twins.
from geocube_spark.functions.crs import sinu_forward_sql_columns  # noqa: E402


@q(
    "warp_cross_crs_sinusoidal",
    f"""
    WITH cells AS (
        SELECT obx.range AS obx, oby.range AS oby, i.range AS idx
        FROM range(-1, 3) obx, range(-1, 3) oby, range(0, 4096) i
    ),
    en AS (
        SELECT obx, oby, idx,
               {sinu_forward_sql_columns(
                   "9.0 + (obx*64 + (idx % 64) + 0.5) * 0.015625",
                   "45.125 - (oby*64 + (idx // 64) + 0.5) * 0.015625",
                   6974,
               )}
        FROM cells
    ),
    src AS (
        SELECT obx, oby,
               CAST(floor((sinu_x - 732160.0) / 1024.0) AS BIGINT) AS ix,
               CAST(floor((4971520.0 - sinu_y) / 1024.0) AS BIGINT) AS iy
        FROM en
    ),
    v AS (
        SELECT obx, oby,
               CASE WHEN ix >= 0 AND ix < 128 AND iy >= 0 AND iy < 128
                    THEN CAST((13*ix + 7*iy) % 97 AS DOUBLE) ELSE -1.0 END AS val
        FROM src
    )
    SELECT obx AS out_block_x, oby AS out_block_y,
           round(sum(val), 6) AS px_sum,
           CAST(count(*) FILTER (val != -1.0) AS BIGINT) AS n_valid
    FROM v GROUP BY 1, 2
    HAVING n_valid > 0
    """,
)
def warp_cross_crs_sinusoidal(spark, sf_dir):
    from geocube_spark.operators.regrid import regrid_to_grid

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src_sinu.parquet")
    out = regrid_to_grid(
        tiles,
        out_origin=(9.0, 45.125),
        out_res=0.015625,
        out_block=64,
        nodata=-1.0,
        resampling="NEAR",
        src_srid=6974,
        dst_srid=4326,
    )
    return (
        out.groupBy("out_block_x", "out_block_y")
        .agg(
            F.round(
                F.sum(F.aggregate("px", F.lit(0.0), lambda a, v: a + v)), 6
            ).alias("px_sum"),
            F.sum(F.size(F.filter("px", lambda v: v != -1.0)))
            .cast("long")
            .alias("n_valid"),
        )
        .filter(F.col("n_valid") > 0)
    )


# British National Grid cross-CRS warp (C6: EPSG:27700 — a national TM
# grid on a NON-WGS84 datum, OSGB36/Airy 1830, reached through a
# 7-parameter Helmert shift): NEAR-warp the 27700 fixture raster onto a
# 4326 grid; oracle = the full WGS84 -> ECEF -> inverse-Helmert ->
# Bowring -> Krüger chain re-derived as chained SQL CTEs (a single
# SELECT list would explode under DuckDB's alias inlining).
from geocube_spark.functions.crs import tmgrid_from_wgs84_sql_ctes  # noqa: E402


@q(
    "warp_cross_crs_bng",
    f"""
    WITH cells AS (
        SELECT obx.range AS obx, oby.range AS oby, i.range AS idx,
               -1.5 + (obx.range*64 + (i.range % 64) + 0.5) * 0.015625 AS lon,
               51.625 - (oby.range*64 + (i.range // 64) + 0.5) * 0.015625 AS lat
        FROM range(-1, 3) obx, range(-1, 3) oby, range(0, 4096) i
    ),{tmgrid_from_wgs84_sql_ctes(27700, "lon", "lat", "cells", carry=("obx", "oby"))},
    src AS (
        SELECT obx, oby,
               CAST(floor((tmg_e - 440320.0) / 1024.0) AS BIGINT) AS ix,
               CAST(floor((144384.0 - tmg_n) / 1024.0) AS BIGINT) AS iy
        FROM tmg_out
    ),
    v AS (
        SELECT obx, oby,
               CASE WHEN ix >= 0 AND ix < 128 AND iy >= 0 AND iy < 128
                    THEN CAST((13*ix + 7*iy) % 97 AS DOUBLE) ELSE -1.0 END AS val
        FROM src
    )
    SELECT obx AS out_block_x, oby AS out_block_y,
           round(sum(val), 6) AS px_sum,
           CAST(count(*) FILTER (val != -1.0) AS BIGINT) AS n_valid
    FROM v GROUP BY 1, 2
    HAVING n_valid > 0
    """,
)
def warp_cross_crs_bng(spark, sf_dir):
    from geocube_spark.operators.regrid import regrid_to_grid

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src_bng.parquet")
    out = regrid_to_grid(
        tiles,
        out_origin=(-1.5, 51.625),
        out_res=0.015625,
        out_block=64,
        nodata=-1.0,
        resampling="NEAR",
        src_srid=27700,
        dst_srid=4326,
    )
    return (
        out.groupBy("out_block_x", "out_block_y")
        .agg(
            F.round(
                F.sum(F.aggregate("px", F.lit(0.0), lambda a, v: a + v)), 6
            ).alias("px_sum"),
            F.sum(F.size(F.filter("px", lambda v: v != -1.0)))
            .cast("long")
            .alias("n_valid"),
        )
        .filter(F.col("n_valid") > 0)
    )


# Albers Equal-Area cross-CRS warp (C6: the equal-area national grids —
# CONUS EPSG:5070 mosaics): NEAR-warp the 5070 fixture raster onto a 4326
# grid; oracle = the same Snyder AEA forward re-derived in SQL, so the
# floor()ed source indices are bit-identical like the UTM/polar/LCC twins.
from geocube_spark.functions.crs import aea_forward_sql_columns  # noqa: E402


@q(
    "warp_cross_crs_albers",
    f"""
    WITH cells AS (
        SELECT obx.range AS obx, oby.range AS oby, i.range AS idx
        FROM range(-1, 3) obx, range(-1, 3) oby, range(0, 4096) i
    ),
    en AS (
        SELECT obx, oby, idx,
               {aea_forward_sql_columns(
                   "-97.0 + (obx*64 + (idx % 64) + 0.5) * 0.015625",
                   "38.125 - (oby*64 + (idx // 64) + 0.5) * 0.015625",
                   5070,
               )}
        FROM cells
    ),
    src AS (
        SELECT obx, oby,
               CAST(floor((aea_e - (-65536.0)) / 1024.0) AS BIGINT) AS ix,
               CAST(floor((1671168.0 - aea_n) / 1024.0) AS BIGINT) AS iy
        FROM en
    ),
    v AS (
        SELECT obx, oby,
               CASE WHEN ix >= 0 AND ix < 128 AND iy >= 0 AND iy < 128
                    THEN CAST((13*ix + 7*iy) % 97 AS DOUBLE) ELSE -1.0 END AS val
        FROM src
    )
    SELECT obx AS out_block_x, oby AS out_block_y,
           round(sum(val), 6) AS px_sum,
           CAST(count(*) FILTER (val != -1.0) AS BIGINT) AS n_valid
    FROM v GROUP BY 1, 2
    HAVING n_valid > 0
    """,
)
def warp_cross_crs_albers(spark, sf_dir):
    from geocube_spark.operators.regrid import regrid_to_grid

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src_aea.parquet")
    out = regrid_to_grid(
        tiles,
        out_origin=(-97.0, 38.125),
        out_res=0.015625,
        out_block=64,
        nodata=-1.0,
        resampling="NEAR",
        src_srid=5070,
        dst_srid=4326,
    )
    return (
        out.groupBy("out_block_x", "out_block_y")
        .agg(
            F.round(
                F.sum(F.aggregate("px", F.lit(0.0), lambda a, v: a + v)), 6
            ).alias("px_sum"),
            F.sum(F.size(F.filter("px", lambda v: v != -1.0)))
            .cast("long")
            .alias("n_valid"),
        )
        .filter(F.col("n_valid") > 0)
    )


# Lambert Azimuthal Equal-Area cross-CRS warp (C6: the pan-European
# statistical grid EPSG:3035 — built by the parameter-driven constructor
# path, not a hardcoded registry special case): NEAR-warp the 3035 fixture
# raster onto a 4326 grid; oracle = the same Snyder LAEA forward re-derived
# in SQL, so the floor()ed source indices are bit-identical like the
# UTM/polar/LCC/AEA twins.
from geocube_spark.functions.crs import laea_forward_sql_columns  # noqa: E402


@q(
    "warp_cross_crs_laea",
    f"""
    WITH cells AS (
        SELECT obx.range AS obx, oby.range AS oby, i.range AS idx
        FROM range(-1, 3) obx, range(-1, 3) oby, range(0, 4096) i
    ),
    en AS (
        SELECT obx, oby, idx,
               {laea_forward_sql_columns(
                   "9.0 + (obx*64 + (idx % 64) + 0.5) * 0.015625",
                   "52.5 - (oby*64 + (idx // 64) + 0.5) * 0.015625",
                   3035,
               )}
        FROM cells
    ),
    src AS (
        SELECT obx, oby,
               CAST(floor((laea_e - 4255744.0) / 1024.0) AS BIGINT) AS ix,
               CAST(floor((3276800.0 - laea_n) / 1024.0) AS BIGINT) AS iy
        FROM en
    ),
    v AS (
        SELECT obx, oby,
               CASE WHEN ix >= 0 AND ix < 128 AND iy >= 0 AND iy < 128
                    THEN CAST((13*ix + 7*iy) % 97 AS DOUBLE) ELSE -1.0 END AS val
        FROM src
    )
    SELECT obx AS out_block_x, oby AS out_block_y,
           round(sum(val), 6) AS px_sum,
           CAST(count(*) FILTER (val != -1.0) AS BIGINT) AS n_valid
    FROM v GROUP BY 1, 2
    HAVING n_valid > 0
    """,
)
def warp_cross_crs_laea(spark, sf_dir):
    from geocube_spark.functions.crs import parse_crs
    from geocube_spark.operators.regrid import regrid_to_grid

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src_laea.parquet")
    # resolve the source CRS through the proj4 PARAMETER path (must dedupe
    # onto the registered EPSG:3035), proving the constructor is the same
    # code path a custom LAEA would take
    srid = parse_crs(
        "+proj=laea +lat_0=52 +lon_0=10 +x_0=4321000 +y_0=3210000 "
        "+ellps=GRS80 +units=m"
    )
    assert srid == 3035, srid
    out = regrid_to_grid(
        tiles,
        out_origin=(9.0, 52.5),
        out_res=0.015625,
        out_block=64,
        nodata=-1.0,
        resampling="NEAR",
        src_srid=srid,
        dst_srid=4326,
    )
    return (
        out.groupBy("out_block_x", "out_block_y")
        .agg(
            F.round(
                F.sum(F.aggregate("px", F.lit(0.0), lambda a, v: a + v)), 6
            ).alias("px_sum"),
            F.sum(F.size(F.filter("px", lambda v: v != -1.0)))
            .cast("long")
            .alias("n_valid"),
        )
        .filter(F.col("n_valid") > 0)
    )


# Grid-based datum shift under warp (C6 depth: PROJ +nadgrids/NTv2 —
# /root/reference/internal/utils/proj/proj.go:47-73): SRID 904801 is a
# geographic CRS on a datum offset from WGS84 by a synthetic NTv2-style
# arc-second correction lattice (16x16 nodes, 0.25-deg step, closed-form
# integer node values so DuckDB re-derives every node).  The 4326 fixture
# raster NEAR-warps onto a 904801 grid through the plugin-registered
# grid transform; the oracle re-implements the bilinear lattice lookup +
# shift + inverse affine analytically.  Shift magnitudes (<= 5 arcsec)
# are provably below the 28.125-arcsec minimum that could land a shifted
# pixel center on a floor() boundary, so the indices are bit-exact.
@q(
    "warp_cross_crs_gridshift",
    """
    WITH cells AS (
        SELECT obx.range AS obx, oby.range AS oby, i.range AS idx
        FROM range(0, 2) obx, range(0, 2) oby, range(0, 4096) i
    ),
    pt AS (
        SELECT obx, oby, idx,
               0.0 + (obx*64 + (idx % 64) + 0.5) * 0.015625 AS lon,
               50.0 - (oby*64 + (idx // 64) + 0.5) * 0.015625 AS lat
        FROM cells
    ),
    uv AS (
        SELECT obx, oby, idx, lon, lat,
               (lon - (-0.5)) / 0.25 AS u,
               (lat - 47.5) / 0.25 AS v
        FROM pt
    ),
    cell AS (
        SELECT obx, oby, idx, lon, lat,
               CAST(floor(u) AS BIGINT) AS c0, CAST(floor(v) AS BIGINT) AS r0,
               u - floor(u) AS fu, v - floor(v) AS fv
        FROM uv
    ),
    sh AS (
        SELECT obx, oby, idx, lon, lat,
               (((7*c0 + 2*r0) % 9) - 4) * ((1 - fu) * (1 - fv))
             + (((7*(c0+1) + 2*r0) % 9) - 4) * (fu * (1 - fv))
             + (((7*c0 + 2*(r0+1)) % 9) - 4) * ((1 - fu) * fv)
             + (((7*(c0+1) + 2*(r0+1)) % 9) - 4) * (fu * fv) AS dlon_sec,
               (((3*c0 + 5*r0) % 11) - 5) * ((1 - fu) * (1 - fv))
             + (((3*(c0+1) + 5*r0) % 11) - 5) * (fu * (1 - fv))
             + (((3*c0 + 5*(r0+1)) % 11) - 5) * ((1 - fu) * fv)
             + (((3*(c0+1) + 5*(r0+1)) % 11) - 5) * (fu * fv) AS dlat_sec
        FROM cell
    ),
    src AS (
        SELECT obx, oby,
               CAST(floor((lon + dlon_sec / 3600.0) / 0.015625) AS BIGINT) AS ix,
               CAST(floor((50.0 - (lat + dlat_sec / 3600.0)) / 0.015625) AS BIGINT) AS iy
        FROM sh
    ),
    v AS (
        SELECT obx, oby,
               CASE WHEN ix >= 0 AND ix < 128 AND iy >= 0 AND iy < 128
                    THEN CAST((13*ix + 7*iy) % 97 AS DOUBLE) ELSE -1.0 END AS val
        FROM src
    )
    SELECT obx AS out_block_x, oby AS out_block_y,
           round(sum(val), 6) AS px_sum,
           CAST(count(*) FILTER (val != -1.0) AS BIGINT) AS n_valid
    FROM v GROUP BY 1, 2
    HAVING n_valid > 0
    """,
)
def warp_cross_crs_gridshift(spark, sf_dir):
    import numpy as np

    from geocube_spark.functions.crs import (
        ShiftGrid,
        register_gridshift_transform,
    )
    from geocube_spark.operators.regrid import regrid_to_grid

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src.parquet")
    r, c = np.mgrid[0:16, 0:16]
    grid = ShiftGrid(
        lon0=-0.5, lat0=47.5, step=0.25,
        dlon_sec=(7 * c + 2 * r) % 9 - 4,
        dlat_sec=(3 * c + 5 * r) % 11 - 5,
    )
    register_gridshift_transform(904801, 4326, grid)
    out = regrid_to_grid(
        tiles,
        out_origin=(0.0, 50.0),
        out_res=0.015625,
        out_block=64,
        nodata=-1.0,
        resampling="NEAR",
        src_srid=4326,
        dst_srid=904801,
    )
    return (
        out.groupBy("out_block_x", "out_block_y")
        .agg(
            F.round(
                F.sum(F.aggregate("px", F.lit(0.0), lambda a, v: a + v)), 6
            ).alias("px_sum"),
            F.sum(F.size(F.filter("px", lambda v: v != -1.0)))
            .cast("long")
            .alias("n_valid"),
        )
        .filter(F.col("n_valid") > 0)
    )


# R2/R3 area-weighted pooling UNDER a cross-CRS warp (GDAL `-r average/
# med/mode` during reprojection — image.go:396-408 applies the
# variable.go:18-61 enum to the warp, not just the aligned pyramid).  The
# oracle re-derives, in SQL, the exact window contract of
# operators/regrid._pool_block: each output pixel's 4 corners through the
# SAME Snyder LCC forward, the same inverse-affine op sequence (inlined
# {inv.a!r}-style literals, so the doubles are bit-identical), the same
# half-open center-in-[min,max) index window — then aggregates the
# closed-form source values.  Sums are integer-exact (< 2^53), so
# avg/median/mode match bit-for-bit with no rounding slack.
def _warp_pool_sql(agg: str) -> str:
    from geocube_spark.functions.affine import Affine
    from geocube_spark.functions.crs import lcc_forward_sql_columns

    inv = Affine(1024.0, 0.0, 634880.0, 0.0, -1024.0, 6665216.0).inverse()

    def corner(tag: str, dx: int, dy: int) -> str:
        return f"""
    {tag} AS (
        SELECT oc, orow, {inv.a!r} * lcc_e + {inv.b!r} * lcc_n + {inv.c!r}
                   AS csx,
               {inv.d!r} * lcc_e + {inv.e!r} * lcc_n + {inv.f!r} AS csy
        FROM (
            SELECT oc, orow,
                   {lcc_forward_sql_columns(
                       f"2.25 + (oc + {dx}) * 0.0625",
                       f"47.0 - (orow + {dy}) * 0.0625",
                       2154,
                   )}
            FROM opx
        )
    )"""

    return f"""
    WITH opx AS (
        SELECT i.range AS oc, j.range AS orow
        FROM range(0, 16) i, range(0, 16) j
    ),{corner("c00", 0, 0)},{corner("c10", 1, 0)},{corner("c01", 0, 1)},{corner("c11", 1, 1)},
    wins AS (
        SELECT o.oc, o.orow,
               CAST(ceil(least(a.csx, b.csx, c.csx, d.csx) - 0.5) AS BIGINT)
                   AS ix_lo,
               CAST(ceil(greatest(a.csx, b.csx, c.csx, d.csx) - 0.5) AS BIGINT)
                   - 1 AS ix_hi,
               CAST(ceil(least(a.csy, b.csy, c.csy, d.csy) - 0.5) AS BIGINT)
                   AS iy_lo,
               CAST(ceil(greatest(a.csy, b.csy, c.csy, d.csy) - 0.5) AS BIGINT)
                   - 1 AS iy_hi
        FROM opx o
        JOIN c00 a USING (oc, orow) JOIN c10 b USING (oc, orow)
        JOIN c01 c USING (oc, orow) JOIN c11 d USING (oc, orow)
    ),
    src AS (
        SELECT gx.range AS ix, gy.range AS iy,
               CAST((13 * gx.range + 7 * gy.range) % 97 AS DOUBLE) AS v
        FROM range(0, 128) gx, range(0, 128) gy
    ),
    winpx AS (
        SELECT w.oc, w.orow, s.v
        FROM wins w
        JOIN src s ON s.ix BETWEEN w.ix_lo AND w.ix_hi
                  AND s.iy BETWEEN w.iy_lo AND w.iy_hi
    )
    SELECT oc, orow, {agg} AS val
    FROM winpx GROUP BY oc, orow ORDER BY orow, oc
    """


def _warp_pool_query(spark, sf_dir, method: str):
    from geocube_spark.operators.regrid import regrid_to_grid

    fd = ensure_fixtures()
    tiles = spark.read.parquet(f"{fd}/warp_src_lcc.parquet")
    out = regrid_to_grid(
        tiles,
        out_origin=(2.25, 47.0),
        out_res=0.0625,
        out_block=16,
        nodata=-1.0,
        resampling=method,
        src_srid=2154,
        dst_srid=4326,
    )
    return (
        out.filter((F.col("out_block_x") == 0) & (F.col("out_block_y") == 0))
        .select(F.posexplode("px").alias("pos", "v"))
        .select(
            (F.col("pos") % 16).cast("long").alias("oc"),
            (F.col("pos") / 16).cast("long").alias("orow"),
            F.round("v", 6).alias("val"),
        )
        .orderBy("orow", "oc")
    )


@q("warp_downsample_average", _warp_pool_sql("round(avg(v), 6)"))
def warp_downsample_average(spark, sf_dir):
    """~5x7 px box-filter AVERAGE through a 2154->4326 warp; the operator
    side uses the O(1)-per-pixel summed-area table (regrid._pool_block)."""
    return _warp_pool_query(spark, sf_dir, "AVERAGE")


@q("warp_downsample_med", _warp_pool_sql("round(median(v), 6)"))
def warp_downsample_med(spark, sf_dir):
    """Windowed MEDIAN through the same warp (even-count windows
    interpolate the middle pair identically in numpy and DuckDB)."""
    return _warp_pool_query(spark, sf_dir, "MED")


@q(
    "warp_downsample_mode",
    # np.bincount(...).argmax() tie-break = SMALLEST value; make the SQL
    # twin deterministic the same way (count desc, value asc)
    _warp_pool_sql("__MODE__").replace(
        "SELECT oc, orow, __MODE__ AS val\n    FROM winpx GROUP BY oc, orow"
        " ORDER BY orow, oc",
        """SELECT oc, orow, round(v, 6) AS val
    FROM (
        SELECT oc, orow, v, row_number() OVER (
            PARTITION BY oc, orow ORDER BY count(*) DESC, v ASC
        ) AS rn
        FROM winpx GROUP BY oc, orow, v
    ) WHERE rn = 1 ORDER BY orow, oc""",
    ),
)
def warp_downsample_mode(spark, sf_dir):
    """Windowed MODE through the same warp, smallest-value tie-break on
    both engines."""
    return _warp_pool_query(spark, sf_dir, "MODE")


# R3 continuous resampling kernels (variable.go:18-61): 2× upsample of the
# warp_src interior through the real regrid path, one query per kernel.
# Output pixel centers land at exact quarter-pixel phases (binary-exact
# grid), so every kernel weight is a closed-form constant — the oracle
# re-derives the separable convolution in SQL from inlined weight literals
# and the closed-form pixel function.  Block (0,0) sits strictly inside the
# source, so no edge clamping is involved on either side.
def _upsample_weight_values(method: str) -> str:
    import numpy as _np

    from geocube_spark.functions.resample import kernel_weights_1d as _kw

    rows = []
    for parity, t in ((0, 0.75), (1, 0.25)):  # even out-px -> phase .75
        offs, w = _kw(_np.array([t]), method)
        for k, wv in zip(offs, w[0]):
            rows.append(f"({parity}, {int(k)}, {float(wv)!r})")
    return ", ".join(rows)


def _register_upsample_query(method: str) -> None:
    name = f"warp_upsample_{method.lower()}"
    sql = f"""
    WITH w(p, k, wt) AS (SELECT * FROM (VALUES {_upsample_weight_values(method)})),
    pix AS (
        SELECT gx.range AS gx, gy.range AS gy
        FROM range(0, 64) gx, range(0, 64) gy
    ),
    conv AS (
        SELECT p.gx, p.gy,
               sum(wx.wt * wy.wt *
                   CAST((13*((p.gx + 31)//2 + wx.k) + 7*((p.gy + 31)//2 + wy.k)) % 97
                        AS DOUBLE)) AS val
        FROM pix p
        JOIN w wx ON wx.p = p.gx % 2
        JOIN w wy ON wy.p = p.gy % 2
        GROUP BY p.gx, p.gy
    )
    SELECT 0 AS out_block_x, 0 AS out_block_y,
           round(sum(val), 4) AS px_sum,
           CAST(count(*) AS BIGINT) AS n_px
    FROM conv
    """

    @q(name, sql)
    def _fn(spark, sf_dir, _m=method):
        from geocube_spark.operators.regrid import regrid_to_grid

        fd = ensure_fixtures()
        tiles = spark.read.parquet(f"{fd}/warp_src.parquet")
        out = regrid_to_grid(
            tiles,
            out_origin=(0.25, 49.75),  # 16 source px in from the corner
            out_res=0.0078125,  # 2^-7 deg = source res / 2
            out_block=64,
            nodata=-1.0,
            resampling=_m,
        ).filter((F.col("out_block_x") == 0) & (F.col("out_block_y") == 0))
        return out.select(
            "out_block_x",
            "out_block_y",
            F.round(F.aggregate("px", F.lit(0.0), lambda a, v: a + v), 4).alias("px_sum"),
            F.size("px").cast("long").alias("n_px"),
        )

    _fn.__name__ = name


for _method in ("BILINEAR", "CUBIC", "CUBICSPLINE", "LANCZOS"):
    _register_upsample_query(_method)


# C2 complete: Complex64 in the dtype lattice (datatype.go:16-27,43-58) —
# complex tiles are interleaved (re, im) doubles; the identity complex cast
# runs the real cast path (lattice check + short-circuit) and |z|² sums are
# exact integers both engines agree on.
@q(
    "complex_cast_roundtrip",
    f"""
    SELECT block_x, block_y,
           round(list_aggregate(list_transform(px, x -> x*x), 'sum'), 4) AS mag2_sum
    FROM read_parquet('{FIXTURE_DIR}/warp_src.parquet')
    """,
)
def complex_cast_roundtrip(spark, sf_dir):
    from geocube_spark.functions.dataformat import cast_expr

    fd = ensure_fixtures()
    cm = {
        "dtype": "Complex64", "no_data": float("nan"), "min_value": 0.0,
        "max_value": 1.0, "real_min_value": 0.0, "real_max_value": 1.0,
        "exponent": 1.0,
    }
    t = spark.read.parquet(f"{fd}/warp_src.parquet")
    casted = t.select("block_x", "block_y", cast_expr(F.col("px"), cm, dict(cm)).alias("px"))
    return casted.select(
        "block_x",
        "block_y",
        F.round(
            F.aggregate(F.transform("px", lambda v: v * v), F.lit(0.0), lambda a, v: a + v),
            4,
        ).alias("mag2_sum"),
    )


# A5 on the real catalog: UpdateDatasets dry-run impact grouped by the
# 7-scalar DataMapping.
@q(
    "update_datasets_impact",
    f"""
    SELECT dmapping.dtype AS dtype, dmapping.no_data AS no_data,
           dmapping.min_value AS min_value, dmapping.max_value AS max_value,
           dmapping.real_min_value AS real_min_value,
           dmapping.real_max_value AS real_max_value,
           dmapping.exponent AS exponent,
           CAST(count(*) AS BIGINT) AS n_datasets
    FROM read_parquet('{FIXTURE_DIR}/datasets.parquet')
    WHERE status = 'ACTIVE'
    GROUP BY 1, 2, 3, 4, 5, 6, 7
    """,
)
def update_datasets_impact(spark, sf_dir):
    from geocube_spark.operators.admin import update_datasets_impact as impact

    fd = ensure_fixtures()
    datasets = spark.read.parquet(f"{fd}/datasets.parquet")
    return impact(datasets, DatasetFilters(status="ACTIVE", order=False))


# J7 on the real catalog: TidyDB anti-join cleanup counts.
@q(
    "tidy_db_counts",
    f"""
    WITH live_records AS (
        SELECT r.* FROM read_parquet('{FIXTURE_DIR}/records.parquet') r
        WHERE EXISTS (
            SELECT 1 FROM read_parquet('{FIXTURE_DIR}/datasets.parquet') d
            WHERE d.record_id = r.id
        )
    )
    SELECT CAST((SELECT count(*) FROM read_parquet('{FIXTURE_DIR}/records.parquet')) AS BIGINT) AS n_records,
           CAST((SELECT count(*) FROM live_records) AS BIGINT) AS n_live_records
    """,
)
def tidy_db_counts(spark, sf_dir):
    fd = ensure_fixtures()
    records = spark.read.parquet(f"{fd}/records.parquet")
    datasets = spark.read.parquet(f"{fd}/datasets.parquet")
    live = records.join(
        datasets.select("record_id").distinct(),
        records["id"] == F.col("record_id"),
        "left_semi",
    )
    return records.agg(F.count(F.lit(1)).alias("n_records")).crossJoin(
        live.agg(F.count(F.lit(1)).alias("n_live_records"))
    )


# J3: datasets ⋈ records ⋈ aoi three-way join (FindContainerLayouts shape).
@q(
    "datasets_records_aoi_join",
    f"""
    SELECT d.id AS dataset_id, r.name AS record_name, a.hash AS aoi_hash
    FROM read_parquet('{FIXTURE_DIR}/datasets.parquet') d
    JOIN read_parquet('{FIXTURE_DIR}/records.parquet') r ON d.record_id = r.id
    JOIN read_parquet('{FIXTURE_DIR}/aoi.parquet') a ON r.aoi_id = a.id
    WHERE d.status = 'ACTIVE'
    """,
)
def datasets_records_aoi_join(spark, sf_dir):
    fd = ensure_fixtures()
    datasets = spark.read.parquet(f"{fd}/datasets.parquet").filter(
        F.col("status") == "ACTIVE"
    )
    records = spark.read.parquet(f"{fd}/records.parquet")
    aoi = spark.read.parquet(f"{fd}/aoi.parquet")
    return (
        datasets.join(
            F.broadcast(
                records.select(
                    F.col("id").alias("record_id"),
                    F.col("name").alias("record_name"),
                    "aoi_id",
                )
            ),
            "record_id",
        )
        .join(
            F.broadcast(aoi.select(F.col("id").alias("aoi_id"), F.col("hash").alias("aoi_hash"))),
            "aoi_id",
        )
        .select(F.col("id").alias("dataset_id"), "record_name", "aoi_hash")
    )


# J8: datasets ⋈ locked_datasets lock bookkeeping.
@q(
    "locked_datasets_join",
    f"""
    SELECT l.job_id, l.flag, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT d.container_uri) AS BIGINT) AS n_containers
    FROM read_parquet('{FIXTURE_DIR}/locked_datasets.parquet') l
    JOIN read_parquet('{FIXTURE_DIR}/datasets.parquet') d ON l.dataset_id = d.id
    GROUP BY l.job_id, l.flag
    """,
)
def locked_datasets_join(spark, sf_dir):
    fd = ensure_fixtures()
    locked = spark.read.parquet(f"{fd}/locked_datasets.parquet")
    datasets = spark.read.parquet(f"{fd}/datasets.parquet")
    return (
        locked.join(datasets, locked["dataset_id"] == datasets["id"])
        .groupBy("job_id", "flag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("container_uri").alias("n_containers"),
        )
    )


# A10 on the real jobs/tasks tables: per-job task-state counters via pivot.
@q(
    "job_task_counters",
    f"""
    SELECT job_id,
           CAST(count(*) FILTER (state = 'NEW') AS BIGINT) AS "NEW",
           CAST(count(*) FILTER (state = 'PENDING') AS BIGINT) AS "PENDING",
           CAST(count(*) FILTER (state = 'DONE') AS BIGINT) AS "DONE",
           CAST(count(*) FILTER (state = 'FAILED') AS BIGINT) AS "FAILED",
           CAST(count(*) FILTER (state = 'CANCELLED') AS BIGINT) AS "CANCELLED"
    FROM read_parquet('{FIXTURE_DIR}/tasks.parquet')
    GROUP BY job_id
    """,
)
def job_task_counters(spark, sf_dir):
    from geocube_spark.streaming.jobs import task_counters

    fd = ensure_fixtures()
    tasks = spark.read.parquet(f"{fd}/tasks.parquet")
    return task_counters(tasks)


# A2: valid-shape per (cell, record) — EXACT union area of the
# cell-clipped footprints (ST_Union ∩ cell, pg_containers.go:409-430)
# plus the clipped envelope; empty intersections dropped.  The oracle
# repeats the breakpoint-grid decomposition PER GROUP (window functions
# partitioned by cell/record).
@q(
    "valid_shape_per_cell",
    f"""
    WITH cells(cell_uri, cx0, cy0, cx1, cy1) AS (
        VALUES ('cell/a', -168.0, -40.0, -160.0, -30.0),
               ('cell/b', -160.0, -40.0, -152.0, -30.0)
    ),
    r AS (
        SELECT c.cell_uri, d.record_id,
               greatest(d.bbox.xmin, c.cx0) AS x0,
               greatest(d.bbox.ymin, c.cy0) AS y0,
               least(d.bbox.xmax, c.cx1) AS x1,
               least(d.bbox.ymax, c.cy1) AS y1
        FROM read_parquet('{FIXTURE_DIR}/datasets.parquet') d
        JOIN cells c
          ON d.bbox.xmin <= c.cx1 AND d.bbox.xmax >= c.cx0
         AND d.bbox.ymin <= c.cy1 AND d.bbox.ymax >= c.cy0
        WHERE d.status = 'ACTIVE'
          AND greatest(d.bbox.xmin, c.cx0) < least(d.bbox.xmax, c.cx1)
          AND greatest(d.bbox.ymin, c.cy0) < least(d.bbox.ymax, c.cy1)
    ),
    xs AS (
        SELECT DISTINCT cell_uri, record_id, x0 AS v FROM r
        UNION SELECT DISTINCT cell_uri, record_id, x1 FROM r
    ),
    xsl AS (
        SELECT cell_uri, record_id, v AS xa,
               LEAD(v) OVER (PARTITION BY cell_uri, record_id ORDER BY v) AS xb
        FROM xs
    ),
    ys AS (
        SELECT DISTINCT cell_uri, record_id, y0 AS v FROM r
        UNION SELECT DISTINCT cell_uri, record_id, y1 FROM r
    ),
    ysl AS (
        SELECT cell_uri, record_id, v AS ya,
               LEAD(v) OVER (PARTITION BY cell_uri, record_id ORDER BY v) AS yb
        FROM ys
    ),
    gcells AS (
        SELECT x.cell_uri, x.record_id, x.xa, x.xb, y.ya, y.yb
        FROM xsl x JOIN ysl y
          ON x.cell_uri = y.cell_uri AND x.record_id = y.record_id
        WHERE x.xb IS NOT NULL AND y.yb IS NOT NULL
    ),
    cov AS (
        SELECT * FROM gcells g
        WHERE EXISTS (
            SELECT 1 FROM r
            WHERE r.cell_uri = g.cell_uri AND r.record_id = g.record_id
              AND r.x0 <= g.xa AND r.x1 >= g.xb
              AND r.y0 <= g.ya AND r.y1 >= g.yb
        )
    ),
    areas AS (
        SELECT cell_uri, record_id,
               round(sum((xb - xa) * (yb - ya)), 6) AS v_area
        FROM cov GROUP BY cell_uri, record_id
    )
    SELECT r.cell_uri, r.record_id, CAST(count(*) AS BIGINT) AS n_datasets,
           min(r.x0) AS v_xmin, min(r.y0) AS v_ymin,
           max(r.x1) AS v_xmax, max(r.y1) AS v_ymax,
           any_value(a.v_area) AS v_area
    FROM r JOIN areas a ON a.cell_uri = r.cell_uri AND a.record_id = r.record_id
    GROUP BY r.cell_uri, r.record_id
    """,
)
def valid_shape_per_cell_q(spark, sf_dir):
    from geocube_spark.functions.localdf import values_df
    from geocube_spark.operators.consolidation import valid_shape_per_cell

    fd = ensure_fixtures()
    datasets = spark.read.parquet(f"{fd}/datasets.parquet").filter(
        F.col("status") == "ACTIVE"
    )
    cells = values_df(
        spark,
        [
            ("cell/a", -168.0, -40.0, -160.0, -30.0),
            ("cell/b", -160.0, -40.0, -152.0, -30.0),
        ],
        ["cell_uri", "cell_xmin", "cell_ymin", "cell_xmax", "cell_ymax"],
    )
    joined = datasets.join(
        F.broadcast(cells),
        (F.col("bbox.xmin") <= F.col("cell_xmax"))
        & (F.col("bbox.xmax") >= F.col("cell_xmin"))
        & (F.col("bbox.ymin") <= F.col("cell_ymax"))
        & (F.col("bbox.ymax") >= F.col("cell_ymin")),
    )
    out = valid_shape_per_cell(joined)
    return out.withColumn("v_area", F.round("v_area", 6))


# F14/O4: antimeridian-crossing query extent (xmin > xmax) split into two
# plain rects before the bbox filter — hits the fixtures' ±179.8° AOIs.
@q(
    "spatial_antimeridian",
    f"""
    SELECT id FROM read_parquet('{FIXTURE_DIR}/datasets.parquet')
    WHERE status = 'ACTIVE'
      AND ((bbox.xmin <= 180.0 AND bbox.xmax >= 179.0
            AND bbox.ymin <= 12.0 AND bbox.ymax >= 9.0)
        OR (bbox.xmin <= -179.0 AND bbox.xmax >= -180.0
            AND bbox.ymin <= 12.0 AND bbox.ymax >= 9.0))
    """,
)
def spatial_antimeridian(spark, sf_dir):
    fd = ensure_fixtures()
    datasets = spark.read.parquet(f"{fd}/datasets.parquet")
    # extent with xmin > xmax = crosses the antimeridian
    flt = DatasetFilters(status="ACTIVE", extent=(179.0, 9.0, -179.0, 12.0), order=False)
    return find_datasets(datasets, None, flt).select("id")


# Geodesic ring projection parity (proj.go:287-460): the reference's OWN
# proj_test.go expectation for a WebMercator rect crossing the dateline —
# adaptive densification points AND the continuous (unwrapped) longitudes
# past +180.  The oracle pins the reference's published vertices; the
# Spark side recomputes them through functions/geodesic.py at plan-build
# time (exactly where the reference runs this: its API layer, not the DB).
_GEODESIC_3857_EXPECTED = [
    (179.6630568239, -82.0401602032),
    (184.1546332445, -82.0401602032),
    (188.64620966501, -82.0401602032),
    (188.64620966501, 82.0401602032),
    (184.1546332445, 82.0401602032),
    (179.6630568239, 82.0401602032),
    (179.6630568239, -82.0401602032),
]


@q(
    "geodesic_ring_dateline",
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"(CAST({i} AS BIGINT), {round(lo, 8)!r}, {round(la, 8)!r})"
        for i, (lo, la) in enumerate(_GEODESIC_3857_EXPECTED)
    )
    + ") v(pt, lon, lat)",
)
def geodesic_ring_dateline(spark, sf_dir):
    import numpy as np

    from geocube_spark.functions.geodesic import to_geographic_ring

    lons, lats = to_geographic_ring(
        np.array([20000000.0, 21000000.0, 21000000.0, 20000000.0, 20000000.0]),
        np.array([-17000000.0, -17000000.0, 17000000.0, 17000000.0, -17000000.0]),
        3857,
    )
    rows = [
        (i, round(float(lo), 8), round(float(la), 8))
        for i, (lo, la) in enumerate(zip(lons, lats))
    ]
    # 5 rows; coalesce(1) so the collect doesn't pay 32 empty tasks
    return spark.createDataFrame(rows, "pt LONG, lon DOUBLE, lat DOUBLE").coalesce(1)


# Antimeridian cover (F14): a dateline-crossing WebMercator AOI becomes an
# unwrapped geographic ring, splits into east+west pieces inside
# [-180, 180], and selects the 10° grid cells it touches.  The oracle
# re-derives the piece bounds in closed form (mercator inverse is
# analytic) — no hardcoding, both engines do the same interval tests.
@q(
    "cover_antimeridian",
    """
    WITH cells AS (
        SELECT i.range AS ci, j.range AS cj,
               -180.0 + i.range * 10.0 AS lon0, -90.0 + j.range * 10.0 AS lat0
        FROM range(0, 36) i, range(0, 18) j
    ),
    b AS (
        SELECT degrees(20000000.0 / 6378137.0) AS e_xmin,
               degrees(21000000.0 / 6378137.0) - 360.0 AS w_xmax,
               degrees(2 * atan(exp(17000000.0 / 6378137.0)) - pi() / 2) AS latmax
    )
    SELECT ci, cj FROM cells, b
    WHERE (lat0 < latmax AND lat0 + 10.0 > -latmax)
      AND ((lon0 < 180.0 AND lon0 + 10.0 > e_xmin)
        OR (lon0 < w_xmax AND lon0 + 10.0 > -180.0))
    ORDER BY ci, cj
    """,
)
def cover_antimeridian(spark, sf_dir):
    import numpy as np

    from geocube_spark.functions.geodesic import (
        split_unwrapped_ring,
        to_geographic_ring,
    )

    lons, lats = to_geographic_ring(
        np.array([20000000.0, 21000000.0, 21000000.0, 20000000.0, 20000000.0]),
        np.array([-17000000.0, -17000000.0, 17000000.0, 17000000.0, -17000000.0]),
        3857,
    )
    pieces = split_unwrapped_ring(np.asarray(lons), np.asarray(lats))
    cells = spark.range(0, 36 * 18, 1, 1).select(
        (F.col("id") / 18).cast("long").alias("ci"),
        F.pmod(F.col("id"), F.lit(18)).cast("long").alias("cj"),
    ).select(
        "ci",
        "cj",
        (F.lit(-180.0) + F.col("ci") * 10.0).alias("lon0"),
        (F.lit(-90.0) + F.col("cj") * 10.0).alias("lat0"),
    )
    hit = F.lit(False)
    for xmin, ymin, xmax, ymax in pieces:
        hit = hit | (
            (F.col("lon0") < xmax)
            & (F.col("lon0") + 10.0 > xmin)
            & (F.col("lat0") < ymax)
            & (F.col("lat0") + 10.0 > ymin)
        )
    return cells.filter(hit).select("ci", "cj").orderBy("ci", "cj")


# The reference's published benchmark restated (docs/architecture/mucog.md:
# time-series block read from a consolidated layout): one block's full
# record stack from the cell-partitioned, interlacing-sorted tile table —
# partition pruning + contiguous row groups stand in for MuCOG's contiguous
# byte ranges.
@q(
    "timeseries_block_read",
    f"""
    SELECT record_id, band,
           round(list_aggregate(px, 'sum'), 6) AS px_sum
    FROM read_parquet('{FIXTURE_DIR}/consolidated_tiles/*/*.parquet', hive_partitioning = 1)
    WHERE cell_uri = '0_0' AND band = 1 AND level = 0
    """,
)
def timeseries_block_read(spark, sf_dir):
    path = ensure_consolidated(spark)
    stack = spark.read.parquet(path).filter(
        (F.col("cell_uri") == "0_0") & (F.col("band") == 1) & (F.col("level") == 0)
    )
    return stack.select(
        "record_id",
        "band",
        F.round(F.aggregate("px", F.lit(0.0), lambda a, v: a + v), 6).alias("px_sum"),
    )


# S2 bulk ingest through the COMMIT-LOG catalog (pg_records.go:19-55 COPY
# restated): the records fixture is written via Catalog.write (immutable
# snapshot dir + atomic put-if-absent commit file) and read back through
# Catalog.read's commit resolution; the oracle reads the SOURCE parquet
# directly — count and per-name tag/datetime checksums must survive the
# ingest round trip exactly.
def ensure_ingested_catalog(spark: SparkSession) -> str:
    def build(root):
        from geocube_spark.sources.catalog import Catalog

        fd = ensure_fixtures()
        Catalog(spark, root).write(
            "records", spark.read.parquet(f"{fd}/records.parquet")
        )

    return cached(os.path.join(FIXTURE_DIR, "ingested_catalog"), [], build)


@q(
    "bulk_ingest_roundtrip",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_records,
           CAST(count(DISTINCT aoi_id) AS BIGINT) AS n_aois,
           min(name) AS first_name,
           CAST(max(datetime) AS VARCHAR) AS max_dt
    FROM read_parquet('{FIXTURE_DIR}/records.parquet')
    """,
)
def bulk_ingest_roundtrip(spark, sf_dir):
    from geocube_spark.sources.catalog import Catalog

    root = ensure_ingested_catalog(spark)
    r = Catalog(spark, root).read("records")
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.count_distinct("aoi_id").cast("long").alias("n_aois"),
        F.min("name").alias("first_name"),
        F.max("datetime").cast("string").alias("max_dt"),
    )


# S7 as REAL bytes: one tile slice through the reference's PNG path
# (image.go:522-584 — DataMapping to external values, scale to 8-bit,
# encode) then decoded back by the pure-stdlib reader; the oracle
# recomputes the gray statistics from the tile table with the identical
# value mapping (round_even = numpy's banker's rounding).  Driver-side by
# design: SURVEY §2.1 S7 declares the PNG sink an edge feature, and the
# payload is ONE bounded block.
@q(
    "png_tile_roundtrip",
    f"""
    WITH c AS (
        SELECT min(container_uri) AS cu
        FROM read_parquet('{FIXTURE_DIR}/datasets.parquet')
        WHERE dmapping.dtype = 'Int16' AND dmapping.exponent = 1.0
    ),
    t AS (
        SELECT px FROM read_parquet('{FIXTURE_DIR}/tiles.parquet'), c
        WHERE container_uri = c.cu AND band = 1 AND level = 0
          AND block_x = 0 AND block_y = 0
    ),
    u AS (SELECT unnest(px) AS v FROM t)
    SELECT CAST(64 AS BIGINT) AS width,
           CAST(64 AS BIGINT) AS height,
           CAST(sum(CASE WHEN v = -32768.0 THEN 0
                ELSE CAST(round_even(least(greatest(v / 10000.0, 0), 1) * 255, 0)
                     AS BIGINT) END) AS BIGINT) AS gray_sum,
           CAST(count(*) FILTER (v = -32768.0) AS BIGINT) AS n_nodata_px
    FROM u
    """,
)
def png_tile_roundtrip(spark, sf_dir):
    from geocube_spark.functions.localdf import values_df
    from geocube_spark.sources.png import decode_png, slice_to_png

    fd = ensure_fixtures()
    datasets = spark.read.parquet(f"{fd}/datasets.parquet")
    cu = (
        datasets.filter(
            (F.col("dmapping.dtype") == "Int16")
            & (F.col("dmapping.exponent") == 1.0)
        )
        .agg(F.min("container_uri"))
        .first()[0]
    )
    tile = (
        spark.read.parquet(f"{fd}/tiles.parquet")
        .filter(
            (F.col("container_uri") == cu)
            & (F.col("band") == 1)
            & (F.col("level") == 0)
            & (F.col("block_x") == 0)
            & (F.col("block_y") == 0)
        )
        .first()
    )
    dm = {
        "dtype": "Int16", "no_data": -32768.0, "min_value": 0.0,
        "max_value": 10000.0, "real_min_value": 0.0, "real_max_value": 1.0,
        "exponent": 1.0,
    }
    png = slice_to_png(list(tile["px"]), 64, 64, dm)
    gray = decode_png(png)
    import numpy as _np

    px = _np.asarray(tile["px"]).reshape(64, 64)
    n_nodata = int((px == -32768.0).sum())
    return values_df(
        spark,
        [(
            int(gray.shape[1]),
            int(gray.shape[0]),
            int(gray.astype("int64").sum()),
            n_nodata,
        )],
        ["width", "height", "gray_sum", "n_nodata_px"],
    ).select(
        F.col("width").cast("long"),
        F.col("height").cast("long"),
        F.col("gray_sum").cast("long"),
        F.col("n_nodata_px").cast("long"),
    )


# S5/S3 interop edge as REAL bytes: the SAME dmapping-scaled gray tile as
# png_tile_roundtrip, pushed through the lossy JPEG TIFF codec (compression
# 7 — the aerial/basemap COG shape the reference ingests via GDAL).  The
# oracle recomputes the EXACT pre-encode gray_sum from the tile table (the
# value-mapping pipeline), and the lossy legs are DETERMINISTIC INVARIANTS:
# byte-identical re-encode (boolean), reconstruction within the q95
# tolerance, and JPEG actually compressing below the raw payload.
@q(
    "jpeg_tile_roundtrip",
    f"""
    WITH c AS (
        SELECT min(container_uri) AS cu
        FROM read_parquet('{FIXTURE_DIR}/datasets.parquet')
        WHERE dmapping.dtype = 'Int16' AND dmapping.exponent = 1.0
    ),
    t AS (
        SELECT px FROM read_parquet('{FIXTURE_DIR}/tiles.parquet'), c
        WHERE container_uri = c.cu AND band = 1 AND level = 0
          AND block_x = 0 AND block_y = 0
    ),
    u AS (SELECT unnest(px) AS v FROM t)
    SELECT CAST(64 AS BIGINT) AS width,
           CAST(64 AS BIGINT) AS height,
           CAST(sum(CASE WHEN v = -32768.0 THEN 0
                ELSE CAST(round_even(least(greatest(v / 10000.0, 0), 1) * 255, 0)
                     AS BIGINT) END) AS BIGINT) AS gray_sum,
           TRUE AS reencode_identical,
           TRUE AS maxerr_le_8,
           TRUE AS compresses
    FROM u
    """,
)
def jpeg_tile_roundtrip(spark, sf_dir):
    import numpy as _np

    from geocube_spark.functions.localdf import values_df
    from geocube_spark.sources.jpeg import decode_jpeg, encode_jpeg

    fd = ensure_fixtures()
    datasets = spark.read.parquet(f"{fd}/datasets.parquet")
    cu = (
        datasets.filter(
            (F.col("dmapping.dtype") == "Int16")
            & (F.col("dmapping.exponent") == 1.0)
        )
        .agg(F.min("container_uri"))
        .first()[0]
    )
    tile = (
        spark.read.parquet(f"{fd}/tiles.parquet")
        .filter(
            (F.col("container_uri") == cu)
            & (F.col("band") == 1)
            & (F.col("level") == 0)
            & (F.col("block_x") == 0)
            & (F.col("block_y") == 0)
        )
        .first()
    )
    px = _np.asarray(tile["px"]).reshape(64, 64)
    scaled = _np.clip(px / 10000.0, 0.0, 1.0) * 255
    # round-half-even matches the PNG path and the DuckDB round_even oracle
    gray = _np.where(px == -32768.0, 0, _np.rint(scaled)).astype(_np.uint8)
    enc = encode_jpeg(gray, quality=95)
    dec = decode_jpeg(enc)
    maxerr = int(_np.abs(dec.astype(int) - gray.astype(int)).max())
    return values_df(
        spark,
        [(
            int(dec.shape[1]),
            int(dec.shape[0]),
            int(gray.astype("int64").sum()),
            encode_jpeg(gray, quality=95) == enc,
            maxerr <= 8,
            len(enc) < gray.size,
        )],
        ["width", "height", "gray_sum", "reencode_identical", "maxerr_le_8", "compresses"],
    ).select(
        F.col("width").cast("long"),
        F.col("height").cast("long"),
        F.col("gray_sum").cast("long"),
        "reencode_identical",
        "maxerr_le_8",
        "compresses",
    )


def ensure_mucog_interlaced(spark: SparkSession) -> str:
    """A MuCOG written with the FULL conditional interlacing grammar
    (layouts.proto:41-66): ``Z=0>T>R>B;Z=1:>R>T>B`` — timeseries-interlaced
    full resolution, geographically-clustered overviews.  2 records × 4×4
    full-res blocks + their 2×2 level-1 overviews, 16-px tiles."""

    def build(out):
        import numpy as np

        from geocube_spark.operators.consolidation import consolidate_to_mucog

        n = 16
        rows = []
        for ridx, (rid, ts) in enumerate(
            [("rec-a", "2024-01-01"), ("rec-b", "2024-01-02")]
        ):
            for lvl, nblk in ((0, 4), (1, 2)):
                for by in range(nblk):
                    for bx in range(nblk):
                        cc, rr = np.meshgrid(np.arange(n), np.arange(n))
                        v = (
                            (13 * (bx * n + cc) + 7 * (by * n + rr) + ridx)
                            % 97
                        ).astype(float)
                        rows.append(
                            {
                                "out_container_uri": "mucog://interlaced",
                                "band": 1,
                                "level": lvl,
                                "block_x": bx,
                                "block_y": by,
                                "px": v.ravel().tolist(),
                                "pix_to_crs": {
                                    "a": 1.0, "b": 0.0, "c": 0.0,
                                    "d": 0.0, "e": -1.0, "f": 64.0,
                                },
                                "crs_srid": 32631,
                                "record_id": rid,
                                "record_datetime": ts,
                            }
                        )
        tiles = spark.createDataFrame(
            rows,
            "out_container_uri string, band int, level int, block_x int, "
            "block_y int, px array<double>, pix_to_crs struct<a:double,"
            "b:double,c:double,d:double,e:double,f:double>, crs_srid int, "
            "record_id string, record_datetime string",
        )
        row = consolidate_to_mucog(
            tiles,
            dtype="float64",
            compression="deflate",
            tile_order="Z=0>T>R>B;Z=1:>R>T>B",
        ).collect()[0]
        with open(out, "wb") as f:
            f.write(bytes(row["tiff"]))

    return cached(
        os.path.join(FIXTURE_DIR, "mucog_interlaced_fixture.tif"), [], build
    )


@q(
    "mucog_interlaced_pattern",
    """
    SELECT CAST(16 AS BIGINT) AS n_fullres_adjacent,
           CAST(2 AS BIGINT) AS n_overview_runs,
           CAST(1 AS BIGINT) AS fullres_before_overviews
    FROM (SELECT 1)
    """,
)
def mucog_interlaced_pattern(spark, sf_dir):
    """R7 FULL grammar, byte-level: under ``Z=0>T>R>B;Z=1:>R>T>B`` every
    full-res tile's record stack is adjacent bytes (16 tile indices × 1
    adjacent pair), each record's overview tiles form one contiguous run
    (2 runs), and the full-res region precedes the overviews — all
    STRUCTURAL constants of the fixture geometry, asserted from the
    written file's tile offsets (mucog.go:30-97 parity)."""
    path = ensure_mucog_interlaced(spark)
    binary = spark.read.format("binaryFile").load(path)

    def inspect(batches):
        import pandas as pd

        from geocube_spark.sources.gtiff import read_tiff

        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                imgs = read_tiff(bytes(content))
                full = [im for im in imgs if im.subfile_type == 0]
                ovs = [im for im in imgs if im.subfile_type == 1]
                adj = sum(
                    1
                    for ti in range(len(full[0].tile_offsets))
                    for i in range(len(full) - 1)
                    if full[i].tile_offsets[ti] + full[i].tile_byte_counts[ti]
                    == full[i + 1].tile_offsets[ti]
                )
                runs = sum(
                    1
                    for ov in ovs
                    if all(
                        ov.tile_offsets[i] + ov.tile_byte_counts[i]
                        == ov.tile_offsets[i + 1]
                        for i in range(len(ov.tile_offsets) - 1)
                    )
                )
                ordered = int(
                    max(o for im in full for o in im.tile_offsets)
                    < min(o for im in ovs for o in im.tile_offsets)
                )
                rows.append(
                    {
                        "n_fullres_adjacent": adj,
                        "n_overview_runs": runs,
                        "fullres_before_overviews": ordered,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "n_fullres_adjacent",
                    "n_overview_runs",
                    "fullres_before_overviews",
                ],
            )

    return binary.select("content").mapInPandas(
        inspect,
        "n_fullres_adjacent long, n_overview_runs long, "
        "fullres_before_overviews long",
    )


def ensure_mucog(spark: SparkSession) -> str:
    """Materialize ONE real MuCOG container (operators/consolidation.
    consolidate_to_mucog → sources/gtiff.write_tiff bytes) from the tile
    fixtures: 12 record images × 2×2 blocks, block-interlaced so a
    time-series of one block is one contiguous byte range."""

    def build(out):
        from geocube_spark.operators.consolidation import consolidate_to_mucog

        fd = ensure_fixtures()
        tiles = spark.read.parquet(f"{fd}/tiles.parquet")
        datasets = spark.read.parquet(f"{fd}/datasets.parquet")
        records = spark.read.parquet(f"{fd}/records.parquet")
        # image identity = SOURCE CONTAINER (several containers can share a
        # record in the fixtures); record time orders the images, container
        # uri tie-breaks deterministically
        joined = (
            tiles.join(
                datasets.select("container_uri", "record_id").dropDuplicates(
                    ["container_uri"]
                ),
                "container_uri",
            )
            .join(
                F.broadcast(
                    records.select(
                        F.col("id").alias("record_id"),
                        F.col("datetime").alias("record_datetime"),
                    )
                ),
                "record_id",
            )
            .withColumn("record_id", F.col("container_uri"))
            .withColumn("out_container_uri", F.lit("mucog://fixture"))
        )
        row = consolidate_to_mucog(
            joined, dtype="float64", compression="deflate", tile_order="block"
        ).collect()[0]
        with open(out, "wb") as f:
            f.write(bytes(row["tiff"]))

    return cached(os.path.join(FIXTURE_DIR, "mucog_fixture.tif"), [], build)


# S5/S6 at the BYTE level: the reference's headline benchmark restated
# against the real MuCOG file (docs/architecture/mucog.md) — read ONE
# block's time series across all record images from the TIFF produced by
# consolidate_to_mucog, verifying (a) pixel parity with the tile table and
# (b) that the block's payloads are physically CONTIGUOUS across images
# (the interlacing property that makes the read one ranged GET).  Decode
# runs executor-side (binaryFile → mapInPandas); only tile offsets and the
# one block's payloads are touched, not the whole container.
@q(
    "mucog_block_read",
    f"""
    WITH m AS (
        SELECT t.container_uri, r.datetime, t.px
        FROM read_parquet('{FIXTURE_DIR}/tiles.parquet') t
        JOIN (
            SELECT DISTINCT container_uri, record_id
            FROM read_parquet('{FIXTURE_DIR}/datasets.parquet')
        ) d ON t.container_uri = d.container_uri
        JOIN read_parquet('{FIXTURE_DIR}/records.parquet') r ON d.record_id = r.id
        WHERE t.band = 1 AND t.level = 0 AND t.block_x = 1 AND t.block_y = 0
    )
    SELECT CAST(row_number() OVER (ORDER BY datetime, container_uri) - 1 AS BIGINT)
               AS img_idx,
           round(list_aggregate(list_filter(px, x -> NOT isnan(x)), 'sum'), 6)
               AS px_sum,
           CAST(len(list_filter(px, x -> NOT isnan(x))) AS BIGINT) AS n_valid,
           CAST(1 AS BIGINT) AS contiguous
    FROM m ORDER BY img_idx
    """,
)
def mucog_block_read(spark, sf_dir):
    path = ensure_mucog(spark)
    binary = spark.read.format("binaryFile").load(path)

    def decode(batches):
        import numpy as np
        import pandas as pd

        from geocube_spark.sources.gtiff import read_tiff

        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                images = [
                    im for im in read_tiff(bytes(content)) if im.subfile_type == 0
                ]
                # block (1, 0) on the 2×2 grid -> tile index 1 per image
                tidx = 1
                spans = [
                    (im.tile_offsets[tidx], im.tile_byte_counts[tidx])
                    for im in images
                ]
                contig = all(
                    spans[i][0] + spans[i][1] == spans[i + 1][0]
                    for i in range(len(spans) - 1)
                )
                for idx, im in enumerate(images):
                    blk = im.bands[0, 0:64, 64:128]
                    finite = blk[~np.isnan(blk)]
                    rows.append(
                        {
                            "img_idx": idx,
                            "px_sum": round(float(finite.sum()), 6),
                            "n_valid": int(finite.size),
                            "contiguous": int(contig),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["img_idx", "px_sum", "n_valid", "contiguous"]
            )

    return (
        binary.select("content")
        .mapInPandas(
            decode, "img_idx long, px_sum double, n_valid long, contiguous long"
        )
        .orderBy("img_idx")
    )


# J6 on the real catalog: distinct containers of the selected datasets per
# layout (FindContainerLayouts, pg_layouts.go:84-120).
@q(
    "find_container_layouts",
    f"""
    SELECT cl.layout_name,
           CAST(count(DISTINCT d.container_uri) AS BIGINT) AS n_containers
    FROM (
        SELECT DISTINCT container_uri FROM read_parquet('{FIXTURE_DIR}/datasets.parquet')
        WHERE status = 'ACTIVE'
    ) d
    JOIN read_parquet('{FIXTURE_DIR}/container_layouts.parquet') cl
      ON d.container_uri = cl.container_uri
    GROUP BY cl.layout_name
    """,
)
def find_container_layouts_q(spark, sf_dir):
    fd = ensure_fixtures()
    d = (
        spark.read.parquet(f"{fd}/datasets.parquet")
        .filter(F.col("status") == "ACTIVE")
        .select("container_uri")
        .dropDuplicates()
    )
    cl = spark.read.parquet(f"{fd}/container_layouts.parquet")
    return (
        d.join(F.broadcast(cl), "container_uri")
        .groupBy("layout_name")
        .agg(F.countDistinct("container_uri").alias("n_containers"))
    )


# As-of join: each purchase matched to the user's most recent prior click
# (sort-based carry-forward, one shuffle).  Oracle: DuckDB's native ASOF.
@q(
    "asof_join_events",
    """
    WITH e AS (SELECT event_id, user_id, event_type, value,
                      epoch_ns(ts) // 1000 AS ts_us FROM events),
    purchases AS (SELECT * FROM e WHERE event_type = 'purchase'),
    clicks AS (SELECT * FROM e WHERE event_type = 'click')
    SELECT p.event_id, p.user_id,
           coalesce(c.event_id, -1) AS asof_event_id,
           round(coalesce(c.value, -1.0), 4) AS asof_value
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
    """,
)
def asof_join_events(spark, sf_dir):
    from geocube_spark.operators.asof import as_of_join

    ev = read_events(spark, sf_dir).withColumn("ts_us", F.expr("ts_ns div 1000"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", "event_id", "value"
    )
    out = as_of_join(
        purchases,
        clicks.withColumnRenamed("event_id", "c_event_id"),
        key="user_id",
        left_ts="ts_us",
        right_ts="ts_us",
        payload_cols=["c_event_id", "value"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.coalesce(F.col("asof_c_event_id"), F.lit(-1)).alias("asof_event_id"),
        F.round(F.coalesce("asof_value", F.lit(-1.0)), 4).alias("asof_value"),
    )


# Forward as-of: each click matched to the user's NEXT purchase (oldest
# right with right_ts >= left_ts) — the mirrored following-window carry.
@q(
    "asof_join_events_forward",
    """
    WITH e AS (SELECT event_id, user_id, event_type, value,
                      epoch_ns(ts) // 1000 AS ts_us FROM events),
    clicks AS (SELECT * FROM e WHERE event_type = 'click'),
    purchases AS (SELECT * FROM e WHERE event_type = 'purchase')
    SELECT c.event_id, c.user_id,
           coalesce(p.event_id, -1) AS asof_event_id,
           round(coalesce(p.value, -1.0), 4) AS asof_value
    FROM clicks c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts_us <= p.ts_us
    """,
)
def asof_join_events_forward(spark, sf_dir):
    from geocube_spark.operators.asof import as_of_join

    ev = read_events(spark, sf_dir).withColumn("ts_us", F.expr("ts_ns div 1000"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_us", F.col("event_id").alias("p_event_id"), "value"
    )
    out = as_of_join(
        clicks,
        purchases,
        key="user_id",
        left_ts="ts_us",
        right_ts="ts_us",
        payload_cols=["p_event_id", "value"],
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.coalesce(F.col("asof_p_event_id"), F.lit(-1)).alias("asof_event_id"),
        F.round(F.coalesce("asof_value", F.lit(-1.0)), 4).alias("asof_value"),
    )


# Range join: click -> purchase by the same user within 30 minutes —
# bucketed equi-join plan vs DuckDB's inequality join.
@q(
    "range_join_events",
    """
    WITH e AS (SELECT event_id, user_id, event_type,
                      epoch_ns(ts) // 1000 AS ts_us FROM events),
    clicks AS (SELECT * FROM e WHERE event_type = 'click'),
    purchases AS (SELECT * FROM e WHERE event_type = 'purchase')
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
    FROM clicks c JOIN purchases p
      ON c.user_id = p.user_id
     AND p.ts_us >= c.ts_us
     AND p.ts_us <= c.ts_us + 1800000000
    """,
)
def range_join_events(spark, sf_dir):
    from geocube_spark.operators.asof import range_join_buckets

    ev = read_events(spark, sf_dir).withColumn("ts_us", F.expr("ts_ns div 1000"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts_us"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_us", F.col("event_id").alias("purchase_id")
    )
    out = range_join_buckets(
        clicks,
        purchases,
        key="user_id",
        left_ts="ts_us",
        right_ts="ts_us",
        lower=0.0,
        upper=1_800_000_000.0,  # 30 min in µs
        payload_cols=["purchase_id"],
    )
    return out.select("click_id", F.col("r_purchase_id").alias("purchase_id"), "user_id")


# ---------------------------------------------- pipeline composition queries

from geocube_spark.functions.text import quality_score_sql as _qss  # noqa: E402
from geocube_spark.functions.text import token_count_sql as _tcs  # noqa: E402
from geocube_spark.operators.pipeline import (  # noqa: E402
    curate,
    deterministic_sample_sql,
    dedup_report,
    dsir_importance,
    dsir_importance_sql,
    stratified_sample,
    token_budget_report,
)


# Kneser–Ney bigram LM (the smoothing KenLM defaults to): continuation-
# count backoff with absolute discounting — exact integer-count model,
# oracle recomputes it bit-for-bit (operators/retrieval.py).
@q("kneser_ney_logprob", kneser_ney_logprob_sql(discount=0.75))
def kneser_ney_logprob_q(spark, sf_dir):
    return kneser_ney_logprob(_docs(spark, sf_dir), discount=0.75)


# Distributed BPE training (Sennrich et al. 2016): word-frequency table +
# per-round pair-count argmax + greedy string-fold rewrite, all in-plan
# (no driver collect); oracle replays the same rounds via list_reduce.
from geocube_spark.operators.bpe import bpe_train, bpe_train_sql  # noqa: E402


@q("bpe_merges", bpe_train_sql(n_merges=4))
def bpe_merges_q(spark, sf_dir):
    return bpe_train(_docs(spark, sf_dir), n_merges=4)


# Train + APPLY end-to-end: learn 3 merges, tokenize the corpus with them
# (bpe_apply — zero-shuffle narrow map, merges as plan literals), report
# per-source token totals; oracle replays BOTH phases (nested list_reduce
# folds over the generated train CTEs).
@q(
    "bpe_tokenized_counts",
    __import__(
        "geocube_spark.operators.bpe", fromlist=["bpe_tokenized_counts_sql"]
    ).bpe_tokenized_counts_sql(n_merges=3),
)
def bpe_tokenized_counts(spark, sf_dir):
    from geocube_spark.operators.bpe import bpe_token_counts

    docs = _docs(spark, sf_dir)
    merges = [
        tuple(r["pair"].split(" "))
        for r in sorted(
            bpe_train(docs, n_merges=3).collect(),
            key=lambda r: r["merge_rank"],
        )
    ]
    # counts via the VOCAB-level fold (one fold per distinct word, not
    # per token occurrence — 10x at sf0.1, unbounded at corpus scale)
    return bpe_token_counts(docs, merges)


# Frequent-items sketch (Misra–Gries / lossy-counting family,
# operators/sketches.py): per-batch summaries merge by summation; every
# term with true count > N/k is GUARANTEED in the candidate set and the
# estimate bounds (est <= true, deficit <= N/(k+1)) are theorems — the
# oracle asserts them as constants and recomputes the exact heavy-hitter
# count.  The full term stream never shuffles; only the tiny summaries
# reach the merge.
@q(
    "heavy_hitters",
    """
    WITH terms AS (
        SELECT u.term AS term
        FROM documents,
             UNNEST(list_filter(string_split(trim(regexp_replace(lower(text),
                 '[^a-z0-9]+', ' ', 'g')), ' '), t -> t != '')) AS u(term)
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM terms),
    exact AS (SELECT term, count(*) AS c FROM terms GROUP BY term)
    SELECT CAST((SELECT count(*) FROM exact, tot WHERE c * 50 > n) AS BIGINT)
               AS n_heavy_true,
           CAST(0 AS BIGINT) AS n_missed_heavy,
           CAST(0 AS BIGINT) AS n_bound_violations
    """,
)
def heavy_hitters(spark, sf_dir):
    from geocube_spark.operators.retrieval import tokens_expr
    from geocube_spark.operators.sketches import heavy_hitter_candidates

    k = 50
    # the term stream has THREE consumers (sketch, exact counts, total);
    # tokenize once via a lazy array-level checkpoint (the LM-family
    # pattern — the explode re-runs cheaply per consumer over the cache)
    toks = _docs(spark, sf_dir).select(
        tokens_expr(F.col("text")).alias("t")
    ).localCheckpoint(eager=False)
    terms = toks.select(F.explode("t").alias("term"))
    cands = heavy_hitter_candidates(terms, k=k)
    exact = terms.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = terms.agg(F.count(F.lit(1)).alias("n"))
    heavy = exact.crossJoin(F.broadcast(tot)).filter(F.col("c") * k > F.col("n"))
    missed = heavy.join(cands, "term", "left_anti")
    checked = (
        cands.join(exact, "term")
        .crossJoin(F.broadcast(tot))
        .select(
            (
                (F.col("est") > F.col("c"))
                | ((F.col("c") - F.col("est")) * (k + 1) > F.col("n"))
            ).cast("long").alias("viol")
        )
    )
    return (
        heavy.agg(F.count(F.lit(1)).cast("long").alias("n_heavy_true"))
        .crossJoin(
            missed.agg(F.count(F.lit(1)).cast("long").alias("n_missed_heavy"))
        )
        .crossJoin(
            checked.agg(
                F.coalesce(F.sum("viol"), F.lit(0))
                .cast("long")
                .alias("n_bound_violations")
            )
        )
    )


# Count-min sketch (Cormode & Muthukrishnan 2005): fixed d x w counter
# state regardless of term cardinality — the sketch path where an exact
# per-term groupBy would shuffle billions of distinct keys.  Portable md5
# bucket hashes let the oracle rebuild the matrix cell-for-cell, so the
# estimates match EXACTLY, overcounts included; est >= true is a theorem
# (counters only add) asserted in tests/test_sketches_cm.py.
def _countmin_oracle() -> str:
    from geocube_spark.operators.sketches import countmin_accuracy_sql

    terms = """
        SELECT u.term AS term
        FROM documents,
             UNNEST(list_filter(string_split(trim(regexp_replace(lower(text),
                 '[^a-z0-9]+', ' ', 'g')), ' '), t -> t != '')) AS u(term)
    """
    return countmin_accuracy_sql(terms, top=20)


@q("countmin_accuracy", _countmin_oracle())
def countmin_accuracy_q(spark, sf_dir):
    from geocube_spark.operators.retrieval import tokens_expr
    from geocube_spark.operators.sketches import countmin_accuracy

    # two consumers (sketch cells + exact truth): tokenize once via a lazy
    # array-level checkpoint (the LM-family pattern)
    toks = _docs(spark, sf_dir).select(
        tokens_expr(F.col("text")).alias("t")
    ).localCheckpoint(eager=False)
    terms = toks.select(F.explode("t").alias("term"))
    return countmin_accuracy(terms, top=20)


# Mergeable-sketch accuracy harness: Spark's HLL++ distinct count and GK
# quantile sketch, judged against the EXACT values the oracle recomputes.
# The sketch outputs themselves are engine-specific, so the contract
# columns are the exact values + boolean within-tolerance invariants —
# the pattern every sketch deployment monitors (sketches are THE 100 TB
# path: mergeable partial state, no exact-distinct shuffle).
@q(
    "sketch_accuracy",
    """
    WITH ex AS (
      SELECT source,
             count(DISTINCT md5(text)) AS exact_distinct,
             quantile_cont(n_chars, 0.5) AS exact_p50
      FROM documents GROUP BY source
    )
    SELECT source,
           CAST(exact_distinct AS BIGINT) AS exact_distinct,
           round(exact_p50, 4) AS exact_p50,
           TRUE AS hll_within_5pct,
           TRUE AS quantile_within_5pct
    FROM ex ORDER BY source
    """,
)
def sketch_accuracy(spark, sf_dir):
    docs = _docs(spark, sf_dir).withColumn("fp", F.md5("text"))
    out = docs.groupBy("source").agg(
        F.count_distinct("fp").alias("exact_distinct"),
        F.expr("percentile(n_chars, 0.5)").alias("exact_p50"),
        F.approx_count_distinct("fp", 0.02).alias("hll"),
        F.expr("approx_percentile(n_chars, 0.5, 1000)").alias("aq"),
    )
    return out.select(
        "source",
        F.col("exact_distinct").cast("long"),
        F.round("exact_p50", 4).alias("exact_p50"),
        (
            F.abs(F.col("hll") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("hll_within_5pct"),
        (
            F.abs(F.col("aq") - F.col("exact_p50"))
            <= 0.05 * F.greatest(F.col("exact_p50"), F.lit(1.0))
        ).alias("quantile_within_5pct"),
    ).orderBy("source")


# Efraimidis–Spirakis weighted sampling: quality-weighted, deterministic
# (md5-derived uniforms), exact cross-engine frontier via 9-dp-rounded
# keys (operators/pipeline.weighted_sample).
from geocube_spark.operators.pipeline import (  # noqa: E402
    curriculum_shards,
    weighted_sample,
    weighted_sample_sql,
)


@q(
    "quality_weighted_sample",
    "SELECT doc_id, lang, source, es_score FROM ("
    + weighted_sample_sql(quality_score_sql("text"), n=100)
    + ")",
)
def quality_weighted_sample(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return weighted_sample(docs, quality_score(F.col("text")), n=100).select(
        "doc_id", "lang", "source", "es_score"
    )


# Curriculum ordering: NTILE shards by difficulty (token count), per-shard
# spans — the data-ordering step of curriculum training.
@q(
    "curriculum_shards",
    f"""
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           round(min(d), 4) AS min_difficulty,
           round(max(d), 4) AS max_difficulty
    FROM (
      SELECT ntile(10) OVER (ORDER BY d, doc_id) AS shard, d
      FROM (SELECT doc_id, CAST({token_count_sql('text')} AS DOUBLE) AS d
            FROM documents)
    ) GROUP BY shard ORDER BY shard
    """,
)
def curriculum_shards_q(spark, sf_dir):
    docs = _docs(spark, sf_dir).withColumn(
        "d", token_count(F.col("text")).cast("double")
    )
    return curriculum_shards(docs, F.col("d"), n_shards=10)


# DSIR (Xie et al. 2023): hashed-ngram importance weights toward a target
# domain slice — the corpus-resampling step of a pretraining data pipeline.
# Exact MLE bucket models, md5 hashing shared with the oracle.
@q("dsir_importance", dsir_importance_sql("source = 'src0' AND lang = 'en'"))
def dsir_importance_q(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return dsir_importance(
        docs, (F.col("source") == "src0") & (F.col("lang") == "en")
    )


# Deterministic md5-threshold sampling — reproducible across engines/retries.
@q(
    "deterministic_sample",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {deterministic_sample_sql('doc_id', 0.25)}
    """,
)
def deterministic_sample_q(spark, sf_dir):
    from geocube_spark.operators.pipeline import deterministic_sample_expr

    docs = _docs(spark, sf_dir)
    return docs.filter(deterministic_sample_expr(F.col("doc_id"), 0.25)).select(
        "doc_id", "lang"
    )


# Per-language stratified rebalancing.
@q(
    "stratified_sample",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE (lang = 'en' AND {deterministic_sample_sql('doc_id', 0.75)})
       OR (lang = 'de' AND {deterministic_sample_sql('doc_id', 0.25)})
    """,
)
def stratified_sample_q(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return stratified_sample(docs, "lang", {"en": 0.75, "de": 0.25}).select(
        "doc_id", "lang"
    )


# Mixture resampling to target source weights.  The achievable-total and
# per-source cutoffs are INTEGER arithmetic, so both engines agree exactly;
# the keep rule is the shared md5-threshold predicate.
_MIX_WEIGHTS = {"src0": 4, "src1": 2, "src2": 1, "src3": 1}


def _mixture_oracle() -> str:
    W = sum(_MIX_WEIGHTS.values())
    vals = ", ".join(f"('{s}', {w})" for s, w in sorted(_MIX_WEIGHTS.items()))
    return f"""
    WITH w(source, wt) AS (SELECT * FROM (VALUES {vals})),
    c AS (
        SELECT d.source, wt, CAST(count(*) AS BIGINT) AS n
        FROM documents d JOIN w ON d.source = w.source
        GROUP BY d.source, wt
    ),
    t AS (SELECT min(n * {W} // wt) AS T FROM c),
    plan AS (
        SELECT source, wt, n,
               least(256, 256 * wt * (SELECT T FROM t) // ({W} * n)) AS cutoff
        FROM c
    ),
    kept AS (
        SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept
        FROM documents d JOIN plan p ON d.source = p.source
        WHERE p.cutoff >= 256
           OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < printf('%02x', p.cutoff)
        GROUP BY d.source
    )
    SELECT p.source, p.n AS n_before,
           coalesce(k.n_kept, 0) AS n_kept
    FROM plan p LEFT JOIN kept k ON p.source = k.source
    ORDER BY p.source
    """


@q("mixture_resample", _mixture_oracle())
def mixture_resample_q(spark, sf_dir):
    from geocube_spark.operators.pipeline import mixture_report

    docs = _docs(spark, sf_dir).filter(
        F.col("source").isin(sorted(_MIX_WEIGHTS))
    )
    return mixture_report(docs, _MIX_WEIGHTS)


# The full curation chain as ONE plan: quality gate -> lang filter -> exact
# dedup keep-first -> per-language token budget.
@q(
    "curation_pipeline",
    f"""
    WITH scored AS (
        SELECT *, round({_qss('text')}, 6) AS quality,
               {normalized_md5_sql('text')} AS fp,
               CAST({_tcs('text')} AS BIGINT) AS n_tokens
        FROM documents
    ),
    gated AS (
        SELECT * FROM scored WHERE quality >= 0.5 AND lang IN ('en','de','fr')
    ),
    deduped AS (
        SELECT * FROM gated g
        WHERE doc_id = (SELECT min(doc_id) FROM gated g2 WHERE g2.fp = g.fp)
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_tokens), 4) AS avg_tokens,
           round(quantile_cont(n_tokens, 0.5), 4) AS median_tokens
    FROM deduped GROUP BY lang
    """,
)
def curation_pipeline(spark, sf_dir):
    curated = curate(_docs(spark, sf_dir), min_quality=0.5, langs=["en", "de", "fr"])
    return token_budget_report(curated)


# Corpus dedup accounting (before/after numbers).
@q(
    "dedup_report",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT {normalized_md5_sql('text')}) AS BIGINT) AS n_unique,
           CAST(count(*) - count(DISTINCT {normalized_md5_sql('text')}) AS BIGINT) AS n_duplicates
    FROM documents
    """,
)
def dedup_report_q(spark, sf_dir):
    return dedup_report(_docs(spark, sf_dir))


# Gopher-style corpus gates (Rae et al. 2021 §A1.1): word-count window,
# mean word length, alphabetic-word ratio, stopword presence, consecutive
# repetition.  Pure column expressions; one narrow scan + one groupBy.
def _gopher_oracle() -> str:
    from geocube_spark.functions.text import gopher_flags_sql

    flags = gopher_flags_sql("text")
    keep = " AND ".join(f"({f})" for f in flags.values())
    fails = ",\n           ".join(
        f"CAST(sum(CASE WHEN NOT ({f}) THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_fail_{k[:-3]}"
        for k, f in flags.items()
    )
    return f"""
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN {keep} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           {fails}
    FROM documents GROUP BY source ORDER BY source
    """


@q("gopher_quality_filter", _gopher_oracle())
def gopher_quality_filter(spark, sf_dir):
    from functools import reduce
    from operator import and_

    from geocube_spark.functions.text import _toks, gopher_flags_toks

    # tokenize ONCE per row; the gates share the array column (the regex
    # split dominates and HOF expressions sit outside codegen CSE)
    d = _docs(spark, sf_dir).select("source", _toks(F.col("text")).alias("toks"))
    flags = gopher_flags_toks(F.col("toks"))
    keep = reduce(and_, flags.values())
    sel = d.select(
        "source", keep.alias("keep"), *[v.alias(k) for k, v in flags.items()]
    )
    return (
        sel.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
            *[
                F.sum((~F.col(k)).cast("bigint")).alias(f"n_fail_{k[:-3]}")
                for k in flags
            ],
        )
        .orderBy("source")
    )


# Repetition / lexical-diversity profile per language bucket.
def _repetition_oracle() -> str:
    from geocube_spark.functions.text import (
        adjacent_duplicate_fraction_sql,
        mean_word_length_sql,
        repeated_bigram_fraction_sql,
        type_token_ratio_sql,
    )

    return f"""
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg({type_token_ratio_sql('text')}), 4) AS avg_ttr,
           round(avg({adjacent_duplicate_fraction_sql('text')}), 4) AS avg_adj_dup,
           round(avg({repeated_bigram_fraction_sql('text')}), 4) AS avg_rep_bigram,
           round(avg({mean_word_length_sql('text')}), 4) AS avg_word_len
    FROM documents GROUP BY lang ORDER BY lang
    """


@q("repetition_profile", _repetition_oracle())
def repetition_profile(spark, sf_dir):
    from geocube_spark.functions.text import (
        _toks,
        adjacent_duplicate_fraction_toks,
        mean_word_length_toks,
        repeated_bigram_fraction_toks,
        type_token_ratio_toks,
    )

    # tokenize ONCE per row; all four metrics share the array column
    d = _docs(spark, sf_dir).select("lang", _toks(F.col("text")).alias("toks"))
    t = F.col("toks")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(type_token_ratio_toks(t)), 4).alias("avg_ttr"),
            F.round(F.avg(adjacent_duplicate_fraction_toks(t)), 4).alias("avg_adj_dup"),
            F.round(F.avg(repeated_bigram_fraction_toks(t)), 4).alias("avg_rep_bigram"),
            F.round(F.avg(mean_word_length_toks(t)), 4).alias("avg_word_len"),
        )
        .orderBy("lang")
    )


# ============================================================== job machine

# Full 20-state job lifecycle (reference job.go:28-130, 350-641) replayed
# over a synthetic per-job event log derived deterministically from the
# events table.  The transition CASE is compiled from the SAME arc tables
# for both engines (streaming/jobs.py), so the oracle checks the machine
# itself: final state AND step-by-step waiting flag per job, after retry /
# cancel / rollback / continue arcs.  Scale shape: one groupBy(job_id)
# shuffle, then a codegen'd fold per group — no window, no Python.
def _job_replay_oracle() -> str:
    from geocube_spark.streaming.jobs import (
        replay_event_sql,
        replay_init_sql,
        replay_merge_sql,
    )

    return f"""
    WITH e AS (
        SELECT event_id % 64 AS job_id, event_id AS seq,
               {replay_event_sql('event_id')} AS evt
        FROM events
    ),
    g AS (
        SELECT job_id, list(evt ORDER BY seq) AS evs,
               job_id % 5 AS exec_level,
               CASE WHEN job_id % 2 = 0 THEN 'C' ELSE 'D' END AS jt
        FROM e GROUP BY job_id
    ),
    f AS (
        SELECT job_id,
               list_reduce(
                   list_prepend({replay_init_sql('exec_level', 'jt')}, evs),
                   (acc, x) -> {replay_merge_sql()}) AS fin
        FROM g
    )
    SELECT job_id, split_part(fin, '#', 1) AS final_state,
           CAST(split_part(fin, '#', 2) AS INT) AS waiting
    FROM f ORDER BY job_id
    """


@q("job_state_replay", _job_replay_oracle())
def job_state_replay(spark, sf_dir):
    # Spark side folds integer state/event codes through a struct
    # accumulator (CaseKeyWhen event dispatch + int compares); the DuckDB
    # oracle above folds the same arc tables through the portable packed-
    # string variant (list_reduce requires acc type == element type there).
    from geocube_spark.streaming.jobs import (
        replay_event_int_sql,
        replay_init_int_sql,
        replay_merge_int_sql,
        replay_state_name_sql,
    )

    ev = read_events(spark, sf_dir).select("event_id")
    jobs = ev.select(
        (F.col("event_id") % 64).alias("job_id"),
        F.col("event_id").alias("seq"),
        F.expr(replay_event_int_sql("event_id")).alias("evt"),
    )
    return (
        jobs.groupBy("job_id")
        .agg(F.expr("transform(array_sort(collect_list(struct(seq, evt))), e -> e.evt)").alias("evs"))
        .withColumn("exec_level", F.col("job_id") % 5)
        .withColumn(
            "fin",
            F.expr(
                f"aggregate(evs, {replay_init_int_sql('exec_level', 'job_id % 2')},"
                f" (acc, x) -> {replay_merge_int_sql()})"
            ),
        )
        .select(
            "job_id",
            F.expr(replay_state_name_sql("fin.s")).alias("final_state"),
            F.col("fin.w").alias("waiting"),
        )
        .orderBy("job_id")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)


# --------------------------------------------------------- round-11 e2e


def ensure_task_retry_job(spark: SparkSession) -> str:
    """Materialize ONCE the per-task failure-accounting scenario over a
    copy of the fixture catalog (keyed to the code that drives it, so any
    change to the accounting path regenerates the fixture):

      1. consolidate() a one-task-per-record job (max_records=1 world-cell
         layout) on the instance with the most tiled datasets;
      2. poison ONE source container with a mismatched-px tile — a real
         build failure, no injection hook;
      3. process: the poisoned task fails as a TEMPORARY error and is
         requeued (try_count 1, main.go:144-147);
      4. process again: the redelivery exhausts max_tries -> terminal
         TaskFailed -> the last active task landing auto-advances to
         CONSOLIDATIONFAILED ("Job failed: 1 tasks failed");
      5. retry_job: CONSOLIDATIONRETRYING's on-enter resets the FAILED
         task (csldConsolidationRetry, consolidater.go:797-808);
      6. unpoison + process: the job completes DONE.

    The catalog left behind holds the full accounting trail the
    ``task_retry_e2e`` query hash-checks."""
    import json as _json
    import shutil

    def build(root):
        from geocube_spark.client import GeocubeClient

        fd = ensure_fixtures()
        os.makedirs(root)
        for t in ("aoi", "records", "variables", "instances", "containers",
                  "datasets", "tiles", "layouts", "consolidation_params",
                  "jobs", "tasks", "locked_datasets"):
            shutil.copy(os.path.join(fd, f"{t}.parquet"),
                        os.path.join(root, f"{t}.parquet"))
        c = GeocubeClient(spark, root)
        c.catalog.write(
            "datasets",
            c.catalog.read("datasets").withColumn(
                "locked_by_job_id", F.lit(None).cast("string")
            ),
        )
        c.catalog.write(
            "locked_datasets",
            c.catalog.read("locked_datasets").filter(F.col("job_id") != "job-0"),
        )
        # deterministic instance pick: most tiled datasets, id ascending —
        # the oracle replays this argmax in SQL
        tiled = (
            c.catalog.read("tiles").select("container_uri").distinct()
            .join(c.catalog.read("datasets"), "container_uri")
        )
        pick = (
            tiled.groupBy("instance_id")
            .agg(F.count_distinct("id").alias("n"))
            .orderBy(F.col("n").desc(), "instance_id")
            .first()
        )
        inst = pick["instance_id"]
        sel = tiled.filter(F.col("instance_id") == inst)
        rec_ids = sorted({r["record_id"] for r in sel.select("record_id").collect()})
        var_id = (
            c.catalog.read("instances").filter(F.col("id") == inst)
            .first()["variable_id"]
        )
        c.config_consolidation(
            var_id,
            {"dtype": "Float64", "no_data": -32768.0,
             "min_value": -1e12, "max_value": 1e12},
            compression="NO",
        )
        c.create_layout(
            "retry_e2e_layout",
            {"grid": "regular", "crs": "epsg:4326", "cell_size": "256",
             "resolution": "1000000", "ox": "0", "oy": "0"},
            max_records=1,  # one task per record
        )
        job = c.consolidate("retry-e2e", inst, "retry_e2e_layout",
                            record_ids=rec_ids)
        # poison the lexicographically-first task's first dataset
        t0 = (
            c.catalog.read("tasks").filter(F.col("job_id") == job)
            .orderBy("id").first()
        )
        victim_ds = _json.loads(bytes(t0["payload"]))["dataset_ids"][0]
        victim_uri = (
            c.catalog.read("datasets").filter(F.col("id") == victim_ds)
            .first()["container_uri"]
        )
        tiles = c.catalog.read("tiles")
        row = tiles.filter(F.col("container_uri") == victim_uri).first()
        bogus = spark.createDataFrame(
            [{
                "container_uri": victim_uri, "band": row["band"],
                "level": row["level"], "block_x": int(row["block_x"]) + 97,
                "block_y": row["block_y"], "px": [0.0] * 16,
                "crs_srid": row["crs_srid"],
                "pix_to_crs": row["pix_to_crs"].asDict(),
            }],
            tiles.schema,
        )
        c.catalog.write("tiles", tiles.unionByName(bogus))
        state, _ = c.process_consolidation_job(job)  # temporary -> requeue
        assert state == "CONSOLIDATIONINPROGRESS", state
        state, _ = c.process_consolidation_job(job)  # exhausts -> FAILED
        assert state == "CONSOLIDATIONFAILED", state
        assert c.retry_job(job) == "CONSOLIDATIONINPROGRESS"
        c.catalog.write(
            "tiles", c.catalog.read("tiles").filter(F.size("px") != 16)
        )
        state, deletion_id = c.process_consolidation_job(job)
        assert state == "DONE" and deletion_id, state

    return cached(
        os.path.join(FIXTURE_DIR, "task_retry_catalog"),
        _code_files("client.py", "operators/consolidation.py", "streaming/jobs.py"),
        build,
    )


# Per-task failure accounting end-to-end (job.go:676-800 UpdateTask /
# updateTaskCounters + svc/operations.go:69-117 handleTaskEvt +
# cmd/consolidater/main.go:117-170 TryCount): the fixture job above fails
# one task ONCE, requeues it, exhausts the cap, retries, and completes.
# The Spark side reads the accounting trail the machine actually wrote
# (task states/try_counts, job counters, log-line classes); the oracle
# re-derives the expectations from FIRST PRINCIPLES on the base fixture
# parquet — the task count is the distinct tiled records of the argmax
# instance (the recipe's selection replayed in SQL), and the log-line
# counts follow arithmetically from the scenario (one poisoned task,
# max_tries=1: exactly one temporary-error requeue, one terminal
# "Job failed: 1 tasks failed", one retry reset, zero dead-letters).
@q(
    "task_retry_e2e",
    f"""
    WITH tiled AS (
        SELECT d.instance_id, d.record_id, d.id
        FROM read_parquet('{FIXTURE_DIR}/datasets.parquet') d
        JOIN (SELECT DISTINCT container_uri
              FROM read_parquet('{FIXTURE_DIR}/tiles.parquet')) t
          ON d.container_uri = t.container_uri
    ),
    pick AS (
        SELECT instance_id FROM tiled
        GROUP BY instance_id
        ORDER BY count(DISTINCT id) DESC, instance_id ASC
        LIMIT 1
    ),
    n_tasks AS (
        SELECT CAST(count(DISTINCT record_id) AS BIGINT) AS n FROM tiled
        WHERE instance_id = (SELECT instance_id FROM pick)
    )
    SELECT 'active_tasks' AS kind, CAST(0 AS BIGINT) AS n
    UNION ALL SELECT 'failed_tasks', 0
    UNION ALL SELECT 'job_failed_lines', 1
    UNION ALL SELECT 'retry_lines', 1
    UNION ALL SELECT 'tasks_done', (SELECT n FROM n_tasks)
    UNION ALL SELECT 'tasks_not_done', 0
    UNION ALL SELECT 'temporary_error_lines', 1
    UNION ALL SELECT 'too_many_tries_lines', 0
    UNION ALL SELECT 'try_count_nonzero', 0
    ORDER BY kind
    """,
)
def task_retry_e2e(spark, sf_dir):
    import uuid as _uuid_mod

    from geocube_spark.sources.catalog import Catalog

    root = ensure_task_retry_job(spark)
    cat = Catalog(spark, root)
    job_id = str(
        _uuid_mod.uuid5(_uuid_mod.NAMESPACE_URL, "geocube-spark/job/retry-e2e")
    )
    tasks = cat.read("tasks").filter(F.col("job_id") == job_id)
    logs = cat.read("job_logs").filter(F.col("job_id") == job_id)
    jrow = cat.read("jobs").filter(F.col("id") == job_id)

    def one(df, kind, expr):
        return df.agg(expr.cast("long").alias("n")).select(
            F.lit(kind).alias("kind"), "n"
        )

    parts = [
        jrow.select(
            F.lit("active_tasks").alias("kind"),
            F.col("active_tasks").cast("long").alias("n"),
        ),
        jrow.select(
            F.lit("failed_tasks").alias("kind"),
            F.col("failed_tasks").cast("long").alias("n"),
        ),
        one(logs, "job_failed_lines",
            F.count_if(F.col("message").startswith("Job failed:"))),
        one(logs, "retry_lines",
            F.count_if(F.col("message") == "Retry consolidation...")),
        one(tasks, "tasks_done", F.count_if(F.col("state") == "DONE")),
        one(tasks, "tasks_not_done", F.count_if(F.col("state") != "DONE")),
        one(logs, "temporary_error_lines",
            F.count_if(F.col("message").startswith("temporary error"))),
        one(logs, "too_many_tries_lines",
            F.count_if(F.col("message").contains("too many tries"))),
        one(tasks, "try_count_nonzero", F.count_if(F.col("try_count") != 0)),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("kind")
