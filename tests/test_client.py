"""GeocubeClient facade: the reference's API surface end-to-end over a
scratch catalog — create entities, index datasets, query cubes, manage
jobs."""

from __future__ import annotations

import shutil
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from geocube_spark.client import GeocubeClient
from geocube_spark.functions.geometry import rect_wkb
from geocube_spark.plans.find_datasets import DatasetFilters
from geocube_spark.plans.find_records import RecordFilters


@pytest.fixture(scope="module")
def client(spark, fixture_dir, tmp_path_factory):
    root = tmp_path_factory.mktemp("client_catalog")
    # seed with the fixture catalog so query methods have data
    for t in ("aoi", "records", "variables", "instances", "containers",
              "datasets", "tiles", "layouts", "cells", "jobs", "tasks",
              "container_layouts", "consolidation_params"):
        shutil.copy(f"{fixture_dir}/{t}.parquet", root / f"{t}.parquet")
    return GeocubeClient(spark, str(root))


class TestEntityLifecycle:
    def test_create_aoi_dedup(self, client):
        n_before = client.catalog.read("aoi").count()
        ids = client.create_aoi([rect_wkb(100, 0, 101, 1), rect_wkb(100, 0, 101, 1)])
        assert len(ids) == 1  # deduped within the call
        assert client.catalog.read("aoi").count() == n_before + 1
        # re-creating the same geometry adds nothing
        again = client.create_aoi([rect_wkb(100, 0, 101, 1)])
        assert again == ids
        assert client.catalog.read("aoi").count() == n_before + 1

    def test_create_records_and_tags(self, client):
        aoi_ids = client.create_aoi([rect_wkb(102, 0, 103, 1)])
        rids = client.create_records(
            ["CLIENT_0001", "CLIENT_0002"],
            {"CONSTELLATION": "TEST"},
            [datetime(2020, 1, 1), datetime(2020, 1, 2)],
            aoi_ids * 2,
        )
        assert len(rids) == 2
        client.add_records_tags(rids, {"PROC": "L2A"})
        got = client.list_records(RecordFilters(name_glob="CLIENT_*")).collect()
        assert len(got) == 2
        assert all(r["tags"]["PROC"] == "L2A" for r in got)
        client.remove_records_tags(rids, ["PROC"])
        got = client.list_records(RecordFilters(name_glob="CLIENT_*")).collect()
        assert all("PROC" not in r["tags"] for r in got)

    def test_bad_record_name_rejected(self, client):
        with pytest.raises(ValueError):
            client.create_records(["bad name"], {}, [datetime(2020, 1, 1)], ["x"])

    def test_variable_and_instance(self, client):
        vid = client.create_variable(
            "client_var", ["B1"],
            {"dtype": "Int16", "no_data": -32768.0, "min_value": 0.0, "max_value": 10000.0},
        )
        # instance names are SINGLE URN segments (variable.go:286-293):
        # slashes are rejected, unlike record/variable full URNs
        with pytest.raises(ValueError, match="Invalid Name"):
            client.instantiate_variable(vid, "client_var/default")
        iid = client.instantiate_variable(vid, "default")
        vs = client.list_variables("client_*").collect()
        assert len(vs) == 1 and vs[0]["id"] == vid
        assert iid

    def test_index_and_delete_datasets(self, client):
        aoi_ids = client.create_aoi([rect_wkb(104, 0, 105, 1)])
        rids = client.create_records(
            ["CLIENT_0003"], {}, [datetime(2020, 2, 1)], aoi_ids
        )
        n = client.index_datasets(
            [
                {
                    "record_id": rids[0],
                    "instance_id": "inst-x",
                    "container_uri": "file:///client/0.tif",
                    "subdir": "",
                    "bands": [1],
                    "status": "ACTIVE",
                    "dmapping": {
                        "dtype": "Int16", "no_data": -32768.0, "min_value": 0.0,
                        "max_value": 10000.0, "real_min_value": 0.0,
                        "real_max_value": 1.0, "exponent": 1.0,
                    },
                    "geom_wkb": rect_wkb(104, 0, 105, 1),
                    "shape_srid": 4326,
                    "overviews": False,
                    "locked_by_job_id": None,
                }
            ]
        )
        assert n == 1
        found = client.list_datasets(
            DatasetFilters(status="ACTIVE", record_ids=rids, order=False)
        ).collect()
        assert len(found) == 1
        # records still referenced cannot be deleted
        with pytest.raises(ValueError):
            client.delete_records(rids)
        n_deleted, manifest = client.delete_datasets(
            DatasetFilters(status=None, record_ids=rids, order=False)
        )
        assert n_deleted == 1
        # dead-container URIs land in the pending_deletions manifest table
        # (never collect()ed to the driver), returned as a DataFrame
        assert manifest.columns == ["uri"]
        assert client.catalog.exists("pending_deletions")
        assert client.delete_records(rids) == 1


class TestCubeSurface:
    def test_headers_and_pixels(self, client):
        flt = DatasetFilters(
            status="ACTIVE",
            time_from=datetime(2018, 1, 1),
            time_to=datetime(2018, 3, 1),
        )
        headers = client.get_cube_headers(flt).collect()
        assert len(headers) > 0
        pix_flt = DatasetFilters(
            status="ACTIVE", time_from=datetime(2018, 1, 1), time_to=datetime(2018, 3, 1),
            order=False,
            extra_dataset_predicates=[F.col("dmapping.no_data") == -32768.0],
        )
        cube = client.get_cube(pix_flt, nodata=-32768.0).collect()
        assert len(cube) == 4

    def test_min_valid_fraction_judged_per_block_size(self, spark, tmp_path):
        """A 256^2 block is judged against its own 65536 pixels, not a
        fixed 4096: at fraction 0.5 the 25%-valid block drops and the
        75%-valid one keeps."""
        import numpy as np

        from geocube_spark import schemas

        c = GeocubeClient(spark, str(tmp_path / "block256_catalog"))
        aoi = c.create_aoi([rect_wkb(10.0, 40.0, 10.08, 40.08)])
        rid = c.create_records(["BLOCK256"], {"KIND": "TEST"}, [datetime(2021, 1, 1)], aoi)[0]
        dm = {"dtype": "Float64", "no_data": -1.0, "min_value": -1e6, "max_value": 1e6}
        iid = c.instantiate_variable(c.create_variable("block256_var", ["B1"], dm), "default")
        uri = "file:///block256/0.tif"
        c.index_datasets([{
            "record_id": rid, "instance_id": iid, "container_uri": uri,
            "subdir": "", "bands": [1], "status": "ACTIVE",
            "dmapping": dict(dm, real_min_value=-1e6, real_max_value=1e6, exponent=1.0),
            "geom_wkb": rect_wkb(10.0, 40.0, 10.08, 40.08),
            "shape_srid": 4326, "overviews": False, "locked_by_job_id": None,
        }])
        n = 256 * 256
        tr = {"a": 0.01, "b": 0.0, "c": 10.0, "d": 0.0, "e": -0.01, "f": 40.08}
        tiles = []
        for bx, valid in enumerate((n // 4, 3 * n // 4)):
            px = np.full(n, -1.0)
            px[:valid] = 1.0
            tiles.append({
                "container_uri": uri, "band": 1, "level": 0, "block_x": bx,
                "block_y": 0, "px": px.tolist(), "crs_srid": 4326, "pix_to_crs": tr,
            })
        c.catalog.write("tiles", spark.createDataFrame(tiles, schemas.TILE))
        flt = DatasetFilters(status="ACTIVE", order=False)
        kept = c.get_cube(flt, nodata=-1.0, min_valid_fraction=0.5).collect()
        assert [r["block_x"] for r in kept] == [1]

    def test_dry_run_impact(self, client):
        impact = client.update_datasets_dry_run(DatasetFilters(status="ACTIVE", order=False))
        assert impact.count() >= 2

    def test_tile_aoi(self, client):
        cells = client.tile_aoi([(-165.0, -38.0, -150.0, -20.0)], "mgrs_like")
        assert cells.count() == 25
        with pytest.raises(KeyError):
            client.tile_aoi([(0.0, 0.0, 1.0, 1.0)], "nope")


class TestJobSurface:
    def test_job_listing_and_transition(self, client):
        jobs = client.list_jobs().collect()
        assert len(jobs) == 5
        counters = client.job_task_counters().collect()
        assert len(counters) == 5
        new_state = client.advance_job("job-0", "ok")  # NEW -> CREATED
        assert new_state == "CREATED"
        assert (
            client.list_jobs().filter(F.col("id") == "job-0").first()["state"] == "CREATED"
        )
        with pytest.raises(ValueError):
            client.advance_job("job-3", "ok")  # DONE has no ok-arc


class TestLayoutSurface:
    def test_find_container_layouts(self, client):
        from geocube_spark.plans.find_datasets import DatasetFilters

        out = client.find_container_layouts(DatasetFilters(status="ACTIVE", order=False)).collect()
        assert len(out) == 3  # fixture containers round-robin over 3 layouts
        assert all(r["n_containers"] > 0 for r in out)
        names = [r["layout_name"] for r in out]
        assert names == sorted(names)

    def test_consolidation_params(self, client):
        vid = client.catalog.read("variables").first()["id"]
        params = client.get_consolidation_params(vid)
        assert params["compression"] in {"NONE", "LOSSLESS", "LOSSY"}
        assert params["dformat"]["dtype"]
        import pytest as _pytest

        with _pytest.raises(KeyError):
            client.get_consolidation_params("nope")


class TestClientExtensions:
    def test_focal_dispatch_and_zonal(self, spark, tmp_path):
        import numpy as np

        from geocube_spark.client import GeocubeClient

        gc = GeocubeClient(spark, str(tmp_path / "cat"))
        B = 4
        rows = [(0, 0, list(map(float, range(16))),
                 {"a": 1.0, "b": 0.0, "c": 0.0, "d": 0.0, "e": -1.0, "f": 4.0})]
        tiles = spark.createDataFrame(
            rows,
            "block_x long, block_y long, px array<double>, "
            "pix_to_crs struct<a:double,b:double,c:double,d:double,e:double,f:double>",
        )
        assert gc.focal(tiles, "mean", block=B).count() == 1
        assert gc.focal(tiles, "slope", block=B, cellsize=30.0).count() == 1
        import pytest as _pytest

        with _pytest.raises(ValueError):
            gc.focal(tiles, "sobel", block=B)
        zones = spark.createDataFrame(
            [(0, 0.0, 0.0, 4.0, 4.0)],
            "zone_id int, xmin double, ymin double, xmax double, ymax double",
        )
        z = gc.zonal_statistics(tiles, zones, block=B).collect()[0]
        assert z["n_pixels"] == 16 and z["sum_value"] == sum(range(16))
        pts = spark.createDataFrame([(7, 1.5, 2.5)],
                                    "point_id long, x double, y double")
        v = gc.sample_points(
            tiles, pts, transform=(1.0, 0.0, 0.0, 0.0, -1.0, 4.0), block=B
        ).collect()[0]["value"]
        assert v == np.arange(16.0).reshape(4, 4)[1, 1]


class TestLayoutGridPaletteCRUD:
    """Layout/grid/palette CRUD (geocube.proto RPC list) with the
    reference's validation + in-use delete guards."""

    @pytest.fixture()
    def crud_client(self, spark, tmp_path):
        return GeocubeClient(spark, str(tmp_path / "crud_catalog"))

    def test_layout_crud(self, crud_client):
        c = crud_client
        c.create_layout(
            "utm_256", {"grid": "regular", "crs": "epsg:32631",
                        "cell_size": "256", "resolution": "10"},
        )
        assert [r["name"] for r in c.list_layouts().collect()] == ["utm_256"]
        # duplicate name rejected
        with pytest.raises(ValueError, match="already exists"):
            c.create_layout("utm_256", {"grid": "regular"})
        # validation: layout.go:116-132
        with pytest.raises(ValueError, match="invalid name"):
            c.create_layout("bad name", {})
        with pytest.raises(ValueError, match="positive"):
            c.create_layout("l2", {}, block_x_size=0)
        with pytest.raises(ValueError, match="InterlacingPattern"):
            c.create_layout("l3", {}, interlacing_pattern="Z>T")
        c.delete_layout("utm_256")
        assert c.list_layouts().count() == 0
        with pytest.raises(KeyError):
            c.delete_layout("utm_256")

    def test_delete_layout_in_use_guard(self, spark, fixture_dir, tmp_path):
        import shutil

        root = tmp_path / "cat"
        root.mkdir()
        for t in ("layouts", "container_layouts"):
            shutil.copy(f"{fixture_dir}/{t}.parquet", root / f"{t}.parquet")
        c = GeocubeClient(spark, str(root))
        used = c.catalog.read("container_layouts").first()["layout_name"]
        with pytest.raises(ValueError, match="still referenced"):
            c.delete_layout(used)

    def test_grid_crud_and_cover_integration(self, crud_client):
        from geocube_spark.functions.geometry import rect_wkb

        c = crud_client
        cells = [
            {"id": f"Z{i}", "crs": f"epsg:{32630 + i}", "srid": 32630 + i,
             "geom_wkb": rect_wkb(-6.0 + 6 * i, 40.0, 0.0 + 6 * i, 48.0)}
            for i in range(2)
        ]
        c.create_grid("test_mgrs", "two UTM-ish cells", cells)
        got = c.list_grids().collect()
        assert [(r["grid"], r["n_cells"]) for r in got] == [("test_mgrs", 2)]
        with pytest.raises(ValueError, match="already exists"):
            c.create_grid("test_mgrs", "", cells)
        with pytest.raises(ValueError, match="reserved"):
            c.create_grid("regular", "", cells)
        # an API-created grid drives cover_for_layout end-to-end (TileAOI)
        c.create_layout(
            "mgrs_layout", {"grid": "test_mgrs", "resolution": "100"},
        )
        tiles = c.tile_aoi([(-4.0, 41.0, 8.0, 43.0)], "mgrs_layout")
        rows = tiles.collect()
        assert {r["cell_id"] for r in rows} == {"Z0", "Z1"}
        assert all(r["width"] > 0 and r["height"] > 0 for r in rows)
        # in-use guard, then cascading delete works once the layout is gone
        with pytest.raises(ValueError, match="still used"):
            c.delete_grid("test_mgrs")
        c.delete_layout("mgrs_layout")
        c.delete_grid("test_mgrs")
        assert c.list_grids().count() == 0

    def test_palette_crud(self, crud_client):
        from geocube_spark.functions.palette import ColorPoint

        c = crud_client
        pts = [
            ColorPoint(0.0, 0, 0, 0, 255),
            ColorPoint(0.5, 255, 0, 0, 255),
            ColorPoint(1.0, 255, 255, 255, 255),
        ]
        c.create_palette("inferno-ish", pts)
        assert c.get_palette("inferno-ish") == pts
        with pytest.raises(ValueError, match="already exists"):
            c.create_palette("inferno-ish", pts)
        # replace flag mirrors the RPC
        c.create_palette("inferno-ish", pts[:1] + pts[2:], replace=True)
        assert len(c.get_palette("inferno-ish")) == 2
        with pytest.raises(ValueError, match="Palette Points"):
            c.create_palette("p2", pts[:1])

    def test_config_consolidation_normalizes(self, crud_client):
        c = crud_client
        row = c.config_consolidation(
            "var-1",
            {"dtype": "Float32", "no_data": float("nan"),
             "min_value": 0.0, "max_value": 1.0},
            compression="LOSSLESS",
        )
        assert row["creation_params"]["COMPRESS"] == "ZSTD"
        got = c.get_consolidation_params("var-1")
        assert got["creation_params"]["PREDICTOR"] == "2"
        # upsert: second config replaces the row
        c.config_consolidation(
            "var-1",
            {"dtype": "UInt8", "no_data": 0.0, "min_value": 1.0, "max_value": 255.0},
            compression="CUSTOM", creation_params={"COMPRESS": "JPEG"},
        )
        got = c.get_consolidation_params("var-1")
        assert got["creation_params"] == {"COMPRESS": "JPEG"}
        with pytest.raises(ValueError, match="not supported"):
            c.config_consolidation(
                "var-2",
                {"dtype": "Float32", "no_data": float("nan"),
                 "min_value": 0.0, "max_value": 1.0},
                compression="CUSTOM", creation_params={"COMPRESS": "JPEG"},
            )

    def test_index_datasets_variable_compat(self, spark, tmp_path):
        """dataset.go:191-206 enforced on the index path."""
        from geocube_spark.functions.geometry import rect_wkb

        c = GeocubeClient(spark, str(tmp_path / "vc_catalog"))
        vid = c.create_variable(
            "NDVI", ["B1"],
            {"dtype": "Int16", "no_data": -32768.0, "min_value": -10000.0,
             "max_value": 10000.0},
        )
        iid = c.instantiate_variable(vid, "default")
        base = {
            "record_id": "r-1", "instance_id": iid, "container_uri": "s3://demo/c1",
            "subdir": "", "status": "ACTIVE", "geom_wkb": rect_wkb(0, 0, 1, 1),
            "shape_srid": 4326, "overviews": False, "locked_by_job_id": None,
            "dmapping": {"dtype": "Int16", "no_data": -32768.0, "min_value": 0.0,
                         "max_value": 10000.0, "real_min_value": 0.0,
                         "real_max_value": 1.0, "exponent": 1.0},
        }
        assert c.index_datasets([{**base, "bands": [1]}]) == 1
        with pytest.raises(ValueError, match="number of bands"):
            c.index_datasets([{**base, "bands": [1, 2]}])
        bad_range = {
            **base["dmapping"], "real_min_value": 20000.0, "real_max_value": 30000.0,
        }
        with pytest.raises(ValueError, match="does not intersect"):
            c.index_datasets([{**base, "bands": [1], "dmapping": bad_range}])


class TestFullRpcSurface:
    """The remaining geocube.proto RPCs as client methods: GetAOI,
    Get/Update/DeleteVariable, Update/DeleteInstance, GetContainers,
    GetJob/Retry/Cancel/Continue/CleanJobs, Version."""

    @pytest.fixture()
    def rpc_client(self, spark, fixture_dir, tmp_path):
        import shutil as _sh

        root = tmp_path / "rpc_catalog"
        root.mkdir()
        for t in ("aoi", "records", "variables", "instances", "containers",
                  "datasets", "jobs", "tasks", "locked_datasets"):
            _sh.copy(f"{fixture_dir}/{t}.parquet", root / f"{t}.parquet")
        return GeocubeClient(spark, str(root))

    def test_get_records_by_ids(self, rpc_client):
        """GetRecords (pg_records.go:193-225): request order preserved,
        missing ids are EntityNotFound, and RecordFilters.ids drives the
        same id predicate through the find_records plan."""
        rows = rpc_client.catalog.read("records").orderBy("id").take(3)
        ids = [rows[2]["id"], rows[0]["id"], rows[1]["id"]]  # shuffled order
        got = rpc_client.get_records(ids)
        assert [g["id"] for g in got] == ids  # preserveOrder semantics
        assert got[0]["name"] == rows[2]["name"]
        with pytest.raises(KeyError, match="nope"):
            rpc_client.get_records([ids[0], "nope"])
        # the filter arm drops unknowns instead of erroring
        flt = rpc_client.list_records(RecordFilters(ids=[ids[0], "nope"])).collect()
        assert [r["id"] for r in flt] == [ids[0]]

    def test_get_aoi(self, rpc_client):
        some = rpc_client.catalog.read("aoi").first()
        got = rpc_client.get_aoi(some["id"])
        assert got["hash"] == some["hash"] and got["bbox"]["xmax"] >= got["bbox"]["xmin"]
        with pytest.raises(KeyError):
            rpc_client.get_aoi("nope")

    def test_get_update_delete_variable(self, rpc_client):
        c = rpc_client
        vid = c.create_variable(
            "RPC_VAR", ["B1"],
            {"dtype": "Int16", "no_data": -32768.0, "min_value": 0.0, "max_value": 100.0},
        )
        iid = c.instantiate_variable(vid, "default")
        # all three lookup arms resolve to the same variable + instances
        by_id = c.get_variable(variable_id=vid)
        by_name = c.get_variable(name="RPC_VAR")
        by_inst = c.get_variable(instance_id=iid)
        assert by_id["id"] == by_name["id"] == by_inst["id"] == vid
        assert [i["id"] for i in by_id["instances"]] == [iid]
        # user-data update re-validates (variable.go:191-217)
        c.update_variable(vid, unit="index", description="rpc test", palette="magma")
        got = c.get_variable(variable_id=vid)
        assert got["unit"] == "index" and got["palette"] == "magma"
        with pytest.raises(ValueError, match="Incorrect name"):
            c.update_variable(vid, name="bad name")
        # instance update: rename + metadata upsert/delete, dup-name guard
        c.update_instance(iid, add_metadata={"PROC": "L2A", "V": "1"})
        c.update_instance(iid, del_metadata_keys=["V"], name="main")
        inst = c.get_variable(variable_id=vid)["instances"][0]
        assert inst["name"] == "main" and inst["metadata"] == {"PROC": "L2A"}
        other = c.instantiate_variable(vid, "second")
        with pytest.raises(ValueError, match="already exists"):
            c.update_instance(other, name="main")
        # deletes: instance first, then the variable (no datasets -> allowed)
        c.delete_instance(other)
        c.delete_variable(vid)
        with pytest.raises(KeyError):
            c.get_variable(variable_id=vid)

    def test_delete_guards_on_referenced_entities(self, rpc_client):
        c = rpc_client
        used_inst = c.catalog.read("datasets").first()["instance_id"]
        with pytest.raises(ValueError, match="referenced"):
            c.delete_instance(used_inst)
        used_var = (
            c.catalog.read("instances")
            .filter(F.col("id") == used_inst)
            .first()["variable_id"]
        )
        with pytest.raises(ValueError, match="referenced"):
            c.delete_variable(used_var)

    def test_get_containers(self, rpc_client):
        c = rpc_client
        uris = [r["container_uri"] for r in
                c.catalog.read("datasets").select("container_uri").distinct().limit(2).collect()]
        got = {r["uri"]: r for r in c.get_containers(uris).collect()}
        assert set(got) == set(uris)
        assert all(len(r["datasets"]) >= 1 for r in got.values())

    def test_job_control_arcs(self, rpc_client):
        c = rpc_client
        # job-0 is NEW and NOT paused: the plain-cancel arc is waiting-only
        # (job.go:395-401), so it is refused; the forced cancel lands
        with pytest.raises(ValueError):
            c.cancel_job("job-0")
        assert c.cancel_job("job-0", force=True) == "ABORTED"
        # job-2 is mid-consolidation: both cancel flavors land there
        assert c.cancel_job("job-2") == "CONSOLIDATIONCANCELLING"
        # cancellation failure -> CANCELLATIONFAILED, then Retried resumes
        # the cancellation (the retry arc, jobs.py CONSOLIDATION_ARCS)
        assert c.advance_job("job-2", "CancellationFailed") == "CANCELLATIONFAILED"
        assert c.retry_job("job-2") == "CONSOLIDATIONCANCELLING"
        # generic FAILED is terminal: retry is an unhandled event there
        with pytest.raises(ValueError):
            c.retry_job("job-4", force=True)
        # job-1 is a step-by-step job PAUSED at CREATED: Continue clears the
        # pause flag without changing state (trigger precedence rule 1)
        assert c.continue_job("job-1") == "CREATED"
        got = c.get_job("job-1")
        assert got["waiting"] is False
        with pytest.raises(ValueError):  # not paused anymore -> refused
            c.continue_job("job-1")
        assert got["id"] == "job-1" and isinstance(got.get("tasks", {}), dict)
        # clean terminated jobs: job-3 is DONE; its tasks and locks go too
        n_before = c.catalog.read("jobs").count()
        assert c.clean_jobs(states=("DONE",)) == 1
        assert c.catalog.read("jobs").count() == n_before - 1
        assert (
            c.catalog.read("tasks").filter(F.col("job_id") == "job-3").count() == 0
        )
        assert c.clean_jobs(states=("DONE",)) == 0  # idempotent

    def test_version(self, rpc_client):
        assert rpc_client.version()


class TestConsolidateOrchestration:
    """client.consolidate(): csldInit + csldPrepareOrders end-to-end
    (svc/service.go:430-461 ConsolidateFromRecords/Filters,
    consolidater.go:108-151 csldInit, 166-407 csldPrepareOrders)."""

    @pytest.fixture()
    def csld_client(self, spark, fixture_dir, tmp_path):
        import shutil as _sh

        root = tmp_path / "csld_catalog"
        root.mkdir()
        for t in ("aoi", "records", "variables", "instances", "containers",
                  "datasets", "layouts", "consolidation_params", "jobs",
                  "tasks", "locked_datasets"):
            _sh.copy(f"{fixture_dir}/{t}.parquet", root / f"{t}.parquet")
        c = GeocubeClient(spark, str(root))
        # release the fixture's job-0 INIT locks so the new job can lock
        # freely (the conflict arm is tested separately below)
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
        return c

    def _an_instance(self, c):
        return c.catalog.read("instances").orderBy("name").first()["id"]

    def test_consolidate_to_in_progress(self, csld_client):
        c = csld_client
        inst = self._an_instance(c)
        job_id = c.consolidate("csld-e2e", inst, "regular_256")
        job = c.get_job(job_id)
        assert job["state"] == "CONSOLIDATIONINPROGRESS"
        tasks = c.catalog.read("tasks").filter(F.col("job_id") == job_id)
        n_tasks = tasks.count()
        assert n_tasks >= 1 and job["active_tasks"] == n_tasks
        assert job["tasks"] == {"NEW": n_tasks}
        # every task payload is a ConsolidationEvent with the dataset list
        import json

        payloads = [json.loads(bytes(r["payload"])) for r in tasks.collect()]
        assert all(
            p["out_container_uri"].startswith("consolidated/")
            and p["n_datasets"] == len(p["dataset_ids"]) >= 1
            for p in payloads
        )
        # locks moved INIT -> TODELETE (flag 1) for exactly the task datasets
        locked = c.catalog.read("locked_datasets").filter(F.col("job_id") == job_id)
        assert locked.filter(F.col("flag") == 0).count() == 0
        locked_ids = {r["dataset_id"] for r in locked.collect()}
        task_ids = {i for p in payloads for i in p["dataset_ids"]}
        assert locked_ids == task_ids
        # the datasets table's lock column agrees (F11 reads it)
        col_locked = {
            r["id"]
            for r in c.catalog.read("datasets")
            .filter(F.col("locked_by_job_id") == job_id)
            .collect()
        }
        assert col_locked == task_ids
        # selected-but-planned-away datasets were RELEASED: every ACTIVE
        # dataset of the instance intersecting a cell is in the task set
        # (regular_256 covers the whole union extent, so all are)
        sel = (
            c.catalog.read("datasets")
            .filter((F.col("status") == "ACTIVE") & (F.col("instance_id") == inst))
            .count()
        )
        assert len(task_ids) == sel

    def test_cancel_and_retry_arcs_replay(self, csld_client):
        c = csld_client
        inst = self._an_instance(c)
        job_id = c.consolidate("csld-arcs", inst, "regular_256")
        # plain cancel lands mid-consolidation (job.go:395-401)
        assert c.cancel_job(job_id) == "CONSOLIDATIONCANCELLING"
        assert c.advance_job(job_id, "CancellationDone") == "ABORTED"
        # rollback completes the cancellation: ABORTED -> FAILED (job.go:503-508)
        assert c.advance_job(job_id, "RollbackDone") == "FAILED"
        # a second job on the same datasets: the first job's TODELETE locks
        # are still held, so init refuses (pg lock-conflict twin)
        with pytest.raises(ValueError, match="locked by another job"):
            c.consolidate("csld-arcs-2", inst, "regular_256")
        # retry arc on a fresh job driven to failure
        inst2 = (
            c.catalog.read("instances").orderBy("name").collect()[1]["id"]
        )
        job2 = c.consolidate("csld-retry", inst2, "regular_256")
        assert c.advance_job(job2, "ConsolidationFailed") == "CONSOLIDATIONFAILED"
        # retry runs CONSOLIDATIONRETRYING's on-enter action
        # (csldConsolidationRetry: FAILED tasks reset to NEW, then
        # OrdersPrepared re-advances) and lands back in progress
        assert c.retry_job(job2) == "CONSOLIDATIONINPROGRESS"
        tstates = {
            r["state"]
            for r in c.catalog.read("tasks")
            .filter(F.col("job_id") == job2)
            .collect()
        }
        assert tstates == {"NEW"}

    def test_step_by_step_pauses_then_continues(self, csld_client):
        from geocube_spark.streaming.jobs import STEP_MAJOR

        c = csld_client
        inst = self._an_instance(c)
        job_id = c.consolidate(
            "csld-steps", inst, "regular_256", execution_level=STEP_MAJOR
        )
        job = c.get_job(job_id)
        # paused at CREATED BEFORE planning: no tasks yet
        assert job["state"] == "CREATED" and job["waiting"]
        assert c.catalog.read("tasks").filter(F.col("job_id") == job_id).count() == 0
        assert c.continue_consolidation(job_id) == "CONSOLIDATIONINPROGRESS"
        assert c.catalog.read("tasks").filter(F.col("job_id") == job_id).count() >= 1

    def test_error_arms(self, csld_client):
        c = csld_client
        inst = self._an_instance(c)
        with pytest.raises(KeyError, match="No dataset found"):
            c.consolidate("csld-none", inst, "regular_256",
                          record_ids=["no-such-record"])
        with pytest.raises(KeyError, match="layout"):
            c.consolidate("csld-nolayout", inst, "nope_layout")
        with pytest.raises(ValueError, match="regular-grid"):
            c.consolidate("csld-custom", inst, "mgrs_like")


class TestConsolidationLifecycle:
    """process_consolidation_job: the worker + csldIndex + csldSwap +
    csldDelete arcs end-to-end — a job goes CONSOLIDATIONINPROGRESS ->
    DONE with real MuCOG bytes on disk, new ACTIVE datasets indexed, old
    rows TODELETE under a spawned deletion job (consolidater.go:559-717,
    handler_consolidation.go)."""

    @pytest.fixture()
    def lc(self, spark, fixture_dir, tmp_path):
        import shutil as _sh

        root = tmp_path / "lc_catalog"
        root.mkdir()
        for t in ("aoi", "records", "variables", "instances", "containers",
                  "datasets", "tiles", "layouts", "consolidation_params",
                  "jobs", "tasks", "locked_datasets"):
            _sh.copy(f"{fixture_dir}/{t}.parquet", root / f"{t}.parquet")
        c = GeocubeClient(spark, str(root))
        c.catalog.write(
            "datasets",
            c.catalog.read("datasets").withColumn(
                "locked_by_job_id", F.lit(None).cast("string")
            ),
        )
        return c

    def _tiled_selection(self, c):
        """(instance_id, record_ids) of the tile-backed datasets richest
        instance — the fixture's tiles cover the first 12 datasets."""
        tiled = (
            c.catalog.read("tiles").select("container_uri").distinct()
            .join(c.catalog.read("datasets"), "container_uri")
            .select("instance_id", "record_id", "id")
            .collect()
        )
        by_inst = {}
        for r in tiled:
            by_inst.setdefault(r["instance_id"], []).append(r)
        inst, rows = max(by_inst.items(), key=lambda kv: len(kv[1]))
        return inst, sorted({r["record_id"] for r in rows}), [r["id"] for r in rows]

    def _prepare(self, c, name):
        inst, rec_ids, ds_ids = self._tiled_selection(c)
        var_id = (
            c.catalog.read("instances").filter(F.col("id") == inst).first()["variable_id"]
        )
        # a float64 recipe keeps the written pixels bit-identical to the
        # tile table (no cast in the rewrite)
        c.config_consolidation(
            var_id,
            {"dtype": "Float64", "no_data": -32768.0,
             "min_value": -1e12, "max_value": 1e12},
            compression="NO",
        )
        c.create_layout(
            name + "_layout",
            {"grid": "regular", "crs": "epsg:4326", "cell_size": "256",
             "resolution": "1000000", "ox": "0", "oy": "0"},  # one world cell
            max_records=1024,
        )
        job = c.consolidate(name, inst, name + "_layout", record_ids=rec_ids)
        return inst, rec_ids, ds_ids, job

    def test_full_lifecycle_to_done(self, lc, tmp_path):
        import numpy as np

        from geocube_spark.sources.gtiff import read_tiff

        c = lc
        inst, rec_ids, ds_ids, job = self._prepare(c, "lifecycle")
        state, deletion_id = c.process_consolidation_job(job)
        assert state == "DONE" and deletion_id
        assert c.get_job(job)["state"] == "DONE"
        # every task consumed
        tstates = {r["state"] for r in
                   c.catalog.read("tasks").filter(F.col("job_id") == job).collect()}
        assert tstates == {"DONE"}
        # old datasets swapped out, locked by the spawned deletion job
        old = c.catalog.read("datasets").filter(F.col("id").isin(ds_ids)).collect()
        assert {r["status"] for r in old} == {"TODELETE"}
        assert {r["locked_by_job_id"] for r in old} == {deletion_id}
        dj = c.get_job(deletion_id)
        assert dj["type"] == "deletion" and dj["state"] == "NEW"
        # new datasets ACTIVE on consolidated containers, released
        new = (
            c.catalog.read("datasets")
            .filter(F.col("container_uri").startswith("consolidated/"))
            .collect()
        )
        assert new and {r["status"] for r in new} == {"ACTIVE"}
        assert {r["instance_id"] for r in new} == {inst}
        assert {r["record_id"] for r in new} == set(rec_ids)
        assert all(r["locked_by_job_id"] is None for r in new)
        # the read path now serves the job's records from the NEW containers
        served = c.list_datasets(
            DatasetFilters(status="ACTIVE", instance_ids=[inst],
                           record_ids=rec_ids, order=False)
        ).collect()
        assert {r["container_uri"] for r in served} == {r["container_uri"] for r in new}
        # ---- byte-level proof: decode one written MuCOG and replay one
        # record's pixels against the tile table
        uri = new[0]["container_uri"]
        path = f"{c.catalog.root}/consolidated_data/{uri}.tif"
        imgs = read_tiff(open(path, "rb").read())
        assert len(imgs) == len(rec_ids)  # one image per record, time order
        recs = [
            (r["id"], r["datetime"]) for r in
            c.catalog.read("records").filter(F.col("id").isin(rec_ids)).collect()
        ]
        by_time = sorted(recs, key=lambda x: (x[1], x[0]))
        first_rec = by_time[0][0]
        src_ds = next(r for r in old if r["record_id"] == first_rec)
        tiles = (
            c.catalog.read("tiles")
            .filter(F.col("container_uri") == src_ds["container_uri"])
            .collect()
        )
        n = int(round(len(tiles[0]["px"]) ** 0.5))
        bx1 = max(t["block_x"] for t in tiles); by1 = max(t["block_y"] for t in tiles)
        want = np.full(((by1 + 1) * n, (bx1 + 1) * n), -32768.0)
        for t in tiles:
            want[t["block_y"] * n:(t["block_y"] + 1) * n,
                 t["block_x"] * n:(t["block_x"] + 1) * n] = np.asarray(
                t["px"]).reshape(n, n)
        got = imgs[0].bands[0]
        assert got.dtype == np.float64
        assert got.shape == want.shape
        # the fixture's nodata stripes carry NaN for float-nodata sources
        assert np.array_equal(got, want, equal_nan=True)

    def test_cancel_marker_aborts_before_publish(self, lc, tmp_path):
        from geocube_spark.operators.consolidation import request_cancellation

        c = lc
        _, _, ds_ids, job = self._prepare(c, "lifecycle_cxl")
        cancel_dir = str(tmp_path / "cancel")
        request_cancellation(cancel_dir, job)
        state, deletion = c.process_consolidation_job(job, cancel_dir=cancel_dir)
        assert state == "ABORTED" and deletion is None
        assert c.get_job(job)["state"] == "ABORTED"
        # nothing published: no consolidated containers, old rows untouched
        assert (
            c.catalog.read("datasets")
            .filter(F.col("container_uri").startswith("consolidated/"))
            .count() == 0
        )
        assert {r["status"] for r in
                c.catalog.read("datasets").filter(F.col("id").isin(ds_ids)).collect()
                } == {"ACTIVE"}


class TestDeletionJob:
    """delete_datasets_job / process_deletion_job: the deletion state
    machine end-to-end (service.go:380-392 delInit, operations.go:120-412
    handlers) — including the job spawned by a finished consolidation."""

    @pytest.fixture()
    def dc(self, spark, fixture_dir, tmp_path):
        import shutil as _sh

        root = tmp_path / "del_catalog"
        root.mkdir()
        for t in ("aoi", "records", "variables", "instances", "containers",
                  "datasets", "tiles", "layouts", "consolidation_params",
                  "jobs", "tasks", "locked_datasets"):
            _sh.copy(f"{fixture_dir}/{t}.parquet", root / f"{t}.parquet")
        c = GeocubeClient(spark, str(root))
        c.catalog.write(
            "datasets",
            c.catalog.read("datasets").withColumn(
                "locked_by_job_id", F.lit(None).cast("string")
            ),
        )
        return c

    def test_standalone_deletion_job(self, dc):
        c = dc
        # pick an instance; delete all its ACTIVE datasets via the job path
        inst = (
            c.catalog.read("datasets").filter(F.col("status") == "ACTIVE")
            .groupBy("instance_id").count().orderBy(F.desc("count"), "instance_id")
            .first()["instance_id"]
        )
        before = (
            c.catalog.read("datasets")
            .filter((F.col("status") == "ACTIVE") & (F.col("instance_id") == inst))
        )
        n_before = before.count()
        doomed_uris = {r["container_uri"] for r in before.select("container_uri").collect()}
        job = c.delete_datasets_job("del_job", instance_ids=[inst])
        assert c.get_job(job)["state"] == "CREATED"
        # locks held: a consolidation on the same datasets refuses
        with pytest.raises(ValueError, match="locked by another job"):
            c.delete_datasets_job("del_job_2", instance_ids=[inst])
        assert c.process_deletion_job(job) == "DONE"
        after = c.catalog.read("datasets").filter(F.col("instance_id") == inst)
        assert after.filter(F.col("status") != "INACTIVE").count() == 0
        assert n_before > 0
        # emptied containers left the containers table; managed ones are
        # in the storage-GC manifest
        left = {r["uri"] for r in c.catalog.read("containers").collect()}
        survivors_uris = {
            r["container_uri"] for r in c.catalog.read("datasets").collect()
        }
        emptied = doomed_uris - survivors_uris
        assert emptied and not (emptied & left)
        manifest = {r["uri"] for r in c.catalog.read("pending_deletions").collect()}
        assert manifest <= emptied and manifest  # managed subset
        # tasks consumed, locks released
        tstates = {r["state"] for r in
                   c.catalog.read("tasks").filter(F.col("job_id") == job).collect()}
        assert tstates == {"DONE"}
        assert c.catalog.read("locked_datasets").filter(
            F.col("job_id") == job).count() == 0

    def test_deletion_no_match_raises(self, dc):
        with pytest.raises(KeyError, match="No dataset found"):
            dc.delete_datasets_job("del_none", record_ids=["nope"])

    def test_consolidation_spawned_deletion_completes(self, dc, tmp_path):
        """The full circle: consolidate -> process -> run the spawned
        deletion job -> the OLD datasets and their emptied containers are
        gone, the new consolidated ones serve reads."""
        c = dc
        helper = TestConsolidationLifecycle()
        inst, rec_ids, ds_ids, job = helper._prepare(c, "circle")
        state, deletion_id = c.process_consolidation_job(job)
        assert state == "DONE"
        old_uris = {
            r["container_uri"] for r in
            c.catalog.read("datasets").filter(F.col("id").isin(ds_ids)).collect()
        }
        assert c.process_deletion_job(deletion_id) == "DONE"
        # old rows physically removed
        assert c.catalog.read("datasets").filter(F.col("id").isin(ds_ids)).count() == 0
        # their emptied containers dropped from the containers table
        left = {r["uri"] for r in c.catalog.read("containers").collect()}
        survivors_uris = {
            r["container_uri"] for r in c.catalog.read("datasets").collect()
        }
        assert not ((old_uris - survivors_uris) & left)
        # the records still serve — now exclusively from consolidated data
        served = c.list_datasets(
            DatasetFilters(status="ACTIVE", instance_ids=[inst],
                           record_ids=rec_ids, order=False)
        ).collect()
        assert served
        assert all(r["container_uri"].startswith("consolidated/") for r in served)


class TestCollapseConsolidation:
    """collapse_on_record_id (operations.proto:177): every dataset merges
    into ONE record's image per container, originals are KEPT, no
    deletion job spawns — the reference's collapse branches of
    csldPrepareOrders / csldSwapDatasets."""

    def _aligned_catalog(self, spark, tmp_path):
        """A from-scratch catalog built THROUGH the client APIs: three
        records sharing one AOI/grid (the engine's post-warp alignment
        precondition), one dataset+container each, deterministic pixels
        with per-record nodata holes, plus a fourth record to collapse
        onto."""
        import numpy as np

        from geocube_spark import schemas

        c = GeocubeClient(spark, str(tmp_path / "collapse_catalog"))
        aoi = c.create_aoi([rect_wkb(10.0, 40.0, 10.08, 40.08)])
        rids = c.create_records(
            [f"COLLAPSE_SRC_{i}" for i in range(3)] + ["COLLAPSE_TARGET"],
            {"KIND": "TEST"},
            [datetime(2021, 1, d + 1) for d in range(3)] + [datetime(2021, 2, 1)],
            aoi * 4,
        )
        vid = c.create_variable(
            "collapse_var", ["B1"],
            {"dtype": "Float64", "no_data": -1.0,
             "min_value": -1e6, "max_value": 1e6},
        )
        iid = c.instantiate_variable(vid, "default")
        c.config_consolidation(
            vid, {"dtype": "Float64", "no_data": -1.0,
                  "min_value": -1e6, "max_value": 1e6},
            compression="NO",
        )
        dm = {"dtype": "Float64", "no_data": -1.0, "min_value": -1e6,
              "max_value": 1e6, "real_min_value": -1e6, "real_max_value": 1e6,
              "exponent": 1.0}
        n = 4
        tile_rows, expected = [], {}
        tr = {"a": 0.01, "b": 0.0, "c": 10.0, "d": 0.0, "e": -0.01, "f": 40.08}
        for i, rid in enumerate(rids[:3]):
            uri = f"file:///collapse/{i}.tif"
            c.index_datasets([{
                "record_id": rid, "instance_id": iid, "container_uri": uri,
                "subdir": "", "bands": [1], "status": "ACTIVE", "dmapping": dm,
                "geom_wkb": rect_wkb(10.0, 40.0, 10.08, 40.08),
                "shape_srid": 4326, "overviews": False,
                "locked_by_job_id": None,
            }])
            for by in range(2):
                for bx in range(2):
                    px = np.fromfunction(
                        lambda r, q: 100.0 * i + 10 * by + bx + r * n + q,
                        (n, n),
                    )
                    # record i punches nodata where (linear idx % 3) == i
                    hole = (np.arange(n * n).reshape(n, n) % 3) == i
                    px[hole] = -1.0
                    tile_rows.append({
                        "container_uri": uri, "band": 1, "level": 0,
                        "block_x": bx, "block_y": by,
                        "px": px.ravel().tolist(), "crs_srid": 4326,
                        "pix_to_crs": tr,
                    })
                    key = (bx, by)
                    cur = expected.get(key)
                    # latest record wins where valid (ascending i = time)
                    if cur is None:
                        expected[key] = px.copy()
                    else:
                        cur[px != -1.0] = px[px != -1.0]
        c.catalog.write(
            "tiles", spark.createDataFrame(tile_rows, schemas.TILE)
        )
        c.create_layout(
            "collapse_layout",
            {"grid": "regular", "crs": "epsg:4326", "cell_size": "256",
             "resolution": "1000", "ox": "0", "oy": "0"},
            max_records=1024,
        )
        return c, rids, expected

    def test_collapse_lifecycle(self, spark, tmp_path):
        import numpy as np

        from geocube_spark.sources.gtiff import read_tiff

        c, rids, expected = self._aligned_catalog(spark, tmp_path)
        target = rids[3]
        inst = c.catalog.read("instances").first()["id"]
        job = c.consolidate(
            "collapse_job", inst, "collapse_layout",
            record_ids=rids[:3], collapse_on_record_id=target,
        )
        state, deletion = c.process_consolidation_job(job)
        assert state == "DONE" and deletion is None
        # sources KEPT ACTIVE and unlocked (proto: data is duplicated)
        srcs = c.catalog.read("datasets").filter(
            F.col("container_uri").startswith("file:///collapse/")
        ).collect()
        assert len(srcs) == 3
        assert {r["status"] for r in srcs} == {"ACTIVE"}
        assert all(r["locked_by_job_id"] is None for r in srcs)
        assert c.catalog.read("locked_datasets").filter(
            F.col("job_id") == job).count() == 0
        # ONE new dataset, owned by the collapse record, single image
        new = c.catalog.read("datasets").filter(
            F.col("container_uri").startswith("consolidated/")
        ).collect()
        assert len(new) == 1
        assert new[0]["record_id"] == target
        assert new[0]["status"] == "ACTIVE" and new[0]["subdir"] == ""
        # byte-level: one image whose pixels are the latest-wins merge
        path = f"{c.catalog.root}/consolidated_data/{new[0]['container_uri']}.tif"
        imgs = read_tiff(open(path, "rb").read())
        assert len(imgs) == 1
        got = imgs[0].bands[0]
        n = 4
        want = np.full((2 * n, 2 * n), -1.0)
        for (bx, by), blk in expected.items():
            want[by * n:(by + 1) * n, bx * n:(bx + 1) * n] = blk
        assert got.shape == want.shape
        assert np.array_equal(got, want)

    def test_collapse_unknown_record_rejected(self, spark, tmp_path):
        c, rids, _ = self._aligned_catalog(spark, tmp_path)
        inst = c.catalog.read("instances").first()["id"]
        with pytest.raises(KeyError, match="nope"):
            c.consolidate("collapse_bad", inst, "collapse_layout",
                          record_ids=rids[:3], collapse_on_record_id="nope")


class TestAdminTwins:
    """UpdateDatasets (apply side) and TidyPending — the last two admin
    RPCs with real write behavior (admin.go:16-96)."""

    @pytest.fixture()
    def ac(self, spark, fixture_dir, tmp_path):
        import shutil as _sh

        root = tmp_path / "admin_catalog"
        root.mkdir()
        for t in ("aoi", "records", "variables", "instances", "containers",
                  "datasets", "consolidation_params"):
            _sh.copy(f"{fixture_dir}/{t}.parquet", root / f"{t}.parquet")
        return GeocubeClient(spark, str(root))

    def test_update_datasets_apply_and_simulate(self, ac):
        c = ac
        row = c.catalog.read("datasets").first()
        inst, rec = row["instance_id"], row["record_id"]
        new = {"no_data": -9.0, "min_value": 0.0, "max_value": 50.0,
               "real_min_value": 0.0, "real_max_value": 5.0, "exponent": 2.0}
        sim = c.update_datasets(inst, [rec], new, simulate=True)
        assert sim and all(isinstance(v, int) for v in sim.values())
        # the report keys carry the reference's sentence shape
        assert all("currently maps to" in k and "no_data=" in k for k in sim)
        # simulate wrote nothing
        same = c.catalog.read("datasets").filter(
            (F.col("instance_id") == inst) & (F.col("record_id") == rec)
        ).first()
        assert same["dmapping"] == row["dmapping"]
        got = c.update_datasets(inst, [rec], new)
        assert got == sim
        after = c.catalog.read("datasets").filter(
            (F.col("instance_id") == inst) & (F.col("record_id") == rec)
        ).collect()
        assert after
        for r in after:
            dm = r["dmapping"]
            # dtype untouched (the reference's UPDATE list omits it)
            assert dm["dtype"] == row["dmapping"]["dtype"]
            assert dm["no_data"] == -9.0 and dm["exponent"] == 2.0
            assert dm["max_value"] == 50.0 and dm["real_max_value"] == 5.0

    def test_tidy_pending_cascade(self, ac):
        c = ac
        # orphan one instance's datasets: delete them outright
        inst = c.catalog.read("datasets").first()["instance_id"]
        c.catalog.write(
            "datasets",
            c.catalog.read("datasets").filter(F.col("instance_id") != inst),
        )
        sim = c.tidy(aois=True, records=True, variables=True, instances=True,
                     containers=True, params=True, simulate=True)
        assert sim[2] >= 1  # the orphaned instance is pending
        n_inst_before = c.catalog.read("instances").count()
        got = c.tidy(aois=True, records=True, variables=True, instances=True,
                     containers=True, params=True)
        assert got == sim
        assert c.catalog.read("instances").count() == n_inst_before - got[2]
        # every remaining entity is referenced: a second tidy is a no-op
        again = c.tidy(aois=True, records=True, variables=True,
                       instances=True, containers=True, params=True)
        assert again == [0] * 6
        # managed unreferenced containers are NOT tidied (storage-GC owns
        # them): any deleted ones were unmanaged
        assert got[4] >= 0
        left = c.catalog.read("containers").join(
            c.catalog.read("datasets").select(
                F.col("container_uri").alias("uri")).distinct(),
            "uri", "left_anti",
        ).collect()
        assert all(r["managed"] for r in left)


class TestJobLogsAndListing:
    """Job.logs (operations.proto:77), GetJob log paging, ListJobs
    name_like + pagination — the log surface the reference persists in
    job_logs (pg_jobs.go:15-26, newest-first)."""

    @pytest.fixture()
    def jc(self, spark, fixture_dir, tmp_path):
        import shutil as _sh

        root = tmp_path / "log_catalog"
        root.mkdir()
        for t in ("aoi", "records", "variables", "instances", "containers",
                  "datasets", "tiles", "layouts", "consolidation_params",
                  "jobs", "tasks", "locked_datasets"):
            _sh.copy(f"{fixture_dir}/{t}.parquet", root / f"{t}.parquet")
        c = GeocubeClient(spark, str(root))
        c.catalog.write(
            "datasets",
            c.catalog.read("datasets").withColumn(
                "locked_by_job_id", F.lit(None).cast("string")
            ),
        )
        return c

    def test_lifecycle_writes_reference_log_lines(self, jc):
        c = jc
        helper = TestConsolidationLifecycle()
        inst, rec_ids, ds_ids, job = helper._prepare(c, "logged")
        c.process_consolidation_job(job)
        msgs = [l["message"] for l in c.job_logs(job, limit=None)]
        # newest-first ordering: the deletion-spawn line precedes Init
        assert any(m.startswith("Init with ") for m in msgs)
        assert "Prepare consolidation orders..." in msgs
        assert any(m.endswith("tasks are created") for m in msgs)
        assert "Datasets swapped" in msgs
        assert msgs.index("Prepare consolidation orders...") > msgs.index(
            "Datasets swapped"
        )
        # GetJob carries the newest page, formatted
        got = c.get_job(job, log_limit=3)
        assert len(got["logs"]) == 3 and all(l.startswith("[") for l in got["logs"])
        # paging walks backward through history
        p0 = c.job_logs(job, page=0, limit=2)
        p1 = c.job_logs(job, page=1, limit=2)
        assert p0 and p1 and p0[0]["ts"] >= p1[-1]["ts"]

    def test_list_jobs_name_like_and_pagination(self, jc):
        c = jc
        out = c.list_jobs(name_like="consolidation-*")
        names = [r["name"] for r in out.collect()]
        assert names and all(n.startswith("consolidation-") for n in names)
        all_jobs = c.list_jobs().orderBy("creation_ts", "id").collect()
        page = c.list_jobs(page=1, limit=2).collect()
        assert [r["id"] for r in page] == [r["id"] for r in all_jobs[2:4]]


class TestJobGuards:
    """Round-11 hardening: the jobs primary-key twin (duplicate names
    rejected, pg_jobs.go Create), multi-dataset source containers
    rejected by the worker, and the job-log pagination contract
    (OFFSET page*limit LIMIT limit, pg_jobs.go:22)."""

    @pytest.fixture()
    def gc(self, spark, fixture_dir, tmp_path):
        import shutil as _sh

        root = tmp_path / "guard_catalog"
        root.mkdir()
        for t in ("aoi", "records", "variables", "instances", "containers",
                  "datasets", "tiles", "layouts", "consolidation_params",
                  "jobs", "tasks", "locked_datasets"):
            _sh.copy(f"{fixture_dir}/{t}.parquet", root / f"{t}.parquet")
        c = GeocubeClient(spark, str(root))
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
        return c

    def test_duplicate_consolidation_name_rejected(self, gc):
        from geocube_spark.validation import ValidationError

        c = gc
        inst = c.catalog.read("instances").orderBy("name").first()["id"]
        job_id = c.consolidate("dup-name", inst, "regular_256")
        # identical name -> identical uuid5 id -> the jobs PK twin fires
        # BEFORE any row is appended or lock taken
        with pytest.raises(ValidationError, match="already exists"):
            c.consolidate("dup-name", inst, "regular_256")
        rows = c.catalog.read("jobs").filter(F.col("id") == job_id)
        assert rows.count() == 1  # no duplicate row appended

    def test_duplicate_deletion_name_rejected(self, gc):
        from geocube_spark.validation import ValidationError

        c = gc
        job_id = c.delete_datasets_job("dup-del", dataset_patterns=["*"],
                                       execution_level=4)
        with pytest.raises(ValidationError, match="already exists"):
            c.delete_datasets_job("dup-del", dataset_patterns=["*"],
                                  execution_level=4)
        assert (
            c.catalog.read("jobs").filter(F.col("id") == job_id).count() == 1
        )
        # locks were not duplicated either
        locks = c.catalog.read("locked_datasets").filter(
            F.col("job_id") == job_id
        )
        assert locks.count() == locks.select("dataset_id").distinct().count()

    def test_multi_dataset_source_container_rejected(self, gc):
        """A source container holding several datasets (a consolidated
        MuCOG with GTIFF_DIR subdirs) cannot be re-consolidated: the TILE
        schema keys on container_uri alone, so record labelling would be
        arbitrary (ADVICE r10)."""
        from geocube_spark.validation import ValidationError

        c = gc
        helper = TestConsolidationLifecycle()
        inst, rec_ids, ds_ids, job = helper._prepare(c, "multisrc")
        # graft: make the first two job datasets share one container_uri,
        # as if a prior consolidation had merged them into one MuCOG
        a, b = ds_ids[0], ds_ids[1]
        d = c.catalog.read("datasets")
        shared = d.filter(F.col("id") == a).first()["container_uri"]
        c.catalog.write(
            "datasets",
            d.withColumn(
                "container_uri",
                F.when(F.col("id") == b, F.lit(shared)).otherwise(
                    F.col("container_uri")
                ),
            ).withColumn(
                "subdir",
                F.when(F.col("id") == a, F.lit("GTIFF_DIR:1"))
                .when(F.col("id") == b, F.lit("GTIFF_DIR:2"))
                .otherwise(F.col("subdir")),
            ),
        )
        before = (
            c.catalog.read("datasets").filter(F.col("status") == "INACTIVE").count()
        )
        with pytest.raises(ValidationError, match="multi-dataset"):
            c.process_consolidation_job(job)
        # the guard fired before any publish: no new INACTIVE datasets
        assert (
            c.catalog.read("datasets").filter(F.col("status") == "INACTIVE").count()
            == before
        )

    def test_job_log_batch_order_and_paging(self, gc):
        from geocube_spark.validation import ValidationError

        c = gc
        # one batch, three lines: newest-first must preserve reverse
        # emission order even though all three share one wall-clock call
        c._log_job("batch-job", [("INFO", "first"), ("INFO", "second"),
                                 ("INFO", "third")])
        msgs = [l["message"] for l in c.job_logs("batch-job", limit=None)]
        assert msgs == ["third", "second", "first"]
        # OFFSET page*limit LIMIT limit
        assert [l["message"] for l in c.job_logs("batch-job", page=1, limit=1)] == [
            "second"
        ]
        assert [l["message"] for l in c.job_logs("batch-job", page=1, limit=2)] == [
            "first"
        ]
        # a page without a limit is an error, not a silent full read
        with pytest.raises(ValidationError, match="log_page"):
            c.job_logs("batch-job", page=2, limit=None)


class TestTaskFailureAccounting:
    """Per-task failure parity (job.go:772-800 UpdateTask counters +
    cmd/consolidater/main.go:131-147 TryCount/temporary-error requeue):
    a poisoned task fails ONCE, live active/failed counters track it
    mid-lifecycle, and the RETRYING arc resets it back to DONE."""

    @pytest.fixture()
    def fc(self, spark, fixture_dir, tmp_path):
        import shutil as _sh

        root = tmp_path / "fail_catalog"
        root.mkdir()
        for t in ("aoi", "records", "variables", "instances", "containers",
                  "datasets", "tiles", "layouts", "consolidation_params",
                  "jobs", "tasks", "locked_datasets"):
            _sh.copy(f"{fixture_dir}/{t}.parquet", root / f"{t}.parquet")
        c = GeocubeClient(spark, str(root))
        c.catalog.write(
            "datasets",
            c.catalog.read("datasets").withColumn(
                "locked_by_job_id", F.lit(None).cast("string")
            ),
        )
        return c

    def _prepare_multi_task(self, c, name):
        """Like TestConsolidationLifecycle._prepare but max_records=1, so
        the single world cell chunks into one task per record."""
        helper = TestConsolidationLifecycle()
        inst, rec_ids, ds_ids = helper._tiled_selection(c)
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
            name + "_layout",
            {"grid": "regular", "crs": "epsg:4326", "cell_size": "256",
             "resolution": "1000000", "ox": "0", "oy": "0"},
            max_records=1,  # one record per task -> several tasks per cell
        )
        job = c.consolidate(name, inst, name + "_layout", record_ids=rec_ids)
        return inst, rec_ids, ds_ids, job

    def _poison(self, c, container_uri):
        """Append a tile with a mismatched px length to one source
        container — its output group's build raises 'mixed block pixel
        counts', a real per-task failure (no injection hook)."""
        tiles = c.catalog.read("tiles")
        row = tiles.filter(F.col("container_uri") == container_uri).first()
        bogus = c.spark.createDataFrame(
            [{
                "container_uri": container_uri, "band": row["band"],
                "level": row["level"], "block_x": int(row["block_x"]) + 97,
                "block_y": row["block_y"], "px": [0.0] * 16,
                "crs_srid": row["crs_srid"],
                "pix_to_crs": row["pix_to_crs"].asDict(),
            }],
            tiles.schema,
        )
        c.catalog.write("tiles", tiles.unionByName(bogus))

    def _unpoison(self, c):
        tiles = c.catalog.read("tiles")
        c.catalog.write("tiles", tiles.filter(F.size("px") != 16))

    def test_fail_once_retry_to_done(self, fc, tmp_path):
        import json as _json

        c = fc
        inst, rec_ids, ds_ids, job = self._prepare_multi_task(c, "tfail")
        n_tasks = c.catalog.read("tasks").filter(F.col("job_id") == job).count()
        assert n_tasks >= 2, "need several tasks to watch partial failure"
        assert c.get_job(job)["active_tasks"] == n_tasks

        # poison the source container of the first task's first dataset
        t0 = c.catalog.read("tasks").filter(F.col("job_id") == job).first()
        victim_ds = _json.loads(bytes(t0["payload"]))["dataset_ids"][0]
        victim_uri = (
            c.catalog.read("datasets").filter(F.col("id") == victim_ds)
            .first()["container_uri"]
        )
        self._poison(c, victim_uri)

        # ---- delivery 1 (max_tries=1): TEMPORARY error -> requeue
        state, deletion = c.process_consolidation_job(job)
        assert state == "CONSOLIDATIONINPROGRESS" and deletion is None
        tasks = c.catalog.read("tasks").filter(F.col("job_id") == job)
        requeued = tasks.filter(F.col("state") == "NEW").collect()
        assert len(requeued) == 1 and requeued[0]["try_count"] == 1
        # live mid-lifecycle counters: the good tasks are DONE, one active
        jrow = c.get_job(job)
        assert jrow["active_tasks"] == 1 and jrow["failed_tasks"] == 0
        assert jrow["tasks"] == {"DONE": n_tasks - 1, "NEW": 1}
        assert any(
            m["message"].startswith("temporary error")
            for m in c.job_logs(job, limit=None)
        )

        # ---- delivery 2: try_count == max_tries -> terminal TaskFailed,
        # last active task lands -> auto ConsolidationFailed
        state, _ = c.process_consolidation_job(job)
        assert state == "CONSOLIDATIONFAILED"
        jrow = c.get_job(job)
        assert jrow["active_tasks"] == 0 and jrow["failed_tasks"] == 1
        msgs = [m["message"] for m in c.job_logs(job, limit=None)]
        assert "Job failed: 1 tasks failed" in msgs
        assert any(m.startswith("Task ") and "failed" in m for m in msgs)

        # ---- retry arc: RETRYING's on-enter resets the FAILED task and
        # re-enters progress; with the poison removed the job completes
        self._unpoison(c)
        assert c.retry_job(job) == "CONSOLIDATIONINPROGRESS"
        jrow = c.get_job(job)
        assert jrow["active_tasks"] == 1 and jrow["failed_tasks"] == 0
        state, deletion_id = c.process_consolidation_job(job)
        assert state == "DONE" and deletion_id
        tstates = {r["state"] for r in
                   c.catalog.read("tasks").filter(F.col("job_id") == job).collect()}
        assert tstates == {"DONE"}
        jrow = c.get_job(job)
        assert jrow["active_tasks"] == 0 and jrow["failed_tasks"] == 0
        # EVERY task's container got indexed, including the first pass's
        # (the index phase reads all DONE tasks, not the last pass's)
        new_ds = c.catalog.read("datasets").filter(
            F.col("container_uri").startswith("consolidated/")
        )
        assert new_ds.select("container_uri").distinct().count() == n_tasks

    def test_dead_letter_on_exhausted_redelivery(self, fc):
        """A NEW task already delivered more than max_tries times is
        dead-lettered as FAILED('too many tries') without running
        (main.go:131-137)."""
        c = fc
        inst, rec_ids, ds_ids, job = self._prepare_multi_task(c, "tdead")
        tasks = c.catalog.read("tasks")
        t0 = tasks.filter(F.col("job_id") == job).first()
        c.catalog.write(
            "tasks",
            tasks.withColumn(
                "try_count",
                F.when(F.col("id") == t0["id"], F.lit(9)).otherwise(
                    F.col("try_count")
                ),
            ),
        )
        state, _ = c.process_consolidation_job(job)
        assert state == "CONSOLIDATIONFAILED"
        row = (
            c.catalog.read("tasks").filter(F.col("id") == t0["id"]).first()
        )
        assert row["state"] == "FAILED"
        msgs = [m["message"] for m in c.job_logs(job, limit=None)]
        assert any("too many tries" in m for m in msgs)

    def test_handle_task_event_guards(self, fc):
        from geocube_spark.validation import ValidationError

        c = fc
        inst, rec_ids, ds_ids, job = self._prepare_multi_task(c, "tguard")
        tid, tid2 = sorted(
            r["id"]
            for r in c.catalog.read("tasks")
            .filter(F.col("job_id") == job)
            .collect()
        )
        # SENT -> PENDING shows in the pivot counters (live visibility)
        assert c.handle_task_event(job, tid, "SENT") == "CONSOLIDATIONINPROGRESS"
        assert c.get_job(job)["tasks"]["PENDING"] == 1
        # unknown task -> EntityNotFound twin
        with pytest.raises(KeyError, match="unknown task"):
            c.handle_task_event(job, "no-such-task", "SENT")
        # a FAILED task may still be promoted by a late success
        # (job.go:714-718) while another task keeps the job active
        c.handle_task_event(job, tid2, "FAILED", "boom")
        assert c.get_job(job)["failed_tasks"] == 1
        assert c.handle_task_event(job, tid2, "SUCCESSFUL") == (
            "CONSOLIDATIONINPROGRESS"
        )
        assert c.get_job(job)["failed_tasks"] == 0
        # DONE tasks reject demotion (job.go:711-713)
        with pytest.raises(ValidationError, match="unhandled event"):
            c.handle_task_event(job, tid2, "FAILED", "late failure")
        # the last active task landing auto-advances the job, after which
        # further events are rejected wholesale (job.go:705-708)
        assert c.handle_task_event(job, tid, "SUCCESSFUL") == "CONSOLIDATIONDONE"
        with pytest.raises(ValidationError, match="cannot handle task events"):
            c.handle_task_event(job, tid, "FAILED", "straggler")

    def test_crashed_pass_recovery_picks_up_pending(self, fc):
        """A worker that crashed between SENT and the outcome events
        leaves tasks PENDING; the next process_consolidation_job run
        picks them up (no task is stranded, the job still lands DONE)."""
        c = fc
        inst, rec_ids, ds_ids, job = self._prepare_multi_task(c, "tcrash")
        tids = [
            r["id"]
            for r in c.catalog.read("tasks")
            .filter(F.col("job_id") == job)
            .collect()
        ]
        # simulate the crash: SENT delivered, worker died before outcomes
        c.handle_task_events(job, [(t, "SENT", "") for t in tids])
        assert c.get_job(job)["tasks"] == {"PENDING": len(tids)}
        state, deletion_id = c.process_consolidation_job(job)
        assert state == "DONE" and deletion_id
        tstates = {
            r["state"]
            for r in c.catalog.read("tasks").filter(F.col("job_id") == job).collect()
        }
        assert tstates == {"DONE"}
