"""The benchmark's client workloads.

Each workload generates its inputs from the seed (``gen``), computes the
expected answers without Spark (DuckDB / numpy), sets the program up
through its public API, and then yields an endless, seeded op stream.  One
closed-loop client runs the ops; ``check`` compares each result with the
expected answer outside the timed region.

Why these (also recorded in BENCHMARK.json):
- catalog_query: metadata-only reads on a read-only 10^5-dataset catalog;
  job launch, schema inference and plan building dominate, and the
  catalog's per-version plan memo always hits.
- cube_timeseries: GetCube pixel reads over a ~100-date stack of 256^2
  blocks (the reference's MuCOG time-series benchmark restated); the
  mosaic and its shuffle dominate.  The traced run closes with a
  consolidation job.
- curation_pipeline: the iterative operators (LSH dedup, connected
  components, PageRank) that no other workload touches.
"""

from __future__ import annotations

import hashlib
import itertools
import math
import os
import shutil
from datetime import datetime

import duckdb
import numpy as np

import gen

TILE_BLOCK = 256


def _dt(s: str) -> datetime:
    return datetime.fromisoformat(s)


def _us(s: str) -> int:
    return int(_dt(s).timestamp() * 1_000_000)


def file_sizes(root: str) -> dict[str, int]:
    out = {}
    for dp, _dn, fns in os.walk(root):
        for f in fns:
            p = os.path.join(dp, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                continue
    return out


def new_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files that appeared between two snapshots (snapshots are
    immutable new directories, so new paths are what a commit wrote)."""
    return sum(sz for p, sz in after.items() if p not in before)


class Workload:
    name = ""
    # ops per round of the op mix; a run ends only after whole rounds
    ROUND = 1
    # the fixed prefix of whole rounds every run reaches, which the
    # registered per-op figures average over, so every run covers the same
    # work whatever the host's speed
    PREFIX_OPS = 1
    # run an untimed pass over the op kinds before the timed stream
    WARMUP = True

    def __init__(self, seed: int, work: str) -> None:
        from spans import Tracer

        self.seed = seed
        self.work = work
        self.tracer = Tracer()  # replaced by the traced run's recorder
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        self.con.execute("SET threads TO 2")

    def setup(self, spark, root: str):
        """The program-side set-up (timed as ``setup_s``); returns the
        context the ops run against."""
        raise NotImplementedError

    def warmup(self, ctx) -> None:
        """Untimed, unchecked first pass over the code paths the ops use,
        so the timed window measures a warm engine."""

    def stream(self):
        """Endless op stream; a run ends only at a multiple of ``ROUND``."""
        raise NotImplementedError

    def closing(self):
        """Ops the traced run adds after the stream (default none)."""
        return []

    def prepare(self, ctx, op) -> None:
        """Untimed work before an op (e.g. building its payload)."""

    def run(self, ctx, op):
        raise NotImplementedError

    def after(self, ctx, op, result) -> None:
        """Untimed work after an op that returned, whether its result was
        right or not (e.g. handing its output on)."""

    def check(self, ctx, op, result) -> str | None:
        """None when the result is right, else what is wrong."""
        raise NotImplementedError

    def units(self, op, result) -> int:
        """Work items a correct op delivered (pixels, documents)."""
        return 0

    def count(self, op, result, counters: dict) -> None:
        """Add a correct traced op's layer counts (read from its output) to
        ``counters``."""

    def close(self) -> None:
        self.con.close()


def fresh_client(ctx):
    """A new client (and Catalog, so an empty read memo) over the same
    catalog root: what a second user opening the catalog sees."""
    from geocube_spark.client import GeocubeClient

    return GeocubeClient(ctx.spark, ctx.catalog.root)


def open_catalog(spark, root: str, paths: dict[str, str], commit: tuple[str, ...] = (),
                 bootstrap: tuple[str, ...] = ()):
    """A client over a fresh catalog at ``root``: ``commit`` tables go
    through the program's ``Catalog.write`` (versioned snapshots, which the
    read memo keys on); ``bootstrap`` tables are laid down as the catalog's
    documented version-0 files (a hard link of the generated parquet, as
    for a copied-in table store), which costs no Spark work."""
    from geocube_spark.client import GeocubeClient
    from geocube_spark.sources.catalog import TABLES

    client = GeocubeClient(spark, root)
    os.makedirs(root, exist_ok=True)
    for n in bootstrap:
        try:
            os.link(paths[n], client.catalog.path(n))
        except OSError:
            shutil.copyfile(paths[n], client.catalog.path(n))
    for n in commit:
        client.catalog.write(n, spark.read.schema(TABLES[n]).parquet(paths[n]))
    return client


# ------------------------------------------------------------ catalog_query


class CatalogQuery(Workload):
    name = "catalog_query"
    ROUND = len(gen.CATALOG_OP_KINDS)
    PREFIX_OPS = 2 * ROUND
    N_OPS = 4 * ROUND

    def __init__(self, seed, work):
        super().__init__(seed, work)
        n_records = 5000
        self.tables = gen.catalog(seed, n_records, 20, days=730)
        self.paths = gen.write_tables(self.tables, os.path.join(work, "staging"))
        self.ops = gen.catalog_ops(seed, self.tables, self.N_OPS)
        for t in ("datasets", "records"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.paths[t]}')")
        self.expected = [self._expect(op) for op in self.ops]

    # -- expected answers (DuckDB over the generated parquet)

    @staticmethod
    def _record_preds(op, alias: str) -> list[str]:
        preds = []
        if op.get("window"):
            a, b = (_us(x) for x in op["window"])
            preds.append(f"epoch_us({alias}.datetime) BETWEEN {a} AND {b}")
        for k, v in sorted((op.get("tags") or {}).items()):
            if v == "":
                preds.append(f"len(map_extract({alias}.tags, '{k}')) > 0")
            else:
                preds.append(f"map_extract({alias}.tags, '{k}')[1] = '{v}'")
        if op.get("name_glob"):
            preds.append(f"{alias}.name GLOB '{op['name_glob']}'")
        return preds

    def _dataset_where(self, op) -> str:
        preds = [f"d.status = '{op['status']}'",
                 "d.instance_id IN (" + ",".join(f"'{i}'" for i in op["instance_ids"]) + ")"]
        if op.get("extent"):
            x0, y0, x1, y1 = op["extent"]
            preds.append(f"d.bbox.xmin <= {x1} AND d.bbox.xmax >= {x0} "
                         f"AND d.bbox.ymin <= {y1} AND d.bbox.ymax >= {y0}")
        return " AND ".join(preds + self._record_preds(op, "r"))

    def _expect(self, op):
        kind = op["kind"]
        if kind.startswith("datasets"):
            return self.con.execute(
                "SELECT d.id, d.record_id FROM datasets d JOIN records r ON d.record_id = r.id "
                f"WHERE {self._dataset_where(op)} ORDER BY r.datetime, r.id"
            ).fetchall()
        if kind == "records":
            where = " AND ".join(self._record_preds(op, "r")) or "true"
            return [x[0] for x in self.con.execute(
                f"SELECT id FROM records r WHERE {where} ORDER BY datetime, id "
                f"LIMIT {op['limit']} OFFSET {op['offset']}").fetchall()]
        if kind == "get_records":
            ids = ",".join(f"'{i}'" for i in op["ids"])
            names = dict(self.con.execute(
                f"SELECT id, name FROM records WHERE id IN ({ids})").fetchall())
            return [(i, names[i]) for i in op["ids"]]
        # cube_headers: one slice per record, in (datetime, id) order
        return [(rid, n, tuple(ids)) for rid, n, ids in self.con.execute(
            "SELECT r.id, count(*), list(d.id ORDER BY d.id) FROM datasets d "
            f"JOIN records r ON d.record_id = r.id WHERE {self._dataset_where(op)} "
            "GROUP BY r.id, r.datetime ORDER BY r.datetime, r.id").fetchall()]

    # -- program side

    def setup(self, spark, root):
        client = open_catalog(spark, root, self.paths, commit=("datasets", "records"))
        self._run_op(client, self.ops[0])  # first answered call
        return client

    def warmup(self, ctx):
        for op in self.ops[: len(gen.CATALOG_OP_KINDS)]:
            self._run_op(ctx, op)

    def stream(self):
        for i in itertools.cycle(range(len(self.ops))):
            yield {**self.ops[i], "idx": i}

    def run(self, ctx, op):
        return self._run_op(ctx, op)

    @staticmethod
    def _flt(op):
        from geocube_spark.plans.find_datasets import DatasetFilters

        w = op.get("window")
        return DatasetFilters(
            status=op["status"], instance_ids=op["instance_ids"],
            time_from=_dt(w[0]) if w else None, time_to=_dt(w[1]) if w else None,
            tags=op.get("tags") or None, record_name_glob=op.get("name_glob"),
            extent=tuple(op["extent"]) if op.get("extent") else None,
            offset=op.get("offset", 0), limit=op.get("limit"),
        )

    def _run_op(self, client, op):
        from geocube_spark.plans.find_records import RecordFilters

        kind = op["kind"]
        if kind == "get_records":
            return client.get_records(op["ids"])
        if kind.startswith("datasets"):
            df = client.list_datasets(self._flt(op))
        elif kind == "records":
            w = op["window"]
            df = client.list_records(RecordFilters(
                time_from=_dt(w[0]), time_to=_dt(w[1]), tags=op["tags"] or None,
                offset=op["offset"], limit=op["limit"]))
        else:
            df = client.get_cube_headers(self._flt(op))
        with self.tracer.span("collect"):
            return df.collect()

    def check(self, ctx, op, result):
        exp = self.expected[op["idx"]]
        kind = op["kind"]
        if kind.startswith("datasets"):
            return check_page([(r["id"], r["record_id"]) for r in result], exp,
                              op["offset"], op["limit"])
        if kind == "records":
            got = [r["id"] for r in result]
        elif kind == "get_records":
            got = [(r["id"], r["name"]) for r in result]
        else:
            got = [(r["record_id"], r["n_datasets"], tuple(sorted(d["id"] for d in r["datasets"])))
                   for r in result]
        return None if got == exp else f"{kind}: got {got[:3]}..., want {exp[:3]}..."


def check_page(got: list[tuple[str, str]], ordered: list[tuple[str, str]],
               offset: int, limit: int | None) -> str | None:
    """Check an (id, sort-key) page of an ordered result whose sort key can
    tie: the page's key sequence must equal the expected one, and each id
    must belong to its key's group.  Which tied ids fill a page boundary is
    not specified, so it is not checked."""
    end = None if limit is None else offset + limit
    want_keys = [k for _, k in ordered][offset:end]
    if [k for _, k in got] != want_keys:
        return f"page keys differ: {len(got)} rows vs {len(want_keys)} expected"
    groups: dict[str, set[str]] = {}
    for i, k in ordered:
        groups.setdefault(k, set()).add(i)
    ids = [i for i, _ in got]
    if len(set(ids)) != len(ids) or any(i not in groups[k] for i, k in got):
        return "page ids are not members of their sort-key group"
    return None


# ---------------------------------------------------------- cube_timeseries


def mosaic(px: np.ndarray) -> np.ndarray:
    """Latest-wins mosaic of a (dates, ...) stack: newest non-NODATA value
    per pixel, NODATA where every date is NODATA."""
    out = px[-1].copy()
    for t in range(px.shape[0] - 2, -1, -1):
        hole = out == gen.NODATA
        out[hole] = px[t][hole]
    return out


def digest(a: np.ndarray) -> str:
    return hashlib.sha1(np.ascontiguousarray(a, dtype=np.float64).tobytes()).hexdigest()


class CubeTimeseries(Workload):
    name = "cube_timeseries"
    ROUND = 2  # a time-window mosaic, then a one-date slice
    PREFIX_OPS = 2 * ROUND
    N_OPS = 24
    N_CONSOLIDATED = 4

    def __init__(self, seed, work):
        super().__init__(seed, work)
        self.n_dates = 96
        self.tables, px = gen.cube_stack(seed, self.n_dates, 2, 1, TILE_BLOCK)
        self.paths = gen.write_tables(self.tables, os.path.join(work, "staging"))
        self.ops = gen.cube_ops(seed, self.tables, self.N_OPS)
        self.instance = self.tables["instances"].column("id")[0].as_py()
        self.variable = self.tables["variables"].column("id")[0].as_py()
        self.record_ids = self.tables["records"].column("id").to_pylist()
        # numpy checksums of the expected blocks, per op: {(bx, by): sha1}
        self.expected = []
        for op in self.ops:
            a, b = op["date_range"]
            m = mosaic(px[a:b])
            self.expected.append({(bx, by): digest(m[by, bx])
                                  for by in range(m.shape[0]) for bx in range(m.shape[1])})
        del px

    def setup(self, spark, root):
        client = open_catalog(spark, root, self.paths, commit=("datasets", "records"),
                              bootstrap=("tiles", "variables", "instances", "containers"))
        self._run_op(client, self.ops[0])
        self.state = {"root": root}
        return client

    def warmup(self, ctx):
        self._run_op(ctx, self.ops[1])  # a slice; set-up ran a mosaic

    def closing(self):
        """Configure a consolidation, consolidate the first dates of the
        stack into one MuCOG, run the job to DONE and read its state back
        through a fresh client."""
        return [{"kind": "configure"}, {"kind": "consolidate"},
                {"kind": "process_consolidation_job"}, {"kind": "read_back_job"}]

    def prepare(self, ctx, op):
        if op["kind"] == "process_consolidation_job":
            op["files_before"] = file_sizes(self.state["root"])

    def after(self, ctx, op, result):
        if op["kind"] == "consolidate":
            self.state["job"] = result
        elif op["kind"] == "process_consolidation_job":
            self.state["consolidation_bytes"] = new_bytes(
                op.pop("files_before"), file_sizes(self.state["root"]))

    def stream(self):
        for i in itertools.cycle(range(len(self.ops))):
            yield {**self.ops[i], "idx": i}

    def run(self, ctx, op):
        k = op["kind"]
        if k == "configure":
            # float64 keeps the rewritten pixels bit-identical to the
            # tiles; one world-sized grid cell
            ctx.config_consolidation(
                self.variable,
                {"dtype": "Float64", "no_data": gen.NODATA, "min_value": -1e12,
                 "max_value": 1e12}, compression="NO")
            return ctx.create_layout(
                "world", {"grid": "regular", "crs": "epsg:4326", "cell_size": "256",
                          "resolution": "1000000", "ox": "0", "oy": "0"}, max_records=1024)
        if k == "consolidate":
            return ctx.consolidate(f"consolidate-{self.seed}", self.instance, "world",
                                   record_ids=self.record_ids[: self.N_CONSOLIDATED])
        if k == "process_consolidation_job":
            return ctx.process_consolidation_job(self.state["job"])
        if k == "read_back_job":
            return fresh_client(ctx).get_job(self.state["job"])
        return self._run_op(ctx, op)

    def _run_op(self, client, op):
        from geocube_spark.plans.find_datasets import DatasetFilters

        a, b = op["date_range"]
        if op["kind"] == "slice":
            flt = DatasetFilters(status="ACTIVE", instance_ids=[self.instance],
                                 record_ids=self.record_ids[a:b])
        else:
            flt = DatasetFilters(status="ACTIVE", instance_ids=[self.instance],
                                 time_from=_dt(op["window"][0]), time_to=_dt(op["window"][1]))
        df = client.get_cube(flt, nodata=gen.NODATA)
        with self.tracer.span("operators.cube.collect"):
            return df.collect()

    def check(self, ctx, op, result):
        k = op["kind"]
        if k == "configure":
            fresh = fresh_client(ctx)
            names = [r["name"] for r in fresh.list_layouts("world").collect()]
            params = fresh.get_consolidation_params(self.variable)
            if names != ["world"] or params["compression"] != "NO":
                return f"configuration not visible: layouts {names}, params {params}"
            return None
        if k == "consolidate":
            return None if result else "no job id returned"
        if k == "process_consolidation_job":
            return None if result[0] == "DONE" and result[1] else f"job ended in {result}"
        if k == "read_back_job":
            return None if result["state"] == "DONE" else f"job seen in {result['state']}"
        want = self.expected[op["idx"]]
        a, b = op["date_range"]
        got = {(r["block_x"], r["block_y"]): digest(np.asarray(r["px"])) for r in result}
        if got != want:
            return f"{op['kind']} {a}:{b}: pixel checksums differ"
        if any(r["n_inputs"] != b - a for r in result):
            return f"{op['kind']} {a}:{b}: wrong number of mosaic inputs"
        return None

    def units(self, op, result):
        return sum(len(r["px"]) for r in result) if "date_range" in op else 0

    def count(self, op, result, counters):
        counters["pixels_out"] = counters.get("pixels_out", 0) + self.units(op, result)


# -------------------------------------------------------- curation_pipeline


def components_sql(pairs: str) -> str:
    """Connected components over a pair table by transitive closure: the
    registry's dedup_components oracle shape, over the stage's own input."""
    return f"""
    WITH RECURSIVE edges AS (
        SELECT doc_a AS u, doc_b AS v FROM {pairs} UNION SELECT doc_b, doc_a FROM {pairs}),
    reach(u, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
        UNION
        SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u),
    lab AS (SELECT u AS node, min(lbl) AS component FROM reach GROUP BY u)
    SELECT node, component, CAST(count(*) OVER (PARTITION BY component) AS BIGINT)
    FROM lab ORDER BY node"""


def canonical_sql(labels: str) -> str:
    """Highest-quality member per cluster (6-dp rounded score, lowest id
    on ties): the registry's dedup_canonical oracle shape."""
    from geocube_spark.functions.text import quality_score_sql

    return f"""
    WITH scored AS (
        SELECT coalesce(l.component, d.doc_id) AS component, d.doc_id,
               round({quality_score_sql('d.text')}, 6) AS q
        FROM documents d LEFT JOIN {labels} l ON d.doc_id = l.node),
    ranked AS (
        SELECT component, doc_id, q,
               row_number() OVER (PARTITION BY component ORDER BY q DESC, doc_id) AS rk,
               count(*) OVER (PARTITION BY component) AS n
        FROM scored)
    SELECT component, doc_id, q, CAST(n AS BIGINT) FROM ranked WHERE rk = 1
    ORDER BY component"""


def lsh_recall_floor(jaccards: list[float], bands: int, rows: int, z: float = 3.0) -> float:
    """The lowest recall LSH banding is expected to reach on these exact
    pairs: a pair of Jaccard J becomes a candidate with probability
    1 - (1 - J^rows)^bands; the floor is the mean of those probabilities
    less ``z`` standard deviations of the share of pairs found."""
    if not jaccards:
        return 0.0
    p = [1.0 - (1.0 - j ** rows) ** bands for j in jaccards]
    sd = math.sqrt(sum(q * (1.0 - q) for q in p)) / len(p)
    return sum(p) / len(p) - z * sd


class CurationPipeline(Workload):
    """A batch pipeline, run as it would be in a fresh session: the
    measured round is the first one, so Python worker start-up and code
    generation are part of what it costs, and there is no warm-up."""

    name = "curation_pipeline"
    STAGES = ("minhash", "components", "canonical", "pagerank")
    ROUND = len(STAGES)
    PREFIX_OPS = ROUND
    WARMUP = False
    THRESHOLD = 0.5
    NUM_HASHES, BANDS = 32, 8

    def __init__(self, seed, work):
        super().__init__(seed, work)
        self.n_docs = 1000
        docs = gen.documents(seed, self.n_docs)
        self.paths = gen.write_tables({"documents": docs}, os.path.join(work, "staging"))
        self.con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.paths['documents']}')")
        from geocube_spark.registry import _ngram_jaccard_sql

        self.exact_pairs = {
            (a, b): j for a, b, j in self.con.execute(_ngram_jaccard_sql(self.THRESHOLD)).fetchall()}
        self._oracle_cache: dict[tuple, list[tuple]] = {}

    def setup(self, spark, root):
        docs = spark.read.parquet(self.paths["documents"])
        docs.count()
        return {"spark": spark, "docs": docs}

    def stream(self):
        for _ in itertools.count():
            for s in self.STAGES:
                yield {"kind": s}

    def run(self, ctx, op):
        from pyspark.sql import functions as F

        from geocube_spark.functions.text import quality_score
        from geocube_spark.operators import dedup, graph

        k, spark, docs = op["kind"], ctx["spark"], ctx["docs"]
        if k == "minhash":
            return dedup.minhash_near_duplicates(
                docs, threshold=self.THRESHOLD, num_hashes=self.NUM_HASHES,
                bands=self.BANDS).collect()
        if k == "components":
            return dedup.connected_components(ctx["pairs_df"]).collect()
        if k == "canonical":
            comp = ctx["labels_df"]
            scored = docs.join(comp, docs["doc_id"] == comp["node"], "left").select(
                F.coalesce("component", "doc_id").alias("component"), "doc_id",
                F.round(quality_score(F.col("text")), 6).alias("q"))
            agg = scored.groupBy("component").agg(
                F.max(F.struct(F.col("q"), (-F.col("doc_id")).alias("nid"))).alias("m"),
                F.count("*").alias("n"))
            return agg.select("component", (-F.col("m.nid")).alias("doc_id"),
                              F.col("m.q").alias("q"), "n").collect()
        return graph.pagerank(ctx["edges_df"], iterations=5).collect()

    def after(self, ctx, op, result) -> None:
        """Hand a stage's output to the next stage as a small DataFrame
        (outside timing)."""
        spark = ctx["spark"]
        if op["kind"] == "minhash":
            pairs = sorted((r["doc_a"], r["doc_b"]) for r in result)
            ctx["pairs"] = pairs
            ctx["pairs_df"] = spark.createDataFrame(pairs, "doc_a long, doc_b long")
            ctx["edges_df"] = spark.createDataFrame(
                [(str(a), str(b)) for a, b in pairs], "src string, dst string")
        elif op["kind"] == "components":
            labels = sorted((r["node"], r["component"]) for r in result)
            ctx["labels"] = labels
            ctx["labels_df"] = spark.createDataFrame(labels, "node long, component long")

    def _oracle(self, sql: str, name: str, columns: str, rows: list[tuple]):
        """``sql`` over a temporary DuckDB table ``name`` (``columns`` DDL)
        holding ``rows`` (a stage's input); cached, as every pass of a run
        feeds the same input."""
        key = (sql, tuple(rows))
        if key not in self._oracle_cache:
            self.con.execute(f"CREATE TEMP TABLE {name} ({columns})")
            if rows:
                marks = ", ".join("?" * len(rows[0]))
                self.con.executemany(f"INSERT INTO {name} VALUES ({marks})", rows)
            self._oracle_cache[key] = [tuple(x) for x in self.con.execute(sql).fetchall()]
            self.con.execute(f"DROP TABLE {name}")
        return self._oracle_cache[key]

    def check(self, ctx, op, result):
        k = op["kind"]
        if k == "minhash":
            got = {(r["doc_a"], r["doc_b"]): round(r["jaccard"], 6) for r in result}
            bad = [p for p, j in got.items() if self.exact_pairs.get(p) != j]
            if bad:
                return f"{len(bad)} pairs are not exact-Jaccard pairs, e.g. {bad[0]}"
            recall = len(got) / max(len(self.exact_pairs), 1)
            floor = lsh_recall_floor(list(self.exact_pairs.values()), self.BANDS,
                                     self.NUM_HASHES // self.BANDS)
            return None if recall >= floor else f"LSH recall {recall:.3f} < {floor:.3f}"
        pairs = ctx["pairs"]
        if k == "components":
            want = self._oracle(components_sql("pairs"), "pairs",
                                "doc_a BIGINT, doc_b BIGINT", pairs)
            got = sorted((r["node"], r["component"], r["component_size"]) for r in result)
            return None if got == want else "components differ"
        if k == "canonical":
            want = self._oracle(canonical_sql("labels"), "labels",
                                "node BIGINT, component BIGINT", ctx["labels"])
            got = sorted((r["component"], r["doc_id"], r["q"], r["n"]) for r in result)
            return None if got == want else "canonical picks differ"
        from geocube_spark.operators.graph import pagerank_sql

        want = dict(self._oracle(pagerank_sql("SELECT src, dst FROM edges", iterations=5),
                                 "edges", "src VARCHAR, dst VARCHAR",
                                 [(str(a), str(b)) for a, b in pairs]))
        got = {r["node"]: r["rank"] for r in result}
        if got.keys() != want.keys() or any(abs(got[n] - want[n]) > 1e-9 for n in got):
            return "pagerank differs"
        return None

    def units(self, op, result):
        return self.n_docs if op["kind"] == "minhash" else 0

    def count(self, op, result, counters):
        if op["kind"] == "minhash":
            counters["minhash_ops"] = counters.get("minhash_ops", 0) + 1
            counters["verified_pairs"] = counters.get("verified_pairs", 0) + len(result)


WORKLOADS = {w.name: w for w in (CatalogQuery, CubeTimeseries, CurationPipeline)}

