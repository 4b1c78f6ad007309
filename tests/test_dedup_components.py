"""connected_components (large-star/small-star) vs a brute-force union-find."""

import random

import pytest

from geocube_spark.operators.dedup import connected_components


@pytest.fixture
def distributed_rounds(spark):
    """Disable the broadcast threshold for one test: the one-task graph
    solves share its size gate, so pagerank and connected_components run
    their distributed rounds whatever the graph's size."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, old)


def _union_find(n_nodes, edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comp = {}
    for u, v in edges:
        for x in (u, v):
            comp[x] = find(x)
    # normalize: component id = min node in component
    roots = {}
    for x, r in comp.items():
        roots.setdefault(find(r), []).append(x)
    out = {}
    for members in roots.values():
        m = min(members)
        for x in members:
            out[x] = m
    return out


def _check(spark, edges):
    df = spark.createDataFrame(
        [(int(u), int(v)) for u, v in edges], "doc_a long, doc_b long"
    )
    got = {
        r["node"]: (r["component"], r["component_size"])
        for r in connected_components(df).collect()
    }
    want = _union_find(None, edges)
    sizes = {}
    for x, c in want.items():
        sizes[c] = sizes.get(c, 0) + 1
    assert set(got) == set(want)
    for x in want:
        assert got[x] == (want[x], sizes[want[x]]), (x, got[x], want[x])


def test_components_random_graphs(spark):
    rng = random.Random(42)
    for trial in range(3):
        n = 200
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(150)
        ]
        edges = [(u, v) for u, v in edges if u != v]
        _check(spark, edges)


def test_components_long_chain(spark):
    # a 100-node path: diameter 99, but star rounds converge in O(log n)
    edges = [(i, i + 1) for i in range(100)]
    _check(spark, edges)


def test_components_two_cliques_and_bridge(spark):
    a = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    b = [(i, j) for i in range(10, 15) for j in range(i + 1, 15)]
    _check(spark, a + b)
    _check(spark, a + b + [(4, 10)])  # bridged: one component


def test_components_distributed_path(spark, distributed_rounds):
    """The star rounds (the path above the size gate) give the same labels
    and sizes as the one-task union-find."""
    rng = random.Random(3)
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
    _check(spark, [(u, v) for u, v in edges if u != v] + [(i, i + 1) for i in range(200, 240)])


def test_small_graph_job_counts(spark):
    """Job-count guard for the one-task solves: PageRank (5 rounds) and
    connected components on a small graph cost at most 3 and 4 Spark jobs,
    where the distributed rounds cost about 30 and 20."""
    sc = spark.sparkContext

    def jobs(group, run):
        sc.setJobGroup(group, group)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # job-start events reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    from geocube_spark.operators.graph import pagerank

    pairs = [(i, i + 1) for i in range(0, 60, 2)] + [(5, 9), (9, 13), (13, 40)]
    e = spark.createDataFrame([(str(u), str(v)) for u, v in pairs], "src string, dst string")
    p = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    assert jobs("guard-pagerank", lambda: pagerank(e, iterations=5).collect()) <= 3
    assert jobs("guard-components", lambda: connected_components(p).collect()) <= 4


def test_components_empty(spark):
    df = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(df).count() == 0


def test_components_self_loop_ignored(spark):
    _check(spark, [(1, 1), (1, 2), (3, 3), (3, 4)])


def test_salted_path_identical_labels(spark):
    """Skew hardening must be a pure physical-layout change: for any graph
    and any bucket count, the salted two-level min + salted join produce
    byte-identical (node, component, size) rows."""
    import random

    rng = random.Random(7)
    n = 150
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(120)]
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    base = sorted(
        (r["node"], r["component"], r["component_size"])
        for r in connected_components(df).collect()
    )
    for buckets in (2, 8):
        salted = sorted(
            (r["node"], r["component"], r["component_size"])
            for r in connected_components(df, salt_buckets=buckets).collect()
        )
        assert salted == base, buckets


def test_salted_power_law_hub(spark):
    """A 1-hub star plus chains (the hot-key shape): salted labels match
    the analytic answer."""
    edges = [(i, 0) for i in range(1, 300)] + [(i, i + 1000) for i in range(1, 50)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = connected_components(df, salt_buckets=8).collect()
    assert {r["component"] for r in out} == {0}
    assert all(r["component_size"] == len(out) for r in out)


_PR_EDGES = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]


class TestPageRank:
    """Runs on the one-task numpy path: every graph here fits the
    session's broadcast threshold.  ``TestPageRankDistributed`` reruns
    each test on the distributed rounds."""

    one_task = True

    def test_path_taken(self, spark):
        from geocube_spark.operators.graph import pagerank

        e = spark.createDataFrame(_PR_EDGES, "src string, dst string")
        plan = pagerank(e)._jdf.queryExecution().executedPlan().toString()
        assert ("MapInPandas" in plan) == self.one_task

    def test_two_node_cycle_uniform(self, spark):
        from geocube_spark.operators.graph import pagerank

        e = spark.createDataFrame(
            [("a", "b"), ("b", "a")], "src string, dst string"
        )
        out = {r["node"]: r["rank"] for r in pagerank(e, iterations=10).collect()}
        assert abs(out["a"] - 0.5) < 1e-9 and abs(out["b"] - 0.5) < 1e-9

    def test_ranks_sum_to_one_with_dangling(self, spark):
        from geocube_spark.operators.graph import pagerank

        # 'c' is dangling (no out-edges): its mass must be redistributed,
        # keeping the total at 1 every round
        e = spark.createDataFrame(
            [("a", "b"), ("a", "c"), ("b", "c")], "src string, dst string"
        )
        rows = pagerank(e, iterations=7).collect()
        assert abs(sum(r["rank"] for r in rows) - 1.0) < 1e-9

    def test_sink_outranks_source(self, spark):
        from geocube_spark.operators.graph import pagerank

        # star into 'hub': the hub accumulates rank
        e = spark.createDataFrame(
            [(f"u{i}", "hub") for i in range(5)], "src string, dst string"
        )
        out = {r["node"]: r["rank"] for r in pagerank(e, iterations=5).collect()}
        assert out["hub"] > max(v for k, v in out.items() if k != "hub")

    def test_matches_generated_sql_oracle(self, spark, duck):
        from geocube_spark.operators.graph import pagerank, pagerank_sql

        duck.execute(
            "CREATE OR REPLACE VIEW pe AS SELECT * FROM (VALUES "
            "('a','b'), ('b','c'), ('c','a'), ('a','c'), ('d','a')"
            ") t(src, dst)"
        )
        want = {
            n: round(r, 9)
            for n, r in duck.sql(
                pagerank_sql("SELECT src, dst FROM pe", iterations=4)
            ).fetchall()
        }
        e = spark.createDataFrame(_PR_EDGES, "src string, dst string")
        got = {
            r["node"]: round(r["rank"], 9)
            for r in pagerank(e, iterations=4).collect()
        }
        assert got == want

    def test_oracle_dangling_and_duplicate_edges(self, spark, duck):
        """Dangling nodes and repeated edges, to 1e-9: the inflow sums run
        in a different order in numpy, Spark and DuckDB."""
        from geocube_spark.operators.graph import pagerank, pagerank_sql

        rng = random.Random(11)
        edges = [(f"n{rng.randrange(40)}", f"n{rng.randrange(60)}") for _ in range(150)]
        edges += edges[:20] + [("n1", "sink"), ("n1", "sink")]
        values = ", ".join(f"('{u}', '{v}')" for u, v in edges)
        duck.execute(f"CREATE OR REPLACE VIEW pe2 AS SELECT * FROM (VALUES {values}) t(src, dst)")
        want = dict(duck.sql(pagerank_sql("SELECT src, dst FROM pe2", iterations=6)).fetchall())
        e = spark.createDataFrame(edges, "src string, dst string")
        got = {r["node"]: r["rank"] for r in pagerank(e, iterations=6).collect()}
        assert got.keys() == want.keys()
        assert max(abs(got[n] - want[n]) for n in want) < 1e-9

    def test_empty_edge_list(self, spark):
        from geocube_spark.operators.graph import pagerank

        out = pagerank(spark.createDataFrame([], "src string, dst string"))
        assert out.columns == ["node", "rank"]
        assert out.collect() == []


class TestPageRankDistributed(TestPageRank):
    """Every ``TestPageRank`` test on the distributed rounds."""

    one_task = False

    @pytest.fixture(autouse=True)
    def _distributed(self, distributed_rounds):
        yield


class TestLshSkew:
    """The mega-bucket corpus (minhash_lsh_skew) must not blow up the
    banded join: wall time stays within a small factor of the uniform
    corpus at equal size, and the candidate count is O(hot²), not
    O(corpus²)."""

    def test_skew_within_bound_of_uniform(self, spark):
        import time

        from pyspark.sql import functions as F

        from geocube_spark import registry
        from geocube_spark.operators import dedup as dd

        sf_dir = "/root/testdata/sf0.01"
        docs = registry._docs(spark, sf_dir)
        skewed = docs.withColumn(
            "text",
            F.when(
                F.col("doc_id") % 20 == 0,
                F.concat(
                    F.lit(registry._SKEW_HEADER),
                    F.lit(" "),
                    F.substring("text", 1, 20),
                ),
            ).otherwise(F.col("text")),
        )

        def run(frame):
            t0 = time.time()
            n = dd.minhash_lsh_candidates(frame, num_hashes=32, bands=8).count()
            return time.time() - t0, n

        # warm both paths once (codegen compile), then time the medians
        run(docs), run(skewed)
        times_u = sorted(run(docs)[0] for _ in range(3))
        times_s = sorted(run(skewed)[0] for _ in range(3))
        _, n_skew = run(skewed)
        n_hot = skewed.filter(F.col("doc_id") % 20 == 0).count()
        # candidates bounded by the hot clique + the uniform corpus's own
        # near-dup pairs (a few dozen) — NOT quadratic in the corpus
        assert n_skew <= n_hot * (n_hot - 1) // 2 + 200
        assert n_skew >= n_hot * (n_hot - 1) // 4  # the mega-bucket is real
        # skewed run within 3x of uniform at equal corpus size (2x on a
        # quiet machine; the extra slack absorbs CI noise)
        assert times_s[1] <= 3.0 * times_u[1] + 0.5
