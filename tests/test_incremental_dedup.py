"""Incremental (delta-vs-index) MinHash dedup.

The contract: deduping a new batch against the frozen corpus's persisted
LSH bucket index + itself must produce EXACTLY the near-dup pairs of the
full-corpus run that touch at least one delta document — the incremental
path may never see fewer (index staleness) or more (key collisions across
the id split) pairs than the batch recompute.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geocube_spark.operators import dedup as dd


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the river bend"),
    (2, "completely unrelated text about spark shuffle partitions and joins"),
    (3, "another distinct document mentioning parquet column pruning only"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank"),
    (5, "streaming watermarks bound state for late arriving event data"),
    (6, "the quick brown fox jumps over the lazy dog close to the river bank"),
    (7, "catalyst rewrites filters below joins when the predicate allows it"),
]


def _split(docs):
    delta = docs.filter(F.col("doc_id") % 3 == 0)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    return corpus, delta


def test_incremental_equals_full_run_restricted(spark):
    docs = _corpus(spark, BASE)
    corpus, delta = _split(docs)
    idx = dd.build_minhash_index(corpus)
    inc = dd.incremental_dedup(idx, delta, docs, threshold=0.5)
    full = dd.minhash_near_duplicates(docs, threshold=0.5)
    delta_ids = {r.doc_id for r in delta.select("doc_id").collect()}
    want = {
        (r.doc_a, r.doc_b)
        for r in full.collect()
        if r.doc_a in delta_ids or r.doc_b in delta_ids
    }
    got = {(r.doc_a, r.doc_b) for r in inc.collect()}
    assert got == want
    assert want, "fixture must actually contain delta-touching near-dups"


def test_incremental_pairs_are_ordered_and_delta_touching(spark):
    docs = _corpus(spark, BASE)
    corpus, delta = _split(docs)
    idx = dd.build_minhash_index(corpus)
    rows = dd.incremental_dedup(idx, delta, docs, threshold=0.5).collect()
    delta_ids = {r.doc_id for r in delta.select("doc_id").collect()}
    for r in rows:
        assert r.doc_a < r.doc_b
        assert r.doc_a in delta_ids or r.doc_b in delta_ids
        assert r.jaccard >= 0.5


def test_replayed_delta_doc_emits_no_self_pair(spark):
    # a delta doc ALREADY in the corpus index (replayed epoch) must not
    # produce a degenerate (doc_a == doc_b, jaccard 1.0) pair
    docs = _corpus(spark, BASE)
    idx = dd.build_minhash_index(docs)  # index includes everything
    delta = docs.filter(F.col("doc_id") == 0)  # replayed
    rows = dd.incremental_dedup(idx, delta, docs, threshold=0.5).collect()
    assert all(r.doc_a != r.doc_b for r in rows)
    # the genuine near-dups of doc 0 still surface
    assert {(r.doc_a, r.doc_b) for r in rows} >= {(0, 4)}


def test_empty_delta_yields_no_pairs(spark):
    docs = _corpus(spark, BASE)
    idx = dd.build_minhash_index(docs)
    empty = docs.filter(F.lit(False))
    assert dd.incremental_dedup(idx, empty, docs).count() == 0


def test_index_fingerprint_cache(spark, tmp_path, monkeypatch):
    """ensure_minhash_index rebuilds iff its key marker is stale."""
    import os

    from geocube_spark import registry

    monkeypatch.setattr(registry, "FIXTURE_DIR", str(tmp_path))
    sf = "/root/testdata/sf0.001"
    out1 = registry.ensure_minhash_index(spark, sf)
    marker = out1 + ".key"
    mtime1 = os.path.getmtime(marker)
    out2 = registry.ensure_minhash_index(spark, sf)
    assert out1 == out2
    assert os.path.getmtime(marker) == mtime1, "unchanged source must not rebuild"
    with open(marker, "w") as f:
        f.write("stale")
    registry.ensure_minhash_index(spark, sf)
    with open(marker) as f:
        assert f.read() != "stale", "stale key must trigger rebuild"
    assert spark.read.parquet(out1).count() > 0


def test_stream_accumulates_to_batch_run(spark, tmp_path):
    """Two micro-batches through the append-only index protocol find the
    SAME pair set as the one-shot batch run over the full delta — every
    cross-batch pair is claimed exactly once by its later endpoint."""
    import os

    from geocube_spark.streaming.dedup_incremental import (
        run_incremental_dedup_stream,
    )

    docs = _corpus(spark, BASE)
    corpus, delta = _split(docs)
    idx_path = str(tmp_path / "index")
    out_path = str(tmp_path / "pairs")
    dd.build_minhash_index(corpus).write.parquet(idx_path)

    src = str(tmp_path / "delta_src")
    os.makedirs(src)
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    import pyarrow as pa
    import pyarrow.parquet as pq

    d_rows = sorted(delta.collect(), key=lambda r: r.doc_id)
    mid = len(d_rows) // 2
    for i, chunk in enumerate((d_rows[:mid], d_rows[mid:])):
        tbl = pa.table(
            {
                "doc_id": pa.array([r.doc_id for r in chunk], pa.int64()),
                "text": pa.array([r.text for r in chunk], pa.string()),
            }
        )
        pq.write_table(tbl, f"{src}/b{i}.parquet")
    stream = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_incremental_dedup_stream(stream, idx_path, docs, out_path)
    q.awaitTermination(120)

    got = {
        (r.doc_a, r.doc_b)
        for r in spark.read.parquet(out_path).select("doc_a", "doc_b").collect()
    }
    batch_idx = dd.build_minhash_index(corpus)
    want = {
        (r.doc_a, r.doc_b)
        for r in dd.incremental_dedup(batch_idx, delta, docs, threshold=0.5).collect()
    }
    assert got == want
    assert want, "fixture must produce pairs, including a cross-batch one"


@pytest.mark.parametrize("seed", [7, 11])
def test_randomized_property_vs_full_run(spark, seed):
    """Random corpora: incremental == full-run-restricted, any split."""
    import random

    rng = random.Random(seed)
    vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    for i in range(40):
        if i % 4 == 1:
            base = rows[i - 1][1].split()
            if base:
                j = rng.randrange(len(base))
                base[j] = rng.choice(vocab)
            rows.append((i, " ".join(base)))
        else:
            rows.append((i, " ".join(rng.choice(vocab) for _ in range(12))))
    docs = _corpus(spark, rows)
    corpus, delta = _split(docs)
    idx = dd.build_minhash_index(corpus)
    inc = {
        (r.doc_a, r.doc_b)
        for r in dd.incremental_dedup(idx, delta, docs, threshold=0.5).collect()
    }
    delta_ids = {r.doc_id for r in delta.select("doc_id").collect()}
    full = {
        (r.doc_a, r.doc_b)
        for r in dd.minhash_near_duplicates(docs, threshold=0.5).collect()
        if r.doc_a in delta_ids or r.doc_b in delta_ids
    }
    assert inc == full


def test_shared_shingle_frame_is_bit_identical(spark):
    """The shingles= fast path (signature from the DISTINCT shingle set,
    exact jaccard from the shared frame) must be BIT-identical to the
    internal tokenize-per-call path — min over duplicate k-grams equals
    min over the distinct set, and the band keys follow."""
    docs = _corpus(spark, BASE)
    sh = dd.shingle_sets(docs).localCheckpoint(eager=False)

    sig_a = {r["doc_id"]: r["signature"] for r in dd.minhash_signatures(docs).collect()}
    sig_b = {
        r["doc_id"]: r["signature"]
        for r in dd.minhash_signatures(docs, shingles=sh).collect()
    }
    assert sig_a == sig_b

    pairs_a = sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    )
    pairs_b = sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.5, shingles=sh).collect()
    )
    assert pairs_a == pairs_b

    cands_a = sorted(
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_lsh_candidates(docs).collect()
    )
    cands_b = sorted(
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_lsh_candidates(docs, shingles=sh).collect()
    )
    assert cands_a == cands_b


def test_numpy_minhash_fold_matches_jvm_fold(spark):
    """The vectorized numpy fold must be BIT-identical to the JVM
    higher-order fold it replaced: a, b, h < p = 2^31 - 1 keeps a*h + b
    under 2^62 (exact int64, no overflow), and % on non-negatives equals
    pmod.  Includes the empty-shingle-set sentinel row."""
    from pyspark.sql import functions as F

    from geocube_spark.functions.vectors import _MERSENNE_P, minhash_params
    from geocube_spark.operators.dedup import _minhash_fold_udf

    params = minhash_params(32)
    docs = _corpus(spark, BASE)
    hashed = dd.shingle_sets(docs).select(
        "doc_id",
        F.transform(
            F.col("shingles"),
            lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_P)),
        ).alias("hs"),
    )
    # plus one synthetic empty-set row to pin the sentinel behavior.  The
    # union is checkpointed: PushProjectionThroughUnion would otherwise
    # push the pandas UDF into the LocalRelation branch, where Spark tries
    # to evaluate it interpreted and fails (product code never projects a
    # Python UDF over a union of a LocalRelation).
    empty = spark.sql(
        "SELECT CAST(-1 AS LONG) AS doc_id, CAST(array() AS array<bigint>) AS hs"
    )
    hashed = hashed.unionByName(empty).localCheckpoint(eager=False)

    pab = F.array(
        *[F.struct(F.lit(a).alias("a"), F.lit(b).alias("b")) for a, b in params]
    )
    jvm_sig = F.aggregate(
        F.col("hs"),
        F.array_repeat(F.lit(_MERSENNE_P).cast("long"), len(params)),
        lambda acc, h: F.zip_with(
            acc,
            pab,
            lambda m, p: F.least(
                m, F.pmod(p["a"] * h + p["b"], F.lit(_MERSENNE_P))
            ),
        ),
    )
    want = {r["doc_id"]: r["s"] for r in hashed.select("doc_id", jvm_sig.alias("s")).collect()}
    got = {
        r["doc_id"]: r["s"]
        for r in hashed.select(
            "doc_id", _minhash_fold_udf(params)(F.col("hs")).alias("s")
        ).collect()
    }
    assert got == want


def test_numpy_simhash_matches_jvm_expr(spark):
    """The vectorized simhash vote/pack must be BIT-identical to the JVM
    simhash_expr it replaced: arithmetic >> and & unpack the same bits,
    the majority threshold is the same integer compare, and packing with
    int64 shifts wraps bit 63 negative in numpy exactly as in the JVM."""
    from pyspark.sql import functions as F

    from geocube_spark.functions.vectors import simhash_expr

    docs = _corpus(spark, BASE)
    # include an empty-text row to pin the zero fingerprint
    empty = spark.sql("SELECT CAST(-1 AS LONG) AS doc_id, '' AS text")
    docs = docs.select("doc_id", "text").unionByName(empty)
    toks = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
    )
    want = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", simhash_expr(toks).alias("s")).collect()
    }
    got = {
        r["doc_id"]: r["simhash"]
        for r in dd.simhash_fingerprints(docs).collect()
    }
    assert got == want
