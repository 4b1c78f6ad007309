"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402
from spans import Span, Tracer  # noqa: E402
from workloads import check_page, mosaic  # noqa: E402


# ------------------------------------------------------- percentile rule


@pytest.mark.parametrize("n, want", [
    (0, None), (10, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (5000, 90.0),
])
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(0)
    xs = rng.random(37).tolist()
    for p in (0, 10, 50, 75, 90, 100):
        assert stats.percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


# ------------------------------------------------------------ self time


def _tracer(spans):
    """A tracer holding (name, start, end, parent) spans."""
    t = Tracer()
    for name, start, end, parent in spans:
        t.spans.append(Span(name, start, end, parent=parent))
        if parent is not None:
            t.spans[parent].children.append(len(t.spans) - 1)
    return t


def test_self_time_subtracts_the_union_of_children():
    # children cover [1,5) (overlapping) and [7,8): 5 of the parent's 10
    t = _tracer([("p", 0, 10, None), ("a", 1, 3, 0), ("b", 2, 5, 0), ("c", 7, 8, 0)])
    assert t.self_time(0) == pytest.approx(5.0)
    assert t.self_time(1) == pytest.approx(2.0)


def test_self_time_clips_children_to_the_parent():
    t = _tracer([("p", 0, 4, None), ("a", 3, 6, 0)])
    assert t.self_time(0) == pytest.approx(3.0)


def test_self_time_ignores_grandchildren():
    # the grandchild lies inside its parent, so it does not reduce the root
    t = _tracer([("p", 0, 10, None), ("a", 2, 6, 0), ("g", 3, 4, 1)])
    assert t.self_time(0) == pytest.approx(6.0)
    assert t.self_time(1) == pytest.approx(3.0)


def test_recorded_spans_nest_and_carry_the_op_id():
    t = Tracer()
    t.enabled = True
    t.op_id = "op7"
    f = t.wrap("inner", lambda: 1)
    with t.span("outer"):
        f()
    outer, inner = t.spans
    assert inner.parent == 0 and outer.children == [1]
    assert {outer.op_id, inner.op_id} == {"op7"}


def test_union_length():
    assert stats.union_length([]) == 0
    assert stats.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


# ----------------------------------------------------------- determinism


def _digests(paths):
    return {n: hashlib.sha256(open(p, "rb").read()).hexdigest() for n, p in paths.items()}


def _inputs(seed, out):
    cat = gen.catalog(seed, 60, 5, days=30)
    cube, _ = gen.cube_stack(seed, 6, 2, 1, 16)
    tables = {**{f"c_{k}": v for k, v in cat.items()},
              **{f"k_{k}": v for k, v in cube.items()},
              "documents": gen.documents(seed, 50)}
    ops = gen.catalog_ops(seed, cat, 30) + gen.cube_ops(seed, cube, 10)
    return _digests(gen.write_tables(tables, out)), gen.dumps_ops(ops)


def test_same_seed_gives_identical_catalog_and_ops(tmp_path):
    a_files, a_ops = _inputs(7, str(tmp_path / "a"))
    b_files, b_ops = _inputs(7, str(tmp_path / "b"))
    assert a_files == b_files
    assert a_ops == b_ops


def test_different_seed_gives_different_catalog_and_ops(tmp_path):
    a_files, a_ops = _inputs(7, str(tmp_path / "a"))
    b_files, b_ops = _inputs(8, str(tmp_path / "b"))
    assert a_ops != b_ops
    for name in ("c_datasets", "c_records", "k_tiles", "documents"):
        assert a_files[name] != b_files[name]


# ------------------------------------------------------------- checkers


def test_check_page_accepts_any_member_of_a_tied_group():
    ordered = [("d1", "r1"), ("d2", "r1"), ("d3", "r2"), ("d4", "r2"), ("d5", "r3")]
    assert check_page([("d2", "r1"), ("d4", "r2")], ordered, offset=1, limit=2) is None
    assert check_page([("d3", "r2")], ordered, offset=2, limit=1) is None


def test_check_page_rejects_wrong_order_members_or_length():
    ordered = [("d1", "r1"), ("d2", "r1"), ("d3", "r2")]
    assert check_page([("d3", "r2"), ("d1", "r1")], ordered, 0, 2)
    assert check_page([("d3", "r1"), ("d2", "r1")], ordered, 0, 2)
    assert check_page([("d1", "r1")], ordered, 0, 2)
    assert check_page([("d1", "r1"), ("d1", "r1")], ordered, 0, 2)


def test_mosaic_takes_the_newest_valid_pixel():
    nd = gen.NODATA
    px = np.array([[1.0, 2.0, nd], [nd, 5.0, nd], [nd, nd, nd]])
    assert mosaic(px).tolist() == [1.0, 5.0, nd]


def test_lsh_recall_floor_follows_the_banding():
    from workloads import lsh_recall_floor

    assert lsh_recall_floor([], 8, 4) == 0.0
    assert lsh_recall_floor([1.0] * 50, 8, 4) == pytest.approx(1.0)
    # one J=0.5 pair is a candidate with probability 1 - (15/16)^8
    p = 1 - (15 / 16) ** 8
    many = lsh_recall_floor([0.5] * 10000, 8, 4)
    assert p - 0.02 < many < p
    assert lsh_recall_floor([0.5] * 100, 8, 4) < many


@pytest.mark.parametrize("round_len, lead", [(2, 0), (4, 4), (6, 0)])
def test_traced_run_balances_each_position_over_four_rounds(round_len, lead):
    from run import TRACE_ROUNDS, traced_op

    assert not any(traced_op(i, lead, round_len) for i in range(lead))
    for k in range(round_len):
        rounds = {True: [], False: []}
        for r in range(TRACE_ROUNDS):
            rounds[traced_op(lead + r * round_len + k, lead, round_len)].append(r)
        # traced half the time, at the same mean round index as untraced
        assert len(rounds[True]) == len(rounds[False]) == TRACE_ROUNDS // 2
        assert sum(rounds[True]) == sum(rounds[False])
    # each round traces half of its positions
    for r in range(TRACE_ROUNDS):
        row = [traced_op(lead + r * round_len + k, lead, round_len) for k in range(round_len)]
        assert sum(row) == round_len // 2
