"""The driver records only the last 2000 chars of bench output; the JSON
summary line must always fit (round 3's bench was lost to an oversized line)."""

import json

import bench


def _fake_timings(n):
    # realistic worst case: long snake_case names, 3-decimal values
    return {f"extremely_long_query_name_number_{i:03d}": round(0.123 + i, 3)
            for i in range(n)}


def test_summary_line_fits_tail_budget():
    for n in (10, 47, 82, 150, 400):
        timings = _fake_timings(n)
        line = bench.summary_line(round(sum(timings.values()), 3), timings, 0.1)
        assert len(line) <= bench.TAIL_BUDGET, (n, len(line))
        parsed = json.loads(line)
        assert parsed["unit"] == "sec"
        assert parsed["value"] == round(sum(timings.values()), 3)
        # detail may be trimmed, but what's kept must be the slowest queries
        kept = parsed["queries"]
        omitted = parsed.get("queries_omitted", 0)
        assert len(kept) + omitted == n
        if omitted:
            slowest = sorted(timings, key=lambda k: -timings[k])[: len(kept)]
            assert set(kept) == set(slowest)


def test_summary_line_small_suite_untrimmed():
    timings = _fake_timings(5)
    line = bench.summary_line(1.0, timings, 0.01)
    parsed = json.loads(line)
    assert parsed["queries"] == timings
    assert "queries_omitted" not in parsed


def test_summary_line_pins_round11_set():
    # a slow unpinned mob must not evict the pinned (round-over-round
    # comparable) queries from a trimmed line
    pinned = sorted(bench.PINNED_SUMMARY_QUERIES)
    timings = {name: 0.5 for name in pinned}
    timings.update(
        {f"unpinned_very_long_query_name_{i:03d}": 99.0 for i in range(200)}
    )
    line = bench.summary_line(round(sum(timings.values()), 3), timings, 0.1)
    assert len(line) <= bench.TAIL_BUDGET
    parsed = json.loads(line)
    assert parsed.get("queries_omitted", 0) > 0  # trim definitely happened
    assert set(pinned) <= set(parsed["queries"])  # every pinned query kept


def test_summary_line_long_names_trim_to_empty_detail():
    # two names so long that even one of them overflows the budget: the
    # trim must go all the way down to an empty detail map
    timings = {f"q{i}_" + "x" * bench.TAIL_BUDGET: float(i + 1) for i in range(2)}
    line = bench.summary_line(3.0, timings, 0.1)
    assert len(line) <= bench.TAIL_BUDGET
    parsed = json.loads(line)
    assert parsed["queries"] == {}
    assert parsed["queries_omitted"] == 2
