"""The one derived-fixture cache rule (fixtures.cached): keyed on input
bytes only, one build under concurrency, marker written last."""

from __future__ import annotations

import inspect
import os
import shutil
import threading
import time

import pytest

from geocube_spark import fixtures, registry


def _counting_build(payload: str = "v1", delay: float = 0.0):
    calls = []

    def build(out):
        calls.append(out)
        os.makedirs(out)
        for i in range(3):
            time.sleep(delay)
            with open(os.path.join(out, f"part-{i}"), "w") as f:
                f.write(payload)

    return build, calls


@pytest.fixture
def src(tmp_path):
    d = tmp_path / "src.parquet"
    (d / "sub").mkdir(parents=True)
    (d / "a.bin").write_bytes(b"alpha")
    (d / "sub" / "b.bin").write_bytes(b"beta")
    return str(d)


def test_unchanged_inputs_do_not_rebuild(tmp_path, src):
    out = str(tmp_path / "out")
    build, calls = _counting_build()
    assert fixtures.cached(out, [src], build) == out
    assert fixtures.cached(out, [src], build) == out
    assert len(calls) == 1
    with open(out + ".key") as f:
        assert f.read() == fixtures._input_key([src])


def test_new_mtime_same_bytes_does_not_rebuild(tmp_path, src):
    out = str(tmp_path / "out")
    build, calls = _counting_build()
    fixtures.cached(out, [src], build)
    later = time.time() + 3600
    for path in (os.path.join(src, "a.bin"), os.path.join(src, "sub", "b.bin")):
        os.utime(path, (later, later))
    fixtures.cached(out, [src], build)
    assert len(calls) == 1


def test_changed_bytes_rebuild(tmp_path, src):
    out = str(tmp_path / "out")
    build, calls = _counting_build("v1")
    fixtures.cached(out, [src], build)
    with open(os.path.join(src, "sub", "b.bin"), "wb") as f:
        f.write(b"gamma")
    build2, calls2 = _counting_build("v2")
    fixtures.cached(out, [src], build2)
    assert len(calls) == 1 and len(calls2) == 1
    with open(os.path.join(out, "part-0")) as f:
        assert f.read() == "v2"


def test_failed_build_leaves_no_marker_and_rebuilds(tmp_path, src):
    out = str(tmp_path / "out")

    def crash(o):
        os.makedirs(o)
        with open(os.path.join(o, "part-0"), "w") as f:
            f.write("partial")
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError):
        fixtures.cached(out, [src], crash)
    assert not os.path.exists(out + ".key")
    build, calls = _counting_build()
    fixtures.cached(out, [src], build)
    assert len(calls) == 1
    assert sorted(os.listdir(out)) == ["part-0", "part-1", "part-2"]
    with open(os.path.join(out, "part-0")) as f:
        assert f.read() == "v1"


def test_racing_threads_build_once(tmp_path, src):
    out = str(tmp_path / "out")
    os.makedirs(out)  # a stale output: its marker holds another key
    with open(out + ".key", "w") as f:
        f.write("stale")
    build, calls = _counting_build(delay=0.05)
    gate = threading.Barrier(6)
    results, errors = [], []

    def worker():
        gate.wait()
        try:
            results.append(fixtures.cached(out, [src], build))
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert results == [out] * 6
    assert len(calls) == 1
    assert sorted(os.listdir(out)) == ["part-0", "part-1", "part-2"]
    with open(out + ".key") as f:
        assert f.read() == fixtures._input_key([src])


class _NoSpark:
    """Stands in for the session: any use of it is a build."""

    def __getattr__(self, name):
        raise AssertionError(f"fixture build touched spark.{name}")


def test_committed_fixtures_survive_a_fresh_copy_of_the_inputs(
    tmp_path, sf_dir, monkeypatch
):
    """Every registry.ensure_* returns the committed fixture for inputs
    copied to a new place (new mtimes), without building anything."""
    copy = str(tmp_path / os.path.basename(sf_dir.rstrip("/")))
    shutil.copytree(sf_dir, copy, copy_function=shutil.copyfile)
    real_cached = fixtures.cached

    def never_build(out):
        raise AssertionError(f"rebuilt {out}")

    def checked(out, inputs, build):
        with open(out + ".key") as f:  # fail before cached() removes `out`
            assert f.read() == fixtures._input_key(inputs), out
        return real_cached(out, inputs, never_build)

    def no_generate(*a, **k):
        raise AssertionError("regenerated the base fixtures")

    monkeypatch.setattr(registry, "cached", checked)
    monkeypatch.setattr(fixtures, "generate", no_generate)
    builders = {
        n: fn for n, fn in vars(registry).items()
        if n.startswith("ensure_") and fn.__module__ == registry.__name__
    }
    assert len(builders) == 14  # ensure_fixtures + 13 derived fixtures
    for name, fn in sorted(builders.items()):
        params = inspect.signature(fn).parameters
        args = {"spark": _NoSpark(), "sf_dir": copy}
        path = fn(*(args[p] for p in params))
        assert os.path.commonpath([path, registry.FIXTURE_DIR]) == (
            registry.FIXTURE_DIR
        ), (name, path)
        assert os.path.exists(path), (name, path)
