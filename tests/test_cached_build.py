"""`queries._cached_build`: a per-corpus artifact (IVF / IVF-PQ index,
signature stores) is built once and served after, and a builder that
loses the rename race removes its temp dir and serves the winner's."""

import glob
import os
import shutil
import uuid

import pytest

from batukh_spark.queries import _cached_build


@pytest.fixture
def corpus(tmp_path):
    (tmp_path / "docs.parquet").write_bytes(b"corpus")
    kind = f"testcache_{uuid.uuid4().hex}"
    yield str(tmp_path), kind
    for d in glob.glob(f"/tmp/batukh_{kind}_*"):
        shutil.rmtree(d)


def _write(path, name="_SUCCESS"):
    os.makedirs(path)
    open(os.path.join(path, name), "w").close()


def _final(tmp):
    """The artifact directory a `build(tmp)` call is renamed into."""
    return tmp.rsplit(".build", 1)[0]


def test_build_runs_once(corpus):
    sf, kind = corpus
    calls = []

    def build(tmp):
        calls.append(tmp)
        _write(tmp)

    first = _cached_build(sf, "docs", kind, "_SUCCESS", build)
    second = _cached_build(sf, "docs", kind, "_SUCCESS", build)
    assert first == second
    assert len(calls) == 1
    assert os.path.basename(first).startswith(f"batukh_{kind}_")
    assert os.path.exists(f"{first}/_SUCCESS")
    assert glob.glob(f"{first}.*") == []


def test_race_loser_removes_its_temp_dir(corpus):
    sf, kind = corpus
    tmps = []

    def build(tmp):
        # a concurrent builder commits first, then this one finishes
        tmps.append(tmp)
        _write(tmp)
        _write(_final(tmp))

    out = _cached_build(sf, "docs", kind, "_SUCCESS", build)
    assert out == _final(tmps[0])
    assert not os.path.exists(tmps[0])
    assert os.path.exists(f"{out}/_SUCCESS")


def test_race_loser_raises_without_winner_marker(corpus):
    sf, kind = corpus

    def build(tmp):
        # the other builder's directory holds no marker yet
        _write(tmp)
        _write(_final(tmp), "partial")

    with pytest.raises(OSError):
        _cached_build(sf, "docs", kind, "_SUCCESS", build)
    assert glob.glob(f"/tmp/batukh_{kind}_*.build*") == []
