"""gate.cached_index: one content-keyed cache for every gate index.

A cached index is trusted only through its key file, written after the
build: the key names the source parquet's bytes, the docs function, the
build options and the package source. Runs on a small copy of an sf
dir with gate.BUILD_DIR pointed at a tmp dir."""

import itertools
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from lucene_spark import gate

SRC = "/root/testdata/sf0.001/documents.parquet"
N_DOCS = 60
_group_ids = itertools.count()


@pytest.fixture(scope="module")
def sf_copy(tmp_path_factory):
    if not os.path.exists(SRC):
        pytest.skip(f"{SRC} absent")
    root = tmp_path_factory.mktemp("gate_cache")
    sf_dir = root / "sf_small"
    sf_dir.mkdir()
    table = pq.read_table(SRC).slice(0, N_DOCS)
    pq.write_table(table, sf_dir / "documents.parquet")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(gate, "BUILD_DIR", str(root / "build"))
        mp.setattr(gate, "_open", {})
        yield str(sf_dir), table


@pytest.fixture
def builds(monkeypatch):
    """Index dirs gate.build_index was called for during the test."""
    seen = []
    real = gate.build_index

    def counting(spark, docs, out_dir, **opts):
        seen.append(out_dir)
        return real(spark, docs, out_dir, **opts)

    monkeypatch.setattr(gate, "build_index", counting)
    return seen


def _spark_jobs(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"gate-cache-{next(_group_ids)}"
    sc.setJobGroup(group, "gate cache probe")
    try:
        out = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_call_starts_no_spark_job(spark, sf_copy, builds):
    sf_dir, _ = sf_copy
    gate._open.clear()
    first, cold_jobs = _spark_jobs(
        spark, lambda: gate.cached_index(spark, sf_dir)
    )
    again, jobs = _spark_jobs(spark, lambda: gate.cached_index(spark, sf_dir))
    assert cold_jobs > 0  # the probe sees the cold call's jobs
    assert again is first
    assert jobs == 0
    # a new process (empty memo) opens the cached index without a build
    gate._open.clear()
    n_builds = len(builds)
    reopened = gate.cached_index(spark, sf_dir)
    assert len(builds) == n_builds
    assert reopened.manifest["doc_count"] == N_DOCS


def test_same_row_count_new_text_rebuilds(spark, sf_copy, builds):
    sf_dir, table = sf_copy
    path = os.path.join(sf_dir, "documents.parquet")
    s = gate.cached_index(spark, sf_dir)
    assert "zebra" not in s.term_stats(["zebra"])
    del builds[:]
    text = pc.binary_join_element_wise(table["text"], "zebra", " ")
    pq.write_table(table.set_column(1, "text", text), path)
    try:
        s = gate.cached_index(spark, sf_dir)
        assert len(builds) == 1
        assert s.manifest["doc_count"] == N_DOCS
        assert s.term_stats(["zebra"])["zebra"].df == N_DOCS
    finally:
        pq.write_table(table, path)


def test_option_sets_get_separate_dirs(spark, sf_copy, builds):
    sf_dir, _ = sf_copy
    plain = gate.cached_index(spark, sf_dir)
    stop = gate.cached_index(spark, sf_dir, token_filters=gate.STOP_FILTERS)
    assert plain.index_dir != stop.index_dir
    assert stop.manifest["token_filters"] == list(gate.STOP_FILTERS)
    assert not plain.manifest.get("token_filters")
    assert gate.cached_index(spark, sf_dir) is plain


def test_index_without_key_file_is_rebuilt(spark, sf_copy, builds):
    """A build killed before its key file was written is redone."""
    sf_dir, _ = sf_copy
    s = gate.cached_index(spark, sf_dir)
    os.remove(os.path.join(s.index_dir, gate.KEY_FILE))
    del builds[:]
    gate.cached_index(spark, sf_dir)
    assert builds == [s.index_dir]
    assert os.path.exists(os.path.join(s.index_dir, gate.KEY_FILE))


def test_package_change_rebuilds(spark, sf_copy, builds, monkeypatch):
    sf_dir, _ = sf_copy
    s = gate.cached_index(spark, sf_dir)
    del builds[:]
    monkeypatch.setattr(gate, "_package_digest", lambda: "edited")
    gate.cached_index(spark, sf_dir)
    assert builds == [s.index_dir]
