"""The staging module's publish discipline (r13 ADVICE item 1 + r14
review): versioned stores under one bounded per-(checkout, sf) location,
atomic symlink swap, reader-safe replacement, bounded version retention."""

from __future__ import annotations

import pytest

import os

from slr207_mapreduce_spark.sources.staging import staged_write, staging_path


def _write_store(final, payload):
    with staged_write(final) as stage:
        os.makedirs(stage)
        with open(os.path.join(stage, "part-0"), "w") as f:
            f.write(payload)


def test_staged_write_publishes_versions_and_keeps_reader_files(tmp_path):
    final = str(tmp_path / "store_x")
    _write_store(final, "v1")
    assert os.path.islink(final)
    with open(os.path.join(final, "part-0")) as f:
        assert f.read() == "v1"
    # a reader that resolved the v1 directory keeps its files across a
    # concurrent republish — the builder-vs-reader safety property
    v1_dir = os.path.realpath(final)
    _write_store(final, "v2")
    with open(os.path.join(final, "part-0")) as f:
        assert f.read() == "v2"
    assert os.path.exists(os.path.join(v1_dir, "part-0"))  # v1 intact
    # retention GRACE (r14 ADVICE): a fresh version is never swept even
    # past the keep-two-newest rank — a long-lived reader of v1 keeps
    # its files while rapid-fire republishes happen
    v2_dir = os.path.realpath(final)
    _write_store(final, "v3a")
    assert os.path.exists(os.path.join(v1_dir, "part-0"))  # young: kept
    # bounded retention: once past the grace, the next publish sweeps
    # everything but the two newest
    import time as _time

    from slr207_mapreduce_spark.sources.staging import RETENTION_GRACE_SEC

    old = _time.time() - RETENTION_GRACE_SEC - 60
    parent0 = os.path.dirname(final)
    for e in os.listdir(parent0):
        if e.startswith(os.path.basename(final) + ".v"):
            os.utime(os.path.join(parent0, e), (old, old))
    v3a_dir = os.path.realpath(final)
    _write_store(final, "v3")
    assert not os.path.exists(v1_dir)  # aged + past rank: swept
    assert not os.path.exists(v2_dir)
    assert os.path.exists(os.path.join(v3a_dir, "part-0"))  # two newest kept
    with open(os.path.join(final, "part-0")) as f:
        assert f.read() == "v3"
    # no stage remnants
    parent = os.path.dirname(final)
    assert not [e for e in os.listdir(parent) if ".stage-" in e]


def test_staging_path_is_per_checkout_and_sf(tmp_path):
    a = staging_path("kindA", "/root/testdata/sf0.01")
    b = staging_path("kindA", "/root/testdata/sf0.1")
    c = staging_path("kindB", "/root/testdata/sf0.01")
    assert len({a, b, c}) == 3
    assert a == staging_path("kindA", "/root/testdata/sf0.01")  # stable
    assert "/.sfgen/stage/" in a


def _stage_tree_snapshot() -> set[str]:
    root = os.path.dirname(staging_path("probe", "/root/testdata/sf0.01"))
    if not os.path.isdir(root):
        return set()
    out = set()
    for dirpath, dirnames, filenames in os.walk(root):
        for n in dirnames + filenames:
            out.add(os.path.join(dirpath, n))
    return out


@pytest.mark.slow  # >30 s scale/e2e leg (r15 VERDICT item 2)
def test_plan_only_enumeration_writes_nothing(spark):
    """r14 VERDICT item 7: under plan_only, the materializing queries
    return their from-raw twin plans (same oracle — materialization is
    the semantic identity) and the staging area is byte-untouched, so
    registry enumerators (plan audit, plan sweep) pay zero store
    builds. Outside plan_only, behavior is unchanged (the oracle gate
    adjudicates the store-backed plans as before)."""
    from tests.conftest import SF_SMOKE

    from slr207_mapreduce_spark.plans.base import all_queries, plan_only

    specs = all_queries()
    materializing = [
        n for n in specs
        if "materialized" in n or n == "retrieval_hybrid_rrf_batch"
    ]
    assert len(materializing) >= 2  # the class this hatch exists for
    before = _stage_tree_snapshot()
    with plan_only():
        for name in materializing:
            df = specs[name].build(spark, SF_SMOKE)
            df.explain  # plan is materializable without any store
            assert df.columns  # twin keeps the oracle's column contract
    assert _stage_tree_snapshot() == before


def test_repo_root_falls_back_to_cache_outside_checkout(monkeypatch):
    """r14 ADVICE item 4: an installed copy (site-packages) must not
    stage stores inside its own install tree — outside a writable git
    checkout the staging root falls back to the user cache dir."""
    import slr207_mapreduce_spark
    from slr207_mapreduce_spark.sources import staging

    package_dir = os.path.dirname(os.path.abspath(slr207_mapreduce_spark.__file__))
    monkeypatch.setattr(staging, "_checkout_ok", lambda root: True)
    assert staging._repo_root() == os.path.dirname(package_dir)
    monkeypatch.setattr(staging, "_checkout_ok", lambda root: False)
    monkeypatch.setenv("XDG_CACHE_HOME", "/tmp/fake-xdg")
    assert staging._repo_root() == "/tmp/fake-xdg/slr207_mapreduce_spark"
