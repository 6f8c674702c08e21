"""Artifact-registry lifecycle (swiftlake_spark/artifacts.py, round 10):
bounded per-namespace slots, eviction on re-register, clear() scoping,
engine.close() wiring, and the storage-level env validation (ADVICE r9).
"""

import os
import tempfile

import pytest

from swiftlake_spark.artifacts import ArtifactRegistry, storage_level_from_env


def test_persisted_slot_evicts_prior(spark):
    reg = ArtifactRegistry()
    a = spark.range(10).persist()
    b = spark.range(20).persist()
    reg.put_persisted("ns", ("app", "dir1"), a)
    assert reg.get_persisted("ns", ("app", "dir1")) is a
    # re-register under a NEW key: prior entry evicted AND unpersisted
    reg.put_persisted("ns", ("app", "dir2"), b)
    assert reg.get_persisted("ns", ("app", "dir1")) is None
    assert reg.get_persisted("ns", ("app", "dir2")) is b
    assert a.storageLevel.useMemory is False and a.storageLevel.useDisk is False
    assert b.storageLevel.useDisk or b.storageLevel.useMemory
    reg.clear()
    assert b.storageLevel.useMemory is False and b.storageLevel.useDisk is False


def test_tempdir_slot_and_clear(spark):
    reg = ArtifactRegistry()
    d1 = tempfile.mkdtemp(prefix="art1_")
    d2 = tempfile.mkdtemp(prefix="art2_")
    open(os.path.join(d1, "x"), "w").write("x")
    reg.put_tempdir("wh", ("app", "a"), d1)
    reg.put_tempdir("wh", ("app", "b"), d2)  # evicts + removes d1
    assert not os.path.exists(d1)
    assert os.path.exists(d2)
    assert reg.clear() == 1
    assert not os.path.exists(d2)
    assert reg.namespaces() == []


def test_clear_scoped_by_app_id(spark):
    reg = ArtifactRegistry()
    mine = spark.range(5).persist()
    other = spark.range(6).persist()
    reg.put_persisted("n1", ("me", "d"), mine, app_id="me")
    reg.put_persisted("n2", ("you", "d"), other, app_id="you")
    assert reg.clear(app_id="me") == 1
    assert mine.storageLevel.useMemory is False
    assert reg.get_persisted("n2", ("you", "d")) is other  # untouched
    reg.clear()


def test_engine_close_releases_session_artifacts(spark, tmp_path):
    from swiftlake_spark.artifacts import registry
    from swiftlake_spark.engine import SwiftLakeEngine

    eng = SwiftLakeEngine(spark, warehouse=str(tmp_path / "wh"))
    app = spark.sparkContext.applicationId
    df = spark.range(7).persist()
    d = tempfile.mkdtemp(prefix="artclose_")
    registry.put_persisted("t_close_df", (app, "x"), df, app_id=app)
    registry.put_tempdir("t_close_dir", (app, "x"), d, app_id=app)
    eng.close()
    assert df.storageLevel.useMemory is False and df.storageLevel.useDisk is False
    assert not os.path.exists(d)
    assert registry.get_persisted("t_close_df", (app, "x")) is None
    assert registry.get_tempdir("t_close_dir", (app, "x")) is None


def test_query_caches_register_and_release(spark):
    """The migrated query caches (q109/q123 grams, fixture warehouses)
    land in the global registry and engine.close() empties this
    session's share — no persisted frame or tempdir survives."""
    from swiftlake_spark.artifacts import registry
    from swiftlake_spark.engine import SwiftLakeEngine
    from swiftlake_spark.queries import REGISTRY, _load_all

    _load_all()
    sf = "/root/testdata/sf0.001"
    for name in ("q109_bigram_surprisal", "q123_span_dedup", "q33_file_metadata"):
        REGISTRY[name].fn(spark, sf).limit(1).collect()
    assert {"q109_grams", "q123_grams", "q33_wh"} <= set(registry.namespaces())
    grams = registry.get_persisted(
        "q123_grams", (spark.sparkContext.applicationId, sf)
    )
    assert grams is not None and grams.storageLevel.useDisk
    wh = registry.get_tempdir("q33_wh", (spark.sparkContext.applicationId, sf))
    assert wh is not None and os.path.exists(wh)
    SwiftLakeEngine(spark, warehouse=None).close()
    assert grams.storageLevel.useDisk is False
    assert not os.path.exists(wh)
    assert registry.namespaces() == []


def test_verdict_queries_cache_no_output(spark):
    """Queries return their plan directly: building them registers no
    session artifact, so a repeated run recomputes instead of reading a
    cached result."""
    from swiftlake_spark.artifacts import registry
    from swiftlake_spark.queries import REGISTRY, _load_all
    from tests.test_operators import SF

    _load_all()
    before = set(registry.namespaces())
    for name in (
        "q49_simhash_neardup",
        "q50_ann_lsh_topk",
        "q58_ivf_topk",
        "q107_approx_percentile",
        "q139_decontaminate",
    ):
        REGISTRY[name].fn(spark, SF)
    assert set(registry.namespaces()) - before == set()


def test_storage_level_env_validation(monkeypatch):
    monkeypatch.setenv("SWIFTLAKE_GRAMS_STORAGE", "MEMORY_ONLY")
    lvl = storage_level_from_env("SWIFTLAKE_GRAMS_STORAGE")
    assert lvl.useMemory and not lvl.useDisk
    monkeypatch.setenv("SWIFTLAKE_GRAMS_STORAGE", "DISK_ONLYY")
    with pytest.raises(ValueError, match="DISK_ONLYY.*valid"):
        storage_level_from_env("SWIFTLAKE_GRAMS_STORAGE")
    monkeypatch.delenv("SWIFTLAKE_GRAMS_STORAGE")
    assert storage_level_from_env("SWIFTLAKE_GRAMS_STORAGE").useDisk


def test_same_key_put_is_first_wins(spark):
    """r10 review: two concurrent get-misses may both persist — the
    same-key re-put must NOT evict the registered (possibly in-use)
    frame; it keeps the winner and unpersists only the loser."""
    from pyspark import StorageLevel

    from swiftlake_spark.artifacts import ArtifactRegistry

    reg = ArtifactRegistry()
    a = spark.range(10).persist(StorageLevel.DISK_ONLY)
    b = spark.range(10).persist(StorageLevel.DISK_ONLY)
    a.count(), b.count()
    won = reg.put_persisted("ns", ("k",), a)
    assert won is a
    got = reg.put_persisted("ns", ("k",), b)  # loser of the race
    assert got is a, "first put must win"
    # the loser is left alone: same-key twins share the winner's cache
    # entry (Spark keys on the analyzed plan), so unpersisting it would
    # destroy the winner's blocks too
    assert a.storageLevel.useDisk, "winner must stay persisted"
    # re-putting the SAME frame is a no-op, never a self-eviction
    got = reg.put_persisted("ns", ("k",), a)
    assert got is a and a.storageLevel.useDisk
    # a DIFFERENT key still evicts the prior entry (bounded slot)
    c = spark.range(5).persist(StorageLevel.DISK_ONLY)
    c.count()
    got = reg.put_persisted("ns", ("k2",), c)
    assert got is c and not a.storageLevel.useDisk
    reg.clear()
    assert not c.storageLevel.useDisk


def test_same_key_tempdir_first_wins(tmp_path):
    import os

    from swiftlake_spark.artifacts import ArtifactRegistry

    reg = ArtifactRegistry()
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(p1), os.makedirs(p2)
    assert reg.put_tempdir("td", ("k",), p1) == p1
    assert reg.put_tempdir("td", ("k",), p2) == p1  # first wins
    # the loser path is left alone: an in-flight query may still
    # reference it (leak-until-exit beats deletion under its feet)
    assert os.path.isdir(p1) and os.path.isdir(p2)
    reg.clear()
    assert not os.path.isdir(p1) and os.path.isdir(p2)
