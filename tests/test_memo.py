"""Pins for the session memo (data_engineering_zoomcamp_projects_spark/memo.py):
memoized state is rebuilt when an input table is rewritten in place
within one session, replaced values are released, and no module keeps
a hand-rolled ``*_MEMO`` dict of its own."""

from __future__ import annotations

import importlib
import os
import pkgutil
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import data_engineering_zoomcamp_projects_spark as pkg

from .conftest import SF_SMOKE


def _copy_sf(dst, src: str = SF_SMOKE) -> str:
    """Writable copy of a tables dir (the smoke tables are read-only)."""
    os.makedirs(dst)
    for name in os.listdir(src):
        shutil.copyfile(os.path.join(src, name), os.path.join(dst, name))
    return str(dst)


def _rewrite(sf_dir: str, table: str, grow: bool = False) -> None:
    """Rewrite `table` in place: with only its second half of rows, or
    (``grow``) with every row twice in several row groups, so the file
    outgrows the length a stale file listing recorded. A build over a
    copy of the result at a new path is the fresh build the rewritten
    dir must agree with."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    t = pq.read_table(path)
    if grow:
        pq.write_table(pa.concat_tables([t, t]), path + ".tmp", row_group_size=1000)
    else:
        pq.write_table(t.slice(t.num_rows // 2), path + ".tmp")
    os.replace(path + ".tmp", path)


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def test_bpe_merges_rebuild_after_documents_rewrite(spark, tmp_path):
    from data_engineering_zoomcamp_projects_spark.llm.textstats import (
        text_bpe_learn_merges,
    )

    d = _copy_sf(tmp_path / "sf")
    before = _rows(text_bpe_learn_merges(spark, d))
    _rewrite(d, "documents")
    got = _rows(text_bpe_learn_merges(spark, d))
    fresh = _rows(text_bpe_learn_merges(spark, _copy_sf(tmp_path / "fresh", d)))
    assert fresh != before  # the rewrite changes the model
    assert got == fresh


def test_ann_model_rebuilds_after_embeddings_rewrite(spark, tmp_path):
    from data_engineering_zoomcamp_projects_spark.llm import similarity as sim

    def served_model(sf_dir):
        path = sim.build_ann_index(spark, sf_dir)
        cells, model, pq_list = sim._sidecar_model(spark, path)
        return path, (_rows(cells), _rows(model), pq_list)

    d = _copy_sf(tmp_path / "sf")
    paths = []
    try:
        path, before = served_model(d)
        paths.append(path)
        _rewrite(d, "embeddings")
        _, got = served_model(d)
        fresh_path, fresh = served_model(_copy_sf(tmp_path / "fresh", d))
        paths.append(fresh_path)
        assert fresh != before  # the rewrite changes the model
        assert got == fresh
    finally:
        for p in paths:
            shutil.rmtree(p, ignore_errors=True)


def test_transform_mart_reflects_lineitem_rewrite(spark, tmp_path):
    from data_engineering_zoomcamp_projects_spark.transform import mart_daily_revenue

    d = _copy_sf(tmp_path / "sf")
    before = _rows(mart_daily_revenue(spark, d))
    _rewrite(d, "lineitem", grow=True)
    got = _rows(mart_daily_revenue(spark, d))
    fresh = _rows(mart_daily_revenue(spark, _copy_sf(tmp_path / "fresh", d)))
    assert fresh != before
    assert got == fresh


@pytest.fixture
def memo():
    from data_engineering_zoomcamp_projects_spark import memo

    yield memo
    memo.clear()


def _touch_input(tmp_path, content: str) -> str:
    p = tmp_path / "input.txt"
    p.write_text(content)
    return str(p)


def test_session_memo_hit_returns_same_object(memo, spark, tmp_path):
    src = _touch_input(tmp_path, "a")
    a = memo.session_memo(spark, "test_hit", [src], lambda: object())
    assert memo.session_memo(spark, "test_hit", [src], lambda: object()) is a


def test_session_memo_fingerprint_change_rebuilds(memo, spark, tmp_path):
    src = _touch_input(tmp_path, "a")
    a = memo.session_memo(spark, "test_fp", [src], lambda: object())
    _touch_input(tmp_path, "bb")
    b = memo.session_memo(spark, "test_fp", [src], lambda: object())
    assert b is not a
    assert memo.session_memo(spark, "test_fp", [src], lambda: object()) is b


def test_session_memo_replaced_frame_is_unpersisted(memo, spark, tmp_path):
    src = _touch_input(tmp_path, "a")
    df = memo.session_memo(spark, "test_df", [src], lambda: spark.range(3).cache())
    assert df.is_cached
    _touch_input(tmp_path, "bb")
    memo.session_memo(spark, "test_df", [src], lambda: spark.range(4))
    assert df.is_cached is False


def test_session_memo_replaced_broadcast_is_destroyed(memo, spark, tmp_path):
    src = _touch_input(tmp_path, "a")
    bc = memo.session_memo(
        spark, "test_bc", [src], lambda: spark.sparkContext.broadcast([1, 2])
    )
    assert bc._jbroadcast.isValid()
    _touch_input(tmp_path, "bb")
    memo.session_memo(
        spark, "test_bc", [src], lambda: spark.sparkContext.broadcast([3])
    )
    assert not bc._jbroadcast.isValid()


def test_session_memo_replaced_checkpoint_blocks_are_freed(memo, spark, tmp_path):
    """DataFrame.unpersist alone leaves a localCheckpoint's blocks
    stored; a replaced checkpointed frame (the BPE vocabulary, the
    near-dup pairs) must free them."""
    jsc = spark.sparkContext._jsc.sc()

    def stored_rdds() -> set:
        return {i.id() for i in jsc.getRDDStorageInfo()}

    src = _touch_input(tmp_path, "a")
    df = memo.session_memo(
        spark, "test_lc", [src], lambda: spark.range(8).localCheckpoint(eager=True)
    )
    rdd_id = df._jdf.queryExecution().logical().rdd().id()
    assert rdd_id in stored_rdds()
    _touch_input(tmp_path, "bb")
    memo.session_memo(spark, "test_lc", [src], lambda: spark.range(1))
    assert rdd_id not in stored_rdds()


def test_session_memo_over_walk_cap_keys_by_path(memo, spark, tmp_path, monkeypatch):
    """A directory input over the fingerprint walk cap is not
    content-checked (bounded driver time per call): the entry keys by
    path only, so a hit survives a rewrite; a path change still
    rebuilds."""
    from data_engineering_zoomcamp_projects_spark import catalog

    monkeypatch.setattr(catalog, "_FP_WALK_CAP", 1)
    table = tmp_path / "t"
    table.mkdir()
    for part in ("a", "b"):
        (table / part).write_text(part)
    a = memo.session_memo(spark, "test_cap", [str(table)], lambda: object())
    (table / "a").write_text("changed")
    assert memo.session_memo(spark, "test_cap", [str(table)], lambda: object()) is a
    other = _touch_input(tmp_path, "x")
    assert memo.session_memo(spark, "test_cap", [other], lambda: object()) is not a


def test_session_memo_evicts_least_recently_used(memo, spark, monkeypatch):
    monkeypatch.setattr(memo, "MAX_ENTRIES", 2)
    memo.clear()
    a = memo.session_memo(spark, "lru_a", [], lambda: spark.range(1).cache())
    memo.session_memo(spark, "lru_b", [], object)
    memo.session_memo(spark, "lru_a", [], object)  # hit: a is now most recent
    memo.session_memo(spark, "lru_c", [], object)  # evicts b
    app = spark.sparkContext.applicationId
    assert set(memo._SESSION_MEMO) == {(app, "lru_a"), (app, "lru_c")}
    assert a.is_cached
    memo.clear()
    assert not memo._SESSION_MEMO and a.is_cached is False


def test_no_module_level_memo_dicts_outside_memo_module(memo):
    """Keying, eviction and release live in memo.py only: any other
    module-level `*_MEMO` dict is a hand-rolled cache that bypasses
    the content check."""
    offenders = []
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        mod = importlib.import_module(info.name)
        if info.name == memo.__name__:
            continue
        offenders += [
            f"{info.name}.{attr}"
            for attr, value in vars(mod).items()
            if attr.endswith("_MEMO") and isinstance(value, dict)
        ]
    assert offenders == []
