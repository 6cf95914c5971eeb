"""The lake's one commit path (sources/versioned.py ``_commit``): every
commit kind survives losing the version race to a concurrent writer and
lands one past the winner; every validating kind refuses — removing its
staged files — when the winner invalidated what it read; a clone whose
target gains a v0 mid-clone raises.  No commit leaves a staged
``_tmp_*.json`` behind."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from f1_data_engineering_spark.sources import constraints as C
from f1_data_engineering_spark.sources import dml as D
from f1_data_engineering_spark.sources import versioned as V

NOOP = {"action": "append", "files": [], "n_rows": 0}


@pytest.fixture()
def lake(spark, tmp_path):
    """v0: 100 rows (k 0..99, v = 2k) range-clustered into 4 files."""
    t = str(tmp_path / "tbl")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    V.write_versioned(df.repartitionByRange(4, "k"), t, mode="overwrite")
    return t


def _lose_first_race(monkeypatch, path, claim):
    """Make the next commit to ``path`` lose its first attempt: after it
    has read the log and built its entry, a concurrent writer links
    ``claim(es)`` at the version it was about to take."""
    real_next_ts = V._next_ts
    armed = [True]

    def next_ts(es):
        if armed and armed.pop():
            v = (es[-1]["version"] if es else -1) + 1
            os.makedirs(os.path.join(path, V.LOG_DIR), exist_ok=True)
            with open(os.path.join(path, V.LOG_DIR, f"{v:08d}.json"), "w") as f:
                json.dump({"version": v, "ts": real_next_ts(es), **claim(es)}, f)
        return real_next_ts(es)

    monkeypatch.setattr(V, "_next_ts", next_ts)
    return armed


def _no_tmp(path):
    log = os.path.join(path, V.LOG_DIR)
    return not [f for f in os.listdir(log) if f.startswith("_tmp_")]


def _parquet(path):
    return {f for f in os.listdir(path) if f.endswith(".parquet")}


def _rows(spark, k, v):
    return spark.createDataFrame([(k, v)], "k long, v long")


COMMITS = {
    "append": lambda spark, t: V.write_versioned(_rows(spark, 5, 1), t, "append"),
    "overwrite": lambda spark, t: V.write_versioned(_rows(spark, 5, 1), t, "overwrite"),
    "restore": lambda spark, t: V.restore_versioned(t, 0),
    "set_constraint": lambda spark, t: C.add_constraint(spark, t, "ok", "v >= 0"),
    "cow_rewrite": lambda spark, t: D.delete_where(spark, t, "k < 5")["version"],
    "dv": lambda spark, t: D.delete_where_mor(spark, t, "k < 5")["version"],
    "layout_rewrite": lambda spark, t: V.compact_small_files(
        spark, t, target_rows_per_file=1000
    )["version"],
}


@pytest.mark.parametrize("kind", sorted(COMMITS))
def test_lost_race_lands_one_past_the_winner(spark, lake, monkeypatch, kind):
    armed = _lose_first_race(monkeypatch, lake, lambda es: NOOP)
    assert COMMITS[kind](spark, lake) == 2
    assert not armed  # the race really was lost once
    assert V.latest_version(lake) == 2
    assert V.table_history(lake)[2]["ts"] > V.table_history(lake)[1]["ts"]
    assert _no_tmp(lake)


def test_lost_race_drop_constraint(spark, lake, monkeypatch):
    C.add_constraint(spark, lake, "v_nonneg", "v >= 0")  # v1
    _lose_first_race(monkeypatch, lake, lambda es: NOOP)
    assert C.drop_constraint(lake, "v_nonneg") == 3
    assert C.table_constraints(lake) == {}
    assert _no_tmp(lake)


# A winner that rewrote every live file away: a commit that read any of
# them must refuse.
def _replace_all(es):
    return {
        "action": "rewrite", "files": [], "removed": V._replay_files(es),
        "n_rows": 0,
    }


@pytest.mark.parametrize(
    "kind, error",
    [
        ("cow_rewrite", D.ConcurrentModificationError),
        ("dv", D.ConcurrentModificationError),
        ("layout_rewrite", ValueError),
    ],
)
def test_read_set_conflict_refuses_and_unstages(spark, lake, monkeypatch, kind, error):
    before = _parquet(lake)
    _lose_first_race(monkeypatch, lake, _replace_all)
    with pytest.raises(error):
        COMMITS[kind](spark, lake)
    assert V.latest_version(lake) == 1  # only the winner committed
    assert _parquet(lake) == before
    assert _no_tmp(lake)


def test_cow_conflict_unstages_change_feed_sidecars(spark, lake, monkeypatch):
    before = _parquet(lake)
    _lose_first_race(monkeypatch, lake, _replace_all)
    with pytest.raises(D.ConcurrentModificationError):
        D.delete_where(spark, lake, "k < 5", capture_cdf=True)
    assert _parquet(lake) == before


@pytest.mark.parametrize("mode", ["append", "overwrite"])
def test_write_refused_when_a_violated_constraint_wins(spark, lake, monkeypatch, mode):
    before = _parquet(lake)
    cs = {"name": "v_nonneg", "expr": "v >= 0"}
    _lose_first_race(
        monkeypatch,
        lake,
        lambda es: {
            "action": "set_constraint", "files": [], "n_rows": 0,
            "data_change": False, "constraint": cs,
            "op": {"op": "set_constraint", **cs},
        },
    )
    with pytest.raises(C.ConstraintViolationError):
        V.write_versioned(_rows(spark, 500, -1), lake, mode)
    assert V.latest_version(lake) == 1
    assert _parquet(lake) == before
    assert _no_tmp(lake)


def test_replayed_batch_that_won_the_race_unstages(spark, lake, monkeypatch):
    before = _parquet(lake)
    _lose_first_race(monkeypatch, lake, lambda es: {**NOOP, "batch_id": 7})
    assert V.write_versioned(_rows(spark, 500, 1), lake, "append", batch_id=7) == 1
    assert V.latest_version(lake) == 1
    assert _parquet(lake) == before
    assert _no_tmp(lake)


def test_set_constraint_refused_when_a_violating_write_wins(spark, lake, monkeypatch):
    # the winner's data file is staged up front; its entry links mid-race
    files, n_rows, stats = V._stage_files(_rows(spark, 500, -1), lake)
    _lose_first_race(
        monkeypatch,
        lake,
        lambda es: {**NOOP, "files": files, "n_rows": n_rows, "file_stats": stats},
    )
    with pytest.raises(C.ConstraintViolationError):
        C.add_constraint(spark, lake, "v_nonneg", "v >= 0")
    assert V.latest_version(lake) == 1
    assert C.table_constraints(lake) == {}
    assert _no_tmp(lake)


def test_clone_target_gaining_a_log_raises(spark, lake, monkeypatch, tmp_path):
    tgt = str(tmp_path / "dev")
    _lose_first_race(monkeypatch, tgt, lambda es: NOOP)
    with pytest.raises(ValueError, match="gained a log concurrently"):
        V.clone_versioned(lake, tgt)
    assert V.latest_version(tgt) == 0
    assert V.table_history(tgt)[0]["action"] == "append"  # the winner's
    assert _no_tmp(tgt)
