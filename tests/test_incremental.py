"""Incremental pipeline: new-week detection from the partition layout,
idempotent re-runs, and equivalence of incrementally-accumulated scores
with a from-scratch full run."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from big_data_bowl_2026_analytics_spark.ml.model import LogisticModel
from big_data_bowl_2026_analytics_spark.pipeline.incremental import (
    processed_weeks,
    read_scores,
    run_incremental,
)
from big_data_bowl_2026_analytics_spark.pipeline.run import run_pipeline
from big_data_bowl_2026_analytics_spark.schemas import (
    PLAYS_SCHEMA,
    TRACKING_AFTER_SCHEMA,
    TRACKING_BEFORE_SCHEMA,
)
from fixtures_nfl import make_plays, make_tracking_after, make_tracking_before


@pytest.fixture(scope="module")
def raw(spark):
    before = spark.createDataFrame(
        [tuple(r[f.name] for f in TRACKING_BEFORE_SCHEMA.fields) for r in make_tracking_before()],
        TRACKING_BEFORE_SCHEMA,
    )
    after = spark.createDataFrame(
        [tuple(r[f.name] for f in TRACKING_AFTER_SCHEMA.fields) for r in make_tracking_after()],
        TRACKING_AFTER_SCHEMA,
    )
    plays = spark.createDataFrame(
        [tuple(p[f.name] for f in PLAYS_SCHEMA.fields) for p in make_plays()],
        PLAYS_SCHEMA,
    )
    return before, after, plays


def test_incremental_matches_full_run(spark, raw, tmp_path_factory):
    before, after, plays = raw
    full_dir = str(tmp_path_factory.mktemp("full"))
    inc_dir = str(tmp_path_factory.mktemp("inc"))

    full = run_pipeline(spark, before, after, plays, full_dir, train_weeks=9)

    # Increment 1: week 1 only (train week — cleans, no scores).
    r1 = run_incremental(
        spark,
        before.where(F.col("week") == 1),
        after.where(F.col("week") == 1),
        plays.where(F.col("week") == 1),
        inc_dir,
        full.model,
    )
    assert r1.new_weeks == (1,)
    assert r1.scored_weeks == ()
    assert processed_weeks(inc_dir) == {1}
    assert not os.path.isdir(os.path.join(inc_dir, "scores_by_week"))

    # Increment 2: full feed — only week 10 is new, and it gets scored.
    r2 = run_incremental(spark, before, after, plays, inc_dir, full.model)
    assert r2.new_weeks == (10,)
    assert r2.scored_weeks == (10,)
    assert processed_weeks(inc_dir) == {1, 10}

    cols = [
        "game_id",
        "play_id",
        "defender_id",
        "receiver_id",
        "deception_score",
        "recovery_score",
    ]
    inc_scores = sorted(
        tuple(r[c] for c in cols) for r in read_scores(spark, inc_dir).collect()
    )
    full_scores = sorted(
        tuple(r[c] for c in cols) for r in full.scores.collect()
    )
    assert inc_scores == full_scores

    # Increment 3: same feed again — a no-op, and nothing changes.
    r3 = run_incremental(spark, before, after, plays, inc_dir, full.model)
    assert r3.new_weeks == ()
    again = sorted(
        tuple(r[c] for c in cols) for r in read_scores(spark, inc_dir).collect()
    )
    assert again == inc_scores


def test_rerun_of_failed_week_replaces_partition(spark, raw, tmp_path_factory):
    """Dynamic partition overwrite: feeding a week that already exists
    after wiping its marker from the layout rewrites, not duplicates."""
    before, after, plays = raw
    inc_dir = str(tmp_path_factory.mktemp("redo"))
    full_dir = str(tmp_path_factory.mktemp("redo_model"))
    full = run_pipeline(spark, before, after, plays, full_dir, train_weeks=9)

    run_incremental(spark, before, after, plays, inc_dir, full.model)
    n1 = read_scores(spark, inc_dir).count()
    rows1 = spark.read.parquet(os.path.join(inc_dir, "tracking_before_cleaned")).count()

    # Simulate "week 10 needs reprocessing": drop its partition dir.
    import shutil

    shutil.rmtree(os.path.join(inc_dir, "plays_final_by_week", "week=10"))
    assert processed_weeks(inc_dir) == {1}

    r = run_incremental(spark, before, after, plays, inc_dir, full.model)
    assert r.new_weeks == (10,)
    assert read_scores(spark, inc_dir).count() == n1
    assert (
        spark.read.parquet(os.path.join(inc_dir, "tracking_before_cleaned")).count()
        == rows1
    )


def test_week_that_failed_in_scoring_is_rerun(spark, raw, tmp_path_factory):
    """A call that dies while scoring leaves its weeks unmarked: the
    next call re-runs them and lands the full run's scores."""
    before, after, plays = raw
    inc_dir = str(tmp_path_factory.mktemp("crash"))
    full_dir = str(tmp_path_factory.mktemp("crash_model"))
    full = run_pipeline(spark, before, after, plays, full_dir, train_weeks=9)

    # One weight short: ``X @ weights`` raises inside the scoring UDF,
    # after the week's tracking is already written.
    m = full.model
    broken = LogisticModel(weights=m.weights[:-1], bias=m.bias, feature_cols=m.feature_cols)
    with pytest.raises(PythonException):
        run_incremental(spark, before, after, plays, inc_dir, broken)
    assert os.path.isdir(os.path.join(inc_dir, "tracking_before_cleaned", "week=10"))
    assert processed_weeks(inc_dir) == set()

    r = run_incremental(spark, before, after, plays, inc_dir, full.model)
    assert r.new_weeks == (1, 10)
    assert r.scored_weeks == (10,)
    assert processed_weeks(inc_dir) == {1, 10}
    cols = ["game_id", "play_id", "defender_id", "receiver_id", "deception_score", "recovery_score"]
    inc_scores = sorted(tuple(row[c] for c in cols) for row in read_scores(spark, inc_dir).collect())
    full_scores = sorted(tuple(row[c] for c in cols) for row in full.scores.collect())
    assert inc_scores == full_scores


def test_players_dim_grows_append_only(spark, raw, tmp_path_factory):
    before, after, plays = raw
    inc_dir = str(tmp_path_factory.mktemp("dim"))
    full_dir = str(tmp_path_factory.mktemp("dim_model"))
    full = run_pipeline(spark, before, after, plays, full_dir, train_weeks=9)

    r1 = run_incremental(
        spark,
        before.where(F.col("week") == 1),
        after.where(F.col("week") == 1),
        plays.where(F.col("week") == 1),
        inc_dir,
        full.model,
    )
    assert r1.n_new_players > 0
    week1_ids = {
        r["nfl_id"]
        for r in spark.read.parquet(os.path.join(inc_dir, "players")).collect()
    }

    r2 = run_incremental(spark, before, after, plays, inc_dir, full.model)
    all_ids = {
        r["nfl_id"]
        for r in spark.read.parquet(os.path.join(inc_dir, "players")).collect()
    }
    assert week1_ids <= all_ids
    assert r2.n_new_players == len(all_ids) - len(week1_ids)
    dim = spark.read.parquet(os.path.join(inc_dir, "players"))
    assert dim.count() == dim.select("nfl_id").distinct().count()
