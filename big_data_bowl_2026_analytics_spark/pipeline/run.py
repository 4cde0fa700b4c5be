"""End-to-end pipeline runner: the reference's five entry points
(clean -> datasets -> train -> infer -> score, README.md:43-136) as
one orchestrated flow with parquet materialization between stages.

Stage boundaries are real writes (week-partitioned parquet), matching
both the reference's CSV hand-offs and what a 100 TB run needs anyway:
restartability, lineage truncation, and partition-pruned downstream
reads (a week-range predicate prunes files instead of scanning 18
weeks to keep 9).

The cleaning and scoring stages (``clean_stage``, ``score_frames``) are
the weekly run's too (``pipeline/incremental.py``), so full and weekly
scores come from one code path.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml.inference import score_dataframe
from ..ml.model import LogisticModel
from ..ml.train import FEATURE_COLS, grid_search
from ..sources.writers import write_parquet
from .cleaning import (
    clean_plays,
    clean_tracking,
    create_players_dim,
    filter_plays_with_tracking,
)
from .features import build_features, train_test_split_by_week
from .scores import compute_scores


#: Row order inside each week partition of the cleaned tracking.
_FRAME_ORDER = ["game_id", "play_id", "frame_id"]


@dataclass
class PipelineResult:
    players: DataFrame
    cleaned_plays: DataFrame
    before_clean: DataFrame
    after_clean: DataFrame
    train: DataFrame
    test: DataFrame
    model: LogisticModel
    scores: DataFrame


def clean_stage(
    spark: SparkSession,
    raw_before: DataFrame,
    raw_after: DataFrame,
    raw_plays: DataFrame,
    players: DataFrame,
    workdir: str,
    *,
    weeks: list[int] | None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Stages 2-3: cleaned plays (reference plays.py:198-229), cleaned
    tracking written week-partitioned for pruned reads (reference
    tracking.py:456-549 writes per-week CSVs), and the final plays ⋉
    tracking sync (reference plays.py:232-300).

    Returns ``(cleaned_plays, before_clean, after_clean, final_plays)``,
    each read back from ``workdir`` except ``final_plays``, which the
    caller writes. ``weeks=None`` is the full run; a list of weeks
    restricts the run to them: the tracking writes replace only their
    partitions and the read-backs keep only them. ``plays_cleaned`` is
    always rewritten whole.
    """

    def reread(name: str) -> DataFrame:
        df = spark.read.parquet(os.path.join(workdir, name))
        return df if weeks is None else df.where(F.col("week").isin(weeks))

    write_parquet(clean_plays(raw_plays, raw_before), os.path.join(workdir, "plays_cleaned"))
    cleaned_plays = spark.read.parquet(os.path.join(workdir, "plays_cleaned"))

    tracking = clean_tracking(raw_before, raw_after, cleaned_plays, raw_plays, players)
    for df, name in zip(tracking, ("tracking_before_cleaned", "tracking_after_cleaned")):
        write_parquet(
            df,
            os.path.join(workdir, name),
            partition_by=["week"],
            sort_within_partitions=_FRAME_ORDER,
            replace_partitions=weeks is not None,
        )
    before_clean = reread("tracking_before_cleaned")
    after_clean = reread("tracking_after_cleaned")
    # Never overwrite a path being read: the caller writes final plays
    # to a NEW location.
    final_plays = filter_plays_with_tracking(cleaned_plays, before_clean)
    return cleaned_plays, before_clean, after_clean, final_plays


def score_frames(before_clean: DataFrame, plays: DataFrame, model: LogisticModel) -> DataFrame:
    """Stage 6: per-frame inference features scored by ``model``
    (reference inference/create_dataset.py:153-165 builds them from
    cleaned BEFORE-throw tracking + inference.py), projected to the
    reference's inference-results columns."""
    feats = build_features(before_clean, plays, per_frame=True)
    scored = score_dataframe(
        feats.na.fill(0, list(FEATURE_COLS)), model,
        output_col="non_completion_probability",
    )
    return scored.select(
        "game_id",
        "play_id",
        "frame_id",
        "receiver_id",
        "defender_id",
        F.col("target").alias("pass_result"),
        "non_completion_probability",
    )


def run_pipeline(
    spark: SparkSession,
    raw_before: DataFrame,
    raw_after: DataFrame,
    raw_plays: DataFrame,
    workdir: str,
    train_weeks: int = 9,
) -> PipelineResult:
    """Run the full flow, materializing each stage under ``workdir``.

    The reference's runtime data contracts (SURVEY §1.4) run as
    engine-level checks at stage boundaries: unique players key +
    positive weights (players.py:57-84), pass_result domain
    (recovery.py:10-16), m:1 dim-side uniqueness.
    """
    from ..operators.quality import (
        assert_no_nulls,
        assert_unique_key,
        assert_values_in,
    )

    # Stage 1 — players dimension (reference players.py:87-122).
    players = create_players_dim(raw_before)
    write_parquet(players, os.path.join(workdir, "players"))
    players = spark.read.parquet(os.path.join(workdir, "players"))
    assert_unique_key(players, ["nfl_id"], label="players dim")
    assert_no_nulls(players, ["nfl_id"], label="players dim")

    # Stages 2-3 — cleaned plays and tracking, final plays.
    cleaned_plays, before_clean, after_clean, final_plays = clean_stage(
        spark, raw_before, raw_after, raw_plays, players, workdir, weeks=None
    )
    write_parquet(final_plays, os.path.join(workdir, "plays_final"))
    final_plays = spark.read.parquet(os.path.join(workdir, "plays_final"))
    assert_unique_key(final_plays, ["game_id", "play_id"], label="final plays")
    assert_values_in(final_plays, "pass_result", ["C", "I", "IN"], label="final plays")

    # Stage 4 — play-grain features, week-range split
    # (reference create_datasets.py:94-111).
    features = build_features(before_clean, final_plays)
    train, test = train_test_split_by_week(features, final_plays, train_weeks)
    write_parquet(train, os.path.join(workdir, "train"))
    write_parquet(test, os.path.join(workdir, "test"))
    train = spark.read.parquet(os.path.join(workdir, "train"))
    test = spark.read.parquet(os.path.join(workdir, "test"))

    # Stage 5 — grid-search training (reference train.py:125-181).
    fit = grid_search(train, test)

    # Stage 6 — distributed scoring of the test weeks.
    results = score_frames(before_clean.where(F.col("week") > train_weeks), final_plays, fit.model)
    write_parquet(results, os.path.join(workdir, "inference_results"))
    results = spark.read.parquet(os.path.join(workdir, "inference_results"))

    # Stage 7 — deception + recovery scores
    # (reference compute_scores.py:13-50).
    scores = compute_scores(results)
    write_parquet(scores, os.path.join(workdir, "scores"))
    scores = spark.read.parquet(os.path.join(workdir, "scores"))

    return PipelineResult(
        players=players,
        cleaned_plays=cleaned_plays,
        before_clean=before_clean,
        after_clean=after_clean,
        train=train,
        test=test,
        model=fit.model,
        scores=scores,
    )
