"""Incremental (delta-style) pipeline runs: process only NEW weeks.

The reference reprocesses all 18 weekly files every run
(src/data_processing/cleaning/tracking.py:467,
src/core/settings.py:57-58). Weekly partitions are independent by
construction — the reference's own loop proves it — so at 100 TB the
only sane run shape is: detect which week partitions are new, clean
JUST those, and append them to the week-partitioned outputs.

Cleaning and scoring are the full run's own stages
(``pipeline.run.clean_stage`` and ``pipeline.run.score_frames``),
restricted to the new weeks, so weekly and full scores cannot drift
apart (the workdir therefore also holds ``plays_cleaned``, the latest
call's cleaned plays). What is left here is only what is incremental.

Mechanics (plain parquet, no table-format dependency):

- **Progress tracking** is the materialized layout itself: a week is
  "done" iff its ``week=N`` partition directory exists in
  ``plays_final_by_week``. No side manifest that can drift from the
  data. That table is written LAST, after the week's tracking and
  scores, so a call that fails anywhere before it (cleaning, feature
  building, scoring) leaves the week unmarked and the next call
  re-runs it.
- **Idempotent writes** replace only the partitions present
  (``write_parquet(replace_partitions=True)``): re-running a week
  REPLACES its partitions instead of duplicating rows, so a week that
  failed mid-write is simply re-run.
- **The players dimension** grows append-only: only ids never seen
  before are added, so existing dim rows are stable across runs.
- **Scores** land week-partitioned; only new TEST weeks are featurized
  and scored (train weeks never produce scores, matching the
  reference's scores.csv which holds test plays only).

The model is an input, not a product: train once on a full run (or
whenever the train-week range changes), then score increments with it.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml.model import LogisticModel
from ..sources.writers import write_parquet
from .cleaning import create_players_dim
from .run import clean_stage, score_frames
from .scores import compute_scores

_PLAYS = "plays_final_by_week"
_PLAYERS = "players"
_SCORES = "scores_by_week"


@dataclass(frozen=True)
class IncrementalRun:
    """Summary of one incremental invocation."""

    new_weeks: tuple[int, ...]
    scored_weeks: tuple[int, ...]
    n_new_players: int


def processed_weeks(workdir: str) -> set[int]:
    """Weeks already materialized, read from the hive partition layout
    of the progress marker (a directory listing — no data scan; on
    object stores this is one LIST call on the table prefix)."""
    root = os.path.join(workdir, _PLAYS)
    if not os.path.isdir(root):
        return set()
    weeks: set[int] = set()
    for name in os.listdir(root):
        m = re.fullmatch(r"week=(\d+)", name)
        if m:
            weeks.add(int(m.group(1)))
    return weeks


def run_incremental(
    spark: SparkSession,
    raw_before: DataFrame,
    raw_after: DataFrame,
    raw_plays: DataFrame,
    workdir: str,
    model: LogisticModel,
    train_weeks: int = 9,
) -> IncrementalRun:
    """Clean + score only the weeks not yet materialized under
    ``workdir``. Returns a no-op summary when nothing is new.

    The new-week probe aggregates the raw input's ``week`` column; on a
    week-partitioned source that distinct collapses to partition
    listing (partition pruning leaves no row scan behind it).
    """
    have = processed_weeks(workdir)
    input_weeks = {
        r["week"] for r in raw_before.select("week").distinct().collect()
    }
    new_weeks = sorted(input_weeks - have)
    if not new_weeks:
        return IncrementalRun(new_weeks=(), scored_weeks=(), n_new_players=0)

    nb = raw_before.where(F.col("week").isin(new_weeks))
    na = raw_after.where(F.col("week").isin(new_weeks))
    np_ = raw_plays.where(F.col("week").isin(new_weeks))

    # Players dim: append ONLY never-seen ids so existing rows stay
    # byte-stable (dimension append-only growth, never rewritten).
    players_path = os.path.join(workdir, _PLAYERS)
    fresh_players = create_players_dim(nb)
    if os.path.isdir(players_path):
        existing = spark.read.parquet(players_path)
        to_add = fresh_players.join(existing, "nfl_id", "left_anti")
        n_new_players = to_add.count()
        if n_new_players:
            write_parquet(to_add, players_path, mode="append")
    else:
        write_parquet(fresh_players, players_path)
        n_new_players = fresh_players.count()
    players = spark.read.parquet(players_path)

    # Weekly independence makes the restriction to new weeks exact.
    _, before_clean, _, final_plays = clean_stage(
        spark, nb, na, np_, players, workdir, weeks=new_weeks
    )

    # Score the new TEST weeks (train weeks produce no scores).
    scored_weeks = [w for w in new_weeks if w > train_weeks]
    if scored_weeks:
        test_before = before_clean.where(F.col("week").isin(scored_weeks))
        test_plays = final_plays.where(F.col("week").isin(scored_weeks))
        scores = compute_scores(score_frames(test_before, test_plays, model)).join(
            F.broadcast(test_plays.select("game_id", "play_id", "week")),
            ["game_id", "play_id"],
            "inner",
        )
        write_parquet(
            scores, os.path.join(workdir, _SCORES), partition_by=["week"], replace_partitions=True
        )

    # The progress marker goes last: see the module docstring.
    write_parquet(
        final_plays, os.path.join(workdir, _PLAYS), partition_by=["week"], replace_partitions=True
    )
    return IncrementalRun(
        new_weeks=tuple(new_weeks),
        scored_weeks=tuple(scored_weeks),
        n_new_players=int(n_new_players),
    )


def read_scores(spark: SparkSession, workdir: str) -> DataFrame:
    """All scores accumulated across incremental runs."""
    return spark.read.parquet(os.path.join(workdir, _SCORES))
