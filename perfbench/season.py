"""Deterministic NFL season generator for the pipeline workloads.

Builds the three raw tables `pipeline.run.run_pipeline` reads
(tracking before the throw, tracking after the throw, plays) with numpy
and writes them as week-partitioned parquet with pyarrow. The same seed
gives the same files.

Every play is built to meet exactly one fate, so the row count of each
pipeline stage is known from construction:

- ``survive``: passes every cleaning filter;
- ``route``: the targeted receiver runs a route outside KEPT_ROUTES
  (route filter, `clean_plays`);
- ``no_db``: the defender closest to the receiver is a linebacker
  (1-receiver/1-DB filter, `one_receiver_one_db`);
- ``ball_far``: the ball lands more than 3 yd from the receiver and the
  closest defender (`ball_landing_filter`);
- ``unsynced``: the receiver has no after-throw rows (before/after sync,
  `sync_players`).

Geometry keeps every decision far from its threshold: the closest
defender trails the receiver by 1-2.5 yd and the others by 6-14 yd; a
landing ball is within 1.5 yd of the receiver, a far ball 10-14 yd away.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FATES = ("survive", "route", "no_db", "ball_far", "unsynced")

#: Share of raw plays per fate. At 500 raw plays a week, 43% survivors
#: give the reference season's 3,843 plays (1,941 train + 1,902 test).
FATE_SHARE = {"survive": 0.43, "route": 0.27, "no_db": 0.12, "ball_far": 0.10, "unsynced": 0.08}

KEPT = ("IN", "OUT", "HITCH")
DROPPED = ("GO", "POST", "SLANT", "CORNER")
DBS = ("CB", "FS", "SS", "DB")
LBS = ("ILB", "OLB", "MLB")
OTHERS = ("WR", "TE", "RB")
TEAMS = tuple(f"T{i:02d}" for i in range(32))

#: nfl_id pools: disjoint id ranges, one per roster group.
POOLS = {"qb": (1000, 64), "rec": (2000, 400), "oth": (3000, 400), "db": (4000, 400), "lb": (5000, 200)}
ID_BASE = 1000
NAMES = tuple(f"P{i}" for i in range(ID_BASE, 5200))


@dataclass(frozen=True)
class Season:
    """Shape of a generated season."""

    plays_per_week: int
    weeks: int = 18
    train_weeks: int = 9
    frames_before: int = 30
    frames_after: int = 15
    n_other: int = 2  # other offensive players (route runners, not targeted)
    n_def: int = 4

    @property
    def players_before(self) -> int:
        return 2 + self.n_other + self.n_def

    def fate_counts(self) -> dict[str, int]:
        """Plays per fate in every week; the remainder goes to ``route``."""
        counts = {f: int(FATE_SHARE[f] * self.plays_per_week) for f in FATES}
        counts["route"] += self.plays_per_week - sum(counts.values())
        return counts

    def expected(self) -> dict[str, int]:
        """Row count of every stage output, known from construction."""
        c = self.fate_counts()
        plays = self.plays_per_week * self.weeks
        survivors = c["survive"] * self.weeks
        test_weeks = self.weeks - self.train_weeks
        after_players = 1 + self.n_other + self.n_def
        return {
            "raw_plays": plays,
            "raw_before": plays * self.players_before * self.frames_before,
            "raw_after": (plays * after_players - c["unsynced"] * self.weeks) * self.frames_after,
            "plays_cleaned": (self.plays_per_week - c["route"]) * self.weeks,
            "tracking_before_cleaned": survivors * 3 * self.frames_before,
            "tracking_after_cleaned": survivors * 2 * self.frames_after,
            "plays_final": survivors,
            "train": c["survive"] * self.train_weeks,
            "test": c["survive"] * test_weeks,
            "inference_results": c["survive"] * test_weeks * self.frames_before,
            "scores": c["survive"] * test_weeks,
        }


def _dict_col(values: tuple[str, ...], idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(list(values))
    ).cast(pa.string())


def _pick(rng: np.random.Generator, pool: str, n: int, k: int) -> np.ndarray:
    """``k`` distinct ids per play from a pool, shape (n, k)."""
    base, size = POOLS[pool]
    start = rng.integers(0, size, n)[:, None]
    return base + (start + np.arange(k)[None, :]) % size


def _position_of(ids: np.ndarray) -> tuple[tuple[str, ...], np.ndarray]:
    """Fixed bio position per nfl_id, as (vocabulary, index)."""
    vocab = ("QB", *OTHERS, *DBS, *LBS)
    idx = np.zeros(ids.shape, dtype=np.int64)
    for pool, group in (("rec", ("WR",)), ("oth", OTHERS), ("db", DBS), ("lb", LBS)):
        base, size = POOLS[pool]
        inside = (ids >= base) & (ids < base + size)
        first = vocab.index(group[0])
        idx[inside] = first + (ids[inside] - base) % len(group)
    return vocab, idx


def _week(season: Season, week: int, rng: np.random.Generator) -> tuple[dict, dict, dict]:
    """Columns of one week's tracking-before, tracking-after and plays."""
    s = season
    n = s.plays_per_week
    counts = s.fate_counts()
    fate = rng.permutation(np.repeat(np.arange(len(FATES)), [counts[f] for f in FATES]))
    is_ = {f: fate == i for i, f in enumerate(FATES)}

    game_idx = np.arange(n) % 16
    game_id = 2023_000_000 + week * 100 + game_idx
    play_id = 100 + np.arange(n)

    # Roster per play: QB, targeted receiver, other offense, defenders
    # (closest first). The closest defender is a DB except on no_db plays.
    qb = _pick(rng, "qb", n, 1)
    rec = _pick(rng, "rec", n, 1)
    oth = _pick(rng, "oth", n, s.n_other)
    no_db = is_["no_db"][:, None]
    closest = np.where(no_db, _pick(rng, "lb", n, 1), _pick(rng, "db", n, 1))
    far_defs = np.where(no_db, _pick(rng, "db", n, s.n_def - 1), _pick(rng, "lb", n, s.n_def - 1))
    ids = np.concatenate([qb, rec, oth, closest, far_defs], axis=1)  # (n, P)
    P = s.players_before
    role = np.array([0, 1] + [2] * s.n_other + [3] * s.n_def)  # Passer, TR, ORR, DC
    side = np.array([0] * (2 + s.n_other) + [1] * s.n_def)  # Offense, Defense

    # The receiver runs a straight line through the before and after
    # frames; everyone else keeps a fixed offset from him, except the QB,
    # who stands where he started.
    F_all = s.frames_before + s.frames_after
    heading = rng.uniform(0, 2 * np.pi, n)
    step = rng.uniform(0.35, 0.6, n)
    rx0, ry0 = rng.uniform(35, 75, n), rng.uniform(15, 38, n)
    t = np.arange(F_all)[None, :]
    rx = rx0[:, None] + np.cos(heading)[:, None] * step[:, None] * t
    ry = ry0[:, None] + np.sin(heading)[:, None] * step[:, None] * t

    dist = np.empty((n, P))
    dist[:, 0] = rng.uniform(12, 20, n)
    dist[:, 1] = 0.0
    dist[:, 2 : 2 + s.n_other] = rng.uniform(6, 14, (n, s.n_other))
    dist[:, 2 + s.n_other] = rng.uniform(1.0, 2.5, n)
    dist[:, 3 + s.n_other :] = rng.uniform(6, 14, (n, s.n_def - 1))
    angle = rng.uniform(0, 2 * np.pi, (n, P))
    x = rx[:, None, :] + (dist * np.cos(angle))[:, :, None]  # (n, P, F_all)
    y = ry[:, None, :] + (dist * np.sin(angle))[:, :, None]
    x[:, 0, :] = x[:, 0, :1]  # the QB stands in the pocket
    y[:, 0, :] = y[:, 0, :1]

    # Ball lands near the receiver's last after-throw spot, or far away.
    last_x, last_y = rx[:, -1], ry[:, -1]
    ball_r = np.where(is_["ball_far"], rng.uniform(10, 14, n), rng.uniform(0, 1.5, n))
    ball_a = rng.uniform(0, 2 * np.pi, n)
    ball_x = np.round(last_x + ball_r * np.cos(ball_a), 2)
    ball_y = np.round(last_y + ball_r * np.sin(ball_a), 2)

    # Outcome leans on the closest defender's separation, so the model
    # has something to learn.
    sep = dist[:, 2 + s.n_other]
    p_nc = 1 / (1 + np.exp(-(1.2 * (1.75 - sep))))
    u = rng.uniform(0, 1, n)
    result = np.where(u < p_nc, np.where(rng.uniform(0, 1, n) < 0.15, 2, 1), 0)  # C, I, IN
    route = np.where(is_["route"], rng.integers(0, len(DROPPED), n) + len(KEPT), rng.integers(0, len(KEPT), n))
    direction = rng.integers(0, 2, n)  # right, left

    speed = rng.uniform(0, 9, (n, P))
    acc = rng.uniform(0, 4, (n, P))
    o_ang = rng.uniform(0, 360, (n, P))
    d_ang = np.degrees(heading)[:, None] % 360 + np.zeros((n, P))

    vocab, pos_idx = _position_of(ids)
    fb = s.frames_before

    def frames(sl: slice, players: np.ndarray, keep: np.ndarray):
        """Flattened (play, player, frame) rows for a frame slice, with the
        play and player index of every row."""
        nf = sl.stop - sl.start
        mask = np.broadcast_to(keep[:, :, None], (n, len(players), nf)).ravel()

        def per_play(a):
            return np.broadcast_to(a[:, None, None], (n, len(players), nf)).ravel()[mask]

        def per_player(a):
            return np.broadcast_to(a[:, players, None], (n, len(players), nf)).ravel()[mask]

        def per_frame(a):
            return a[:, players, sl].ravel()[mask]

        frame_ids = np.broadcast_to(np.arange(1, nf + 1)[None, None, :], (n, len(players), nf)).ravel()[mask]
        return {
            "game_id": per_play(game_id),
            "play_id": per_play(play_id),
            "nfl_id": per_player(ids),
            "frame_id": frame_ids.astype(np.int32),
            "x": np.round(per_frame(x), 2),
            "y": np.round(per_frame(y), 2),
            "s": np.round(per_player(speed), 2),
            "a": np.round(per_player(acc), 2),
            "dir": np.round(per_player(d_ang), 2),
            "o": np.round(per_player(o_ang), 2),
        }, per_play(np.arange(n)), per_player(np.broadcast_to(np.arange(P), (n, P)))

    before, bp, bpl = frames(slice(0, fb), np.arange(P), np.ones((n, P), dtype=bool))
    # Everyone but the QB is tracked after the throw; the receiver of an
    # unsynced play is not.
    keep_after = np.ones((n, P - 1), dtype=bool)
    keep_after[:, 0] = ~is_["unsynced"]
    after, _, _ = frames(slice(fb, fb + s.frames_after), np.arange(1, P), keep_after)
    nfl = before["nfl_id"]
    before_tbl = {
        "game_id": before["game_id"],
        "play_id": before["play_id"],
        "nfl_id": nfl,
        "frame_id": before["frame_id"],
        "play_direction": _dict_col(("right", "left"), direction[bp]),
        "player_side": _dict_col(("Offense", "Defense"), side[bpl]),
        "player_role": _dict_col(("Passer", "Targeted Receiver", "Other Route Runner", "Defensive Coverage"), role[bpl]),
        "player_name": _dict_col(NAMES, nfl - ID_BASE),
        "player_height": _dict_col(("5-11", "6-1", "6-3"), nfl % 3),
        "player_weight": (180 + nfl % 60).astype(np.float64),
        "player_birth_date": _dict_col(("1995-05-01", "1997-09-12", "1999-01-20"), nfl % 3),
        "player_position": _dict_col(vocab, pos_idx[bp, bpl]),
        "x": before["x"],
        "y": before["y"],
        "s": before["s"],
        "a": before["a"],
        "dir": before["dir"],
        "o": before["o"],
        "absolute_yardline_number": np.round(rx0[bp], 1),
        "ball_land_x": ball_x[bp],
        "ball_land_y": ball_y[bp],
    }
    plays_tbl = {
        "game_id": game_id,
        "play_id": play_id,
        "season": np.full(n, 2023, dtype=np.int32),
        "quarter": (1 + np.arange(n) % 4).astype(np.int32),
        "game_clock": _dict_col(("08:00", "02:15", "11:40"), np.arange(n) % 3),
        "down": (1 + np.arange(n) % 4).astype(np.int32),
        "home_team_abbr": _dict_col(TEAMS, (2 * game_idx) % 32),
        "visitor_team_abbr": _dict_col(TEAMS, (2 * game_idx + 1) % 32),
        "play_description": _dict_col(("pass",), np.zeros(n, dtype=np.int64)),
        "yards_to_go": (1 + np.arange(n) % 10).astype(np.int32),
        "possession_team": _dict_col(TEAMS, (2 * game_idx) % 32),
        "defensive_team": _dict_col(TEAMS, (2 * game_idx + 1) % 32),
        "yardline_number": (10 + np.arange(n) % 40).astype(np.int32),
        "play_nullified_by_penalty": _dict_col(("N",), np.zeros(n, dtype=np.int64)),
        "pass_result": _dict_col(("C", "I", "IN"), result),
        "pass_length": np.round(rng.uniform(2, 30, n), 1),
        "offense_formation": _dict_col(("SHOTGUN", "SINGLEBACK", "EMPTY"), np.arange(n) % 3),
        "receiver_alignment": _dict_col(("2x2", "3x1", "2x1"), np.arange(n) % 3),
        "route_of_targeted_receiver": _dict_col(KEPT + DROPPED, route),
        "play_action": _dict_col(("False", "True"), np.arange(n) % 2),
        "dropback_type": _dict_col(("TRADITIONAL", "SCRAMBLE"), np.arange(n) % 2),
        "dropback_distance": np.round(rng.uniform(1, 8, n), 1),
        "team_coverage_man_zone": _dict_col(("MAN_COVERAGE", "ZONE_COVERAGE"), np.arange(n) % 2),
        "team_coverage_type": _dict_col(("COVER_1", "COVER_3", "COVER_2"), np.arange(n) % 3),
    }
    return before_tbl, after, plays_tbl


def _write(root: str, table: str, week: int, cols: dict) -> None:
    path = os.path.join(root, table, f"week={week}")
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(path, "part-0.parquet"))


def write_season(season: Season, seed: int, root: str) -> None:
    """Write ``tracking_before``, ``tracking_after`` and ``plays`` under
    ``root``, one hive partition per week."""
    rng = np.random.default_rng(seed)
    for week in range(1, season.weeks + 1):
        before, after, plays = _week(season, week, rng)
        _write(root, "tracking_before", week, before)
        _write(root, "tracking_after", week, after)
        _write(root, "plays", week, plays)


def read_season(spark, root: str):
    """The raw tables as DataFrames with the package's schemas, in the
    argument order of ``run_pipeline`` (before, after, plays)."""
    from big_data_bowl_2026_analytics_spark.schemas import (
        PLAYS_SCHEMA,
        TRACKING_AFTER_SCHEMA,
        TRACKING_BEFORE_SCHEMA,
    )

    def read(table, schema):
        return spark.read.schema(schema).parquet(os.path.join(root, table))

    return (
        read("tracking_before", TRACKING_BEFORE_SCHEMA),
        read("tracking_after", TRACKING_AFTER_SCHEMA),
        read("plays", PLAYS_SCHEMA),
    )
