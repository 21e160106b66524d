"""Seeded input generators for the benchmark.

Everything here is pure Python / NumPy / PyArrow, so inputs are staged
before Spark starts and the same seed always gives byte-identical
files.  Two generators:

* ``write_landing_zone`` — FotMob ``matchDetails`` JSONL (the shape of
  ``fotmob.MATCH_SCHEMA``) in many shards, plus the expected answer of
  the shot pipeline computed from the generator's own records.
* ``write_stream_backlog`` — ``events`` and ``documents`` parquet files
  in arrival order, for the file-source streams.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fotmobdatapipeline_spark.sources.synth import _DOC_WORDS

# --- FotMob landing zone ---------------------------------------------------

# Team ids are FotMob-like; "Tottenham" is the raw name variant the
# pipeline canonicalizes to "Tottenham Hotspur" (dag:121).
TEAMS = (
    (8456, "Manchester City"), (9825, "Arsenal"), (8650, "Liverpool"),
    (8455, "Chelsea"), (8586, "Tottenham Hotspur"), (10260, "Manchester United"),
    (10261, "Newcastle United"), (10252, "Aston Villa"), (8678, "Bournemouth"),
    (9937, "Brentford"), (10204, "Brighton"), (9826, "Crystal Palace"),
    (8668, "Everton"), (9879, "Fulham"), (8197, "Leicester City"),
    (8463, "Leeds United"), (10203, "Nottingham Forest"), (8466, "Southampton"),
    (8654, "West Ham United"), (8602, "Wolverhampton"),
)
TOTTENHAM_ID = 8586
EVENT_TYPES = ("Goal", "AttemptSaved", "Miss", "Post")
SITUATIONS = ("RegularPlay", "FastBreak", "SetPiece", "FromCorner", "Penalty", "FreeKick")
SHOT_TYPES = ("RightFoot", "LeftFoot", "Header", "OtherBodyPart")
# Dyadic measures (k / 1024) add exactly in binary floating point, so the
# leaderboard sums are the same in every summation order and the
# pure-Python expected answer can be compared exactly.
_XG_DENOM = 1024.0


def _team_name(team_id: int, name: str, rng) -> str:
    if team_id == TOTTENHAM_ID and rng.random() < 0.5:
        return "Tottenham"
    return name


def landing_zone_records(seed: int, seasons: int, shots_per_match: tuple[int, int] = (18, 32)):
    """One payload per match: ``seasons`` double round-robins of the
    20-team league (380 matches each).  Players are named per team, with
    one name shared by two teams (the player dim is keyed on name)."""
    rng = np.random.default_rng([seed % 2**32, 1])
    roster = {
        tid: [f"{name.split()[0]} Player {i:02d}" for i in range(18)] for tid, name in TEAMS
    }
    roster[TEAMS[1][0]][0] = roster[TEAMS[0][0]][0]  # shared name across teams
    matches = []
    shot_id = 1
    for season in range(seasons):
        for hi, (home_id, home_name) in enumerate(TEAMS):
            for ai, (away_id, away_name) in enumerate(TEAMS):
                if hi == ai:
                    continue
                shots = []
                for _ in range(int(rng.integers(*shots_per_match))):
                    team_id = home_id if rng.random() < 0.55 else away_id
                    event = EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))]
                    blocked = event == "Miss" and bool(rng.random() < 0.4)
                    x = float(rng.integers(700, 1050)) / 10.0
                    y = float(rng.integers(50, 630)) / 10.0
                    xg = float(rng.integers(1, 1024)) / _XG_DENOM
                    on_target = event in ("Goal", "AttemptSaved")
                    shots.append({
                        "id": shot_id,
                        "eventType": event,
                        "teamId": team_id,
                        "playerName": roster[team_id][int(rng.integers(0, 18))],
                        "situation": SITUATIONS[int(rng.integers(0, len(SITUATIONS)))],
                        "shotType": SHOT_TYPES[int(rng.integers(0, len(SHOT_TYPES)))],
                        "x": x,
                        "y": y,
                        "isBlocked": blocked,
                        "blockedX": x + 0.5 if blocked else None,
                        "blockedY": y - 0.25 if blocked else None,
                        "goalCrossedY": float(rng.integers(300, 380)) / 10.0,
                        "goalCrossedZ": float(rng.integers(0, 25)) / 10.0,
                        "expectedGoals": xg,
                        "expectedGoalsOnTarget": (
                            float(rng.integers(1, 1024)) / _XG_DENOM if on_target else None
                        ),
                    })
                    shot_id += 1
                matches.append({
                    "matchId": str(4_000_000 + season * 1000 + len(matches)),
                    "general": {
                        "homeTeam": {"id": home_id, "name": _team_name(home_id, home_name, rng)},
                        "awayTeam": {"id": away_id, "name": _team_name(away_id, away_name, rng)},
                    },
                    "content": {"shotmap": {"shots": shots}},
                })
    return matches


def expected_shot_answer(matches, k: int = 10) -> dict:
    """What the shot pipeline must produce, from the records alone:
    fact rows = shots, ``looker_data`` rows = fact rows, and the top-k
    players by total xG (ties by name) with xGOT and SGA."""
    per_player: dict[str, list] = {}
    n_shots = 0
    for m in matches:
        for s in m["content"]["shotmap"]["shots"]:
            n_shots += 1
            acc = per_player.setdefault(s["playerName"], [0.0, None, 0])
            acc[0] += s["expectedGoals"]
            if s["expectedGoalsOnTarget"] is not None:
                acc[1] = (acc[1] or 0.0) + s["expectedGoalsOnTarget"]
            acc[2] += 1
    board = sorted(per_player.items(), key=lambda kv: (-kv[1][0], kv[0]))[:k]
    top = [
        (name, xg, xgot, shots, None if xgot is None else xgot - xg)
        for name, (xg, xgot, shots) in board
    ]
    return {"fact_rows": n_shots, "looker_rows": n_shots, "leaderboard": top}


def write_landing_zone(path: str, seed: int, seasons: int, shards: int) -> dict:
    """Write the JSONL shards (``matches-NN.jsonl``) and return the
    expected answer plus the zone's byte and shot counts."""
    matches = landing_zone_records(seed, seasons)
    os.makedirs(path, exist_ok=True)
    n_bytes = 0
    for s in range(shards):
        lines = "".join(json.dumps(m) + "\n" for m in matches[s::shards])
        with open(os.path.join(path, f"matches-{s:02d}.jsonl"), "w") as fh:
            fh.write(lines)
        n_bytes += len(lines.encode())
    expected = expected_shot_answer(matches)
    expected.update(matches=len(matches), input_bytes=n_bytes)
    return expected


# --- stream backlog -----------------------------------------------------------

_EVENT_KINDS = ("view", "click", "purchase", "signup", "error")
_DAY_US = 86_400 * 1_000_000
_JAN_2024_US = 1_704_067_200 * 1_000_000


def _pick(rng, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _doc_text(rng, n_words: int) -> str:
    return " ".join(_DOC_WORDS[i] for i in rng.integers(0, len(_DOC_WORDS), n_words))


def _events(rng, first_id: int, n: int, n_users: int, start_us: int, span_us: int) -> pa.Table:
    ts = np.sort(start_us + rng.integers(0, span_us, n))
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
        "user_id": rng.integers(1, n_users + 1, n),
        "event_type": _pick(rng, _EVENT_KINDS, n),
        "value": rng.integers(0, 56_022, n) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng, first_id: int, n: int, pool: list[str] | None = None) -> pa.Table:
    """Word-soup documents; about one in seven repeats one of the 13
    texts before it (``pool`` carries them across files), planting
    exact-duplicate clusters for the dedup operators."""
    pool = [] if pool is None else pool
    texts: list[str] = []
    for _ in range(n):
        if pool and rng.random() < 1 / 7:
            text = pool[int(rng.integers(max(0, len(pool) - 13), len(pool)))]
        else:
            text = _doc_text(rng, int(rng.integers(30, 160)))
        pool.append(text)
        texts.append(text)
    return pa.table({
        "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, ("en", "en", "en", "de", "fr"), n),
        "source": [f"src{k}" for k in rng.integers(0, 10, n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def write_stream_backlog(
    path: str, seed: int, event_files: int, events_per_file: int,
    doc_files: int, docs_per_file: int,
) -> dict[str, int]:
    """Stage ``events/`` and ``documents/`` backlogs.  Event files cover
    consecutive six-hour spans, so files arrive in event-time order and
    the drained stream holds no late rows."""
    rng = np.random.default_rng([seed % 2**32, 3])
    six_hours = _DAY_US // 4
    for sub in ("events", "documents"):
        os.makedirs(os.path.join(path, sub), exist_ok=True)
    for f in range(event_files):
        tbl = _events(rng, f * events_per_file, events_per_file, 300,
                      _JAN_2024_US + f * six_hours, six_hours)
        pq.write_table(tbl, os.path.join(path, "events", f"part-{f:03d}.parquet"))
    pool: list[str] = []
    for f in range(doc_files):
        tbl = _documents(rng, f * docs_per_file, docs_per_file, pool)
        pq.write_table(tbl, os.path.join(path, "documents", f"part-{f:03d}.parquet"))
    return {
        "event_rows": event_files * events_per_file,
        "doc_rows": doc_files * docs_per_file,
    }
