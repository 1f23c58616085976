"""Seeded input generators for the benchmark workloads.

Everything here is NumPy + pyarrow; the engine only ever sees the
parquet these functions write. Equal seeds give byte-identical files
(see ``checksum``).

Big-Data-Bowl tables (games, plays, players, coverages, weekly
tracking) follow FIXTURES.md section B:

- 23 entities per frame (11 offense, 11 defense, the football); ball
  rows have NULL nflId/position/jerseyNumber.
- both play directions; raw coordinates inside the field.
- a few frames miss the ball, including a few pass-arrival frames.
- ``dir`` is exactly 0.0 on some moving rows (v_x = 0 exactly) and on
  every standing row (s = 0).
- each play has ``ball_snap`` and exactly one pass-arrival event, on a
  frame where 7+ defenders with a coverage position are present; two
  CBs are on the field in every play (duplicate pivot positions).
- ``epa`` is NULL on ~4% of plays; ``personnelD`` is "N DL, N LB, N DB".
- the coverage label drives the defenders' depth and width at pass
  arrival, so a random forest can learn it.

The corpus snapshot (documents, embeddings) has planted near-duplicate
documents and vectors and contiguous ``vec_id``s 0..n-1.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIELD_LENGTH = 120.0
FIELD_WIDTH = 160.0 / 3.0
FRAMES = 40
SNAP_FRAME = 5  # 1-based frameId carrying "ball_snap"
ARRIVAL_EVENTS = (
    "pass_outcome_caught",
    "pass_arrived",
    "pass_outcome_incomplete",
    "pass_outcome_interception",
    "pass_outcome_touchdown",
)
ARRIVAL_EVENT_P = (0.55, 0.2, 0.17, 0.04, 0.04)

TEAMS = (
    "ARI ATL BAL BUF CAR CHI CIN CLE DAL DEN DET GB HOU IND JAX KC "
    "LA LAC LV MIA MIN NE NO NYG NYJ PHI PIT SEA SF TB TEN WAS"
).split()

COVERAGES = (
    "Cover 0", "Cover 1", "Cover 2", "Cover 3",
    "Cover 4", "Cover 6", "Man Cover 2", "Prevent",
)
COVERAGE_P = (0.05, 0.25, 0.12, 0.3, 0.1, 0.06, 0.08, 0.04)
# Mean depth past the line of scrimmage at pass arrival per role
# (DL, LB, CB, S, DB) and the safeties' distance from mid-field.
_DEPTH = {
    "Cover 0": (1.0, 3.0, 2.0, 5.0, 3.5),
    "Cover 1": (1.5, 5.0, 3.5, 14.0, 6.0),
    "Cover 2": (1.5, 7.0, 4.0, 12.0, 8.0),
    "Cover 3": (1.5, 8.0, 10.0, 15.0, 9.0),
    "Cover 4": (1.5, 6.0, 9.0, 11.0, 7.0),
    "Cover 6": (1.5, 7.0, 6.0, 13.0, 8.0),
    "Man Cover 2": (1.5, 4.0, 2.0, 13.0, 4.0),
    "Prevent": (3.0, 12.0, 16.0, 25.0, 18.0),
}
_SAFETY_WIDTH = {
    "Cover 0": 4.0, "Cover 1": 2.0, "Cover 2": 12.0, "Cover 3": 6.0,
    "Cover 4": 10.0, "Cover 6": 9.0, "Man Cover 2": 13.0, "Prevent": 8.0,
}

OFFENSE = ("QB", "RB", "WR", "WR", "WR", "TE", "T", "G", "C", "G", "T")
# (personnelD, 11 defensive positions); every template has 7+
# defenders in the pivot positions {SS, FS, CB, LB, OLB, ILB, DB}.
DEFENSES = (
    ("4 DL, 3 LB, 4 DB",
     ("DE", "DT", "DT", "DE", "OLB", "ILB", "OLB", "CB", "CB", "SS", "FS")),
    ("4 DL, 2 LB, 5 DB",
     ("DE", "DT", "DT", "DE", "ILB", "LB", "CB", "CB", "DB", "SS", "FS")),
    ("4 DL, 1 LB, 6 DB",
     ("DE", "DT", "DT", "DE", "LB", "CB", "CB", "DB", "DB", "SS", "FS")),
    ("3 DL, 4 LB, 4 DB",
     ("DE", "NT", "DE", "OLB", "ILB", "ILB", "OLB", "CB", "CB", "SS", "FS")),
)
_ROLE = {
    "DE": 0, "DT": 0, "NT": 0, "OLB": 1, "ILB": 1, "LB": 1,
    "CB": 2, "SS": 3, "FS": 3, "DB": 4,
}
ROUTES = ("GO", "HITCH", "SLANT", "OUT", "IN", "POST", "CORNER", "FLAT")
ENTITIES = 23  # football + 11 offense + 11 defense


def _write(table: pa.Table, path: str, row_group_size: int | None = None):
    pq.write_table(table, path, row_group_size=row_group_size)


def _dict_col(codes: np.ndarray, values, mask: np.ndarray | None = None):
    """String column as codes into a small dictionary (fast to build)."""
    idx = pa.array(codes.astype(np.int32), mask=mask)
    return pa.DictionaryArray.from_arrays(idx, pa.array(list(values)))


def _player_names(n: int, rng) -> list[str]:
    first = ["Aaron", "Ben", "Cole", "Dak", "Eli", "Fred", "Gus", "Hal",
             "Ike", "Jay", "Kyle", "Lou", "Matt", "Nick", "Odell", "Pat"]
    last = ["Adams", "Brown", "Cook", "Davis", "Evans", "Ford", "Green",
            "Hill", "Irving", "Jones", "King", "Lane", "Moore", "Nash"]
    return [
        f"{first[rng.integers(len(first))]} {last[rng.integers(len(last))]}"
        for _ in range(n)
    ]


def season(out_dir: str, seed: int, weeks: int, games_per_week: int,
           plays_per_game: int, row_group_size: int = 16384) -> dict:
    """One generated season: games, plays, players, coverages and
    ``tracking.parquet/`` holding one file per week, rows sorted by
    (gameId, playId, frameId). Returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_games = weeks * games_per_week
    n_plays = n_games * plays_per_game
    F, E = FRAMES, ENTITIES

    # -- games ---------------------------------------------------------
    game_ids = 2021090900 + np.arange(n_games, dtype=np.int64) * 7
    week = np.repeat(np.arange(1, weeks + 1, dtype=np.int32), games_per_week)
    home = np.empty(n_games, dtype=np.int64)
    away = np.empty(n_games, dtype=np.int64)
    for w in range(weeks):
        perm = rng.permutation(len(TEAMS))[: 2 * games_per_week]
        sl = slice(w * games_per_week, (w + 1) * games_per_week)
        home[sl], away[sl] = perm[0::2], perm[1::2]
    games = pa.table({
        "gameId": game_ids,
        "gameDate": [f"09/{9 + int(w) % 20:02d}/2021" for w in week],
        "gameTimeEastern": ["13:00:00"] * n_games,
        "homeTeamAbbr": [TEAMS[i] for i in home],
        "visitorTeamAbbr": [TEAMS[i] for i in away],
        "week": week,
    })
    _write(games, f"{out_dir}/games.parquet")

    # -- plays ---------------------------------------------------------
    g_of = np.repeat(np.arange(n_games), plays_per_game)
    play_ids = np.tile(50 + 25 * np.arange(plays_per_game, dtype=np.int64),
                       n_games)
    offense_home = rng.random(n_plays) < 0.5
    off_team = np.where(offense_home, home[g_of], away[g_of])
    left = rng.random(n_plays) < 0.5
    cov = rng.choice(len(COVERAGES), size=n_plays, p=COVERAGE_P)
    tmpl = rng.integers(0, len(DEFENSES), n_plays)
    tmpl[cov == COVERAGES.index("Prevent")] = 2  # prevent plays bring dime
    arrival = rng.integers(18, F - 6, n_plays)  # 0-based frame index
    los = np.round(rng.uniform(20.0, 95.0, n_plays), 2)
    ev = rng.choice(len(ARRIVAL_EVENTS), size=n_plays, p=ARRIVAL_EVENT_P)
    epa = np.round(np.clip(rng.normal(0.05, 1.6, n_plays), -4, 4), 6)
    epa_mask = rng.random(n_plays) < 0.04
    qb_name = _player_names(len(TEAMS), rng)
    desc = [
        f"(0:{s:02d}) {qb_name[t]} pass short {d} to receiver"
        + (" (tackle)" if s % 3 == 0 else "")
        for s, t, d in zip(rng.integers(0, 60, n_plays), off_team,
                           rng.choice(["left", "middle", "right"], n_plays))
    ]
    yardline = np.where(los > 60, 110 - los, los - 10).astype(np.int32)
    plays = pa.table({
        "gameId": game_ids[g_of],
        "playId": play_ids,
        "playDescription": desc,
        "quarter": rng.integers(1, 5, n_plays).astype(np.int32),
        "down": rng.integers(1, 5, n_plays).astype(np.int32),
        "yardsToGo": rng.integers(1, 16, n_plays).astype(np.int32),
        "possessionTeam": [TEAMS[i] for i in off_team],
        "playType": ["play_type_pass"] * n_plays,
        "yardlineSide": [TEAMS[i] for i in off_team],
        "yardlineNumber": np.clip(yardline, 1, 50),
        "offenseFormation": rng.choice(["SHOTGUN", "SINGLEBACK", "EMPTY"],
                                       n_plays).tolist(),
        "personnelO": ["1 RB, 1 TE, 3 WR"] * n_plays,
        "personnelD": [DEFENSES[i][0] for i in tmpl],
        "defendersInTheBox": rng.integers(4, 9, n_plays).astype(np.int32),
        "numberOfPassRushers": rng.integers(3, 7, n_plays).astype(np.int32),
        "typeDropback": ["TRADITIONAL"] * n_plays,
        "absoluteYardlineNumber": (los + 10).astype(np.int32),
        "offensePlayResult": rng.integers(-5, 30, n_plays).astype(np.int32),
        "playResult": rng.integers(-5, 30, n_plays).astype(np.int32),
        "epa": pa.array(epa, mask=epa_mask),
        "isDefensivePI": rng.random(n_plays) < 0.02,
    })
    _write(plays, f"{out_dir}/plays.parquet")
    _write(pa.table({
        "gameId": game_ids[g_of],
        "playId": play_ids,
        "coverage": [COVERAGES[i] for i in cov],
    }), f"{out_dir}/coverages.parquet")

    # -- players: per team, 11 offense slots + 11 per defense template --
    d_pos = np.array([d[1] for d in DEFENSES])  # (templates, 11)
    roster_pos = list(OFFENSE) + [p for row in d_pos for p in row]
    per_team = len(roster_pos)
    n_players = len(TEAMS) * per_team
    nfl_ids = 30000 + np.arange(n_players, dtype=np.int64)
    names = _player_names(n_players, rng)
    players = pa.table({
        "nflId": nfl_ids,
        "height": [f"6-{i % 6}" for i in range(n_players)],
        "weight": rng.integers(180, 330, n_players).astype(np.int32),
        "birthDate": ["1995-01-01"] * n_players,
        "collegeName": rng.choice(["Alabama", "Ohio State", "LSU", "USC"],
                                  n_players).tolist(),
        "position": roster_pos * len(TEAMS),
        "displayName": names,
    })
    _write(players, f"{out_dir}/players.parquet")

    # -- per-entity arrival positions (standardized frame) --------------
    mid = FIELD_WIDTH / 2.0
    ax = np.empty((n_plays, E))
    ay = np.empty((n_plays, E))
    sx = np.empty((n_plays, E))  # position at the snap
    sy = np.empty((n_plays, E))
    depth = np.array([_DEPTH[c] for c in COVERAGES])[cov]  # (P, 5)
    swidth = np.array([_SAFETY_WIDTH[c] for c in COVERAGES])[cov]
    # offense: QB, RB, 3 WR, TE, 5 OL
    o_snap_x = np.array([-5.0, -7.0, -1.0, -1.0, -1.0, -1.0] + [-1.0] * 5)
    o_snap_y = np.array([0.0, 0.0, -20.0, 18.0, -12.0, 6.0,
                         -4.0, -2.0, 0.0, 2.0, 4.0])
    o_depth = np.array([-7.0, 3.0, 15.0, 12.0, 9.0, 7.0] + [-2.0] * 5)
    sx[:, 1:12] = los[:, None] + o_snap_x
    sy[:, 1:12] = mid + o_snap_y
    ax[:, 1:12] = los[:, None] + o_depth + rng.normal(0, 2.5, (n_plays, 11))
    ay[:, 1:12] = mid + o_snap_y * 1.1 + rng.normal(0, 3.0, (n_plays, 11))
    # defense: depth by role and coverage, width by role
    pos_p = d_pos[tmpl]  # (P, 11) strings
    role = np.vectorize(_ROLE.get)(pos_p)
    rows = np.arange(n_plays)[:, None]
    d_mean = depth[rows, role]
    ax[:, 12:] = los[:, None] + d_mean + rng.normal(0, 1.2, (n_plays, 11))
    slot = np.arange(11)[None, :]
    side = np.where(slot % 2 == 0, -1.0, 1.0)
    width = np.select(
        [role == 0, role == 1, role == 2, role == 3],
        [3.0 * (slot - 1.5), 6.0 * side, 20.0 * side,
         swidth[:, None] * side],
        8.0 * side,
    )
    ay[:, 12:] = mid + width + rng.normal(0, 1.5, (n_plays, 11))
    sx[:, 12:] = los[:, None] + np.where(role == 0, 1.0, d_mean * 0.5)
    sy[:, 12:] = mid + width * 0.9
    # the football: at the LOS at the snap, near the target at arrival
    target = rng.integers(2, 6, n_plays) + 1  # a WR/TE entity index
    sx[:, 0], sy[:, 0] = los, mid
    ax[:, 0] = ax[np.arange(n_plays), target] + rng.normal(0, 0.8, n_plays)
    ay[:, 0] = ay[np.arange(n_plays), target] + rng.normal(0, 0.8, n_plays)

    # -- frames: still before the snap, linear to arrival, then onwards --
    f_idx = np.arange(F)[None, :, None]
    snap0 = SNAP_FRAME - 1
    t = (f_idx - snap0) / (arrival[:, None, None] - snap0)
    t = np.clip(t, 0.0, None)
    x = sx[:, None, :] + (ax - sx)[:, None, :] * t
    y = sy[:, None, :] + (ay - sy)[:, None, :] * t
    x += rng.normal(0, 0.05, x.shape) * (t > 0)
    y += rng.normal(0, 0.05, y.shape) * (t > 0)
    x = np.round(np.clip(x, 0.5, FIELD_LENGTH - 0.5), 2)
    y = np.round(np.clip(y, 0.5, FIELD_WIDTH - 0.5), 2)
    dx = np.diff(x, axis=1, prepend=x[:, :1, :])
    dy = np.diff(y, axis=1, prepend=y[:, :1, :])
    dis = np.round(np.hypot(dx, dy), 2)
    # s = 13 (speed ratio 1) collapses a player's influence to 0 on every
    # grid cell, a NaN after normalization: keep s below it
    s = np.round(np.clip(dis * 10.0, 0.0, 12.0), 2)
    direction = np.round(np.degrees(np.arctan2(dx, dy)) % 360.0, 2)
    direction[s == 0] = 0.0
    direction[rng.random(direction.shape) < 0.01] = 0.0  # v_x == 0 rows
    direction[direction >= 360.0] = 0.0
    acc = np.round(np.abs(rng.normal(1.0, 0.8, x.shape)), 2)
    orient = np.round(rng.uniform(0, 360, x.shape), 2)
    # raw coordinates: left plays are mirrored
    lf = left[:, None, None]
    x_raw = np.where(lf, np.round(FIELD_LENGTH - x, 2), x)
    y_raw = np.where(lf, np.round(FIELD_WIDTH - y, 2), y)
    dir_raw = np.where(lf, np.round((direction + 180.0) % 360.0, 2), direction)

    # -- identity columns -------------------------------------------------
    team_of_play = np.where(offense_home, 0, 1)  # offense is home?
    team_code = np.empty((n_plays, E), dtype=np.int8)  # 0 home 1 away 2 ball
    team_code[:, 0] = 2
    team_code[:, 1:12] = team_of_play[:, None]
    team_code[:, 12:] = 1 - team_of_play[:, None]
    def_team = np.where(offense_home, away[g_of], home[g_of])
    nfl = np.empty((n_plays, E), dtype=np.int64)
    nfl[:, 0] = 0
    nfl[:, 1:12] = (30000 + off_team[:, None] * per_team + np.arange(11))
    nfl[:, 12:] = (30000 + def_team[:, None] * per_team + 11
                   + tmpl[:, None] * 11 + np.arange(11))
    pos_codes = {p: i for i, p in enumerate(sorted(set(roster_pos)))}
    pos_vals = sorted(pos_codes, key=pos_codes.get)
    pos = np.zeros((n_plays, E), dtype=np.int32)
    pos[:, 1:12] = [pos_codes[p] for p in OFFENSE]
    pos[:, 12:] = np.vectorize(pos_codes.get)(pos_p)
    route = np.full((n_plays, E), -1, dtype=np.int32)
    route[:, 2:7] = rng.integers(0, len(ROUTES), (n_plays, 5))
    jersey = (nfl % 99 + 1).astype(np.int32)
    name_idx = (nfl - 30000).clip(0)  # into `names`; ball handled by mask

    ev_code = np.zeros((n_plays, F), dtype=np.int32)  # 0 = "None"
    ev_code[:, snap0] = 1  # ball_snap
    ev_code[np.arange(n_plays), arrival] = 2 + ev
    event_vals = ("None", "ball_snap") + ARRIVAL_EVENTS

    # rows to keep: drop the ball in a few frames of ~3% of plays
    keep = np.ones((n_plays, F, E), dtype=bool)
    drop_plays = np.flatnonzero(rng.random(n_plays) < 0.03)
    for p in drop_plays:
        frames = rng.choice(np.arange(1, F), size=3, replace=False)
        keep[p, frames, 0] = False
    # ... and at the pass-arrival frame of ~0.5% of plays
    for p in rng.choice(n_plays, size=max(1, n_plays // 200), replace=False):
        keep[p, arrival[p], 0] = False

    # -- write one file per week -------------------------------------------
    trk_dir = f"{out_dir}/tracking.parquet"
    os.makedirs(trk_dir, exist_ok=True)
    plays_per_week = games_per_week * plays_per_game
    # a dictionary with repeated values is not written deterministically
    name_dict, name_code = np.unique(np.array(names + ["Football"]),
                                     return_inverse=True)
    name_dict = pa.array(name_dict)
    n_rows = 0
    for w in range(weeks):
        sl = slice(w * plays_per_week, (w + 1) * plays_per_week)
        k = keep[sl].reshape(-1)
        pw = plays_per_week

        def col(a, full=(pw, F, E)):
            return np.broadcast_to(a, full).reshape(-1)[k]

        is_ball = col(np.arange(E)[None, None, :] == 0)
        gid = col(game_ids[g_of[sl]][:, None, None])
        pid = col(play_ids[sl][:, None, None])
        frame = col(np.arange(1, F + 1, dtype=np.int32)[None, :, None])
        ev_w = col(ev_code[sl][:, :, None])
        t_idx = col((np.arange(pw)[:, None] * F + np.arange(F))[:, :, None])
        time_vals = [
            f"2021-09-{9 + w % 20:02d}T{17 + (i // 3600) % 6:02d}:"
            f"{(i // 60) % 60:02d}:{i % 60:02d}.{(i * 100) % 1000:03d}"
            for i in range(pw * F)
        ]
        table = pa.table({
            "time": _dict_col(t_idx, time_vals),
            "x": col(x_raw[sl]),
            "y": col(y_raw[sl]),
            "s": col(s[sl]),
            "a": col(acc[sl]),
            "dis": col(dis[sl]),
            "o": col(orient[sl]),
            "dir": col(dir_raw[sl]),
            "event": _dict_col(ev_w, event_vals),
            "nflId": pa.array(col(nfl[sl][:, None, :]), mask=is_ball),
            "displayName": pa.DictionaryArray.from_arrays(
                pa.array(name_code[np.where(is_ball, len(names),
                                            col(name_idx[sl][:, None, :]))]
                         .astype(np.int32)),
                name_dict,
            ),
            "jerseyNumber": pa.array(col(jersey[sl][:, None, :]),
                                     mask=is_ball),
            "position": _dict_col(col(pos[sl][:, None, :]), pos_vals,
                                  mask=is_ball),
            "frameId": frame,
            "team": _dict_col(col(team_code[sl][:, None, :]),
                              ("home", "away", "football")),
            "gameId": gid,
            "playId": pid,
            "playDirection": _dict_col(col(left[sl][:, None, None]
                                           .astype(np.int32)),
                                       ("right", "left")),
            "route": _dict_col(
                np.maximum(col(route[sl][:, None, :]), 0),
                ROUTES,
                mask=col(route[sl][:, None, :]) < 0,
            ),
        })
        _write(table, f"{trk_dir}/week{w + 1:02d}.parquet", row_group_size)
        n_rows += table.num_rows
    return {"games": n_games, "plays": n_plays, "tracking": n_rows}


# ---------------------------------------------------------------------------
# corpus snapshot
# ---------------------------------------------------------------------------

VOCAB = (
    "agg row scan slow fast table value part hash merge batch spark line "
    "sort window key data column join small customer query order stream "
    "filter group big vector"
).split()
STOPWORDS = {  # mirrors functions/text.py LANG_STOPWORDS
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "zh": ("de", "shi", "le", "zai", "he"),
}
LANGS = tuple(STOPWORDS)
EMBED_DIM = 64


def corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict:
    """``documents.parquet`` and ``embeddings.parquet`` in the star-schema
    layout the registered corpus queries read. ~12% of documents are
    near-copies (a few tokens replaced) or exact copies of earlier ones;
    ~10% of vectors are small perturbations of earlier vectors."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    texts, langs, sources = [], [], []
    n_near = 0
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.12:
            j = int(rng.integers(0, i))
            toks = texts[j].split()
            if rng.random() < 0.7:
                for k in rng.choice(len(toks), size=max(1, len(toks) // 25),
                                    replace=False):
                    toks[k] = VOCAB[rng.integers(len(VOCAB))]
            texts.append(" ".join(toks))
            langs.append(langs[j])
            sources.append(sources[j])
            n_near += 1
            continue
        lang = LANGS[rng.choice(len(LANGS), p=(0.5, 0.15, 0.12, 0.12, 0.11))]
        n_tok = int(rng.integers(8, 140))
        words = rng.choice(VOCAB, size=n_tok).astype(object)
        # stopwords of the doc's language, sometimes of another one
        sw_lang = lang if rng.random() < 0.85 else LANGS[rng.integers(5)]
        n_sw = int(rng.integers(0, max(2, n_tok // 5)))
        at = rng.choice(n_tok, size=min(n_sw, n_tok), replace=False)
        words[at] = rng.choice(STOPWORDS[sw_lang], size=len(at))
        if rng.random() < 0.1:  # punctuation-heavy, low quality
            words = [w + "!!" for w in words]
        if rng.random() < 0.05:  # implausibly long tokens
            words = [w * 5 for w in words]
        texts.append(" ".join(words))
        langs.append(lang)
        sources.append(f"src{int(rng.integers(0, 20))}")
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    _write(docs, f"{out_dir}/documents.parquet")

    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centers = rng.normal(0, 0.04, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0, 0.12, (n_vecs, EMBED_DIM))
    dup = np.flatnonzero(rng.random(n_vecs) < 0.1)
    dup = dup[dup > 20]
    src = rng.integers(0, dup)  # an earlier vector for each planted dup
    vecs[dup] = vecs[src] + rng.normal(0, 0.01, (len(dup), EMBED_DIM))
    labels[dup] = labels[src]
    vecs = vecs.astype(np.float32)
    emb = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels,
    })
    _write(emb, f"{out_dir}/embeddings.parquet")
    return {"documents": n_docs, "near_dup_docs": n_near,
            "embeddings": n_vecs, "near_dup_vecs": int(len(dup))}


def checksum(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes)."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
