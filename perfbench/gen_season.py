"""Seeded StatsBomb-like season corpus for the ``season_pipeline`` workload.

One JSON array file per match, ``<out>/<match_id>.json``, shaped like the
fixtures in ``tests/fixtures/events`` (FIXTURES.md section B) but at season
scale: a few matches feature player 30486 (Pedri) for Barcelona and the
rest are other teams' matches that the pipeline must read and discard.
The corpus covers every field ``plans/pedri_pipeline.py`` and ``viz.py``
read: all event types, ``Starting XI`` lineups (both lineup key shapes),
substitutions on and off, pass outcome / recipient / shot-assist links,
key-pass ids, xG, under-pressure flags, two periods, three ``match_date``
formats. It also plants one malformed file and one non-array file.

The same seed gives byte-identical files; nothing is downloaded.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import random

PEDRI = 30486
TARGET_TEAM = "Barcelona"
TEAMS = [TARGET_TEAM] + [
    f"{c} FC"
    for c in (
        "Atletico", "Sevilla", "Valencia", "Villarreal", "Betis", "Sociedad",
        "Bilbao", "Celta", "Getafe", "Osasuna", "Mallorca", "Girona",
        "Rayo", "Alaves", "Cadiz", "Almeria", "Granada", "Espanyol", "Elche",
    )
]
POSITIONS = [
    "Goalkeeper", "Right Back", "Right Center Back", "Left Center Back",
    "Left Back", "Right Defensive Midfield", "Left Defensive Midfield",
    "Right Wing", "Center Attacking Midfield", "Left Wing", "Center Forward",
]
PEDRI_POSITIONS = ["Left Center Midfield", "Center Attacking Midfield", "Right Center Midfield"]
PLAY_PATTERNS = ["Regular Play", "From Throw In", "From Free Kick", "From Corner", "From Goal Kick"]
SHOT_OUTCOMES = ["Goal", "Saved", "Off T", "Blocked", "Wayward", "Post"]
PASS_HEIGHTS = ["Ground Pass", "Low Pass", "High Pass"]
# (type name, weight) of the open-play event mix
EVENT_MIX = [
    ("Pass", 44), ("Carry", 25), ("Pressure", 9), ("Ball Recovery", 4),
    ("Duel", 3), ("Dribble", 2), ("Shot", 2), ("Interception", 2),
    ("Miscontrol", 2), ("Dispossessed", 1), ("Tackle", 1),
]
_TYPES = [t for t, _ in EVENT_MIX]
_CUM = []
_acc = 0
for _, _w in EVENT_MIX:
    _acc += _w
    _CUM.append(_acc)

BASE_MATCH_ID = 3_800_000
# Season shape. A StatsBomb match file holds about 3,500 events; here 88%
# of the matches are other teams' matches that the scan reads and discards,
# as in the paper's season (49 featured matches of about 400). The match
# count is cut to 60, and the featured count with it to keep that share,
# so that a run fits the benchmark's time budget.
N_MATCHES = 60
N_FEATURED = 7
EVENTS_PER_MATCH = 3500


def _squad(team_idx: int) -> list[int]:
    """Eleven starters plus three substitutes; ids never collide with 30486."""
    return [100_000 + team_idx * 100 + k for k in range(14)]


def _uuid(rng: random.Random) -> str:
    h = f"{rng.getrandbits(128):032x}"
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _xy(rng: random.Random) -> list[float]:
    return [round(rng.uniform(0.1, 119.9), 1), round(rng.uniform(0.1, 79.9), 1)]


def _date(rng: random.Random, day: int) -> str:
    y, m, d = 2021, 8 + day // 28, 1 + day % 28
    y, m = y + (m - 1) // 12, (m - 1) % 12 + 1
    fmt = rng.random()
    if fmt < 0.6:
        return f"{y:04d}-{m:02d}-{d:02d}"
    if fmt < 0.8:
        return f"{y:04d}-{m:02d}-{d:02d} 21:00:00"
    return f"{d:02d}/{m:02d}/{y:04d}"


def _match(rng: random.Random, home: int, away: int, day: int, n_events: int, pedri_role: str):
    """Events of one match. ``pedri_role``: none | start | start_off | sub_on | bench."""
    date = _date(rng, day)
    squads = {home: _squad(home), away: _squad(away)}
    on_pitch = {t: list(squads[t][:11]) for t in squads}
    names = {}
    target = home if TEAMS[home] == TARGET_TEAM else away if TEAMS[away] == TARGET_TEAM else None
    if target is not None and pedri_role in ("start", "start_off"):
        on_pitch[target][8] = PEDRI
    bench = {t: list(squads[t][11:]) for t in squads}
    if target is not None and pedri_role == "sub_on":
        bench[target][0] = PEDRI
    for t in squads:
        for p in on_pitch[t] + bench[t]:
            names[p] = "Pedri" if p == PEDRI else f"Player {p}"

    events = []
    eid = [0]

    def ev(type_name, team, player, period, minute, second, **kw):
        e = {
            "id": _uuid(rng),
            "index": eid[0],
            "period": period,
            "minute": minute,
            "second": second,
            "type": {"name": type_name},
            "possession": 1 + eid[0] // 6,
            "possession_team": {"name": TEAMS[team]},
            "play_pattern": {"name": PLAY_PATTERNS[eid[0] % 7 % 5]},
            "team": {"name": TEAMS[team]},
        }
        eid[0] += 1
        if player is not None:
            e["player"] = {"id": player, "name": names.get(player, f"Player {player}")}
        e.update(kw)
        e["match_date"] = date
        events.append(e)
        return e

    for t in (home, away):
        lineup = []
        for k, p in enumerate(on_pitch[t]):
            pos = rng.choice(PEDRI_POSITIONS) if p == PEDRI else POSITIONS[k]
            if k == 10 and rng.random() < 0.2:
                # the alternative lineup key shape (pedri_inspect_lineups.py)
                lineup.append({"player_id": p, "position": {"name": pos}})
            else:
                lineup.append({"player": {"id": p, "name": names[p]}, "position": {"name": pos}})
        ev("Starting XI", t, None, 1, 0, 0, duration=0.0, tactics={"formation": 433, "lineup": lineup})

    # substitution schedule: three per team in the second half
    subs = []
    for t in (home, away):
        for k in range(3):
            off = on_pitch[t][rng.randrange(1, 11)]
            on = bench[t][k]
            if target == t and pedri_role == "start_off" and k == 0:
                off = PEDRI
            if target == t and pedri_role == "sub_on" and k == 0:
                on = PEDRI
            subs.append((rng.randrange(55, 88), t, off, on))
    subs.sort()

    teams = (home, away)
    poss = home
    last_pass = {home: None, away: None}
    per_half = n_events // 2
    for period in (1, 2):
        start = 0 if period == 1 else 45
        end = 47 if period == 1 else 93
        span = (end - start) * 60
        stamps = sorted(rng.randrange(span) for _ in range(per_half))
        for s in stamps:
            minute, second = start + s // 60, s % 60
            while subs and period == 2 and minute >= subs[0][0]:
                m, t, off, on = subs.pop(0)
                if off in on_pitch[t]:
                    on_pitch[t][on_pitch[t].index(off)] = on
                    ev("Substitution", t, off, 2, m, 0,
                       substitution={"replacement": {"id": on, "name": names[on]}})
            if rng.random() < 0.08:
                poss = teams[1] if poss == teams[0] else teams[0]
            r = rng.randrange(_CUM[-1])
            type_name = _TYPES[next(i for i, c in enumerate(_CUM) if r < c)]
            team = poss if type_name not in ("Pressure", "Interception", "Tackle", "Duel") else (
                teams[1] if poss == teams[0] else teams[0]
            )
            roster = on_pitch[team]
            # the target player is on the ball more often than a random starter
            if PEDRI in roster and rng.random() < 0.07:
                player = PEDRI
            else:
                player = roster[rng.randrange(11)]
            kw = {"duration": round(rng.uniform(0.0, 3.0), 6)}
            if rng.random() < 0.985:
                kw["location"] = _xy(rng)
            if rng.random() < 0.15:
                kw["under_pressure"] = True
            if type_name == "Pass":
                loc = kw.get("location", [60.0, 40.0])
                end_xy = [
                    round(min(119.9, max(0.1, loc[0] + rng.uniform(-25, 40))), 1),
                    round(min(79.9, max(0.1, loc[1] + rng.uniform(-30, 30))), 1),
                ]
                p = {
                    "end_location": end_xy,
                    "length": round(((end_xy[0] - loc[0]) ** 2 + (end_xy[1] - loc[1]) ** 2) ** 0.5, 6),
                    "angle": round(rng.uniform(-3.14, 3.14), 6),
                    "height": {"name": rng.choice(PASS_HEIGHTS)},
                }
                u = rng.random()
                if u < 0.17:
                    p["outcome"] = {"name": "Incomplete"}
                elif u < 0.19:
                    p["outcome"] = {"name": "Out"}
                elif u < 0.2:
                    p["outcome"] = {"name": "Complete"}
                if "outcome" not in p or p["outcome"]["name"] == "Complete":
                    mate = roster[rng.randrange(11)]
                    if PEDRI in roster and player != PEDRI and rng.random() < 0.1:
                        mate = PEDRI
                    p["recipient"] = {"id": mate, "name": names.get(mate, f"Player {mate}")}
                if rng.random() < 0.03:
                    p["cross"] = True
                kw["pass"] = p
            elif type_name == "Carry":
                loc = kw.get("location", [60.0, 40.0])
                kw["carry"] = {"end_location": [
                    round(min(119.9, max(0.1, loc[0] + rng.uniform(-5, 15))), 1),
                    round(min(79.9, max(0.1, loc[1] + rng.uniform(-8, 8))), 1),
                ]}
            elif type_name == "Dribble":
                kw["dribble"] = {"outcome": {"name": "Complete" if rng.random() < 0.55 else "Incomplete"}}
            elif type_name == "Duel":
                kw["duel"] = {"type": {"name": "Tackle" if rng.random() < 0.5 else "Aerial Lost"}}
            elif type_name == "Shot":
                shot = {
                    "statsbomb_xg": round(rng.uniform(0.01, 0.6) ** 1.5, 8),
                    "outcome": {"name": rng.choice(SHOT_OUTCOMES)},
                    "type": {"name": "Open Play"},
                }
                kp = last_pass[team]
                if kp is not None and rng.random() < 0.7:
                    shot["key_pass_id"] = kp["id"]
                    kp["pass"]["shot_assist"] = True
                    kp["pass"]["assisted_shot_id"] = None  # filled below
                    if shot["outcome"]["name"] == "Goal":
                        kp["pass"]["goal_assist"] = True
                kw["shot"] = shot
            e = ev(type_name, team, player, period, minute, second, **kw)
            if type_name == "Pass" and "outcome" not in e["pass"]:
                last_pass[team] = e
            elif type_name == "Shot":
                if "key_pass_id" in e["shot"]:
                    last_pass[team]["pass"]["assisted_shot_id"] = e["id"]
                last_pass[team] = None
    return events


def _write_match(job: tuple) -> tuple[int, int]:
    """Generate and write one match file; returns (events, bytes)."""
    out_dir, seed, i, home, away, role, size = job
    rng = random.Random(f"{seed}/{i}")
    events = _match(rng, home, away, i, size, role)
    data = ("[\n" + ",\n".join(json.dumps(e, separators=(",", ":")) for e in events) + "\n]\n").encode()
    with open(os.path.join(out_dir, f"{BASE_MATCH_ID + 3 * i}.json"), "wb") as f:
        f.write(data)
    return len(events), len(data)


def generate(out_dir: str, seed: int) -> dict:
    """Write the corpus; returns its size summary (files, events, bytes).

    Each match draws from its own ``(seed, index)`` stream, so the bytes do
    not depend on how many processes write them."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    featured = set(rng.sample(range(N_MATCHES), N_FEATURED))
    # each of the player's roles occurs in every season, however small
    roles = ["start_off", "sub_on", "bench"] + ["start"] * (N_FEATURED - 3)
    rng.shuffle(roles)
    others = list(range(1, len(TEAMS)))
    jobs = []
    for i in range(N_MATCHES):
        if i in featured:
            opp = rng.choice(others)
            home, away = (0, opp) if rng.random() < 0.5 else (opp, 0)
            role = roles.pop()
        else:
            home, away = rng.sample(others, 2)
            role = "none"
        size = int(EVENTS_PER_MATCH * rng.uniform(0.85, 1.15))
        jobs.append((out_dir, seed, i, home, away, role, size))
    # fork: the caller has started no threads yet, and unlike spawn it
    # leaves no resource-tracker process running after the pool
    workers = min(4, len(os.sched_getaffinity(0)))
    with multiprocessing.get_context("fork").Pool(workers) as pool:
        sizes = pool.map(_write_match, jobs, chunksize=4)
    n_events = sum(e for e, _ in sizes)
    n_bytes = sum(b for _, b in sizes)
    # the dirty inputs the ingest must skip per file (FIXTURES.md section B.8)
    for name, data in (("bad.json", b"{not valid json!!"), ("notarray.json", b'{"oops": "a dict, not an array"}')):
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)
        n_bytes += len(data)
    return {"files": N_MATCHES + 2, "matches": N_MATCHES, "featured_matches": N_FEATURED,
            "events": n_events, "bytes": n_bytes}

