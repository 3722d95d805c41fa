"""Seeded flashscore dump generator and its pure-Python expected results.

Records follow the source schema of ``sources/json_source.MATCH_SCHEMA``:
one JSON file is an array of match records. The dirty rows cover the
defects the reference pipeline has to survive: non-Finished statuses, nulls
in the kept columns, non-numeric scores, incomplete or missing lineups, and
missing, unknown or malformed bookmaker entries. Their shares (``P_*``) are
assumed, not measured: no sample of the reference's dumps is available to
take them from.

The expected results are computed here without Spark, so they check the
engine rather than restate it: per-table row counts and a digest of
MATCH_FINISHED (every column except the load timestamp), with ``ID_MATCH``
computed by ``hashlib.sha256`` over the natural key.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re

BOOKMAKERS = ("Betclic.fr", "Unibet.fr", "bwin.fr", "France Pari",
              "NetBet.fr", "Winamax", "bet365", "1xBet")
UNKNOWN_BOOKMAKERS = ("Pinnacle", "Betfair", "PMU")
OTHER_STATUSES = ("Postponed", "Cancelled", "Scheduled", "Live", "Awarded")
BAD_SCORES = ("-", "", "?", "abd")
KEY_FIELDS = ("current_country", "current_tournament", "participant_home",
              "participant_away", "year", "month", "day", "hour", "minute")
KEPT_FIELDS = (KEY_FIELDS[:4] + ("participant_home_current_score",
                                 "participant_away_current_score")
               + KEY_FIELDS[4:])
NULLABLE_FIELDS = ("current_country", "current_tournament",
                   "participant_home", "participant_away", "year")

# Assumed share of records carrying each defect (independent draws).
P_NOT_FINISHED = 0.15
P_NULL_FIELD = 0.02
P_BAD_SCORE = 0.03
P_SHORT_LINEUP = 0.06
P_NO_TEAM2 = 0.03
P_NO_LINEUPS = 0.03
P_NO_BOOKMAKERS = 0.05
P_UNKNOWN_BOOKMAKER = 0.20
P_BAD_ODDS_ARITY = 0.02
P_BAD_ODD_VALUE = 0.01
# Share of each drop after the first that re-delivers earlier matches.
P_REDELIVER = 0.2

_INT_RE = re.compile(r"^\s*[+-]?\d+\s*$")

_COUNTRIES = [f"Country{i:02d}" for i in range(30)]
_SLOTS_PER_YEAR = 12 * 28 * 24 * 60


def _score(rng: random.Random) -> str:
    if rng.random() < P_BAD_SCORE:
        return rng.choice(BAD_SCORES)
    return str(rng.randrange(7))


def _lineup(rng: random.Random, team: str, n: int) -> list[dict]:
    first = rng.randrange(20)
    return [{"name": f"{team} P{first + i}"} for i in range(n)]


def _bookmakers(rng: random.Random) -> list[dict] | None:
    if rng.random() < P_NO_BOOKMAKERS:
        return None if rng.random() < 0.5 else []
    names = rng.sample(BOOKMAKERS, rng.randint(3, len(BOOKMAKERS)))
    if rng.random() < P_UNKNOWN_BOOKMAKER:
        names.append(rng.choice(UNKNOWN_BOOKMAKERS))
    rng.shuffle(names)
    out = []
    for name in names:
        arity = 2 if rng.random() < P_BAD_ODDS_ARITY else 3
        odds = [f"{rng.uniform(1.05, 12.0):.2f}" for _ in range(arity)]
        if rng.random() < P_BAD_ODD_VALUE:
            odds[0] = "-"
        out.append({"bookmaker": name, "odds": odds})
    return out


def make_record(rng: random.Random, slot: int) -> dict:
    """One match record; ``slot`` makes the natural key unique."""
    minute = slot % 60
    hour = slot // 60 % 24
    day = 1 + slot // 1440 % 28
    month = 1 + slot // 40320 % 12
    year = 2020 + slot // _SLOTS_PER_YEAR
    country = rng.choice(_COUNTRIES)
    tournament = f"{country} League {rng.randrange(4)}"
    home, away = (f"{country} Club {i}" for i in rng.sample(range(40), 2))
    rec = {
        "current_status": ("Finished" if rng.random() >= P_NOT_FINISHED
                           else rng.choice(OTHER_STATUSES)),
        "current_country": country,
        "current_tournament": tournament,
        "participant_home": home,
        "participant_away": away,
        "participant_home_current_score": _score(rng),
        "participant_away_current_score": _score(rng),
        "year": year, "month": month, "day": day, "hour": hour,
        "minute": minute,
        "match_hour": f"{hour:02d}:{minute:02d}",
    }
    if rng.random() < P_NULL_FIELD:
        rec[rng.choice(NULLABLE_FIELDS)] = None
    if rng.random() < P_NO_LINEUPS:
        rec["lineups_data"] = None
    else:
        sizes = [11, 11]
        if rng.random() < P_SHORT_LINEUP:
            sizes[rng.randrange(2)] = rng.choice((9, 10, 12))
        lineups = {"Team1": _lineup(rng, home, sizes[0]),
                   "Team2": _lineup(rng, away, sizes[1])}
        if rng.random() < P_NO_TEAM2:
            del lineups["Team2"]
        rec["lineups_data"] = lineups
    rec["bookmakers_data"] = _bookmakers(rng)
    return rec


def make_matches(seed: int, n: int) -> list[dict]:
    """``n`` records with distinct natural keys, reproducible from ``seed``."""
    rng = random.Random(seed)
    slots = rng.sample(range(3 * _SLOTS_PER_YEAR), n)
    return [make_record(rng, s) for s in slots]


def redeliver(rng: random.Random, rec: dict) -> dict:
    """A later delivery of the same match: same natural key, updated scores,
    usually Finished by now."""
    out = dict(rec)
    if rng.random() < 0.9:
        out["current_status"] = "Finished"
    out["participant_home_current_score"] = _score(rng)
    out["participant_away_current_score"] = _score(rng)
    return out


def make_drops(seed: int, n_drops: int, per_drop: int) -> list[list[dict]]:
    """``n_drops`` deliveries of ``per_drop`` records each. From the second
    drop on, ``P_REDELIVER`` of a drop re-delivers earlier matches with
    updated scores; a match appears at most once per drop."""
    rng = random.Random(seed)
    fresh = make_matches(seed + 7919, n_drops * per_drop)
    drops: list[list[dict]] = []
    seen: list[dict] = []
    latest: dict[tuple, dict] = {}
    for d in range(n_drops):
        n_old = int(per_drop * P_REDELIVER) if d else 0
        old = [redeliver(rng, latest[natural_key(r)])
               for r in rng.sample(seen, n_old)]
        new = fresh[d * per_drop:d * per_drop + per_drop - n_old]
        seen.extend(new)
        drop = old + new
        rng.shuffle(drop)
        for r in drop:
            latest[natural_key(r)] = r
        drops.append(drop)
    return drops


def natural_key(rec: dict) -> tuple:
    return tuple(rec.get(f) for f in KEY_FIELDS)


def match_id(rec: dict) -> str:
    """sha2(concat_ws('|', <natural key>), 256): concat_ws skips nulls."""
    parts = [str(rec[f]) for f in KEY_FIELDS if rec.get(f) is not None]
    return hashlib.sha256("|".join(parts).encode()).hexdigest()


def _int_or_none(s):
    return int(s) if isinstance(s, str) and _INT_RE.match(s) else None


def match_row(rec: dict) -> tuple | None:
    """The MATCH_FINISHED row of ``rec`` without DATE_LOAD, or None when
    the record is filtered out (not Finished, or a null kept column)."""
    if rec.get("current_status") != "Finished":
        return None
    if any(rec.get(f) is None for f in KEPT_FIELDS):
        return None
    return (match_id(rec), rec["year"], rec["month"], rec["day"],
            rec["hour"], rec["minute"], rec["current_country"],
            rec["current_tournament"], rec["participant_home"],
            _int_or_none(rec["participant_home_current_score"]),
            rec["participant_away"],
            _int_or_none(rec["participant_away_current_score"]))


#: MATCH_FINISHED columns in match_row order (DATE_LOAD left out).
MATCH_ROW_COLUMNS = ("ID_MATCH", "YEAR_MATCH", "MONTH_MATCH", "DAY_MATCH",
                     "HOUR_MATCH", "MINUTE_MATCH", "COUNTRY_MATCH",
                     "TOURNAMENT", "NAME_TEAM_HOME", "SCORE_TEAM_HOME",
                     "NAME_TEAM_AWAY", "SCORE_TEAM_AWAY")


def rows_digest(rows) -> str:
    """Order-insensitive sha256 over row tuples."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def _full_lineup(rec: dict, team: str) -> bool:
    lineups = rec.get("lineups_data")
    return (rec.get("current_status") == "Finished" and lineups is not None
            and len(lineups.get(team) or ()) == 11)


def expected(records: list[dict]) -> dict:
    """Row counts of the four tables and the MATCH_FINISHED digest for one
    load of ``records``."""
    rows = [r for r in map(match_row, records) if r is not None]
    return {
        "input_records": len(records),
        "counts": {
            "MATCH_FINISHED": len(rows),
            "HOME_STARTING_LINEUP": sum(_full_lineup(r, "Team1")
                                        for r in records),
            "AWAY_STARTING_LINEUP": sum(_full_lineup(r, "Team2")
                                        for r in records),
            "ODDS": sum(r.get("current_status") == "Finished"
                        for r in records),
        },
        "match_digest": rows_digest(rows),
    }


def expected_after_drops(drops: list[list[dict]]) -> dict:
    """Expected state after loading every drop in order: the appended
    tables (counts and MATCH_FINISHED digest over all drops) and the keyed
    table (one row per distinct Finished match, latest delivery wins)."""
    appended = expected([r for drop in drops for r in drop])
    keyed: dict[str, tuple] = {}
    for drop in drops:
        for rec in drop:
            row = match_row(rec)
            if row is not None:
                keyed[row[0]] = row
    appended["keyed_rows"] = len(keyed)
    appended["keyed_digest"] = rows_digest(keyed.values())
    return appended


def write_dumps(records: list[dict], out_dir: str,
                n_files: int) -> list[str]:
    """Split ``records`` round-robin over ``n_files`` JSON-array files."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(n_files):
        path = os.path.join(out_dir, f"dump-{i:04d}.json")
        with open(path, "w") as f:
            f.write(json.dumps(records[i::n_files], separators=(",", ":")))
        paths.append(path)
    return paths
