"""Expected serving responses, derived without the program's Serving code.

Match lookups come from the generator's own truth.  Win predictions and
player profiles are computed in plain Python over the tables the
program's batch pipeline wrote during set-up (ratings, symmetric
chemistry, profiles) and the generated players dimension, following the
spec formulas: strength(p) = mean chemistry with the ten team-mates
(0.5 when unseen) x rating (0.5 when unrated); chance(A) =
(0.5 + sA - (sA + sB) / 2) x 100.  The model path first fits
rating ~ 1 + age + age^2 by least squares and rejects a squad with any
player predicted below 0.2.
"""
import datetime
import json
import math
import os

import numpy as np
import pandas as pd

ROLE_RULES = {"GK": (1, 1), "DF": (3, 99), "MD": (2, 99), "FW": (1, 99)}


class Tables:
    def __init__(self, tables_dir, players, teams, truth):
        def read(name):
            return pd.read_parquet(os.path.join(tables_dir, name))
        chem = read("chemistry_sym")
        self.chem = {(int(a), int(b)): float(c)
                     for a, b, c in zip(chem.p1, chem.p2, chem.chemistry)}
        r = read("ratings")
        self.rating = dict(zip(r.playerId.astype(int), r.rating.astype(float)))
        self.profiles = {int(row.playerId): row for row in read("profiles").itertuples()}
        self.by_name = {p["name"]: p for p in players}
        self.by_id = {p["Id"]: p for p in players}
        self.matches = {(m["date"], m["label"]): m for m in truth["matches"]}

    def name(self, pid):
        return self.by_id[pid]["name"]


def _chances(t, req, rating_of):
    sides = []
    for key in ("team1", "team2"):
        names = [req[key][f"player{i}"] for i in range(1, 12)]
        squad = [t.by_name[n] for n in names if n in t.by_name]
        roles = [p["role"] for p in squad]
        if len(squad) != 11 or any(
                not lo <= roles.count(r) <= hi for r, (lo, hi) in ROLE_RULES.items()):
            return None
        sides.append((req[key]["name"], [p["Id"] for p in squad]))
    strength = []
    for _, ids in sides:
        per = [np.mean([t.chem.get((p, m), 0.5) for m in ids if m != p]) * rating_of(p)
               for p in ids]
        strength.append(float(np.mean(per)))
    s1, s2 = strength
    c1 = (0.5 + s1 - (s1 + s2) / 2) * 100
    return [{"team1": {"name": sides[0][0], "winning chance": c1},
             "team2": {"name": sides[1][0], "winning chance": 100 - c1}}]


def _age(birth, date):
    d = datetime.date.fromisoformat(date) - datetime.date.fromisoformat(birth)
    return d.days / 365.25


def expected(t, req):
    """The list of response rows the request must produce."""
    kind = req.get("req_type", 3)
    if kind == 1:
        if "date" not in req:
            out = _chances(t, req, lambda p: t.rating.get(p, 0.5))
        else:
            hist = [(_age(t.by_id[p]["birthDate"], req["date"]), r)
                    for p, r in t.rating.items() if p in t.by_id]
            x = np.array([[1.0, a, a * a] for a, _ in hist])
            beta, *_ = np.linalg.lstsq(x, np.array([r for _, r in hist]), rcond=None)
            names = [req[k][f"player{i}"] for k in ("team1", "team2") for i in range(1, 12)]
            ages = [_age(t.by_name[n]["birthDate"], req["date"]) for n in names if n in t.by_name]
            if any(beta[0] + beta[1] * a + beta[2] * a * a < 0.2 for a in ages):
                out = None
            else:
                for n in names:
                    prof = t.profiles.get(t.by_name[n]["Id"]) if n in t.by_name else None
                    if prof is None or prof.matches_played < 5:
                        raise ValueError(f"model-path squad member {n} would use the cluster fallback")
                out = _chances(t, req, lambda p: t.rating.get(p, 0.5))
        return out if out is not None else [{"status": "Invalid Team"}]
    if kind == 2:
        p = t.by_name.get(req["name"])
        if p is None:
            return []
        prof = t.profiles.get(p["Id"])
        row = {k: p[k] for k in ("name", "birthArea", "birthDate", "foot", "role",
                                 "height", "passportArea", "weight")}
        for k in ("fouls", "goals", "own_goals", "shots_on_target"):
            row[k] = int(getattr(prof, k)) if prof is not None else 0
        row["pass_accuracy"] = float(prof.pass_accuracy) if prof is not None else 0.0
        return [row]
    m = t.matches.get((req["date"], req["label"]))
    if m is None:
        return [{"status": "Not Found"}]
    goals = sorted(t.name(p) for p, n in m["goals"].items() for _ in range(n))
    own = sorted(t.name(p) for p, n in m["own_goals"].items() for _ in range(n))
    return [{"date": m["date"], "duration": "Regular", "winner": m["winner"],
             "venue": m["venue"], "gameweek": m["gameweek"], "goals": goals,
             "own_goals": own, "yellow_cards": sorted(t.name(p) for p in m["yellow"]),
             "red_cards": sorted(t.name(p) for p in m["red"])}]


def same(a, b):
    """Structural equality, floats to 1e-9."""
    if isinstance(a, float) or isinstance(b, float):
        return (isinstance(a, (int, float)) and isinstance(b, (int, float))
                and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def verify(t, req_json, response_rows):
    """True when the program's JSON response rows equal the reference."""
    want = expected(t, json.loads(req_json))
    return same([json.loads(r) for r in response_rows], want)
