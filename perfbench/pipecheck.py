"""Plain-Python reference for the streamed season state.

Recomputes, from the JSON lines of the drops a run consumed, what the
stream must have written: per (player, match) the spec's counters, the
final metrics, the contribution and the rating chain
r' = factor * (contribution + r) / 2 from r = 0.5 (factor 1.05 for a
starter never substituted, minutes / 90 otherwise), and per unordered
player pair of a match the signed chemistry delta.  Then it compares
the stream's `closes` and `pair_deltas` tables with that reference.
"""
import json
import math
import os
from collections import defaultdict

import pandas as pd


def _counters(ev):
    tags = {t["id"] for t in ev.get("tags") or []}
    e = ev["eventId"]
    acc, key, goal = 1801 in tags, 302 in tags, 101 in tags
    passes, duel, shot, fk = e == 8, e == 1, e == 10, e == 3
    return [passes and acc and not key, passes and acc and key, passes and not key,
            passes and key, duel and 703 in tags, duel and 702 in tags, duel, shot,
            shot and acc and goal, shot and acc and not goal, shot and acc, e == 2,
            102 in tags, fk, fk and acc, fk and ev.get("subEventId") == 35 and goal, goal]


def _ratio(num, den):
    return 0.0 if den == 0 else num / den


def _contribution(c):
    pass_acc = _ratio(c[0] + c[1] * 2, c[2] + c[3] * 2)
    duel = _ratio(c[4] + c[5] * 0.5, c[6])
    shot = _ratio(c[8] + c[9] * 0.5, c[7])
    base = (pass_acc + duel + shot + c[10]) / 4
    return base - (0.005 * c[11] + 0.05 * c[12]) * base


def _factors(match):
    """(playerId -> (teamId, factor)) for every squad member."""
    out = {}
    for td in match["teamsData"].values():
        f = td["formation"]
        subs = f.get("substitutions") or []
        out_min = {s["playerOut"]: s["minute"] for s in reversed(subs)}
        in_min = {s["playerIn"]: s["minute"] for s in reversed(subs)}
        for m in f["lineup"]:
            p = m["playerId"]
            never = p not in out_min
            minutes = out_min.get(p, 90)
            out[p] = (td["teamId"], 1.05 if never else minutes / 90.0)
        for m in f["bench"]:
            p = m["playerId"]
            minutes = 90 - in_min[p] if p in in_min else 0
            out[p] = (td["teamId"], minutes / 90.0)
    return out


def reference(lines):
    """({(player, match): (team, rating, delta)}, player -> last match)."""
    counters = defaultdict(lambda: [0] * 17)
    squads = {}
    for line in lines:
        rec = json.loads(line)
        if "wyId" in rec:
            squads[rec["wyId"]] = _factors(rec)
        else:
            c = counters[(rec["playerId"], rec["matchId"])]
            for i, v in enumerate(_counters(rec)):
                c[i] += v
    per_player = defaultdict(list)
    for (p, m), c in counters.items():
        if p in squads.get(m, {}):
            per_player[p].append(m)
    ratings = {}
    for p, ms in per_player.items():
        r = 0.5
        for m in sorted(ms):
            team, factor = squads[m][p]
            nxt = factor * ((_contribution(counters[(p, m)]) + r) / 2)
            ratings[(p, m)] = (team, nxt, nxt - r)
            r = nxt
    return ratings, {p: max(ms) for p, ms in per_player.items()}


def check(lines, state_dir, tol=1e-9):
    """Compare the stream's closes and pair deltas with the reference."""
    ratings, last = reference(lines)
    closes = pd.read_parquet(os.path.join(state_dir, "closes"))
    bad_close = 0
    closed = defaultdict(list)
    for p, m, r, d in zip(closes.playerId, closes.matchId, closes.rating, closes.delta):
        want = ratings.get((int(p), int(m)))
        if want is None or abs(want[1] - r) > tol or abs(want[2] - d) > tol:
            bad_close += 1
        else:
            closed[int(m)].append((int(p), want[0], want[2]))
    open_rows = set(ratings) - {(int(p), int(m)) for p, m in zip(closes.playerId, closes.matchId)}
    bad_open = sum(1 for p, m in open_rows if last[p] != m)
    chem = defaultdict(float)
    for rows in closed.values():
        for p1, t1, d1 in rows:
            for p2, t2, d2 in rows:
                if p1 < p2:
                    same_dir = (d1 > 0 and d2 > 0) or (d1 < 0 and d2 < 0)
                    mag = abs((d1 + d2) / 2)
                    chem[(p1, p2)] += mag if (t1 == t2) == same_dir else -mag
    pairs = pd.read_parquet(os.path.join(state_dir, "pair_deltas"))
    got = pairs.groupby(["p1", "p2"])["pairDelta"].sum()
    got_map = {(int(a), int(b)): v for (a, b), v in got.items()}
    bad_chem = sum(1 for k in set(chem) | set(got_map)
                   if k not in chem or k not in got_map
                   or not math.isclose(chem[k], got_map[k], rel_tol=tol, abs_tol=tol))
    return {"closes": len(closes), "close_mismatches": bad_close,
            "open_not_last": bad_open, "chemistry_pairs": len(chem),
            "chemistry_mismatches": bad_chem,
            "ok": len(closes) > 0 and bad_close == 0 and bad_open == 0 and bad_chem == 0}
