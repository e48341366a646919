"""Seeded input generators for the benchmark.

Everything the program under test reads is written here, from the seed
alone: an EPL-shaped season as JSON lines (match records followed by
their events, the order the stream spec guarantees), the players and
teams dimension CSVs, the serving request mix, and the star-schema
parquet tables the query suite reads.  The same seed and sizes give
byte-identical files.

The generator also returns its own truth (who played, goals, cards,
matches with events per player) so the checker can derive expected
serving answers without the program.
"""
import json
import os

import numpy as np

# Role mix of the reference players.csv (GK 65, DF 221, MD 234, FW 130
# of 650) applied per squad.
SQUAD_ROLES = ["GK"] * 3 + ["DF"] * 11 + ["MD"] * 12 + ["FW"] * 6 + ["FW"]
LINEUP_SHAPE = {"GK": 1, "DF": 4, "MD": 4, "FW": 2}   # valid under RoleRules
BENCH_SHAPE = {"GK": 1, "DF": 2, "MD": 2, "FW": 2}
FIRST = ["Aldo", "Bram", "Cato", "Dario", "Elio", "Fabio", "Gino", "Hugo",
         "Ivo", "Jari", "Kian", "Luca", "Milo", "Nico", "Otto", "Pavel",
         "Quim", "Rui", "Saul", "Theo", "Umar", "Vito", "Wim", "Xavi",
         "Yann", "Zeno"]
LAST = ["Abreu", "Barros", "Costa", "Dias", "Esteves", "Faria", "Gomes",
        "Horta", "Inacio", "Jardim", "Lobo", "Matos", "Neves", "Ortiz",
        "Pinto", "Quaresma", "Rocha", "Santos", "Teixeira", "Uribe",
        "Vaz", "Weber", "Ximenes", "Yusuf", "Zarco", "Moreira"]
AREAS = ["England", "France", "Spain", "Brazil", "Germany", "Portugal",
         "Netherlands", "Belgium"]
FOOT = ["right", "left", "both"]
FIRST_TEAM_ID = 1600
FIRST_PLAYER_ID = 10000
SEASON_START = np.datetime64("2018-08-11")


def _double_round_robin(n_teams):
    """Circle-method fixtures: 2*(n-1) gameweeks of n/2 matches each."""
    teams = list(range(n_teams))
    rounds = []
    for r in range(n_teams - 1):
        pairs = [(teams[i], teams[n_teams - 1 - i]) for i in range(n_teams // 2)]
        rounds.append([(a, b) if r % 2 == 0 else (b, a) for a, b in pairs])
        teams = [teams[0]] + [teams[-1]] + teams[1:-1]
    return rounds + [[(b, a) for a, b in rnd] for rnd in rounds]


def _member(pid, g=0, og=0, yc=0, rc=0):
    return ('{"playerId":%d,"goals":"%d","ownGoals":"%d","yellowCards":"%d",'
            '"redCards":"%d"}' % (pid, g, og, yc, rc))


def season(seed, n_teams=20, gameweeks=38, events_per_match=1700, max_matches=None):
    """Generate one season.  Returns (lines, players, teams, truth).

    `lines` is the match+event JSON-line stream in match order; every
    match record precedes its own events.  Each squad rotates: a lineup
    of 11 (1 GK, 4 DF, 4 MD, 2 FW) and a bench of 7 drawn per match with
    per-player selection weights, 0-3 substitutions per side, Poisson
    goals and cards.  Events go only to players on the pitch at the
    event's time, with a skewed per-player activity weight, and every
    event type used moves at least one metric counter.  `max_matches`
    stops after that many matches; the lines it keeps are the same as
    the whole season's.
    """
    rng = np.random.default_rng(seed)
    n_players = n_teams * len(SQUAD_ROLES)
    names = [f"{f} {l}" for f in FIRST for l in LAST]
    order = rng.permutation(len(names))
    players = []
    squads = []
    for t in range(n_teams):
        squad = []
        for i, role in enumerate(SQUAD_ROLES):
            k = t * len(SQUAD_ROLES) + i
            pid = FIRST_PLAYER_ID + k
            birth = SEASON_START - np.timedelta64(int(rng.integers(17 * 365, 36 * 365)), "D")
            players.append({
                "name": names[order[k]], "birthArea": AREAS[int(rng.integers(len(AREAS)))],
                "birthDate": str(birth), "foot": FOOT[int(rng.integers(3))], "role": role,
                "height": int(rng.integers(165, 200)),
                "passportArea": AREAS[int(rng.integers(len(AREAS)))],
                "weight": int(rng.integers(60, 95)), "Id": pid})
            squad.append(pid)
        squads.append(squad)
    assert len(players) == n_players
    role_of = {p["Id"]: p["role"] for p in players}
    # selection weight: regulars get picked far more often than fringe
    pick_w = {pid: w for pid, w in zip(
        (p["Id"] for p in players), rng.gamma(1.5, 1.0, n_players) + 0.05)}
    # activity weight: events per minute on the pitch, heavy-tailed
    act_w = {pid: w for pid, w in zip(
        (p["Id"] for p in players), rng.lognormal(0.0, 0.7, n_players))}
    teams = [{"name": f"Club {t:02d} FC", "Id": FIRST_TEAM_ID + t} for t in range(n_teams)]

    def pick(squad, shape):
        chosen = []
        for role, n in shape.items():
            pool = [p for p in squad if role_of[p] == role and p not in chosen]
            w = np.array([pick_w[p] for p in pool])
            idx = rng.choice(len(pool), size=n, replace=False, p=w / w.sum())
            chosen += [pool[i] for i in sorted(idx)]
        return chosen

    fixtures = [(gw, slot, m) for gw, rnd in enumerate(_double_round_robin(n_teams)[:gameweeks], 1)
                for slot, m in enumerate(rnd)][:max_matches]
    lines = []
    truth = {"matches": [], "events_with": {}}
    event_kinds = np.array([8, 1, 10, 2, 3])
    event_p = np.array([0.52, 0.30, 0.08, 0.06, 0.04])
    match_id = 2500000
    event_id = 0
    for gw, slot, (h, a) in fixtures:
        match_id += 1
        day = SEASON_START + np.timedelta64(7 * (gw - 1) + slot % 3, "D")
        hour = 12 + 2 * (slot % 4)
        dateutc = f"{day} {hour:02d}:30:00"
        side = {}
        for t, where in ((h, "home"), (a, "away")):
            squad = squads[t]
            lineup = pick(squad, LINEUP_SHAPE)
            rest = [p for p in squad if p not in lineup]
            bench = pick(rest, BENCH_SHAPE)
            n_sub = int(rng.integers(0, 4))
            outs = rng.choice([p for p in lineup if role_of[p] != "GK"], n_sub, replace=False)
            ins = rng.choice([p for p in bench if role_of[p] != "GK"], n_sub, replace=False)
            subs = [(int(i), int(o), int(rng.integers(46, 90))) for i, o in zip(ins, outs)]
            side[t] = {"where": where, "lineup": lineup, "bench": bench, "subs": subs}
        # on-pitch intervals in minutes
        for t in (h, a):
            s = side[t]
            interval = {p: [0, 90] for p in s["lineup"]}
            for pin, pout, minute in s["subs"]:
                interval[pout][1] = minute
                interval[pin] = [minute, 90]
            s["interval"] = interval
        # goals, own goals and cards per side
        for t, opp in ((h, a), (a, h)):
            s = side[t]
            outfield = [p for p in s["interval"] if role_of[p] != "GK"]
            n_goals = int(rng.poisson(1.4))
            s["goals"] = {}
            for _ in range(n_goals):
                p = outfield[int(rng.integers(len(outfield)))]
                s["goals"][p] = s["goals"].get(p, 0) + 1
            s["own"] = {}
            if rng.random() < 0.06:
                p = outfield[int(rng.integers(len(outfield)))]
                s["own"][p] = 1
            played = list(s["interval"])
            s["yellow"] = {played[i]: 1 for i in rng.choice(len(played), min(len(played), int(rng.poisson(1.6))), replace=False)}
            s["red"] = {played[int(rng.integers(len(played)))]: 1} if rng.random() < 0.08 else {}
        score = {t: sum(side[t]["goals"].values()) + sum(side[o]["own"].values())
                 for t, o in ((h, a), (a, h))}
        winner = 0 if score[h] == score[a] else FIRST_TEAM_ID + (h if score[h] > score[a] else a)
        label = f"{teams[h]['name']} - {teams[a]['name']}, {score[h]} - {score[a]}"
        tdata = []
        for t in (h, a):
            s = side[t]

            def members(ps):
                return ",".join(_member(p, s["goals"].get(p, 0), s["own"].get(p, 0),
                                        s["yellow"].get(p, 0), s["red"].get(p, 0)) for p in ps)
            subs = ",".join('{"playerIn":%d,"playerOut":%d,"minute":%d}' % x for x in s["subs"])
            tid = FIRST_TEAM_ID + t
            tdata.append(
                f'"{tid}":{{"hasFormation":1,"score":{score[t]},"scoreET":0,"scoreHT":0,'
                f'"scoreP":0,"side":"{s["where"]}","teamId":{tid},"coachId":{90000 + t},'
                f'"formation":{{"lineup":[{members(s["lineup"])}],'
                f'"bench":[{members(s["bench"])}],"substitutions":[{subs}]}}}}')
        lines.append(
            f'{{"wyId":{match_id},"competitionId":364,"date":"{day}",'
            f'"dateutc":"{dateutc}","duration":"Regular","gameweek":{gw},'
            f'"label":"{label}","roundId":4405654,"seasonId":181150,'
            f'"status":"Played","venue":"{teams[h]["name"]} Ground","winner":{winner},'
            f'"teamsData":{{{",".join(tdata)}}}}}')
        truth["matches"].append({
            "matchId": match_id, "date": str(day), "label": label,
            "gameweek": gw, "venue": f"{teams[h]['name']} Ground",
            "winner": "draw" if winner == 0 else teams[winner - FIRST_TEAM_ID]["name"],
            "goals": {p: n for t in (h, a) for p, n in side[t]["goals"].items()},
            "own_goals": {p: n for t in (h, a) for p, n in side[t]["own"].items()},
            "yellow": [p for t in (h, a) for p in side[t]["yellow"]],
            "red": [p for t in (h, a) for p in side[t]["red"]]})
        # events: times uniform over the match, player drawn among
        # those on the pitch at that minute, weighted by activity
        n_ev = max(1, int(rng.poisson(events_per_match)))
        secs = np.sort(rng.uniform(0, 5400, n_ev))
        kinds = rng.choice(event_kinds, n_ev, p=event_p)
        u = rng.random((n_ev, 3))
        on = [(p, t, iv) for t in (h, a) for p, iv in side[t]["interval"].items()]
        # goals become accurate goal-tagged shots by the scorer
        forced = []
        for t in (h, a):
            for p, n in side[t]["goals"].items():
                forced += [(p, t, 10, 0, [101, 1801])] * n
            for p in side[t]["own"]:
                forced.append((p, t, 8, 0, [102, 1802]))
        bounds = sorted({0, 90} | {m for t in (h, a) for _, _, m in side[t]["subs"]})
        who = np.empty(n_ev, dtype=np.int64)
        team_of = np.empty(n_ev, dtype=np.int64)
        minute = secs / 60.0
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            sel = np.nonzero((minute >= lo) & (minute < hi))[0]
            if len(sel) == 0:
                continue
            cand = [(p, t) for p, t, iv in on if iv[0] <= lo and iv[1] >= hi]
            w = np.array([act_w[p] for p, _ in cand])
            ch = rng.choice(len(cand), len(sel), p=w / w.sum())
            who[sel] = [cand[c][0] for c in ch]
            team_of[sel] = [cand[c][1] for c in ch]
        played_ev = set()
        for e in range(n_ev):
            k = int(kinds[e])
            if k == 8:
                tags = [1801] if u[e, 0] < 0.82 else [1802]
                if u[e, 1] < 0.05:
                    tags.append(302)
            elif k == 1:
                tags = [701 if u[e, 0] < 0.4 else 702 if u[e, 0] < 0.6 else 703]
            elif k == 10:
                tags = [1801] if u[e, 0] < 0.4 else [1802]
            elif k == 3:
                tags = [1801] if u[e, 0] < 0.5 else []
            else:
                tags = []
            sub = 35 if k == 3 and u[e, 2] < 0.1 else 0
            forced.append((int(who[e]), int(team_of[e]), k, sub, tags, float(secs[e])))
        # forced goal/own-goal events get a time inside their player's interval
        evs = []
        for f in forced:
            if len(f) == 5:
                p, t, k, sub, tags = f
                iv = side[t]["interval"][p]
                sec = float(rng.uniform(iv[0] * 60, iv[1] * 60))
            else:
                p, t, k, sub, tags, sec = f
            evs.append((sec, p, t, k, sub, tags))
        evs.sort(key=lambda x: (x[0], x[1]))
        for sec, p, t, k, sub, tags in evs:
            event_id += 1
            played_ev.add(p)
            tag_s = ",".join('{"id":%d}' % x for x in tags)
            lines.append(
                f'{{"id":{event_id},"eventId":{k},"subEventId":{sub},'
                f'"matchId":{match_id},"matchPeriod":"{"1H" if sec < 2700 else "2H"}",'
                f'"eventSec":{sec:.3f},"playerId":{p},"teamId":{FIRST_TEAM_ID + t},'
                f'"tags":[{tag_s}]}}')
        for p in played_ev:
            truth["events_with"][p] = truth["events_with"].get(p, 0) + 1
    return lines, players, teams, truth


def write_season(out_dir, seed, drops=1, keep=None, **sizes):
    """Write players.csv, teams.csv and the season split into `drops`
    JSON-line files at match boundaries (drops/drop_00000.jsonl, ...);
    with `keep`, only the first `keep` of those drops are generated and
    written.  Returns (truth, players, teams, n_events) of what was
    written."""
    n_teams = sizes.get("n_teams", 20)
    n_matches = len(_double_round_robin(n_teams)[:sizes.get("gameweeks", 38)]) * (n_teams // 2)
    per = -(-n_matches // drops)
    lines, players, teams, truth = season(
        seed, max_matches=None if keep is None else keep * per, **sizes)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "players.csv"), "w") as f:
        f.write("name,birthArea,birthDate,foot,role,height,passportArea,weight,Id\n")
        for p in players:
            f.write("{name},{birthArea},{birthDate},{foot},{role},{height},{passportArea},"
                    "{weight},{Id}\n".format(**p))
    with open(os.path.join(out_dir, "teams.csv"), "w") as f:
        f.write("name,Id\n")
        for t in teams:
            f.write(f"{t['name']},{t['Id']}\n")
    starts = [i for i, l in enumerate(lines) if l.startswith('{"wyId"')]
    cuts = starts[::per] + [len(lines)]
    os.makedirs(os.path.join(out_dir, "drops"), exist_ok=True)
    for d, (lo, hi) in enumerate(zip(cuts[:-1], cuts[1:])):
        with open(os.path.join(out_dir, "drops", f"drop_{d:05d}.jsonl"), "w") as f:
            f.write("\n".join(lines[lo:hi]) + "\n")
    return truth, players, teams, len(lines) - len(starts)


def requests(seed, players, teams, truth, n):
    """Serving mix for one closed-loop client, as (kind, request JSON)
    pairs.  Kinds and variants follow a fixed cycle, so the shares are
    the same on every seed: win predictions (one in three an invalid
    squad with two keepers), a win prediction with a `date` (the model
    path; squads of players with events in at least 5 matches, so no
    cluster fallback applies), player profiles (one in three an unknown
    name) and match lookups (one in three a label that does not exist).
    Players and matches are drawn with a Zipf skew, so requests
    repeat."""
    rng = np.random.default_rng([seed, 1])
    by_role = {r: [p for p in players if p["role"] == r] for r in LINEUP_SHAPE}
    regular = {r: [p for p in ps if truth["events_with"].get(p["Id"], 0) >= 5]
               for r, ps in by_role.items()}
    matches = truth["matches"]

    def zipf_pick(seq):
        return seq[min(len(seq) - 1, int(rng.zipf(1.3)) - 1)]

    def side(name, pool, shape):
        names = [pool[r][i]["name"] for r, k in shape.items()
                 for i in rng.choice(len(pool[r]), k, replace=False)]
        d = {"name": name}
        d.update({f"player{i + 1}": nm for i, nm in enumerate(names)})
        return d

    cycle = [("predict", True), ("profile", True), ("match", True),
             ("predict_model", True), ("predict", False), ("profile", False),
             ("match", False), ("predict", True), ("profile", True), ("match", True)]
    out = []
    for i in range(n):
        kind, ok = cycle[i % len(cycle)]
        if kind in ("predict", "predict_model"):
            a, b = rng.choice(len(teams), 2, replace=False)
            pool = regular if kind == "predict_model" else by_role
            shape = LINEUP_SHAPE if ok else {"GK": 2, "DF": 3, "MD": 4, "FW": 2}
            req = {"req_type": 1, "team1": side(teams[a]["name"], pool, shape),
                   "team2": side(teams[b]["name"], pool, LINEUP_SHAPE)}
            if kind == "predict_model":
                req["date"] = "2019-06-01"
        elif kind == "profile":
            req = {"req_type": 2, "name": zipf_pick(players)["name"] if ok else "Nobody Known"}
        else:
            m = zipf_pick(matches)
            req = {"req_type": 3, "date": m["date"],
                   "label": m["label"] if ok else m["label"] + " (replay)"}
        out.append((kind, json.dumps(req, sort_keys=True)))
    return out


VOCAB = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "table", "data", "agg", "value", "key", "stream", "window", "a",
         "spark", "part", "group", "big", "sort", "query", "fast", "the"]


def star_tables(out_dir, seed, sf):
    """The star schema the query suite reads (region, nation, customer,
    supplier, part, orders, lineitem, events, documents, embeddings), one
    single-row-group snappy parquet file each, scaled by `sf`."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, end, n):
        s, e = np.datetime64(start), np.datetime64(end)
        d = rng.integers(0, int((e - s).astype(int)) + 1, n)
        return (s + d.astype("timedelta64[D]")).astype("datetime64[us]")

    def pick(vals, n, p=None):
        return np.array(vals, dtype=object)[rng.choice(len(vals), n, p=p)]

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy", row_group_size=1 << 30)

    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_vec = int(1000000 * sf), int(50000 * sf), int(50000 * sf)
    i64, i32 = pa.int64(), pa.int32()
    ts = pa.timestamp("us")
    write("region", {"r_regionkey": pa.array(range(5), i32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"], n_cust)})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["large", "hot", "blue", "red", "small", "green", "shiny", "dark"]
    noun = ["ring", "bolt", "nut", "gear", "pipe", "valve", "spring", "plate"]
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(["LARGE", "ECONOMY", "SMALL", "MEDIUM", "STANDARD", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(800, 500000, n_ord),
        "o_orderdate": pa.array(days("1995-01-01", "2001-08-01", n_ord), ts),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["O", "F"], n_line),
        "l_shipdate": pa.array(days("1995-01-02", "2001-11-04", n_line), ts)})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10 ** 6
    write("events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(start + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, max(100, n_ev // 60), n_ev), i64),
        "event_type": pick(["signup", "click", "error", "view", "purchase"], n_ev),
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base if rng.random() < 0.2 else base + " dup")
        else:
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]))
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc), i64), "text": texts,
        "lang": pick(["en", "es", "zh", "de", "fr"], n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(0, 1.2, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
