#!/usr/bin/env python3
"""The repository benchmark: the football pipeline end to end plus an
operator query suite, on a session built only by GraftSession at
local[nproc].

usage: python3 perfbench/run.py --workload <name|all> --seed N
                                --seconds S --trace 0|1

Run from the repository root.  It builds the engine and the JVM harness
from source (sbt, once per source state, into .bench_build/), generates
the workload's inputs from the seed, runs the timed window in one JVM,
checks every output outside the timed region and prints, as the last
stdout line, {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics untraced, or the per-layer metrics with --trace 1.
The end-to-end metrics are setup_s (session start plus the median of
three set-up repetitions, wall seconds) and throughput_per_cpu_s: checked
work (events for season_live, queries for query_suite) per CPU second
the program spent in the timed window (the JVM's, less its JIT
compilers'), at a reference core speed.  Waits for a core and time
stolen by the hypervisor inflate CPU time far less than wall time, and a
CPU calibration between units of work takes out part of how fast the
host's cores run at the moment; wall-clock throughput and freshness,
which spread past the bound between runs of the same code on a shared
host, are in the run record.
A traced run also measures the workload untraced in the same JVM, just
before and just after the traced window, and records the difference as
the tracing overhead.  Each run's full
record (raw samples, named metrics with sample counts, load stamps,
session recipe, per-layer tags) is written to .bench_build/results/.
`--workload all` runs every workload and prints every named metric.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import pipecheck  # noqa: E402
import servecheck  # noqa: E402
import stats  # noqa: E402

SUITE = ["q1_agg", "j2_multi_join", "bm25_join_topk", "w4_range_frame", "stream_fold"]
SERVE_REQUESTS = 7   # the traced run's request mix: every kind and variant once

# Input sizes per workload.  The season is EPL-shaped (20 teams, double
# round robin, 33-man squads, 38 gameweeks, about 1,700 events a match),
# cut into drops of five matches: per-batch fixed costs dominate.
SIZES = {
    "season_live": {"gameweeks": 38, "events_per_match": 1700, "drops": 76},
    "query_suite": {"sf": 0.01},
}
# A window does a fixed amount of work, so a faster program does the same
# work sooner: --seconds divided by one unit's time on the seed commit
# (a warm drop about 2.5 s, a suite pass about 5 s, at local[4]), at
# least MIN.
UNIT_S = {"season_live": 2.5, "query_suite": 5.0}
MIN_UNITS = {"season_live": 3, "query_suite": 1}
# The gated throughput counts work per CPU second of the program at a
# reference core speed: a CPU calibration (perfbench.Cal) after each unit
# of work, outside its time, takes about CAL_REF_MS of its thread's CPU
# on a typical 4-vCPU x86 box at the reference speed, and a run's CPU
# seconds are scaled by CAL_REF_MS over the median of its calibrations.
CAL_REF_MS = 62.0
WORKLOADS = list(SIZES)

# Per-layer metric -> (end-to-end metric it should move, workload); None
# where the layer runs only in the traced pass (the batch rating fold and
# serving), so no end-to-end metric of this benchmark covers it.
LIVE = ("throughput_per_cpu_s", "season_live")
LAYER_TAGS = {
    "session.start_ms": ("setup_s", "all"),
    "source.latest_offset_ms": LIVE,
    "ingest.to_messages_ms": LIVE,
    "batch.parse_ms": LIVE,
    "batch.player_match_metrics_ms": LIVE,
    "batch.player_minutes_ms": LIVE,
    "batch.chemistry_ms": LIVE,
    "batch.ratings_ms": (None, "season_live"),
    "batch.profiles_ms": (None, "season_live"),
    **{f"stream.{k}": LIVE for k in (
        "batches", "query_planning_ms", "add_batch_ms", "wal_commit_ms", "jobs_per_batch")},
    **{f"state.{k}": LIVE for k in (
        "commit_ms", "store_instances", "rows_total", "rows_updated", "memory_bytes")},
    **{f"sink.{k}": LIVE for k in ("bytes_read_per_batch", "bytes_written", "files_written")},
    **{f"serve.{m}.{k}": (None, "season_live")
       for k in ("predict", "predict_model", "profile", "match")
       for m in ("handle_ms", "render_ms", "jobs_per_request", "planning_ms",
                 "bytes_read_per_request")},
    **{f"suite.{q}_s": ("throughput_per_cpu_s", "query_suite") for q in SUITE},
    **{f"suite.{k}": ("throughput_per_cpu_s", "query_suite") for k in (
        "planning_ms", "serial_stage_ms", "shuffle_bytes", "spill_bytes")},
    **{f"spark.{k}": ("throughput_per_s", "all") for k in (
        "jobs", "tasks", "core_busy_share", "gc_ms", "task_skew_max", "shuffle_write_bytes")},
}
KINDS = ["predict", "predict_model", "profile", "match"]
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build():
    """Compile the engine and the JVM harness with sbt when their sources
    changed since the last build; return the runtime classpath."""
    srcs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    if not os.path.isdir(srcs[0]):
        raise SystemExit("perfbench: no engine sources under src/main; run from the repository root")
    h = hashlib.sha256()
    for s in srcs:
        files = [s] if os.path.isfile(s) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(s) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log("building the engine and the JVM harness with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "scala-2.13" not in lines[-1]:
        errors = [ln for ln in p.stdout.splitlines() if ln.startswith("[error]")]
        sys.stderr.write("\n".join(errors[-40:]) + "\n" + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def cpu_probe_ms():
    """A fixed pure-Python integer loop; its time tracks how much CPU
    the box gives this process at the moment."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return (time.perf_counter() - t0) * 1e3


def stamp():
    """Box load at one instant: load averages, the CPU probe, and the
    cumulative /proc/stat CPU ticks (total and stolen by the hypervisor),
    so a run's steal share is the difference of two stamps."""
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": load, "cpu_probe_ms": round(cpu_probe_ms(), 3),
            "unix_time": time.time(), "cpu_ticks": sum(ticks), "steal_ticks": ticks[7]}


def generate(workload, seed, data, keep=None):
    """Write the workload's inputs under `data`; return what the checker
    and the JVM need to know about them.  `keep` limits the season to
    its first drops and leaves out the request mix (a run that only
    streams those drops needs no more)."""
    size = dict(SIZES[workload])
    if workload == "query_suite":
        gen.star_tables(os.path.join(data, "sf"), seed, size["sf"])
        return {"args": [",".join(SUITE)]}
    drops = size.pop("drops")
    truth, players, teams, _ = gen.write_season(data, seed, drops=drops, keep=keep, **size)
    reqs = [] if keep else gen.requests(seed, players, teams, truth, SERVE_REQUESTS)
    with open(os.path.join(data, "requests.tsv"), "w") as f:
        f.writelines(f"{k}\t{r}\n" for k, r in reqs)
    return {"args": [], "truth": truth, "players": players, "teams": teams,
            "requests": [r for _, r in reqs]}


def units(workload, seconds):
    return max(MIN_UNITS[workload], round(seconds / UNIT_S[workload]))


def run_jvm(cp, workload, data, work, n, trace, args):
    out = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # JIT compiler threads live the whole run, so Util.Cpu can take their
    # CPU out of the program's: one that ended between two readings would
    # leave its CPU in the program's
    cmd = ["java", "-Xmx4g", "-XX:-UseDynamicNumberOfCompilerThreads", f"-Djava.io.tmpdir={tmp}"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, data, os.path.join(work, "jvm"), out,
            str(n), str(trace)] + args
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        _, status, ru = os.wait4(p.pid, 0)
        p.returncode = os.waitstatus_to_exitcode(status)
    if p.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {p.returncode}")
    with open(out) as f:
        rec = json.load(f)
    if "error" in rec:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        raise SystemExit(f"perfbench: workload failed: {rec['error']}")
    rec["peak_rss_mb"] = ru.ru_maxrss / 1024.0
    rec["jvm_cpu_s"] = ru.ru_utime + ru.ru_stime
    return rec


def suite_failures(verify_dir, data):
    """Queries whose result, written after the last timed window, differs
    from their oracle SQL on DuckDB by the canonical compare of
    tools/check.py; and each checked result's row count."""
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(verify_dir, os.path.join(data, "sf"))
    passed = {ln.split()[1] for ln in buf.getvalue().splitlines() if ln.startswith("PASS ")}
    rows = {q: pq.ParquetDataset(os.path.join(verify_dir, q)).read().num_rows
            for q in SUITE if q in passed}
    return {q for q in SUITE if q not in passed}, rows, buf.getvalue()


def drop_lines(data, n):
    """The lines of the first `n` drops."""
    d = os.path.join(data, "drops")
    out = []
    for name in sorted(os.listdir(d))[:n]:
        with open(os.path.join(d, name)) as f:
            out.append(f.read().splitlines())
    return out


def live_window(m, data):
    """Named metrics of one season_live window, checked against the
    plain-Python reference over the drops it consumed."""
    per_drop = drop_lines(data, len(m["freshness_ms"]))
    lines = [ln for d in per_drop for ln in d]
    check = pipecheck.check(lines, m["state_dir"])
    events = [sum(not ln.startswith('{"wyId"') for ln in d) for d in per_drop]
    ok = check["ok"]
    fresh = [x if ok else float("inf") for x in m["freshness_ms"]]
    rate = sum(events) / (sum(m["freshness_ms"]) / 1e3)
    named = {"throughput_per_s": rate if ok else 0.0,
             "throughput_per_cpu_s": sum(events) / sum(m["cpu_s"]) if ok else 0.0,
             "freshness_p50_ms": stats.percentile_or_none(fresh, 50),
             "freshness_p80_ms": stats.percentile_or_none(fresh, 80),
             "drops": len(fresh)}
    return named, named["throughput_per_s"], len(fresh), 0 if ok else len(fresh), check


def suite_window(m, rows):
    """Named metrics of one query_suite window.  `rows` holds the row
    count of each query's checked result; a query that failed its check,
    threw, or returned another row count in a timed pass counts as
    failed, with time and CPU time +inf.  The CPU time of a pass is the
    sum of each query's median over the passes."""
    inf = float("inf")
    good = [{q: p[q] for q in SUITE if isinstance(p[q], dict) and p[q]["rows"] == rows.get(q)}
            for p in m["passes"]]
    totals, geos, failed = [], [], 0
    for p in good:
        times = [p[q]["s"] if q in p else inf for q in SUITE]
        failed += sum(t == inf for t in times)
        totals.append(sum(times))
        geos.append(stats.geomean(times))
    total = stats.median(totals)
    cpu = sum(stats.median([p[q]["cpu_s"] if q in p else inf for p in good]) for q in SUITE)
    named = {"suite_total_s": total, "suite_geomean_s": stats.median(geos),
             "suite_passes": len(totals), "throughput_per_s": len(SUITE) / total,
             "throughput_per_cpu_s": len(SUITE) / cpu}
    return named, len(SUITE) / total, len(SUITE) * len(totals), failed


def serve_window(reqs, ok, texts):
    """Named metrics of the traced request mix; `texts` are the request
    documents, for the share of repeats."""
    lat = [r["latency_ms"] if good else float("inf") for r, good in zip(reqs, ok)]
    named = {"serve_requests_per_s": ok.count(True) / (sum(r["latency_ms"] for r in reqs) / 1e3),
             "serve_repeated_share": 1 - len(set(texts)) / len(texts),
             "serve_p50_ms": stats.percentile_or_none(lat, 50),
             "serve_p90_ms": stats.percentile_or_none(lat, 90)}
    for k in KINDS:
        named[f"serve_{k}_p50_ms"] = stats.percentile_or_none(
            [x for x, r in zip(lat, reqs) if r["kind"] == k], 50)
    return named


def layer_metrics(workload, rec):
    """Every per-layer metric; 0 where the layer is not on this
    workload's path."""
    vals = {k: 0.0 for k in LAYER_TAGS}
    vals["session.start_ms"] = rec["session_start_ms"]
    vals.update(rec.get("engine", {}))
    t = rec["traced"]
    vals.update({k: v for k, v in t.items() if k in LAYER_TAGS})
    for k in KINDS:
        rs = [r for r in t.get("serve", []) if r["kind"] == k]
        for key, name in (("handle_ms", "handle_ms"), ("render_ms", "render_ms"),
                          ("jobs", "jobs_per_request"), ("planning_ms", "planning_ms"),
                          ("bytes_read", "bytes_read_per_request")):
            if rs:
                vals[f"serve.{name}.{k}"] = stats.median([r[key] for r in rs])
    if workload == "query_suite":
        ok = [p for p in t["passes"] if all(isinstance(p[q], dict) for q in SUITE)]
        for q in SUITE:
            vals[f"suite.{q}_s"] = stats.median([p[q]["s"] for p in ok])
        for k in ("planning_ms", "serial_stage_ms", "shuffle_bytes", "spill_bytes"):
            vals[f"suite.{k}"] = stats.median([sum(p[q][k] for q in SUITE) for p in ok])
    return {k: float(v if v is not None else 0.0) for k, v in vals.items()}


def unit_of(name):
    """A metric's unit from its name; a per-kind metric
    (serve.handle_ms.<kind>) takes it from the segment before the kind."""
    for seg in reversed(name.split(".")):
        if seg.endswith("_per_s") or seg.endswith("_per_cpu_s"):
            return "1/s"
        if seg.endswith("_ms"):
            return "ms"
        if seg.endswith("_s"):
            return "s"
        if seg.endswith("_mb"):
            return "MB"
        if "bytes" in seg:
            return "bytes"
        if seg.endswith("share") or seg.endswith("skew_max") or seg.endswith("_factor"):
            return "ratio"
    return "count"


def run_workload(workload, seed, seconds, trace, cp):
    work = os.path.join(BUILD, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    # a traced run measures three windows (untraced, traced, untraced),
    # each a third of the work, and times the batch layers over the whole
    # season; an untraced one streams only Live.setup's three drops and
    # its window's
    n = units(workload, seconds / 3 if trace else seconds)
    before = stamp()
    info = generate(workload, seed, data, keep=None if trace else 3 + n)
    rec = run_jvm(cp, workload, data, work, n, trace, info["args"])
    after = stamp()

    # every check runs here, after the JVM is gone: outside all timing
    windows = [rec["untraced"]] + ([rec["traced"], rec["untraced_after"]] if trace else [])
    checks, named_by = {}, []
    attempted = failed = 0
    if workload == "season_live":
        for i, m in enumerate(windows):
            named, thr, att, fail, chk = live_window(m, data)
            named_by.append((named, thr))
            attempted, failed = attempted + att, failed + fail
            checks[f"reference_{i}"] = chk
    else:
        wrong, rows, report = suite_failures(rec["checks"]["verify_dir"], data)
        wrong |= set(rec["checks"]["write_errors"])
        rows = {q: n for q, n in rows.items() if q not in wrong}
        checks.update({"oracle_failed": sorted(wrong), "oracle_rows": rows,
                       "oracle_report": report})
        for m in windows:
            named, thr, att, fail = suite_window(m, rows)
            named_by.append((named, thr))
            attempted, failed = attempted + att, failed + fail
    named, throughput = named_by[0]
    setup_s = rec["session_start_ms"] / 1e3 + rec["setup_s"]
    # CPU seconds at the reference core speed (see CAL_REF_MS)
    cal_factor = stats.median(rec["cal_ms"]) / CAL_REF_MS
    per_cpu_s = named["throughput_per_cpu_s"] * cal_factor
    named.update({"setup_s": setup_s, "raw_throughput_per_cpu_s": named["throughput_per_cpu_s"],
                  "throughput_per_cpu_s": per_cpu_s, "cal_factor": cal_factor,
                  "peak_rss_mb": rec["peak_rss_mb"], "jvm_cpu_s": rec["jvm_cpu_s"]})
    result = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "session": rec["session"],
              "stamps": {"before": before, "after": after, "steal_share": (
                  (after["steal_ticks"] - before["steal_ticks"])
                  / max(1, after["cpu_ticks"] - before["cpu_ticks"]))},
              "sizes": SIZES[workload], "named": named, "checks": checks}
    if trace:
        t = rec["traced"]
        if workload == "season_live":
            checks["stream_vs_batch"] = t["stream_vs_batch"]
            tables = servecheck.Tables(t["serve_tables"], info["players"], info["teams"],
                                       info["truth"])
            ok = [servecheck.verify(tables, info["requests"][r["i"]], r["response"])
                  for r in t["serve"]]
            ok_all = t["stream_vs_batch"]["ok"]
            attempted += len(ok)
            failed += ok.count(False) + (0 if ok_all else len(t["freshness_ms"]))
            checks["serve_wrong"] = [r["i"] for r, good in zip(t["serve"], ok) if not good]
            result["named_serve"] = serve_window(
                t["serve"], ok, [info["requests"][r["i"]] for r in t["serve"]])
        layers = layer_metrics(workload, rec)
        result["per_layer"] = {k: {"value": v, "unit": unit_of(k), "moves": LAYER_TAGS[k][0],
                                   "on_workload": LAYER_TAGS[k][1]} for k, v in layers.items()}
        (tnamed, tthroughput), (anamed, athroughput) = named_by[1], named_by[2]
        base = (throughput + athroughput) / 2
        result["tracing_overhead"] = {
            "throughput_per_s": {"untraced_before": throughput, "traced": tthroughput,
                                 "untraced_after": athroughput,
                                 "share": 1 - tthroughput / base if base else None},
            "named_untraced_before": named_by[0][0], "named_traced": tnamed,
            "named_untraced_after": anamed}
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {"setup_s": {"value": setup_s, "unit": "s"},
                   "throughput_per_cpu_s": {"value": per_cpu_s, "unit": "1/s"}}
    named["failed_share"] = failed / attempted
    for m in windows:
        for r in m.get("serve", []):
            r.pop("response", None)
    result["raw"] = {k: v for k, v in rec.items() if k != "session"}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{workload}-seed{seed}-trace{trace}.json"), "w") as f:
        json.dump(result, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    return result, {"correct": failed == 0, "attempted": attempted, "failed": failed,
                    "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    cp = build()
    if a.workload != "all":
        result, line = run_workload(a.workload, a.seed, a.seconds, a.trace, cp)
        print(json.dumps({k: result[k] for k in ("named", "stamps", "checks")}, default=str))
        print(json.dumps(line))
        return
    for w in WORKLOADS:
        result, line = run_workload(w, a.seed, a.seconds, a.trace, cp)
        named = dict(result["named"], **result.get("named_serve", {}))
        for k, v in named.items():
            if isinstance(v, dict):
                v = f"{v['value']} (n={v['n']})" if v.get("value") is not None \
                    else f"refused: {v['refused']}"
            print(f"{w:12s} {k:28s} {v} {unit_of(k)}")
        print(f"{w:12s} correct={line['correct']} attempted={line['attempted']} "
              f"failed={line['failed']}")


if __name__ == "__main__":
    main()
