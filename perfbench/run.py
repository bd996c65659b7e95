#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JVM on local[nproc].

    python3 perfbench/run.py --workload batch-mix --seed 1 --seconds 20 --trace 0

Workloads: batch-mix, stream-causal (NOTES.md says why each).
The first run in a checkout builds the program and the benchmark with sbt
(perfbench/build.sbt); later runs reuse the exported classpath.

The JVM (perfbench/src) runs the workload and writes raw records; this
script computes the metrics, checks the outputs and prints one line per
metric, then the result as one JSON object on the last line. With
--trace 0 the JSON holds the end-to-end metrics, with --trace 1 the
per-layer ones (from the span log, written to out/<run>/spans.jsonl).
The exit code is non-zero when any operation failed or gave a wrong
output. --smoke runs a tiny version of the workload in seconds.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
from pathlib import Path

import metrics

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("batch-mix", "stream-causal")
SETUPS = 3                 # set-ups per run; setup_s is the first, cold one
LATENCY_LIMIT_MS = 5000    # stream-causal: the stated limit on the tail
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("lat_p50_ms", "ms"),
              ("lat_tail_ms", "ms"), ("peak_mem_mb", "MB")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def sources():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compiles with sbt unless the sources are unchanged since the last
    build in this checkout; returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail("the program's sources (build.sbt, src/main) are not beside perfbench/")
    out = HERE / ".build"
    stamp = hashlib.sha256()
    for f in sources():
        stamp.update(str(f.relative_to(ROOT)).encode())
        stamp.update(f.read_bytes())
    stamp = stamp.hexdigest()
    cp_file, stamp_file = out / "classpath.txt", out / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        print(proc.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    out.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


# ------------------------------------------------------------ workloads

def stream_plan(seconds, smoke):
    """keys,capChunks,chunk,pacedSecs for one run (NOTES.md)."""
    if smoke:
        return "2000,4,1000,1.0"
    return f"100000,6,8000,{1.5 * seconds:.1f}"


def steal_s():
    """CPU time the hypervisor gave to other guests so far, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def run_jvm(args, cp, out_dir, deadline):
    jvm = (["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={out_dir / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"])
    (out_dir / "tmp").mkdir(parents=True)
    log = open(out_dir / "jvm.log", "w")
    # glibc's malloc otherwise opens up to 8 arenas per core, and how many
    # of them the JVM's threads touch changes its native footprint from run
    # to run by tens of MB
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    proc = subprocess.Popen(jvm + args, cwd=out_dir, env=env, stdout=log,
                            stderr=subprocess.STDOUT)
    try:
        rc = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"the JVM ran past the time limit; see {out_dir / 'jvm.log'}")
    finally:
        log.close()
    if rc != 0:
        print((out_dir / "jvm.log").read_text()[-4000:], file=sys.stderr)
        fail(f"the JVM exited with {rc}")
    recs = [json.loads(l) for l in open(out_dir / "records.jsonl")]
    return recs


# -------------------------------------------------------------- metrics

def by_kind(recs, kind):
    return [r for r in recs if r["kind"] == kind]


def batch_e2e(recs, expected):
    qs = by_kind(recs, "query")
    failed = [q for q in qs if not q["ok"] or q["rows"] != expected[q["name"]]]
    for q in failed[:10]:
        print(f"[perfbench] FAILED {q['name']} pass {q['pass']}: rows={q['rows']} "
              f"expected={expected[q['name']]} {q['err']}", file=sys.stderr)
    # Each query's fastest pass, as graft.Bench takes the min of its two
    # interleaved passes: a slow spell of the shared host then has to hit
    # every pass of a query to show. The first pass also pays JIT and code
    # generation, which a long-lived session pays once.
    best = {}
    for q in qs:
        t = (q["t2"] - q["t0"]) / 1e3
        best[q["name"]] = min(t, best.get(q["name"], t))
    lats = list(best.values())
    tail, pct, n = metrics.tail(lats)
    return {"wall_s": sum(lats) / 1e3, "lat_p50_ms": metrics.median(lats), "lat_tail_ms": tail,
            "_tail_pct": pct, "_tail_n": n, "_passes": len({q["pass"] for q in qs}),
            "_attempted": len(qs), "_failed": len(failed)}


def stream_e2e(recs):
    caps = by_kind(recs, "cap")
    cap_s = sum(c["t1"] - c["t0"] for c in caps) / 1e6
    cap_events = sum(c["n"] for c in caps)
    lats = []
    growing = []
    p = by_kind(recs, "paced")[0]
    dues = metrics.paced_dues(p["t0"], p["rate"], 0, p["n"])
    for m in sorted({c["m"] for c in by_kind(recs, "check")}):
        adds = [dict(a, due=dues[a["first"] - p["first"]:a["first"] - p["first"] + a["n"]])
                for a in by_kind(recs, "add") if a["m"] == m and a["phase"] == "paced"]
        batches = [b for b in by_kind(recs, "batch") if b["m"] == m]
        la = metrics.event_latencies(adds, batches)
        if len(la) != p["n"]:
            print(f"[perfbench] {m}: {p['n'] - len(la)} paced events never committed",
                  file=sys.stderr)
        lats += la
        ticks = [(t["at_us"], t["backlog"]) for t in by_kind(recs, "tick") if t["m"] == m]
        if metrics.backlog_grows(ticks, p["rate"]):
            growing.append(m)
    checks = by_kind(recs, "check")
    attempted = sum(c["attempted"] for c in checks)
    failed = sum(c["failed"] for c in checks)
    for c in checks:
        if c["failed"]:
            print(f"[perfbench] FAILED {c['m']}: {c['failed']} of {c['attempted']} events wrong",
                  file=sys.stderr)
    tail, pct, n = metrics.tail([x / 1e3 for x in lats])
    return {"wall_s": cap_s, "lat_p50_ms": metrics.median(lats) / 1e3, "lat_tail_ms": tail,
            "_tail_pct": pct, "_tail_n": n, "_events_per_s": cap_events / cap_s if cap_s else 0.0,
            "_backlog_grows": growing, "_attempted": attempted, "_failed": failed}


def setup_and_mem(recs):
    """setup_s is the first set-up, from the JVM's entry to main, with the
    program's class loading and static init; the warm rebuilds after it
    are printed beside it. peak_mem_mb is the peak retained heap (after a
    full collection at the run's quiet points) plus the peak of native
    memory (VmHWM less the pre-touched heap)."""
    setups = sorted(by_kind(recs, "setup"), key=lambda s: s["i"])
    mem = by_kind(recs, "mem")[0]
    heaps = by_kind(recs, "heap")
    heap_mb = max(h["used"] for h in heaps) / 2 ** 20
    native_mb = (mem["vmhwm_kb"] * 1024 - mem["heap_committed"]) / 2 ** 20
    return {"setup_s": (setups[0]["t2"] - setups[0]["t0"]) / 1e6,
            "_setup_warm_s": metrics.median([(s["t2"] - s["t0"]) / 1e6 for s in setups[1:]]),
            "peak_mem_mb": heap_mb + native_mb, "_heap_mb": heap_mb, "_native_mb": native_mb,
            "_vmhwm_mb": mem["vmhwm_kb"] / 1024.0,
            "_gc_points": len(heaps), "_gc_s": sum(h["t1"] - h["t0"] for h in heaps) / 1e6}


def per_layer(recs, workload):
    """Every per-layer metric, from the span log and the stream records.
    Batch workloads: totals per pass. stream-causal: per run, with the
    micro-batch timings as medians per batch."""
    batch = workload != "stream-causal"
    cold = min(by_kind(recs, "setup"), key=lambda s: s["i"])
    qs = by_kind(recs, "query")
    spans = by_kind(recs, "span")
    passes = max(1, len({q["pass"] for q in qs})) if batch else 1
    if batch:
        windows = [(q["t0"], q["t2"]) for q in qs]
    else:
        windows = [(b["commit_us"] - b["trigger_ms"] * 1000, b["commit_us"])
                   for b in by_kind(recs, "batch")]

    def named(name):
        return [s for s in spans if s["name"] == name]

    def inside(s):
        return any(w0 <= s["t0"] <= w1 for w0, w1 in windows)

    def total(xs, f):
        return sum(f(x) for x in xs) / passes

    jobs = [s for s in named("job") if s["qid"]]
    stages = [s for s in named("stage") if s["qid"]]
    builds = named("queries.build")
    build_us = sum(s["t1"] - s["t0"] for s in builds)
    query_us = sum(s["t1"] - s["t0"] for s in named("query"))
    build_windows = {s["qid"]: (s["t0"], s["t1"]) for s in builds}
    build_jobs = [j for j in jobs if j["qid"] in build_windows
                  and j["t0"] <= build_windows[j["qid"]][1]]
    jobs_by_window = {}
    for j in jobs:
        for i, (w0, w1) in enumerate(windows):
            if j["t1"] >= w0 and j["t0"] <= w1:
                jobs_by_window.setdefault(i, []).append((j["t0"], j["t1"]))
    gap = sum(metrics.driver_gap(w, jobs_by_window.get(i, []))
              for i, w in enumerate(windows)) / passes
    plans = [s for s in named("plan") if inside(s)]
    sweeps = named("cache.sweep")
    skews = [s["attrs"]["task_max_ms"] / s["attrs"]["task_med_ms"] for s in stages
             if s["attrs"]["tasks"] >= 4 and s["attrs"]["task_med_ms"] > 0]
    sbatches = by_kind(recs, "batch")
    sinks = named("sink.write")
    ticks = by_kind(recs, "tick")
    paced_adds = [a for a in by_kind(recs, "add") if a["phase"] == "paced"]
    last_state = {}
    for b in sbatches:
        last_state[b["m"]] = b
    mb = 1024.0 * 1024.0

    def cat(phase):
        return total([s for s in named(f"catalyst.{phase}") if inside(s)],
                     lambda s: (s["t1"] - s["t0"]) / 1e6)

    def bmed(key, scale=1e3):
        return metrics.median([b[key] / scale for b in sbatches])

    out = {
        "session.build_s": (cold["t1"] - cold["t0"]) / 1e6,
        "session.warmup_s": (cold["t2"] - cold["t1"]) / 1e6,
        "queries.build_s": build_us / 1e6 / passes,
        "queries.build_jobs": len(build_jobs) / passes,
        "queries.build_share": build_us / query_us if query_us else 0.0,
        "catalyst.analysis_s": cat("analysis"),
        "catalyst.optimization_s": cat("optimization"),
        "catalyst.planning_s": cat("planning"),
        "exec.jobs": len(jobs) / passes,
        "exec.stages": len(stages) / passes,
        "exec.tasks": total(stages, lambda s: s["attrs"]["tasks"]),
        "exec.driver_gap_s": gap / 1e6,
        "exec.task_run_s": total(stages, lambda s: s["attrs"]["run_ms"] / 1e3),
        "exec.task_cpu_s": total(stages, lambda s: s["attrs"]["cpu_ns"] / 1e9),
        "exec.gc_s": total(stages, lambda s: s["attrs"]["gc_ms"] / 1e3),
        "exec.stage_skew_max": max(skews) if skews else 1.0,
        "scan.input_mb": total(plans, lambda s: s["attrs"]["scan_bytes"] / mb),
        "scan.time_s": total(plans, lambda s: s["attrs"]["scan_s"]),
        "shuffle.write_mb": total(stages, lambda s: s["attrs"]["sw_bytes"] / mb),
        "shuffle.read_mb": total(stages, lambda s: s["attrs"]["sr_bytes"] / mb),
        "shuffle.fetch_wait_s": total(stages, lambda s: s["attrs"]["fetch_ms"] / 1e3),
        "spill.mb": total(stages, lambda s: s["attrs"]["spill_bytes"] / mb),
        "plan.exchanges": total(plans, lambda s: s["attrs"]["exchanges"]),
        "plan.broadcasts": total(plans, lambda s: s["attrs"]["broadcasts"]),
        "plan.smj": total(plans, lambda s: s["attrs"]["smj"]),
        "plan.bcast_mb": total(plans, lambda s: s["attrs"]["bcast_bytes"] / mb),
        "plan.sort_time_s": total(plans, lambda s: s["attrs"]["sort_s"]),
        "plan.agg_time_s": total(plans, lambda s: s["attrs"]["agg_s"]),
        "cache.persisted_rdds": total(sweeps, lambda s: s["attrs"]["persisted_rdds"]),
        "cache.persisted_mb": total(sweeps, lambda s: s["attrs"]["persisted_bytes"] / mb),
        "cache.sweep_s": total(sweeps, lambda s: (s["t1"] - s["t0"]) / 1e6),
        "cache.dup_persists": total(sweeps, lambda s: s["attrs"]["dup_persists"]),
        "stream.batches": len(sbatches),
        "stream.batch_s": bmed("trigger_ms"),
        "stream.add_batch_s": bmed("add_batch_ms"),
        "stream.query_planning_s": bmed("planning_ms"),
        "stream.wal_commit_s": bmed("wal_ms"),
        "stream.commit_offsets_s": bmed("commit_offsets_ms"),
        "state.rows_total": sum(b["state_rows_total"] for b in last_state.values()),
        "state.rows_updated": sum(b["state_rows_updated"] for b in sbatches),
        "state.mem_mb": sum(b["state_mem_bytes"] for b in last_state.values()) / mb,
        "state.update_s": bmed("state_update_ms"),
        "state.commit_s": bmed("state_commit_ms"),
        "state.rocksdb_sst_mb": sum(b["rocksdb_sst_bytes"] for b in last_state.values()) / mb,
        "state.restore_s": metrics.median([(r["t1"] - r["t0"]) / 1e6
                                           for r in by_kind(recs, "restore")]),
        "sink.write_s": metrics.median([(s["t1"] - s["t0"]) / 1e6 for s in sinks]),
        "sink.files": len(sinks) and sum(s["attrs"]["files"] for s in sinks),
        "gen.late_ms": max([(a["at_us"] - a["due_us"]) / 1e3 for a in paced_adds], default=0.0),
        "stream.backlog_max": max([t["backlog"] for t in ticks], default=0),
    }
    return out


PER_LAYER_UNITS = {
    "session.build_s": "s", "session.warmup_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.build_share": "ratio",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.driver_gap_s": "s", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.gc_s": "s", "exec.stage_skew_max": "ratio",
    "scan.input_mb": "MB", "scan.time_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "spill.mb": "MB",
    "plan.exchanges": "count", "plan.broadcasts": "count", "plan.smj": "count",
    "plan.bcast_mb": "MB", "plan.sort_time_s": "s", "plan.agg_time_s": "s",
    "cache.persisted_rdds": "count", "cache.persisted_mb": "MB", "cache.sweep_s": "s",
    "cache.dup_persists": "count",
    "stream.batches": "count", "stream.batch_s": "s", "stream.add_batch_s": "s",
    "stream.query_planning_s": "s", "stream.wal_commit_s": "s",
    "stream.commit_offsets_s": "s",
    "state.rows_total": "count", "state.rows_updated": "count", "state.mem_mb": "MB",
    "state.update_s": "s", "state.commit_s": "s", "state.rocksdb_sst_mb": "MB",
    "state.restore_s": "s",
    "sink.write_s": "s", "sink.files": "count",
    "gen.late_ms": "ms", "stream.backlog_max": "count",
    "host.steal_s": "s",
}


def per_query_table(recs):
    """Per query (traced batch run), its fastest pass: latency, build time,
    and where the time went, with the classification from metrics.classify."""
    spans = by_kind(recs, "span")
    best = {}
    for q in by_kind(recs, "query"):
        if q["name"] not in best or q["t2"] - q["t0"] < best[q["name"]]["t2"] - best[q["name"]]["t0"]:
            best[q["name"]] = q
    table = {}
    for name, q in best.items():
        qid = f"{name}#{q['pass']}"
        w = (q["t0"], q["t2"])
        jobs = [(s["t0"], s["t1"]) for s in spans if s["name"] == "job" and s["qid"] == qid]
        stages = [s["attrs"] for s in spans if s["name"] == "stage" and s["qid"] == qid]
        row = {
            "lat_s": (q["t2"] - q["t0"]) / 1e6,
            "build_s": (q["t1"] - q["t0"]) / 1e6,
            "catalyst": sum((s["t1"] - s["t0"]) / 1e6 for s in spans
                            if s["name"].startswith("catalyst.") and w[0] <= s["t0"] <= w[1]),
            "gap": metrics.driver_gap(w, jobs) / 1e6,
            "jobs": len(jobs),
            "shuffle_mb": sum(a["sw_bytes"] + a["sr_bytes"] for a in stages) / 2 ** 20,
            "cpu_s": sum(a["cpu_ns"] for a in stages) / 1e9,
            "run_s": sum(a["run_ms"] for a in stages) / 1e3,
            "dup_persists": sum(s["attrs"]["dup_persists"] for s in spans
                                if s["name"] == "cache.sweep" and s["qid"] == qid),
        }
        row["bound"] = metrics.classify(row["lat_s"], row["catalyst"], row["run_s"], row["cpu_s"])
        table[name] = row
    return table


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    cp = build()
    deadline = time.time() + 170
    run = f"{a.workload}-s{a.seed}-t{a.trace}{'-smoke' if a.smoke else ''}"
    out_dir = HERE / "out" / run
    shutil.rmtree(out_dir, ignore_errors=True)
    out_dir.mkdir(parents=True)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(0 if a.smoke else a.seconds), "--trace", str(a.trace),
            "--out", str(out_dir), "--setups", str(1 if a.smoke else SETUPS)]
    expected = None
    if a.workload != "stream-causal":
        spec = json.loads((HERE / "workloads.json").read_text())[a.workload]
        expected = spec["rows"]
        names = sorted(spec["smoke"] if a.smoke else expected)
        random.Random(a.seed).shuffle(names)
        args += ["--data", str(HERE / "data"), "--queries", ",".join(names)]
    else:
        args += ["--plan", stream_plan(a.seconds, a.smoke)]
    steal0 = steal_s()
    recs = run_jvm(args, cp, out_dir, deadline)
    steal = steal_s() - steal0

    e2e = setup_and_mem(recs)
    e2e.update(batch_e2e(recs, expected) if expected is not None else stream_e2e(recs))
    attempted, failed = e2e["_attempted"], e2e["_failed"]
    for name, unit in END_TO_END:
        print(f"{name} {e2e[name]:.6g} {unit}")
    print(f"failed_frac {failed / max(1, attempted):.6g} ratio ({failed} of {attempted})")
    print(f"lat_tail_ms is p{e2e['_tail_pct']:.4g} of {e2e['_tail_n']} samples")
    if e2e["_setup_warm_s"]:
        print(f"setup_s is the cold set-up; warm rebuilds {e2e['_setup_warm_s']:.4g} s (median)")
    print(f"peak_mem_mb = retained heap {e2e['_heap_mb']:.1f} MB + native {e2e['_native_mb']:.1f} MB "
          f"(VmHWM {e2e['_vmhwm_mb']:.0f} MB; {e2e['_gc_points']} full collections, "
          f"{e2e['_gc_s']:.3g} s, outside the timed windows)")
    print(f"host steal {steal:.3g} s of CPU during the run (other guests on the host)")
    if expected is not None:
        print(f"passes {e2e['_passes']}, fastest per query (query_p50_s {e2e['lat_p50_ms'] / 1e3:.6g} s, "
              f"query_tail_s {e2e['lat_tail_ms'] / 1e3:.6g} s)")
    else:
        print(f"events_per_s {e2e['_events_per_s']:.6g} events/s")
        print(f"latency limit {LATENCY_LIMIT_MS} ms on the tail: "
              f"{'met' if e2e['lat_tail_ms'] <= LATENCY_LIMIT_MS else 'MISSED'}")
        print(f"backlog grows at the paced rate: {e2e['_backlog_grows'] or 'no'}")

    if a.trace:
        spans = [r for r in recs if r["kind"] == "span"]
        with open(out_dir / "spans.jsonl", "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        layers = per_layer(recs, a.workload)
        layers["host.steal_s"] = steal
        for k, v in layers.items():
            print(f"{k} {v:.6g} {PER_LAYER_UNITS[k]}")
        if expected is not None:
            table = per_query_table(recs)
            (out_dir / "per_query.json").write_text(json.dumps(table, indent=1))
            for name, r in sorted(table.items(), key=lambda x: -x[1]["lat_s"]):
                print(f"query {name} {r['lat_s']:.3f} s {r['bound']}-bound (build {r['build_s']:.3f} s, "
                      f"catalyst {r['catalyst']:.3f} s, no-job {r['gap']:.3f} s, jobs {r['jobs']:.0f}, "
                      f"task cpu/run {r['cpu_s']:.2f}/{r['run_s']:.2f} s, shuffle {r['shuffle_mb']:.1f} MB, "
                      f"dup persists {r['dup_persists']:.0f})")
        result = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        result = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
