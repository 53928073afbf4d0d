#!/usr/bin/env python3
"""End-to-end benchmark of graft's pipeline, lake and serving functions.

    python3 lakebench/run.py --workload lake_daily --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. The first run builds the benchmark
(graft's sources plus lakebench/src) with sbt into lakebench/target and
keeps the classpath under .bench_build/; later runs reuse it until a source
file changes. Each run starts one JVM (lakebench.Main) that writes JSON
lines to a progress file; this script turns them into metrics, prints one
line per metric and, last, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones and
writes spans plus a self-time table under .bench_build/trace/. Without
--workload every workload runs in turn. The exit code is 0 when every
correctness check passed, 1 when one failed, 2 when no result could be
produced (for example no graft sources to build).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

WORKLOADS = ("lake_daily", "curation_daily", "serve_mixed")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# -Xms = -Xmx, so that heap growth is not charged to the first ops. The
# repo's graft.Bench pins 8 GB; see README.md for why this is 2 GB.
HEAP = "2g"
RUN_LIMIT_S = 170  # one run, build excluded; the JVM is killed past it
LAKE_DIR = {"lake_daily": "lake", "curation_daily": "curation", "serve_mixed": "star"}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"), ("rows_per_s", "1/s"),
              ("write_p50_s", "s"), ("cpu_s", "s"), ("heap_live_mb", "MB"), ("lake_mb", "MB")]

# Scd2, PitJoin and Dims only build plans: their work runs in the jobs of
# the pipeline and LakeWriter actions that consume them, so no job's call
# site names them
JOB_MODULES = [("pipeline", "LakehousePipeline"), ("pipeline", "CurationPipeline"),
               ("operators", "Dedup"), ("operators", "Curation"),
               ("sources", "LakeWriter"), ("sources", "Tables"), ("sources", "Views")]
SPARK_SUMS = ["exec_cpu_s", "tasks", "stages", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
              "spill_mb", "input_mb", "task_failed", "stage_retried"]
PER_LAYER = (
    [("pipeline.driver_cpu_s", "s"), ("pipeline.driver_gap_s", "s"), ("pipeline.jobs", "count")]
    + [("sources.LakeWriter.jobs", "count"), ("sources.LakeWriter.exec_cpu_s", "s")]
    + [(f"{layer}.{m}.job_s", "s") for layer, m in JOB_MODULES]
    + [("sources.Views.register_s", "s"), ("sources.manifests", "count"),
       ("sources.live_files", "count"), ("fs.read_ops", "count"), ("fs.list_ops", "count"),
       ("fs.write_ops", "count"), ("fs.read_mb", "MB"), ("fs.write_mb", "MB"),
       ("operators.exact_keep_ratio", "ratio"), ("operators.quality_pass_ratio", "ratio"),
       ("operators.near_dup_keep_ratio", "ratio")]
    + [(f"spark.{k}", "s" if k.endswith("_s") else "MB" if k.endswith("_mb") else "count")
       for k in SPARK_SUMS]
    + [("spark.sql_execs", "count"), ("spark.plan_desc_mb", "MB"), ("serve.plan_s", "s"),
       ("serve.exec_s", "s"), ("jvm.gc_pause_s", "s"), ("jvm.heap_live_mb", "MB"),
       ("ops.fail_ratio", "ratio")])


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build
def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs.sort()
            for f in sorted(files):
                if f.endswith((".scala", ".java")):
                    yield os.path.join(d, f)


def classpath():
    """Build if a source changed since the last build; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("no graft sources under src/main/scala/graft: run from a graft checkout")
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "classpath.json")
    try:
        with open(stamp) as f:
            saved = json.load(f)
        if saved["hash"] == h.hexdigest():
            return saved["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("[lakebench] building graft + lakebench with sbt")
    out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                          "compile", "export Runtime/fullClasspath"],
                         cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=850)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        log(out.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    dump_archive(cp)
    with open(stamp, "w") as f:
        json.dump({"hash": h.hexdigest(), "classpath": cp}, f)
    return cp


def archive_path(cp):
    return os.path.join(BUILD, "classes-" + hashlib.sha256(cp.encode()).hexdigest()[:16] + ".jsa")


def dump_archive(cp):
    """Class-data sharing, as part of the build: a set-up-only serve_mixed
    run dumps the classes it loaded into an archive, and every measured run
    maps it. That takes about 5 s off each run's JVM and session start on a
    4-core host. Without an archive (the dump failed) runs start cold."""
    for old in os.listdir(BUILD):
        if old.endswith(".jsa"):
            os.remove(os.path.join(BUILD, old))
    run_dir = os.path.join(BUILD, "runs", "class-archive")
    shutil.rmtree(run_dir, ignore_errors=True)
    log("[lakebench] dumping the class-data-sharing archive")
    code = run_jvm(cp, "serve_mixed", 0, 0, 0, run_dir, RUN_LIMIT_S,
                   [f"-XX:ArchiveClassesAtExit={archive_path(cp)}"], ["--setup-only", "1"])
    if code != 0 and os.path.exists(archive_path(cp)):
        os.remove(archive_path(cp))
    shutil.rmtree(run_dir, ignore_errors=True)


def cds_flags(cp):
    archive = archive_path(cp)
    return [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []


def build_id():
    """The source hash of the current build: untraced results are kept per
    build, so the tracing overhead compares runs of the same code."""
    with open(os.path.join(BUILD, "classpath.json")) as f:
        return json.load(f)["hash"][:16]


# ---------------------------------------------------------------- one run
def run_jvm(cp, workload, seed, seconds, trace, run_dir, limit_s, jvm_flags, main_flags=()):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + jvm_flags + [f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              "-cp", cp, "lakebench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--dir", run_dir,
              "--cpus", str(cpus)] + list(main_flags))
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir,
                             start_new_session=True)
        try:
            code = p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            log(f"[lakebench] {workload}: run exceeded {limit_s:.0f} s; killing the JVM")
            os.killpg(p.pid, signal.SIGKILL)
            code = p.wait()
    return code


def read_progress(run_dir):
    evs = []
    path = os.path.join(run_dir, "progress.jsonl")
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                try:
                    evs.append(json.loads(line))
                except ValueError:
                    pass  # a line cut short by a dying process
    return evs


def nearest_rank(sorted_vals, rank):
    return sorted_vals[max(1, min(len(sorted_vals), rank)) - 1]


def tail(values):
    """(percentile, value): the highest percentile with at least 10 ops
    beyond it. Below 20 ops that percentile would sit under the median, so
    the maximum is reported instead."""
    n = len(values)
    s = sorted(values)
    if n >= 20:
        k = n - 10
        return 100.0 * k / n, s[k - 1]
    return 100.0, s[-1]


def dir_mb(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total / 1e6


def summarize(workload, evs, code, died_at, run_dir):
    """Metrics from the progress events; planned ops that a dead process
    did not complete count as failed."""
    by = {}
    for e in evs:
        by.setdefault(e["ev"], []).append(e)
    if "setup" not in by or "phase" not in by:
        return None
    setup = by["setup"][0]
    ends = {e["op"]: e for e in by.get("end", [])}
    starts = {e["op"]: e for e in by.get("start", [])}
    done = by.get("done", [None])[0]
    died = done is None
    phase_s = done["phase_s"] if done else died_at - by["phase"][0]["epoch_s"]
    ops = []
    for i, p in enumerate(by["phase"][0]["planned"]):
        e = ends.get(i)
        if e is None:
            where = "during this op" if i in starts else "before this op"
            e = {**p, "op": i, "ok": False, "lat_s": None, "rows": 0, "attrs": {},
                 "err": f"process exited with code {code} {where}"}
        ops.append(e)
    # a failed op ranks slower than every completed one: it counts as the
    # whole measured phase
    lat = [o["lat_s"] if o["ok"] else phase_s for o in ops]
    main = [l for o, l in zip(ops, lat) if o["main"]]
    writes = [l for o, l in zip(ops, lat) if o["write"]]
    failed = sum(1 for o in ops if not o["ok"])
    rows = sum(o["rows"] for o in ops if o["ok"])
    last_cpu = max([o.get("cpu_s", 0) for o in ops if "cpu_s" in o] or [0])
    tail_pct, tail_v = tail(main) if main else (100.0, phase_s)
    m = {
        "setup_s": setup["setup_s"],
        "op_p50_s": nearest_rank(sorted(main), (len(main) + 1) // 2) if main else phase_s,
        "op_tail_s": tail_v,
        "rows_per_s": rows / phase_s if phase_s > 0 else 0.0,
        "write_p50_s": nearest_rank(sorted(writes), (len(writes) + 1) // 2) if writes else phase_s,
        "cpu_s": done["cpu_s"] if done else last_cpu,
        "heap_live_mb": done["heap_live_mb"] if done else -1.0,
        "lake_mb": dir_mb(os.path.join(run_dir, "work", LAKE_DIR[workload])),
    }
    checks = by.get("checks", [{"checks": []}])[0]["checks"]
    if died:
        checks = checks + [{"name": "process completed the run", "ok": False,
                            "detail": f"exit code {code}; checks could not run"}]
    prov = {
        "seed": None, "sf_dir": setup["sf_dir"], "inputs": setup["inputs"],
        "master": setup["master"], "heap_max_mb": setup["heap_max_mb"],
        "ops_attempted": len(ops), "ops_failed": failed,
        "ops_by_kind": {k: sum(1 for o in ops if o["kind"] == k) for k in sorted({o["kind"] for o in ops})},
        "main_ops": len(main), "op_tail_pct": tail_pct, "op_tail_samples": len(main),
        "phase_s": phase_s, "op_s": {k: [round(l, 3) for o, l in zip(ops, lat) if o["kind"] == k]
                                    for k in sorted({o["kind"] for o in ops})}, "setup_parts_s": {k: setup[k] for k in ("session_s", "warmup_s", "inputs_s", "prepare_s")},
        "load1_start": done["load1_start"] if done else None,
        "load1_end": done["load1_end"] if done else None,
        "steal_pct": done["steal_pct"] if done else None,
        **(done["provenance"] if done else {}),
    }
    errors = [f"op {o['op']} {o['kind']}: {o['err']}" for o in ops if not o["ok"]]
    return {"metrics": m, "ops": ops, "checks": checks, "provenance": prov, "errors": errors,
            "attempted": len(ops), "failed": failed}


# ---------------------------------------------------------------- traced run
def union_len(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def module_of(span):
    for k in span["attrs"]:
        if k.startswith("module:"):
            return k[len("module:"):]
    return ""


def per_layer(workload, res, run_dir, trace_dir):
    spans = []
    path = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                try:
                    spans.append(json.loads(line))
                except ValueError:
                    pass
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    op_spans = {s["op"]: s for s in spans if s["layer"] == "op"}
    jobs_by_op = {}
    calls_by_op = {}
    for s in spans:
        if s["name"].startswith("job "):
            jobs_by_op.setdefault(s["op"], []).append(s)
        elif s["layer"] not in ("op", "workload"):
            calls_by_op.setdefault(s["op"], []).append(s)

    def op_metrics(op):
        sp = op_spans.get(op["op"])
        jobs = jobs_by_op.get(op["op"], [])
        calls = calls_by_op.get(op["op"], [])
        a = dict(sp["attrs"]) if sp else {}
        m = {}
        m["pipeline.driver_cpu_s"] = sum(c["attrs"].get("driver_cpu_s", 0) for c in calls if c["layer"] == "pipeline")
        if sp:
            m["pipeline.driver_gap_s"] = (sp["end"] - sp["start"] - union_len(
                [(j["start"], j["end"]) for j in jobs], sp["start"], sp["end"])) / 1e9
        m["pipeline.jobs"] = len(jobs)
        lw = [j for j in jobs if module_of(j) == "LakeWriter"]
        m["sources.LakeWriter.jobs"] = len(lw)
        m["sources.LakeWriter.exec_cpu_s"] = sum(j["attrs"].get("exec_cpu_s", 0) for j in lw)
        for layer, mod in JOB_MODULES:
            m[f"{layer}.{mod}.job_s"] = sum((j["end"] - j["start"]) / 1e9 for j in jobs if module_of(j) == mod)
        reg = [c for c in calls if c["name"].startswith("Views.register")]
        m["sources.Views.register_s"] = sum((c["end"] - c["start"]) / 1e9 for c in reg)
        for k in SPARK_SUMS:
            m[f"spark.{k}"] = sum(j["attrs"].get(k, 0) for j in jobs)
        for k in ("sources.manifests", "sources.live_files", "fs.read_ops", "fs.list_ops", "fs.write_ops",
                  "fs.read_mb", "fs.write_mb", "spark.sql_execs", "spark.plan_desc_mb",
                  "jvm.gc_pause_s", "jvm.heap_live_mb"):
            m[k] = a.get(k, 0.0)
        for k in ("operators.exact_keep_ratio", "operators.quality_pass_ratio",
                  "operators.near_dup_keep_ratio", "serve.plan_s", "serve.exec_s"):
            m[k] = op.get("attrs", {}).get(k, 0.0)
        return m

    per_op = [(op, op_metrics(op)) for op in res["ops"]]
    kinds = sorted({op["kind"] for op, _ in per_op})
    table_kinds = ["set-up"] + kinds

    def mean_over(rows, key):
        vals = [m.get(key, 0.0) for _, m in rows]
        return sum(vals) / len(vals) if vals else 0.0

    main_rows = [(o, m) for o, m in per_op if o["main"]]
    ok_main = [(o, m) for o, m in main_rows if o["ok"]]
    metrics = {}
    for name, _ in PER_LAYER:
        if name == "ops.fail_ratio":
            metrics[name] = res["failed"] / max(1, res["attempted"])
        elif name in ("sources.manifests", "sources.live_files"):
            metrics[name] = per_op[-1][1].get(name, 0.0) if per_op else 0.0
        elif name == "jvm.heap_live_mb":
            metrics[name] = max([m.get(name, 0.0) for _, m in per_op] or [0.0])
        elif name == "sources.Views.register_s":
            regs = [(c["end"] - c["start"]) / 1e9 for cs in calls_by_op.values() for c in cs
                    if c["name"].startswith("Views.register")]
            metrics[name] = sum(regs) / len(regs) if regs else 0.0
        elif name.startswith("operators.") and name.endswith("_ratio"):
            metrics[name] = mean_over(ok_main, name)
        else:
            metrics[name] = mean_over(main_rows, name)

    # self time per layer: a span minus what its children cover
    self_time = {}
    for s in spans:
        kids = children.get(s["id"], [])
        own = (s["end"] - s["start"] - union_len([(k["start"], k["end"]) for k in kids],
                                                 s["start"], s["end"])) / 1e9
        if s["name"].startswith("job "):
            key = (s["layer"], f"jobs in {module_of(s)}")
        elif s["layer"] == "op":
            key = ("bench", f"op {s['name']} (outside graft calls)")
        elif s["layer"] == "workload":
            key = ("bench", "workload (outside graft calls and ops)")
        else:
            key = (s["layer"], f"{s['name']} (driver, no job running)")
        kind = op_spans[s["op"]]["name"] if s["op"] in op_spans else "set-up"
        self_time.setdefault(key, {}).setdefault(kind, 0.0)
        self_time[key][kind] += own

    lines = [f"# {workload}: self time per layer (s), by op type", ""]
    w = max(14, 2 + max(len(k) for k in table_kinds))  # column width
    header = f"{'layer':<10} {'span':<52}" + "".join(f"{k:>{w}}" for k in table_kinds) + f"{'total':>12}"
    lines.append(header)
    for (layer, name), by_kind in sorted(self_time.items(), key=lambda kv: -sum(kv[1].values())):
        lines.append(f"{layer:<10} {name[:52]:<52}" + "".join(f"{by_kind.get(k, 0.0):>{w}.3f}" for k in table_kinds)
                     + f"{sum(by_kind.values()):>12.3f}")
    lines += ["", f"# {workload}: per-layer means per op, by op type", ""]
    lines.append(f"{'metric':<36}" + "".join(f"{k:>{w}}" for k in kinds))
    for name, unit in PER_LAYER:
        if name == "ops.fail_ratio":
            continue
        row = [mean_over([(o, m) for o, m in per_op if o["kind"] == k], name) for k in kinds]
        lines.append(f"{name:<36}" + "".join(f"{v:>{w}.4f}" for v in row))
    lines.append(f"{'ops':<36}" + "".join(f"{sum(1 for o, _ in per_op if o['kind'] == k):>{w}d}" for k in kinds))

    os.makedirs(trace_dir, exist_ok=True)
    if os.path.exists(path):
        shutil.copy(path, os.path.join(trace_dir, "spans.jsonl"))
    return metrics, lines


def overhead_lines(workload, traced):
    """The traced run's end-to-end numbers against the untraced runs of the
    same workload recorded in this checkout."""
    hist = os.path.join(BUILD, "results", build_id(), f"{workload}.jsonl")
    past = []
    if os.path.exists(hist):
        with open(hist) as f:
            past = [json.loads(l) for l in f if l.strip()]
    if not past:
        return ["tracing overhead: no untraced run of this workload and build recorded in this checkout yet"]
    out = [f"tracing overhead: traced run vs the median of {len(past)} untraced run(s)"]
    for name, unit in END_TO_END:
        base = statistics.median(p[name] for p in past)
        t = traced[name]
        rel = f"{100.0 * (t - base) / base:+.1f}%" if base else "n/a"
        out.append(f"  {name:<14} traced {t:.4f} {unit}  untraced {base:.4f} {unit}  {rel}")
    return out


def one(cp, workload, seed, seconds, trace):
    run_dir = os.path.join(BUILD, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    code = run_jvm(cp, workload, seed, seconds, trace, run_dir, RUN_LIMIT_S, cds_flags(cp))
    died_at = time.time()
    res = summarize(workload, read_progress(run_dir), code, died_at, run_dir)
    if res is None:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"{workload}: the JVM exited with code {code} before the measured phase")
    res["provenance"]["seed"] = seed
    m = res["metrics"]
    units = dict(END_TO_END)
    print(f"== {workload} (seed {seed}, {seconds} s, trace {trace})")
    for name, unit in END_TO_END:
        extra = ""
        if name == "op_tail_s":
            p = res["provenance"]
            extra = f"  (p{p['op_tail_pct']:.1f} of {p['op_tail_samples']} ops)"
        print(f"{workload} {name} {m[name]:.4f} {units[name]}{extra}")
    fail_ratio = res["failed"] / max(1, res["attempted"])
    print(f"{workload} fail_ratio {fail_ratio:.4f} ratio  ({res['failed']} failed of {res['attempted']} attempted)")
    for e in res["errors"]:
        print(f"{workload} failed {e[:300]}")
    for c in res["checks"]:
        print(f"{workload} check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    print(f"{workload} provenance {json.dumps(res['provenance'], sort_keys=True)}")
    correct = all(c["ok"] for c in res["checks"]) and bool(res["checks"])
    if trace:
        trace_dir = os.path.join(BUILD, "trace", f"{workload}-s{seed}")
        metrics, table = per_layer(workload, res, run_dir, trace_dir)
        table += [""] + overhead_lines(workload, m)
        with open(os.path.join(trace_dir, "summary.txt"), "w") as f:
            f.write("\n".join(table) + "\n")
        print("\n".join(table))
        out = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER}
        print(f"{workload} trace files under {os.path.relpath(trace_dir, ROOT)}")
    else:
        hist = os.path.join(BUILD, "results", build_id())
        os.makedirs(hist, exist_ok=True)
        with open(os.path.join(hist, f"{workload}.jsonl"), "a") as f:
            f.write(json.dumps(m) + "\n")
        out = {k: {"value": m[k], "unit": u} for k, u in END_TO_END}
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    shutil.copy(os.path.join(run_dir, "jvm.log"), os.path.join(BUILD, "logs", f"{workload}-t{trace}.log"))
    shutil.rmtree(run_dir, ignore_errors=True)
    return {"correct": correct, "attempted": res["attempted"], "failed": res["failed"], "metrics": out}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",), default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        cp = classpath()
    except (OSError, subprocess.SubprocessError) as e:
        raise SystemExit(f"build failed: {e}")
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = []
    for w in names:
        results.append((w, one(cp, w, args.seed, args.seconds, args.trace)))
    if len(results) == 1:
        final = results[0][1]
    else:
        final = {"correct": all(r["correct"] for _, r in results),
                 "attempted": sum(r["attempted"] for _, r in results),
                 "failed": sum(r["failed"] for _, r in results),
                 "metrics": {f"{w}.{k}": v for w, r in results for k, v in r["metrics"].items()}}
    print(json.dumps(final), flush=True)
    sys.exit(0 if final["correct"] else 1)


if __name__ == "__main__":
    try:
        main()
    except SystemExit as e:
        if isinstance(e.code, str):
            log(f"[lakebench] {e.code}")
            sys.exit(2)
        raise
