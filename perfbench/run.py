#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

    python3 perfbench/run.py --workload star_analytics --seed 1 --seconds 15 --trace 0

Builds the engine's sources together with the harness in perfbench/src
(sbt, offline) when they changed since the last build, then runs the
workload in one JVM with local[nproc] and a single closed-loop client.
The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1). The line before it carries the workload
detail (every workload metric with its unit and sample count), the set-up
parts and the host-noise record. A wrong result makes the run print
correct=false and exit 1.

Writable state lives under perfbench/.work: the per-workload run dir is
recreated on every run, the derived llm corpus is reused behind its
marker, results/ keeps each run's full record and traces/ each traced
run's spans.

    python3 perfbench/run.py --selfcheck        # sf0.001 contract check
    python3 perfbench/run.py --record-goldens   # rewrite goldens/ from this tree
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp.json")
JVM_TIMEOUT_S = 170
JVM_HEAP = "3g"
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def source_files():
    roots = [ENGINE_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness when sources changed; return the classpath
    and the hash of the sources it was built from."""
    want = source_hash()
    if os.path.exists(STAMP):
        st = load_json(STAMP)
        classes = st.get("classpath", "").split(os.pathsep)[0]
        if st.get("hash") == want and os.path.isdir(classes):
            return st["classpath"], want
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
            "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    log("building engine + harness (sbt, offline)")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        out.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed (exit {p.returncode}); see {WORK}/build.log")
    cp = [l.strip() for l in p.stdout.splitlines()
          if os.pathsep in l and "classes" in l and not l.startswith("[")]
    if not cp:
        fail("build printed no classpath")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"hash": want, "classpath": cp[-1]}, f)
    log(f"built in {time.time() - t0:.1f} s")
    return cp[-1], want


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def other_jvms():
    """Live java processes on the host (this run's JVM has exited or not
    yet started when this is called)."""
    n = 0
    for pid in os.listdir("/proc") if os.path.isdir("/proc") else []:
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0")[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            n += 1
    return n


def cpu_ticks():
    """Aggregate (busy, steal, total) jiffies from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    steal = v[7] if len(v) > 7 else 0
    return {"busy": sum(v) - v[3] - (v[4] if len(v) > 4 else 0),
            "steal": steal, "total": sum(v)}


def host_record():
    return {"nproc": cores(), "loadavg": list(os.getloadavg()),
            "other_jvms": other_jvms(), "cpu": cpu_ticks(), "time": time.time()}


def golden_path(workload, fixture, scale=None):
    tag = os.path.basename(fixture) + (f"x{scale}" if scale else "")
    return os.path.join(BENCH, "goldens", f"{workload}@{tag}.tsv")


def run_jvm(build_id, spec, workload, seed, seconds, trace, fixture):
    classpath, source = build_id
    w = spec["workloads"].get(workload)
    if w is None:
        fail(f"unknown workload {workload!r}; have {sorted(spec['workloads'])}")
    base = os.path.join(BENCH, fixture)
    if not os.path.isfile(os.path.join(base, "orders.parquet")):
        fail(f"fixture missing: {base}")
    fixture_tag = os.path.basename(fixture)
    run_dir = os.path.join(WORK, f"{workload}@{fixture_tag}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    for d in ("results", "traces", "corpus"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tag = f"{workload}@{fixture_tag}-seed{seed}"
    out = os.path.join(run_dir, "result.json")
    trace_out = os.path.join(WORK, "traces", f"{tag}.json")
    args = {"workload": workload, "seed": seed, "seconds": seconds,
            "trace": trace, "cores": cores(), "base": base, "work": run_dir,
            "out": out, "trace_out": trace_out, "round_s": w["round_s"],
            "settle": w["settle"]}
    if w["kind"] == "queries":
        args["queries"] = ",".join(w["queries"])
        args["goldens"] = golden_path(workload, fixture, w.get("scale"))
    if "scale" in w:
        args["scale"] = w["scale"]
        args["corpus"] = os.path.join(
            WORK, "corpus", f"{fixture_tag}x{w['scale']}")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{JVM_HEAP}",
            f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", classpath,
            "perfbench.Main"] + [f"{k}={v}" for k, v in args.items()]
    host_start = host_record()
    log(f"{workload} seed={seed} seconds={seconds} trace={trace} "
        f"local[{cores()}] fixture={fixture_tag}")
    with open(os.path.join(run_dir, "jvm.log"), "w") as jl:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=jl, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM exceeded {JVM_TIMEOUT_S} s; see {run_dir}/jvm.log")
    shutil.rmtree(os.path.join(run_dir, "spark-local"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        fail(f"JVM exited {rc} without a result; see {run_dir}/jvm.log")
    res = load_json(out)
    res["host"] = {"start": host_start, "end": host_record()}
    a, b = host_start["cpu"], res["host"]["end"]["cpu"]
    if a and b and b["total"] > a["total"]:
        res["host"]["steal_frac"] = (b["steal"] - a["steal"]) / (b["total"] - a["total"])
    res["fixture"] = fixture_tag
    res["source"] = source
    if trace:
        res["overhead"] = trace_overhead(res, workload, fixture_tag, seed)
    with open(os.path.join(WORK, "results", f"{tag}-trace{trace}.json"), "w") as f:
        json.dump(res, f)
    if trace:
        if os.path.exists(trace_out):
            t = load_json(trace_out)
            t["overhead"] = res["overhead"]
            t["host"] = res["host"]
            with open(trace_out, "w") as f:
                json.dump(t, f)
    return res


def trace_overhead(res, workload, fixture_tag, seed):
    """Traced minus untraced, per end-to-end metric, against an untraced
    run of the same workload built from the same sources (same seed when
    there is one, else the latest)."""
    rdir = os.path.join(WORK, "results")
    paths = sorted((os.path.join(rdir, f) for f in os.listdir(rdir)
                    if f.startswith(f"{workload}@{fixture_tag}-seed")
                    and f.endswith("-trace0.json")), key=os.path.getmtime)
    cands = [b for b in map(load_json, paths) if b.get("source") == res["source"]]
    cands.sort(key=lambda b: b.get("seed") == seed)
    if not cands:
        return {"note": "no untraced run of this build to compare with"}
    base = cands[-1]
    out = {"against_seed": base.get("seed")}
    for k, m in res["e2e"].items():
        b = base["e2e"].get(k, {}).get("value")
        v = m.get("value")
        if isinstance(b, (int, float)) and isinstance(v, (int, float)) and b:
            out[k] = {"traced_minus_untraced": v - b, "relative": (v - b) / b,
                      "unit": m["unit"]}
    return out


def benchmark():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the repository root")
    return load_json(path)


def declared():
    b = benchmark()
    return b["end_to_end"], b["per_layer"]


def contract_line(res, trace):
    e2e, per_layer = declared()
    want = per_layer if trace else e2e
    have = res["layers"] if trace else res["e2e"]
    metrics, missing = {}, []
    for m in want:
        v = have.get(m["name"], {}).get("value")
        if not isinstance(v, (int, float)) or isinstance(v, bool) or \
                math.isnan(v) or have[m["name"]].get("unit") != m["unit"]:
            missing.append(m["name"])
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = bool(res.get("correct")) and not missing
    if missing:
        log(f"metrics missing or mis-united: {missing}")
    return {"correct": correct, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def detail_line(res):
    return {"workload": res["workload"], "seed": res["seed"],
            "trace": res["trace"], "fixture": res.get("fixture"),
            "cores": res["cores"], "window_s": res["window_s"],
            "e2e": res["e2e"], "detail": res["detail"],
            "setup": res["setup"], "host": res["host"],
            "overhead": res.get("overhead"), "errors": res["errors"][:20]}


def percentile_rule_violations(metrics):
    """Every *_pNN_* metric above the median must have ten samples beyond
    its percentile; a median is always reported, with its count."""
    bad = []
    for k, m in metrics.items():
        parts = k.split("_")
        for p in parts:
            if p.startswith("p") and p[1:].isdigit() and int(p[1:]) > 50 \
                    and isinstance(m, dict):
                q = int(p[1:]) / 100.0
                n = m.get("n", 0)
                if n * (1 - q) < 10 - 1e-9:
                    bad.append(f"{k}: n={n}")
    return bad


DETAIL_METRICS = {
    "queries": ["first_touch_s", "cold_plan_build_s", "plan_exec_coverage_min"],
    "lake_churn": ["commit_s.append", "commit_s.merge", "commit_s.delete_cow",
                   "commit_s.delete_mor", "commit_s.compact", "commit_s.expire",
                   "commit_s.rewrite_deletes", "read_s.full", "read_s.range",
                   "read_s.time_travel", "data_mb_written", "write_amp",
                   "files_live", "deletes_pending", "range_read_frac",
                   "ingest_input_mb", "ingest_shuffle_write_mb", "ingest_s",
                   "space_amp", "rows_committed_per_s", "commit_p50_s", "read_p50_s"],
}


def spec_units(spec):
    """(name, unit) for every metric spec.json gives a unit. A key may
    list several names ("a, b", with a unit each or one for all), expand
    alternatives ("x.{a,b}") or end in ".<Module>" (any module)."""
    out = []
    for group in [spec["end_to_end"]] + list(spec["layers"].values()):
        for key, d in group.items():
            if "unit" not in d:
                continue
            names = key.split(", ")
            units = d["unit"].split(", ")
            for n, u in zip(names, units * len(names) if len(units) == 1 else units):
                if "{" in n:
                    pre, alts = n.rstrip("}").split("{")
                    out += [(pre + x, u) for x in alts.split(",")]
                else:
                    out.append((n, u))
    return out


def unit_problems(spec, printed):
    """spec.json units against the units the runs printed (name → set)."""
    bad = []
    for n, u in spec_units(spec):
        if n.endswith(".<Module>"):
            pre = n[:-len("<Module>")]
            got = set().union(*[v for k, v in printed.items() if k.startswith(pre)])
        else:
            got = printed.get(n, set())
        if not got:
            bad.append(f"spec.json defines {n} but no run printed it")
        elif got != {u}:
            bad.append(f"{n}: spec.json says {u}, runs printed {sorted(got)}")
    return bad


def selfcheck(build_id, spec, seconds):
    """Tiny-fixture run of every workload, untraced and traced, asserting
    the printed contract: every declared metric with its unit, every
    spec.json unit as printed, correct results, the percentile sample
    rule, warm memo builds 0 and plan + exec covering each op's wall."""
    fixture = spec["selfcheck_fixture"]
    problems = []
    e2e, per_layer = declared()
    layer_keys = " ".join(k for group in spec["layers"].values() for k in group)
    problems += [f"spec.json does not define {m['name']}" for m in e2e
                 if m["name"] not in spec["end_to_end"]]
    problems += [f"spec.json does not map layer metric {m['name']}" for m in per_layer
                 if m["name"] not in layer_keys.replace(",", " ").split()]
    printed = {}
    for wl, w in spec["workloads"].items():
        for trace in (0, 1):
            res = run_jvm(build_id, spec, wl, 1, seconds, trace, fixture)
            for part in ("e2e", "detail", "layers"):
                for k, m in res[part].items():
                    if isinstance(m, dict) and "unit" in m:
                        printed.setdefault(k, set()).add(m["unit"])
            line = contract_line(res, trace)
            want = per_layer if trace else e2e
            tagp = f"{wl} trace={trace}"
            if not line["correct"]:
                problems.append(f"{tagp}: not correct: {res['errors'][:3]}")
            for m in want:
                got = line["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{tagp}: {m['name']} not printed with unit {m['unit']}")
            allm = dict(res["e2e"])
            allm.update({k: v for k, v in res["detail"].items() if isinstance(v, dict)})
            problems += [f"{tagp}: {b}" for b in percentile_rule_violations(allm)]
            if trace:
                d = res["detail"]
                names = DETAIL_METRICS["lake_churn" if wl == "lake_churn" else "queries"]
                problems += [f"{tagp}: detail lacks {n}" for n in names if n not in d]
                if res["layers"]["memo_builds_warm"]["value"] != 0:
                    problems.append(f"{tagp}: warm rounds built memos")
                if wl == "star_analytics" and res["layers"]["memo_builds_cold"]["value"] != 0:
                    problems.append(f"{tagp}: star built memos")
                cov = d.get("plan_exec_coverage_min", {}).get("value", 0)
                if wl != "lake_churn" and cov < 0.95:
                    problems.append(f"{tagp}: plan+exec cover only {cov:.3f} of an op")
    problems += unit_problems(spec, printed)
    for p in problems:
        log(f"SELF-CHECK: {p}")
    log("self-check " + ("FAILED" if problems else "passed"))
    return not problems


def record_goldens(build_id, spec, seconds):
    """Rewrite goldens/ from this tree's check-pass digests."""
    for fixture in (spec["fixture"], spec["selfcheck_fixture"]):
        for wl, w in spec["workloads"].items():
            if w["kind"] != "queries":
                continue
            path = golden_path(wl, fixture, w.get("scale"))
            if os.path.exists(path):
                os.remove(path)
            res = run_jvm(build_id, spec, wl, 0, seconds, 0, fixture)
            digests = res["detail"].get("result_digests", {})
            if not digests or "error" in digests.values():
                fail(f"{wl}: could not record digests: {res['errors'][:3]}")
            with open(path, "w") as f:
                f.writelines(f"{k}\t{v}\n" for k, v in sorted(digests.items()))
            log(f"wrote {path} ({len(digests)} queries)")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float,
                    help="measurement window; default: BENCHMARK.json run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--record-goldens", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found at {ENGINE_SRC}: run from a full checkout")
    spec = load_json(os.path.join(BENCH, "spec.json"))
    if a.seconds is None:
        a.seconds = float(benchmark()["run_seconds"])
    build_id = build()
    if a.selfcheck:
        sys.exit(0 if selfcheck(build_id, spec, min(a.seconds, 6)) else 1)
    if a.record_goldens:
        record_goldens(build_id, spec, min(a.seconds, 6))
        return
    if not a.workload:
        fail("--workload is required")
    res = run_jvm(build_id, spec, a.workload, a.seed, a.seconds, a.trace,
                  spec["fixture"])
    line = contract_line(res, a.trace)
    print(json.dumps(detail_line(res)))
    print(json.dumps(line), flush=True)
    if not line["correct"]:
        log(f"incorrect run: {res['errors'][:5]}")
        sys.exit(1)


if __name__ == "__main__":
    main()
