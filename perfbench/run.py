#!/usr/bin/env python3
"""Readmission benchmark: the paper's pipeline end to end, its CV grid, and
the oracled cohort queries, each timed end to end and, traced, per layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the program
(the root build.sbt) and the harness (perfbench/build.sbt) with sbt into
.bench_build/; later runs reuse the build while the sources are unchanged.
Each run is one JVM: it sets up once, iterates the workload in a closed
loop, and the runner checks every iteration's output. The last line of
standard output is the result object; raw records (iterations, spans, box)
go to .bench_build/results/.

    python3 perfbench/run.py --record-oracle       # cohort digests from DuckDB
    python3 perfbench/run.py --record <workload>   # golden values per seed slot
"""
import argparse
import datetime
import hashlib
import json
import os
import re
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
EXPECTED = os.path.join(HERE, "expected.json")

# Seeds select one of SEED_SLOTS program seeds (42, 43, ...), so every seed
# has recorded golden outputs.
SEED_SLOTS = 8
SEED_BASE = 42

WORKLOADS = ("readmission_e2e", "cohort_queries")
MIN_WARM = 1   # the fewest warm iterations a run measures, however long

# Executor threads: a fixed local[3], which on a 4-core box leaves a core to
# the driver, JIT and GC threads (steadier than local[4] in a five-seed
# comparison). Fixed
# rather than nproc-derived because the shuffle partition count follows it
# and the seeded undersample, hence the recorded outputs, depend on it.
CORES = 3

RUN_LIMIT_S = 180.0      # a run must end within this
BUILD_LIMIT_S = 840.0    # a build may take this much more, once per checkout
MARGIN_S = 20.0          # kept free for JVM exit and the checks

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- the box

def read_text(path, default=""):
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return default


def box():
    mem = re.search(r"^MemTotal:\s+(\d+)", read_text("/proc/meminfo"), re.M)
    commit = "unknown"  # a checkout without .git is named by source_sha alone
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                    capture_output=True, timeout=10).stdout.strip() or commit
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": int(mem.group(1)) if mem else -1,
        "loadavg_start": read_text("/proc/loadavg").split()[:3],
        "commit": commit,
        "source_sha": source_stamp(),
    }


def heap_size():
    """The Tier-1 sizing: half of MemTotal in GiB, clamped to 2..8 GiB."""
    mem = re.search(r"^MemTotal:\s+(\d+)", read_text("/proc/meminfo"), re.M)
    g = int(mem.group(1)) // 2097152 if mem else 2
    return f"{min(8, max(2, g))}g"


# ---------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(ROOT, "src"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Build with sbt unless the recorded build matches the sources.
    Returns the run classpath and whether a build ran."""
    stamp_path = os.path.join(BUILD, "stamp")
    cp_path = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if read_text(stamp_path) == stamp and os.path.exists(cp_path):
        return read_text(cp_path).strip(), False
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx4g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -Dsbt.server.autostart=false"
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=out, timeout=deadline - time.time())
    text = read_text(log)
    cps = [l.strip() for l in text.splitlines()
           if os.pathsep in l and "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        fail(f"build failed (exit {rc}); see {log}", 1)
    with open(cp_path, "w") as f:
        f.write(cps[-1])
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return cps[-1], True


def run_child(cmd, cwd, env, stdout, timeout):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def run_jvm(cp, workload, pseed, seconds, trace, budget, tag, min_warm=MIN_WARM):
    work = os.path.join(BUILD, "work")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    out = os.path.join(BUILD, "logs", f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    opts = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    opts += [f"-Xmx{heap_size()}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    cmd = ["java", *opts, "-cp", cp, "perfbench.Main",
           "--workload", workload, "--seed", str(pseed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0",
           "--cores", str(min(CORES, len(os.sched_getaffinity(0)))),
           "--min-warm", str(min_warm),
           "--budget", f"{budget:.1f}", "--work", work, "--out", out]
    with open(os.path.join(BUILD, "logs", f"{tag}.log"), "w") as log:
        rc = run_child(cmd, cwd=ROOT, env=dict(os.environ), stdout=log,
                       timeout=budget + MARGIN_S / 2)
    if rc != 0 or not os.path.exists(out):
        fail(f"run {tag} failed (exit {rc}); see .bench_build/logs/{tag}.log", 1)
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def canon_value(v):
    if v is None:
        return ["n", ""]
    if isinstance(v, bool):
        return ["b", str(v).lower()]
    if isinstance(v, int):
        return ["i", str(v)]
    if isinstance(v, float):
        return ["f", repr(v)]
    if isinstance(v, dict):  # a value the harness tagged
        (tag, x), = v.items()
        return ["f", repr(float(x))] if tag == "$double" else ["t", str(x)]
    if isinstance(v, datetime.datetime):
        # timestamps as epoch microseconds; the sessions run in UTC
        epoch = datetime.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        return ["t", str((v - epoch) // datetime.timedelta(microseconds=1))]
    if isinstance(v, (list, tuple)):
        return ["a", [canon_value(x) for x in v]]
    return ["s", str(v)]


def digest(columns, rows):
    """Order-free digest of a result: columns sorted by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(json.dumps([canon_value(r[i]) for i in order]) for r in rows)
    payload = json.dumps([[columns[i] for i in order], lines])
    return hashlib.sha256(payload.encode()).hexdigest()


def r3(x):
    return round(float(x), 3)


def check_e2e(out, gold):
    errs = []
    want = {"matrix_rows": 45059, "width": 3019, "n_train": 36047, "n_test": 9012,
            "pos_train": 2360, "pos_test": 598}
    for k, v in want.items():
        if out.get(k) != v:
            errs.append(f"{k} {out.get(k)} != {v}")
    if abs(out.get("n_rus", 0) - 4720) >= 150:
        errs.append(f"n_rus {out.get('n_rus')} not within 150 of 4,720")
    # MimicTrainSpec's bands
    bands = {"auc_base_pred": (0.47, 0.56), "auc_rus_pred": (0.58, 0.72),
             "auc_rus_rank": (0.55, 0.80)}
    for k, (lo, hi) in bands.items():
        v = out.get(k, float("nan"))
        if not lo < v < hi:
            errs.append(f"{k} {v} outside ({lo}, {hi})")
    if not out.get("auc_rus_pred", 0) > out.get("auc_base_pred", 1):
        errs.append("undersampling does not beat base")
    if gold is None:
        return errs + ["no recorded values for this seed"]
    for k in ("auc_base_rank", "auc_base_pred", "auc_rus_rank", "auc_rus_pred"):
        if k not in out or r3(out[k]) != r3(gold[k]):
            errs.append(f"{k} {out.get(k)} != recorded {gold[k]}")
    return errs


def check_cohort(out, gold):
    if not gold:
        return ["no recorded oracle digests"]
    errs = []
    for q, want in sorted(gold.items()):
        res = out.get(q)
        if res is None:
            errs.append(f"{q} missing")
        elif digest(res["columns"], res["rows"]) != want:
            errs.append(f"{q} differs from the DuckDB oracle")
    return errs


def check(workload, out, expected, slot):
    if workload == "readmission_e2e":
        return check_e2e(out, expected.get(workload, {}).get(str(slot)))
    return check_cohort(out, expected.get(workload, {}))


# ---------------------------------------------------------------- record

def record_oracle(cp):
    """Digest each cohort query's DuckDB oracle result into expected.json."""
    import duckdb
    path = os.path.join(BUILD, "oracle_sql.json")
    rc = run_child(["java", "-cp", cp, "perfbench.OracleSql", path], cwd=ROOT,
                   env=dict(os.environ), stdout=subprocess.DEVNULL, timeout=300)
    if rc != 0:
        fail("could not export the oracle SQL", 1)
    with open(path) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    digests = {}
    for q, sql in sorted(sqls.items()):
        rel = con.sql(sql)
        digests[q] = digest(rel.columns, rel.fetchall())
        print(f"{q}: {digests[q][:16]}", file=sys.stderr)
    update_expected("cohort_queries", digests)


def update_expected(key, value):
    expected = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
    expected[key] = value
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


def record(cp, workload):
    """Record each seed slot's outputs as the golden values for `workload`:
    one cold iteration per slot."""
    gold = {}
    for slot in range(SEED_SLOTS):
        raw = run_jvm(cp, workload, SEED_BASE + slot, 0, False, RUN_LIMIT_S - MARGIN_S,
                      f"record-{workload}-{slot}", min_warm=0)
        it = raw["iters"][0]
        if it["error"]:
            fail(f"slot {slot}: {it['error']}", 1)
        gold[str(slot)] = it["out"]
        print(f"slot {slot}: {it['out']}", file=sys.stderr)
    update_expected(workload, gold)


# ---------------------------------------------------------------- main

def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="WORKLOAD")
    ap.add_argument("--record-oracle", action="store_true")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src")):
        fail("the program's sources (build.sbt, src/) are not in this checkout")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json is missing")
    spec = json.load(open(spec_path))
    if not a.record_oracle and (a.record or a.workload) not in WORKLOADS:
        fail(f"unknown workload {a.record or a.workload!r}; one of {sorted(WORKLOADS)}")

    the_box = box()
    os.makedirs(BUILD, exist_ok=True)
    cp, built = build(t_start + RUN_LIMIT_S + BUILD_LIMIT_S - 60)
    if a.record_oracle:
        return record_oracle(cp)
    if a.record:
        return record(cp, a.record)

    slot = a.seed % SEED_SLOTS
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(t_start)}"
    # a run that built may use the build's allowance, never more than a run
    deadline = t_start + RUN_LIMIT_S + (BUILD_LIMIT_S if built else 0) - MARGIN_S
    budget = min(deadline - time.time(), RUN_LIMIT_S - MARGIN_S)
    raw = run_jvm(cp, a.workload, SEED_BASE + slot, a.seconds, a.trace == 1, budget, tag)

    expected = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
    iters = raw["iters"]
    failures = []
    for i, it in enumerate(iters):
        errs = [it["error"]] if it["error"] else check(a.workload, it["out"], expected, slot)
        if errs:
            failures.append({"iteration": i, "errors": errs[:5]})
        if a.workload == "cohort_queries":
            it["out"] = {}  # result rows are checked, not kept
    attempted = len(iters)
    if a.trace:  # the traced run's probe of the other workload, checked alike
        attempted += 1
        p = raw["probe"]
        errs = [p["error"]] if p["error"] else check(p["workload"], p["out"], expected, slot)
        if errs:
            failures.append({"iteration": "probe", "errors": errs[:5]})
        if p["workload"] == "cohort_queries":
            p["out"] = {}
    warm = iters[1:] or iters
    walls = [it["wall_s"] for it in warm]
    # the leak and attribution readouts: they read 0 when nothing leaks and
    # every job is attributed, so they are recorded, not reported as metrics
    readout = {"pins_end": iters[-1]["pins"], "cached_mb_end": iters[-1]["cached_mb"]}
    if a.trace == 0:
        values = {
            "setup_s": raw["setup_s"],
            "cold_iter_s": iters[0]["wall_s"],
            "iter_s": statistics.median(walls),
            "cpu_s": statistics.median(it["cpu_s"] for it in warm),
        }
        names = spec["end_to_end"]
    else:
        values = dict(raw["per_layer"])
        values["bench.iter_s"] = statistics.median(walls)
        values["bench.live_heap_mb"] = max(it["live_heap_mb"] for it in iters)
        for k in ("registry.pins", "pipeline.matrix.spill_mb", "bench.unattributed_jobs",
                  "bench.stale_jobs"):
            readout[k] = values[k]
        names = spec["per_layer"]
    missing = [m["name"] for m in names if m["name"] not in values]
    if missing:
        fail(f"not measured: {', '.join(missing)}; see .bench_build/logs/{tag}.log", 1)
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in names}

    record_path = os.path.join(BUILD, "results", f"{tag}.json")
    os.makedirs(os.path.dirname(record_path), exist_ok=True)
    with open(record_path, "w") as f:
        json.dump({"box": the_box, "workload": a.workload, "seed": a.seed,
                   "program_seed": SEED_BASE + slot, "seconds": a.seconds,
                   "trace": a.trace, "warm_iterations": len(iters) - 1,
                   "failures": failures, "metrics": metrics, "readout": readout,
                   "raw": raw}, f)
    print(f"box: nproc={the_box['nproc']} cores={raw['cores']} mem_total_kb={the_box['mem_total_kb']} "
          f"load={'/'.join(the_box['loadavg_start'])} commit={the_box['commit'][:12]} "
          f"warm_iterations={len(iters) - 1} record={os.path.relpath(record_path, ROOT)}")
    print("readout: " + " ".join(f"{k}={v:g}" for k, v in readout.items()))
    for fl in failures:
        print(f"failed iteration {fl['iteration']}: {'; '.join(fl['errors'])}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
