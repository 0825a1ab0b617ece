#!/usr/bin/env python3
"""Benchmark of the warehouse engine: one workload, one run, one JSON line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --pin     # rewrite perfbench/expected.txt

Builds the engine and the harness from source with sbt (cached in
.bench_build/ by a hash of the sources), generates the input tables (cached),
derives everything the workload varies from --seed, and runs the harness
(perfbench.Main) in one JVM with one Spark session on local[nproc]. The last
line printed is {"correct", "attempted", "failed", "metrics"}: with --trace 0
the end-to-end metrics, with --trace 1 the per-layer ones. The line before it
is the full record of the run: host state, every named timing with its sample
count, and the errors of failed ops. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
SF = 0.01
HEAP = "3g"
DEADLINE_S = 170
BUILD_DEADLINE_S = 850
WORKLOADS = ("daily_increment", "registry_mix")
# op kinds of the cold phase and of the warm ops, per workload
COLD = {"daily_increment": "first_day", "registry_mix": "cold"}
WARM = {"daily_increment": "day", "registry_mix": "warm"}
# module families of the registry_mix panel: the DAG's own frames (etl) and
# the four largest operator modules
FAMILIES = ("analytics", "dedup", "etl", "text", "vectors")
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+\Z")
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


# ---------------------------------------------------------------- statistics

def percentile(values, q):
    """The q-quantile (0 < q < 1) of `values` by the nearest-rank rule, or
    None unless at least ten samples lie beyond it. The median is exempt:
    it is reported from any non-empty sample."""
    xs = sorted(values)
    if not xs:
        return None
    if q == 0.5:
        return statistics.median(xs)
    rank = max(1, -(-int(round(q * 1000)) * len(xs) // 1000))
    if len(xs) - rank < 10:
        return None
    return xs[rank - 1]


def valid_name(name):
    return bool(NAME_RE.match(name)) and len(name) <= 64


# ----------------------------------------------------------------- selection

def load_expected(path=HERE / "expected.txt"):
    kv = {}
    for line in path.read_text().splitlines():
        line = line.strip()
        if line and not line.startswith("#") and "=" in line:
            k, v = line.split("=", 1)
            kv[k] = v
    return kv


def registry_panel(expected):
    """The registry_mix panel: one query from each of FAMILIES, drawn once
    with a fixed seed. Runs differ only in the order they query it, so a
    run's median compares with another's."""
    by_family = {}
    for k, v in sorted(expected.items()):
        if k.startswith("registry."):
            by_family.setdefault(v.split(":", 1)[0], []).append(k[9:])
    rng = random.Random("panel")
    return [rng.choice(by_family[fam]) for fam in FAMILIES]


def cold_order(panel, seed):
    rng = random.Random(f"cold:{seed}")
    return rng.sample(panel, len(panel))


def warm_order(n, seed, passes=60):
    """Indexes into the sample for `passes` warm passes, each a fresh
    seeded permutation."""
    rng = random.Random(f"warm:{seed}")
    out = []
    for _ in range(passes):
        p = list(range(n))
        rng.shuffle(p)
        out += p
    return out


def increment_weeks(seed, n=64):
    """`n` distinct Monday-to-Sunday weeks of order dates, seeded. Each lies
    within one calendar month, so every day merges into exactly one month
    partition (a week across two months would double the day's merge)."""
    import datetime as dt
    first, last = dt.date(1995, 1, 2), dt.date(2001, 7, 23)
    weeks = [first + dt.timedelta(weeks=i)
             for i in range((last - first).days // 7 + 1)]
    weeks = [w for w in weeks if (w + dt.timedelta(days=6)).month == w.month]
    rng = random.Random(f"weeks:{seed}")
    return [(w.isoformat(), (w + dt.timedelta(days=6)).isoformat())
            for w in rng.sample(weeks, n)]


def plan_for(workload, seed, expected):
    if workload == "registry_mix":
        order = cold_order(registry_panel(expected), seed)
        return {"queries": ",".join(order),
                "warm": ",".join(map(str, warm_order(len(order), seed)))}
    return {"weeks": ",".join(f"{lo}~{hi}" for lo, hi in increment_weeks(seed))}


# --------------------------------------------------------------------- build

def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        files = sorted(f for f in p.rglob("*") if f.is_file()) if p.is_dir() else [p]
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    sources = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
               ROOT / "src" / "main", HERE / "build.sbt",
               HERE / "project" / "build.properties", HERE / "src"]
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath"
    digest = tree_hash(sources)
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_DEADLINE_S)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp.write_text(digest)
    return lines[-1]


def data_dir():
    """The generated input tables, regenerated when gen.py changes."""
    d = BUILD / "data" / f"sf{SF}"
    stamp = d / "gen.stamp"
    digest = tree_hash([HERE / "gen.py"])
    if not (stamp.exists() and stamp.read_text() == digest):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, str(HERE / "gen.py"), str(d), str(SF)],
                       check=True, timeout=120)
        stamp.write_text(digest)
    return d


def base_warehouse(classpath, data):
    """The warehouse the reference DAG materializes from the generated
    inputs, built once per engine build (its digests checked against
    expected.txt) and copied into every daily_increment run."""
    key = hashlib.sha256(((BUILD / "build.stamp").read_text()
                          + (data / "gen.stamp").read_text()
                          + (HERE / "expected.txt").read_text()).encode())
    base = BUILD / "base" / key.hexdigest()[:16]
    info = base / "dag.json"
    if not info.exists():
        shutil.rmtree(BUILD / "base", ignore_errors=True)
        work = BUILD / "work" / f"base-{os.getpid()}"
        shutil.rmtree(work, ignore_errors=True)
        try:
            r = run_jvm(classpath, {
                "workload": "base", "base": base / "wh", "data": data,
                "work": work, "seconds": 0, "trace": 0,
                "cores": len(os.sched_getaffinity(0)),
                "pinned": HERE / "expected.txt"}, work,
                time.monotonic() + BUILD_DEADLINE_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if r["bad"]:
            shutil.rmtree(base, ignore_errors=True)
            raise SystemExit(f"perfbench: base warehouse digests differ: {r['bad']}")
        info.write_text(json.dumps(r))
    return base / "wh", json.loads(info.read_text())


# ----------------------------------------------------------------------- run

def run_jvm(classpath, plan, work, deadline):
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    plan_file, out_file = work / "plan.txt", work / "result.json"
    plan_file.write_text("".join(f"{k}={v}\n" for k, v in plan.items()))
    argfile = work / "jvm.args"
    argfile.write_text(f"-cp {classpath}\n")
    # no perf-data file in the system temp directory: a run writes only
    # inside its checkout
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"@{argfile}", "perfbench.Main", str(plan_file), str(out_file)])
    # Spark's scratch space stays inside the work directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, env=env,
                            stdout=subprocess.DEVNULL,
                            stderr=open(work / "jvm.log", "w"),
                            start_new_session=True)
    try:
        proc.wait(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: run exceeded its deadline")
    if proc.returncode != 0 or not out_file.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        raise SystemExit(f"perfbench: harness exited {proc.returncode}")
    return json.loads(out_file.read_text())


def summarize(workload, r):
    """End-to-end, per-layer and detail figures from the harness record."""
    ops = r["ops"]
    failed = sum(not o["ok"] for o in ops) + (1 if r["fatal"] else 0)
    attempted = max(1, len(ops))
    clean = failed == 0

    def times(kind):
        return [o["s"] for o in ops if o["kind"] == kind]

    warm, cold = times(WARM[workload]), times(COLD[workload])
    if workload == "registry_mix":
        # one warm pass over the panel at each query's fastest: the passes
        # repeat the same queries, and the best of them filters out a pass
        # that shared the machine with JIT compilation or a collection
        best = {}
        for o in ops:
            if o["kind"] == "warm":
                best[o["name"]] = min(o["s"], best.get(o["name"], o["s"]))
        warm_unit = sum(best.values()) if best else None
    else:
        warm_unit = statistics.median(warm) if warm else None
    # a run with a failed op publishes no time at all
    end_to_end = {
        "warm_s": warm_unit if clean else None,
        "cold_s": sum(cold) if clean and cold else None,
        "setup_s": r["session_s"] + r["preflight_s"] if clean else None,
        "heap_after_gc_mb": r["heap_after_gc_mb"],
    }
    samples = {"warm_s": len(warm), "cold_s": len(cold), "setup_s": 1}
    named = {}

    def add(name, values, q=0.5, total=False):
        if not clean or not values:
            return
        v = sum(values) if total else percentile(values, q)
        if v is not None:
            named[name] = v
            samples[name] = len(values)

    if workload == "daily_increment":
        add("first_day_s", cold)
        add("day_p50_s", warm)
    else:
        add("mix_cold_s", cold, total=True)
        add("query_warm_p50_s", warm)
        add("query_warm_p90_s", warm, 0.9)
    named["storage_held_mb"] = r["storage_held_mb"]
    named["heap_after_gc_mb"] = r["heap_after_gc_mb"]
    named["failed_ops_frac"] = failed / attempted

    layers = dict(r["layers"])
    layers.update({f"cold.{k}": v for k, v in r["cold_layers"].items()})
    layers["sources.preflight_s"] = r["preflight_s"]
    layers["memo.storage_mb"] = r["storage_held_mb"]
    for fam in FAMILIES:
        for kind in ("cold", "warm"):
            xs = [o["s"] for o in ops if o["kind"] == kind and o["family"] == fam]
            layers[f"ops.{fam}.{kind}_s"] = statistics.mean(xs) if xs else 0.0
    traced = [o["s"] for o in ops if o["kind"] == WARM[workload] and o["traced"]]
    untraced = [o["s"] for o in ops
                if o["kind"] == WARM[workload] and not o["traced"]]
    layers["trace.overhead_pct"] = (
        100 * (statistics.median(traced) / statistics.median(untraced) - 1)
        if traced and untraced else 0.0)
    errors = [o["error"] for o in ops if o["error"]] + (
        [r["fatal"]] if r["fatal"] else [])
    return clean, attempted, failed, end_to_end, layers, named, samples, errors


def loadavg1():
    return os.getloadavg()[0]


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args(argv)
    if not a.pin and not a.workload:
        ap.error("--workload is required")
    started = time.monotonic()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        sys.exit("perfbench: no engine sources next to perfbench/; "
                 "run from the root of a full checkout")
    if a.pin:
        return pin()
    classpath = build()
    data = data_dir()
    if a.workload == "daily_increment":
        base, dag = base_warehouse(classpath, data)
    # a run that had to build first may take the build's allowance
    deadline = time.monotonic() + DEADLINE_S \
        if time.monotonic() - started < 5 else started + BUILD_DEADLINE_S
    cores = len(os.sched_getaffinity(0))
    expected = load_expected()
    load_before = loadavg1()
    work = BUILD / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    plan = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cores": cores, "data": data, "work": work,
            "pinned": HERE / "expected.txt",
            **plan_for(a.workload, a.seed, expected)}
    try:
        if a.workload == "daily_increment":
            plan["warehouse"] = work / "warehouse"
            shutil.copytree(base, plan["warehouse"])
        r = run_jvm(classpath, plan, work, deadline)
        if a.trace:
            spans = work / "result.json.spans.jsonl"
            if spans.exists():
                (BUILD / "trace").mkdir(exist_ok=True)
                shutil.copy(spans, BUILD / "trace" / f"{a.workload}-{a.seed}.spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_after = loadavg1()
    clean, attempted, failed, e2e, layers, named, samples, errors = \
        summarize(a.workload, r)
    if a.workload == "daily_increment":
        # the base warehouse's DAG run: timed once per engine build
        named["dag_s"] = dag["dag_s"]
        named["wh_bytes_per_input_byte"] = dag["wh_bytes_per_input_byte"]
        samples["dag_s"] = 1
    host = {"nproc": cores, "cpus_online": os.cpu_count(), "local_n": cores,
            "heap": HEAP,
            "heap_max_mb": r["heap_max_mb"], "loadavg1_before": load_before,
            "loadavg1_after": load_after, "loaded": load_before >= cores,
            "sf": SF}
    if host["loaded"]:
        sys.stderr.write(f"perfbench: host loaded at start "
                         f"(loadavg1 {load_before:.2f} on {cores} cores)\n")
    units = {"warm_s": "s", "cold_s": "s", "setup_s": "s",
             "heap_after_gc_mb": "MB"}
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "host": host, "named": named, "samples": samples,
              "self_s": r["self_s"], "traced_ops": r["traced_ops"],
              "errors": errors[:5]}
    (BUILD / "results").mkdir(exist_ok=True)
    (BUILD / "results" / f"{a.workload}-{a.seed}-{a.trace}.json").write_text(
        json.dumps({**detail, "record": r}))
    print(json.dumps(detail))
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    bad = [k for k in metrics if not valid_name(k)]
    if bad:
        raise SystemExit(f"perfbench: invalid metric names {bad}")
    print(json.dumps({"correct": clean and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def layer_unit(name):
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_frac", "ratio"),
                         ("_pct", "%")):
        if name.endswith(suffix):
            return unit
    return "count"


# ----------------------------------------------------------------------- pin

MODULE_FAMILY = {"Dedup": "dedup", "TextOps": "text", "Vectors": "vectors",
                 "Corpus": "corpus", "TpchShapes": "tpch",
                 "Sessions": "sessions", "Basket": "basket",
                 "Analytics": "analytics"}


def registry_families(source):
    """Module family of each registry query, from the registry's source: the
    first engine module its entry calls (ops.<Module>, or the etl Pipeline)."""
    entries = list(re.finditer(r'"(q_\w+)"\s*->', source))
    out = {}
    for m, nxt in zip(entries, entries[1:] + [None]):
        body = source[m.end():nxt.start() if nxt else len(source)]
        call = re.search(r"\b(?:ops\.(\w+)\.|(Pipeline)\.of|etl\.(\w+)\.)", body)
        if call is None:
            fam = "misc"
        elif call.group(1):
            fam = MODULE_FAMILY.get(call.group(1), "misc")
        else:
            fam = "etl"
        out.setdefault(m.group(1), fam)
    return out


def pin():
    """Recomputes perfbench/expected.txt from the current engine: the table
    digests of one reference-DAG run and every registry query's digest."""
    families = registry_families(
        (ROOT / "src/main/scala/graft/SparkEntry.scala").read_text())
    classpath = build()
    work = BUILD / "work" / f"pin-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    plan = {"workload": "pin", "data": data_dir(), "work": work, "seconds": 0,
            "trace": 0, "cores": len(os.sched_getaffinity(0)),
            "pinned": HERE / "expected.txt",
            "families": ",".join(f"{q}:{f}" for q, f in sorted(families.items()))}
    try:
        run_jvm(classpath, plan, work, time.monotonic() + 3600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
