#!/usr/bin/env python3
"""Benchmark of the GDELT pipeline and the query engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (details in perfbench/meta.json):

  gdelt_pipeline  convert -> filter -> three CLI sample modes -> gdelt-tsv
                  day-range read over a seeded raw corpus (gen_gdelt.py):
                  one cold pass, then 2 warm passes per 10 s of S
  query_session   ten registry queries on the fixture: a first-use part from
                  cleared memo caches, with memo reuse past the memo age
                  bound, that dumps every output; then 3 warm passes per
                  10 s of S in seeded order

The first run builds the library and the harness with sbt (perfbench/
build.sbt) into the checkout's own target directories; later runs reuse the
build while the sources are unchanged. Each run starts one harness JVM and
sets up three times: from the JVM launch to the session being ready and the
warm-up call done, then twice more a fresh session and the warm-up call in
the same JVM; setup_s is the median of the three. Outputs are checked
untimed: pipeline counts against the generator's expected counts, the
first-use part's query outputs against their DuckDB oracle twins
(tools/check_oracle.py's comparison). --trace 1 attaches the engine
listeners, writes spans.jsonl and layers.json under <build dir>/trace/, and
reports the per-layer metrics instead of the end-to-end ones.

The last stdout line is the JSON result; the exit code is non-zero when an
output check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
META = json.load(open(os.path.join(HERE, "meta.json")))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
HEAP = "2g"
JVM_TIMEOUT_S = 160   # per JVM, after the build
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_build(bdir):
    """Compile with sbt when the sources changed; returns the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: no library source at {need}; "
                             "run from the repository root")
    stamp, cp_file = source_stamp(), os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building library and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
         "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    cps = [ln for ln in p.stdout.splitlines()
           if ln.startswith(os.sep) and "classes" in ln]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(bdir, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"build done in {time.time() - t0:.0f} s")
    return cps[-1]


def jvm(cp, args, run_dir, cpus):
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    return cmd, env


def launch(cp, args, run_dir, cpus, deadline):
    """Run the harness JVM to completion. Returns (seconds from launch to
    the session being built, seconds from launch to the warm-up call's
    return): the latter is setup_s."""
    cmd, env = jvm(cp, args, run_dir, cpus)
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    marks = {}
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                            stderr=open(f"{run_dir}/jvm.log", "a"),
                            text=True, env=env, cwd=run_dir)
    try:
        for line in proc.stdout:
            word = line.split()
            if len(word) == 2 and word[0] in ("PERFBENCH_SESSION",
                                              "PERFBENCH_READY"):
                marks[word[0]] = int(word[1]) / 1e3 - t0
            if time.time() > deadline:
                break
        proc.wait(timeout=max(1, deadline - time.time()))
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or len(marks) != 2:
        tail = open(f"{run_dir}/jvm.log").read()[-3000:]
        raise RuntimeError(f"harness JVM failed (exit {proc.returncode}):\n"
                           f"{tail}")
    return marks["PERFBENCH_SESSION"], marks["PERFBENCH_READY"]


def cpu_ticks():
    """The host's CPU time counters (/proc/stat), to report the share of
    the run's CPU time the hypervisor stole, a cause of run-to-run
    spread; None where the counters are not readable."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def pct(values, q):
    """Percentile q (0-100) of the samples, inclusive method."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    return statistics.quantiles(v, n=100, method="inclusive")[q - 1]


def oracle_check(run_dir, fixture):
    """Compare each dumped query with its DuckDB twin, the way
    tools/check_oracle.py does (its compare() decides). Returns failures."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.dont_write_bytecode = True  # no __pycache__ in the library's tree
    import check_oracle
    import duckdb
    import pandas as pd
    dump = os.path.join(run_dir, "dump")
    oracles = json.load(open(os.path.join(dump, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit='1GB'")
    os.makedirs(os.path.join(run_dir, "duckdb_tmp"), exist_ok=True)
    con.execute(f"SET temp_directory='{run_dir}/duckdb_tmp'")
    for t in check_oracle.TABLES:
        p = os.path.join(fixture, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    failures = {}
    for name in sorted(os.listdir(dump)):
        qdir = os.path.join(dump, name)
        if not os.path.isdir(qdir):
            continue
        parts = [os.path.join(qdir, f) for f in sorted(os.listdir(qdir))
                 if f.endswith(".parquet")]
        if not parts:
            failures[name] = "NO SPARK OUTPUT"
            continue
        got = pd.concat([pd.read_parquet(p) for p in parts],
                        ignore_index=True)
        if name not in oracles:
            verdict = "OK" if len(got) > 0 else "EMPTY rows-only output"
        else:
            try:
                verdict = check_oracle.compare(name, got,
                                               con.sql(oracles[name]).df())
            except Exception as e:  # an oracle error fails the query
                verdict = f"ORACLE ERROR: {e}"
        if verdict != "OK":
            failures[name] = verdict
    con.close()
    return failures


def warm_of(xs):
    """The untraced warm passes or operations (all warm ones when a traced
    run traced every one)."""
    warm = [x for x in xs if not x["cold"]]
    return [x for x in warm if not x["traced"]] or warm


def end_to_end(res, setup_s):
    """The gated metrics. Work is counted against the CPU seconds the JVM
    spent (all threads), not against wall time: on a virtual machine whose
    host steals CPU time, wall time swings with the steal (the env line
    reports steal_frac) and CPU time does not."""
    cold = next(p for p in res["passes"] if p["cold"])
    return {
        "setup_s": setup_s,
        "cold_cpu_s": cold["cpu_s"],
        "work_per_cpu_s": statistics.median(
            p["work"] / p["cpu_s"] for p in warm_of(res["passes"])),
        "heap_peak_mb": max(res["heap_mb"]),
    }


def wall_clock(res):
    """Wall-clock figures, reported but not gated: the cold pass or
    first-use part, the median warm pass's throughput, and the median and
    90th percentile over operations, each at its median warm run."""
    runs = {}
    for t in warm_of(res["timed"]):
        runs.setdefault(t["name"], []).append(t["s"])
    timed = [statistics.median(v) for v in runs.values()]
    return {
        "wall.cold_s": next(p["wall_s"] for p in res["passes"] if p["cold"]),
        "wall.work_per_s": statistics.median(
            p["work"] / p["wall_s"] for p in warm_of(res["passes"])),
        "wall.op_p50_s": statistics.median(timed),
        "wall.op_p90_s": pct(timed, 90),
    }


def children_index(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def descendants(kids, sid, kind):
    out, todo = [], list(kids.get(sid, []))
    while todo:
        s = todo.pop()
        if s["kind"] == kind:
            out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def self_times(spans, kids):
    """Span duration minus the part of it its children cover, summed per
    (kind, name) — where time goes that no deeper span explains."""
    acc = {}
    for s in spans:
        iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                    for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        named = s["kind"] in ("op", "phase", "plan", "workload")
        key = f"{s['kind']}:{s['name']}" if named else s["kind"]
        acc[key] = acc.get(key, 0.0) + (s["end"] - s["start"] - covered) / 1e3
    return acc


def per_layer(res, spans, cpus):
    """Per-layer metrics: warm-pass layers per traced warm pass, memo and
    cold.* metrics over the cold pass or first-use part."""
    kids = children_index(spans)
    wl = {s["id"] for s in spans if s["kind"] == "workload"}
    all_ops = [s for s in spans if s["kind"] == "op" and s["parent"] in wl]
    ops = [s for s in all_ops if s["attrs"].get("traced") == 1
           and s["attrs"].get("cold") == 0]
    cold_ops = [s for s in all_ops if s["attrs"].get("cold") == 1]
    tpass = [p for p in res["passes"] if p["traced"] and not p["cold"]]
    n = max(1, len(tpass))
    cold_wall = next(p["wall_s"] for p in res["passes"] if p["cold"])
    cnt = res["counters"]
    counted = max(1.0, cnt.get("counted_passes", 1.0))

    def dur(s):
        return (s["end"] - s["start"]) / 1e3

    def stages(of, names=None):
        return [st for o in of if names is None or o["name"] in names
                for st in descendants(kids, o["id"], "stage")]

    def ssum(key, names=None, of=ops):
        return sum(st["attrs"].get(key, 0.0) for st in stages(of, names))

    def opsum(names):
        return sum(dur(o) for o in ops if o["name"] in names) / n

    def attr(names, key, of=ops):
        return sum(o["attrs"].get(key, 0.0) for o in of
                   if names is None or o["name"] in names)

    queries = [o for o in ops if o["name"].startswith("q_")]

    def phase(qs, name):
        return sum(dur(p) for q in qs for p in kids.get(q["id"], [])
                   if p["kind"] == "phase" and p["name"] == name) / n

    def plans(of):
        return sum(dur(p) for o in of
                   for p in descendants(kids, o["id"], "plan")) * 1e3

    def jobs(of):
        return sum(len(descendants(kids, o["id"], "job")) for o in of)

    family = {t["name"]: t["family"] for t in res["timed"]}

    wall = sum(p["wall_s"] for p in tpass) / n
    raw_bytes = res["env"].get("raw_bytes")
    m = {
        "sources.records_read": attr(["range_read"], "records_read") / n,
        "sources.bytes_read": ssum("input_bytes", ["range_read"]) / n,
        "sources.files_pruned": attr(["range_read"], "files_pruned") / n,
        "sources.rows_skipped": attr(["range_read"], "rows_skipped") / n,
        "etl.convert_s": opsum(["convert"]),
        "etl.convert_task_cpu_s": ssum("cpu_ns", ["convert"]) / 1e9 / n,
        "etl.write_amp": cnt.get("parquet_bytes", 0.0) / counted / raw_bytes
        if raw_bytes else 0.0,
        "etl.files_written": cnt.get("files_written", 0.0) / counted,
        "etl.filter_s": opsum(["filter"]),
        "etl.filter_retention": cnt.get("filter.after", 0.0) /
        cnt["filter.before"] if cnt.get("filter.before") else 0.0,
        "dsl.compile_ms": opsum(["dsl.compile"]) * 1e3,
        "sample.indexed_s": opsum(["sample.indexed"]),
        "sample.daily_s": opsum(["sample.daily"]),
        "sample.stratified_s": opsum(["sample.stratified"]),
        "sample.shuffle_write_bytes": ssum(
            "shuffle_write_bytes",
            ["sample.indexed", "sample.daily", "sample.stratified"]) / n,
        "sample.rows_out": cnt.get("sample_rows", 0.0) / counted,
        "queries.build_s": phase(queries, "build"),
        "queries.exec_s": phase(queries, "exec"),
        "memo.builds": attr(None, "memo_builds", cold_ops),
        "memo.build_s": attr(None, "memo_build_s", cold_ops),
        "memo.rebuilds": attr(None, "memo_rebuilds", cold_ops),
        "memo.evictions": cnt.get("memo.evictions", 0.0),
        "memo.warm_builds": attr(None, "memo_builds", ops) / n,
        "engine.plan_ms": plans(ops) / n,
        "engine.codegen_ms": attr(None, "codegen_ms") / n,
        "engine.jobs": jobs(ops) / n,
        "engine.stages": len(stages(ops)) / n,
        "engine.tasks": ssum("tasks") / n,
        "engine.task_overhead_s": (ssum("task_ms") - ssum("run_ms")) / 1e3 / n,
        "engine.busy_frac": ssum("run_ms") / 1e3 / n / (wall * cpus)
        if wall else 0.0,
        "engine.task_cpu_s": ssum("cpu_ns") / 1e9 / n,
        "engine.gc_s": ssum("gc_ms") / 1e3 / n,
        "engine.shuffle_write_bytes": ssum("shuffle_write_bytes") / n,
        "engine.shuffle_read_bytes": ssum("shuffle_read_bytes") / n,
        "engine.spill_bytes": ssum("spill_bytes") / n,
        "cold.codegen_ms": attr(None, "codegen_ms", cold_ops),
        "cold.plan_ms": plans(cold_ops),
        "cold.jobs": jobs(cold_ops),
        "cold.task_cpu_s": ssum("cpu_ns", of=cold_ops) / 1e9,
    }
    m.update(wall_clock(res))
    m["memo.build_share"] = m["memo.build_s"] / cold_wall
    for f in res["families"]:
        m[f"family.{f}.exec_s"] = phase(
            [q for q in queries if family[q["name"]] == f], "exec")
    # tracing overhead: traced against untraced warm passes of this run
    un = [p["wall_s"] for p in res["passes"]
          if not p["traced"] and not p["cold"]]
    m["trace.overhead_frac"] = statistics.median(
        p["wall_s"] for p in tpass) / statistics.median(un) - 1 \
        if un and tpass else 0.0
    return m, self_times(spans, kids)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in BENCH["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    bdir = build_dir()
    cp = ensure_build(bdir)
    deadline = time.time() + JVM_TIMEOUT_S
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    fixture = os.path.join(HERE, "fixture")
    try:
        corpus = sizing = fixture
        if a.workload == "gdelt_pipeline":
            corpus = os.path.join(run_dir, "corpus")
            subprocess.run([sys.executable, os.path.join(HERE, "gen_gdelt.py"),
                            "--seed", str(a.seed), "--out", corpus],
                           check=True)
            sizing = os.path.join(corpus, "raw")
        out = os.path.join(run_dir, "out")
        ticks0 = cpu_ticks()
        session_s, first_setup_s = launch(cp, [
            "--cpus", str(cpus), "--fixture", fixture, "--sizing", sizing,
            "--local-dir", os.path.join(run_dir, "spark-local"),
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--corpus", corpus, "--out", out], run_dir, cpus, deadline)
        ticks1 = cpu_ticks()
        res = json.load(open(os.path.join(out, "result.json")))
        setups = [first_setup_s] + res["setup_s"]
        failures = {c["name"]: c["detail"] for c in res["checks"]
                    if not c["ok"]}
        if a.workload == "query_session":
            failures.update(oracle_check(out, fixture))
        spans = [json.loads(ln) for ln in open(os.path.join(out, "spans.jsonl"))]
    finally:
        keep = os.path.join(run_dir, "jvm.log")
        if os.path.exists(keep):
            shutil.copy(keep, os.path.join(bdir, f"last-{a.workload}-jvm.log"))
        if "out" in locals() and os.path.exists(os.path.join(out, "spans.jsonl")):
            tdir = os.path.join(bdir, "trace", f"{a.workload}-{a.seed}")
            os.makedirs(tdir, exist_ok=True)
            for f in ("spans.jsonl", "result.json"):
                shutil.copy(os.path.join(out, f), tdir)
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = max(1, res["attempted"])
    failed = min(attempted, len(failures))
    for name, why in sorted(failures.items()):
        log(f"FAILED {name}: {why}")
    e2e = end_to_end(res, statistics.median(setups))
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"] +
             BENCH["per_layer"]}
    env = dict(res["env"], session_s=session_s, setups_s=setups,
               wall_s=round(time.time() - t_start, 1))
    if ticks0 and ticks1:
        d = [b - a for a, b in zip(ticks0, ticks1)]
        env["steal_frac"] = round(d[7] / max(1, sum(d)), 4)
    print(f"env: {json.dumps(env, sort_keys=True)}")
    warm = [t for t in res["timed"] if not t["cold"] and not t["traced"]]
    print(f"samples: {len(warm)} untraced warm runs of "
          f"{len({t['name'] for t in warm})} operations in "
          f"{sum(1 for p in res['passes'] if not p['cold'] and not p['traced'])}"
          f" passes; cold part of "
          f"{sum(1 for t in res['timed'] if t['cold'])} operations; "
          f"{len(setups)} set-ups")
    for k, v in e2e.items():
        print(f"{k} = {v:.6g} {units[k]}")
    if not a.trace:
        for k, v in wall_clock(res).items():
            print(f"{k} = {v:.6g} {units[k]} (not gated)")
    print(f"failed_frac = {failed / attempted:.6g} ({failed}/{attempted})")
    if a.trace:
        layers, selfs = per_layer(res, spans, cpus)
        tdir = os.path.join(bdir, "trace", f"{a.workload}-{a.seed}")
        table = {k: {"value": v, "unit": units[k],
                     "moves": META["layer_map"].get(k.split(".")[0], {})}
                 for k, v in layers.items()}
        with open(os.path.join(tdir, "layers.json"), "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "per_layer": table, "self_s": selfs,
                       "untraced_e2e": e2e}, fh, indent=1, sort_keys=True)
        for k, v in layers.items():
            print(f"{k} = {v:.6g} {units[k]}")
        metrics = {k: {"value": v, "unit": units[k]}
                   for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    correct = not failures
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
