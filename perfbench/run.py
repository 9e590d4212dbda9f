#!/usr/bin/env python3
"""Benchmark of the graft program: firmographic DAG runs and registry queries.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The script builds the program and the
benchmark's harness (``perfbench/src``) from source with the Scala
compiler shipped in the Spark jars directory that ``build.sbt`` names,
launches one JVM with the options ``build.sbt`` gives a forked ``run``,
checks every output, and prints one JSON result as its last stdout line.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_LIMIT_S = 160              # the whole run, build excluded, must end before this
TRACE_PROPS = {
    "spark.extraListeners": "graft.perfbench.TraceListener",
    "spark.sql.streaming.streamingQueryListeners": "graft.perfbench.StreamTrace",
}

WORKLOADS = {
    # The paper's own workload: a day-0 full load, then daily incremental
    # DAG runs, all through RunPipeline.main (write-heavy, tiny data).
    "firmo_daily": {},
    # Registry queries over the shared sf0.1 tables: sub-second analyst
    # SQL, an index-served lookup on the LshIndex fast path, and one
    # bounded streaming query.
    "registry_mix": {
        "queries": ["q02", "q112", "q95", "q194", "q122", "q303", "q63"],
        "stores": ["LshIndex"],
    },
}

END_TO_END = [("setup_s", "s"), ("pass_cpu_s", "s"), ("peak_rss_mb", "MB")]
PER_LAYER = [
    ("raw.ms", "ms"), ("staging.ms", "ms"), ("core.ms", "ms"), ("snapshots.ms", "ms"),
    ("analytics.ms", "ms"), ("tests.ms", "ms"), ("tests.actions", "count"),
    ("report.ms", "ms"), ("report.actions", "count"),
    ("dag.actions", "count"), ("dag.jobs", "count"), ("dag.tasks", "count"),
    ("dag.driver_gap_ms", "ms"),
    ("parquet.bytes_written", "bytes"), ("parquet.files_written", "count"),
    ("parquet.write_amp", "ratio"),
    ("registry.fn_ms", "ms"), ("registry.action_ms", "ms"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("aqe.replans", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("sched.delay_ms", "ms"),
    ("exec.run_ms", "ms"), ("exec.cpu_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.serde_ms", "ms"), ("exec.busy_ratio", "ratio"),
    ("shuffle.read_bytes", "bytes"), ("shuffle.write_bytes", "bytes"),
    ("shuffle.max_task_read_bytes", "bytes"), ("spill.bytes", "bytes"),
    ("scan.input_bytes", "bytes"),
    ("stream.batches", "count"), ("stream.add_batch_ms", "ms"),
    ("stream.query_planning_ms", "ms"), ("stream.wal_commit_ms", "ms"),
    ("stream.state_rows", "count"), ("stream.state_mem_bytes", "bytes"),
    ("artifact.build_ms", "ms"), ("artifact.ensure_ms", "ms"),
    ("jvm.gc_ms", "ms"), ("jvm.heap_peak_mb", "MB"),
    ("trace.setup_s", "s"), ("trace.pass_s", "s"), ("trace.pass_cpu_s", "s"),
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def read_build(root):
    """Scala version, jar directory and forked-run JVM options of build.sbt."""
    path = os.path.join(root, "build.sbt")
    if not os.path.isfile(path):
        fail("no build.sbt here: run from the root of a checkout of the program")
    text = open(path).read()
    code = "\n".join(re.sub(r"^\s*//.*$|\s//\s.*$", "", ln) for ln in text.splitlines())
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', code)
    jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', code)
    opens = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap\(p => Seq\(\"--add-opens\", "
                      r"s\"\$p=ALL-UNNAMED\"\)\)", code, re.S)
    if not (version and jars and opens):
        fail("build.sbt no longer has the scalaVersion/unmanagedBase/jdk17AddOpens shape "
             "this benchmark reads; update read_build()")
    opts = []
    for pkg in re.findall(r'"([^"]+)"', opens.group(1)):
        opts += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    env_default = r'\$\{sys\.env\.getOrElse\("([A-Z_]+)", "([^"]*)"\)\}'
    for stmt in re.findall(r"javaOptions\s*\+\+=(.*?)(?=\n\S|\Z)", code, re.S):
        for lit in re.findall(r's?"(-[^"]*(?:"[^"]*"[^"]*)*?)"(?=[,\s)])', stmt):
            lit = re.sub(env_default, lambda m: os.environ.get(m.group(1), m.group(2)), lit)
            if "${" not in lit:          # the tmpfs java.io.tmpdir is set per run below
                opts.append(lit)
    extra = os.environ.get("SPARK_GRAFT_EXTRA_JAVA_OPTS", "").split()
    return version.group(1), jars.group(1), opts + extra


def build(root, out, version, jars):
    """Compile the program and the harness once per source state."""
    main_src = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench_src = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    if not main_src:
        fail("no src/main/scala sources here: run from the root of a checkout of the program")
    compiler = [os.path.join(jars, f"scala-{n}-{version}.jar")
                for n in ("compiler", "library", "reflect")]
    if not all(os.path.isfile(j) for j in compiler):
        fail(f"Scala {version} compiler jars not found in {jars}")
    h = hashlib.sha256(version.encode())
    for f in main_src + bench_src:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    stamp = os.path.join(out, "classes.stamp")
    main_cls, bench_cls = os.path.join(out, "classes/main"), os.path.join(out, "classes/bench")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return main_cls, bench_cls
    shutil.rmtree(os.path.join(out, "classes"), ignore_errors=True)
    for dest, srcs, cp in ((main_cls, main_src, f"{jars}/*"),
                           (bench_cls, bench_src, f"{jars}/*:{main_cls}")):
        os.makedirs(dest)
        r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
                            "scala.tools.nsc.Main", "-nowarn", "-d", dest, "-classpath", cp] + srcs,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail(f"compiling {dest} failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return main_cls, bench_cls


def bench_sf_dir(root):
    """The table directory graft.Bench reads when SPARK_GRAFT_SF_DIR is unset."""
    m = re.search(r'getOrElse\("SPARK_GRAFT_SF_DIR", "([^"]+)"\)',
                  open(os.path.join(root, "src/main/scala/graft/Bench.scala")).read())
    if not m:
        fail("graft.Bench no longer names its default table directory; set SPARK_GRAFT_SF_DIR")
    return m.group(1)


# ---------------------------------------------------------------- run

def launch(cmd, env, cwd, log_path, deadline):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def read_ops(work):
    """Ops by id; an op that started but never ended (the JVM exited in
    it) is kept as failed."""
    ops = {}
    path = os.path.join(work, "ops.jsonl")
    if os.path.exists(path):
        for line in open(path):
            rec = json.loads(line)
            if "id" in rec:
                ops[rec["id"]] = rec
            else:
                ops[rec["start"]] = {"id": rec["start"], "kind": rec["kind"], "name": rec["name"],
                                     "ok": False, "error": "did not finish", "start": 0, "end": 0}
    return [ops[k] for k in sorted(ops)]


def check_firmo(ops, days, problems):
    """Each DAG run's printed row counts and tests against the generator's
    expected state, then the SCD2 snapshots on disk after the last run."""
    import pyarrow.parquet as pq
    last = {}
    for o in ops:
        if o["kind"] not in ("setup_full", "incremental") or not o["ok"]:
            continue
        text = open(o["stdout"]).read()
        got = {f"{m[0]}.{m[1]}": int(m[2])
               for m in re.findall(r"^(\w+)\s+(\w+)\s+(\d+) rows$", text, re.M)}
        exp = days[int(o["day"])]["counts"]
        tests = re.search(r"^tests: (\d+)/(\d+) passed$", text, re.M)
        if not tests or tests.group(1) != tests.group(2):
            problems.append((o, "DAG tests failed: " + (tests.group(0) if tests else "no result")))
        elif got != exp:
            diff = {k: (got.get(k), v) for k, v in exp.items() if got.get(k) != v}
            problems.append((o, f"row counts (got, expected): {diff}"))
        else:
            last[o["workdir"]] = (o, int(o["day"]))
    for wh, (o, day) in last.items():
        for table, key in (("company_location_snapshot", "location_key"),
                           ("fortune_metrics_snapshot", "fortune_metrics_key")):
            d = os.path.join(wh, "snapshots", table)
            v = open(os.path.join(d, "_current")).read().strip()
            t = pq.read_table(os.path.join(d, f"v{v}"), columns=[key, "dbt_valid_to"]).to_pydict()
            versions, open_rows = {}, {}
            for k, vt in zip(t[key], t["dbt_valid_to"]):
                versions[k] = versions.get(k, 0) + 1
                open_rows[k] = open_rows.get(k, 0) + (vt is None)
            if max(open_rows.values(), default=0) > 1:
                problems.append((o, f"{table}: a key has more than one open row"))
            if versions != days[day][table]:
                problems.append((o, f"{table}: SCD2 versions per key differ from the expected state"))


def check_registry(ops, work, sf, problems):
    """Warm-up results against each query's DuckDB oracle, by the rules of
    tools/compare.py."""
    spec = importlib.util.spec_from_file_location("compare", os.path.join("tools", "compare.py"))
    cmp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cmp)
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in cmp.TABLES:
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(os.path.join(work, "verify", "oracle_sql.json")))
    for o in ops:
        if o["kind"] != "warmup" or not o["ok"]:
            continue
        if o["name"] not in oracles:
            problems.append((o, "no oracle to check the result against"))
            continue
        files = glob.glob(os.path.join(work, "verify", o["name"], "*.parquet"))
        try:
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            err = cmp.compare(o["name"], got, con.execute(oracles[o["name"]]).fetchdf())
        except Exception as e:  # an unreadable result or broken oracle fails the check
            err = f"COMPARE ERROR: {e}"
        if err:
            problems.append((o, err))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tools", "compare.py")):
        fail("no tools/compare.py here: run from the root of a checkout of the program")
    # a 4 GB driver heap (build.sbt defaults to 8g) keeps the footprint
    # small on a shared host
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    version, jars, java_opts = read_build(root)
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    main_cls, bench_cls = build(root, out, version, jars)

    t_start = time.time()
    work = os.path.join(out, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "index", "spark-local"):
        os.makedirs(os.path.join(work, d))
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_MASTER=f"local[{cpus}]", SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_INDEX_DIR=os.path.join(work, "index"),
               SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"))
    hargs = [f"workload={args.workload}", f"seed={args.seed}", f"seconds={args.seconds}",
             f"trace={args.trace}", f"work={work}", f"cpus={cpus}"]
    spec = WORKLOADS[args.workload]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR") or bench_sf_dir(root)
    if args.workload == "firmo_daily":
        sys.path.insert(0, HERE)
        import landing
        # day 0, then more incremental days than a run can reach: a DAG
        # run takes well over a second
        n_days = 2 + int(args.seconds)
        days = landing.generate(args.seed, os.path.join(work, "landing"), n_days)
        hargs += [f"landing={os.path.join(work, 'landing')}", f"days={n_days}"]
    else:
        if not os.path.isdir(sf):
            fail(f"registry tables not found at {sf} (set SPARK_GRAFT_SF_DIR)")
        hargs += [f"sf={sf}", f"queries={','.join(spec['queries'])}",
                  f"stores={','.join(spec['stores'])}"]
    props = [f"-D{k}={v}" for k, v in TRACE_PROPS.items()] if args.trace else []
    # -XX:-UsePerfData: the JVM's hsperfdata file would land in /tmp,
    # outside the checkout; nothing in the program reads those counters
    cmd = (["java"] + java_opts + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + props +
           ["-cp", f"{jars}/*:{main_cls}:{bench_cls}", "graft.perfbench.Harness"] + hargs)
    code = launch(cmd, env, work, os.path.join(work, "jvm.log"), t_start + RUN_LIMIT_S)

    ops = read_ops(work)
    problems = []
    if code != 0:
        problems.append(({"name": "jvm", "kind": "exit"},
                         f"JVM exit code {code}; see {os.path.join(work, 'jvm.log')}"))
    res_path = os.path.join(work, "result.json")
    res = json.load(open(res_path)) if os.path.exists(res_path) else None
    if args.workload == "firmo_daily":
        check_firmo(ops, days, problems)
        timed = [o for o in ops if o["kind"] == "incremental" and o["ok"]]
        counted = [o for o in ops if o["kind"] in ("setup_full", "incremental")]
    else:
        if os.path.exists(os.path.join(work, "verify", "oracle_sql.json")):
            check_registry(ops, work, sf, problems)
        timed = [o for o in ops if o["kind"] == "pass" and o["ok"]]
        counted = [o for o in ops if o["kind"] in ("warmup", "query")]
    problems += [(o, o["error"]) for o in counted if not o["ok"]]
    for o, why in problems:
        print(f"perfbench: FAILED {o['kind']} {o['name']}: {why}", file=sys.stderr)
    if res is None or not timed:
        fail("no timed operation completed; nothing to report")
    bad = {o.get("id") for o, _ in problems}
    attempted = len(counted)
    failed = sum(1 for o in counted if o["id"] in bad)

    values = {
        "setup_s": res["setup_s"],
        "pass_cpu_s": statistics.median(o["cpu_ms"] / 1000.0 for o in timed),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    pass_s = statistics.median((o["end"] - o["start"]) / 1000.0 for o in timed)
    print(f"perfbench: {args.workload} pass wall time = {pass_s:.6g} s (median of {len(timed)})",
          file=sys.stderr)
    if args.trace:
        layers = dict(res["layers"], **{"trace.setup_s": values["setup_s"], "trace.pass_s": pass_s,
                                        "trace.pass_cpu_s": values["pass_cpu_s"]})
        metrics = {n: {"value": layers.get(n, 0.0), "unit": u} for n, u in PER_LAYER}
        print(f"perfbench: spans in {os.path.join(work, 'spans.jsonl')}", file=sys.stderr)
    else:
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    for n, m in metrics.items():
        print(f"perfbench: {args.workload} {n} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(f"perfbench: fail_ratio = {failed}/{attempted}", file=sys.stderr)
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
