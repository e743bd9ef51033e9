#!/usr/bin/env python3
"""clifbench: end-to-end and per-layer benchmark of the graft/CLIF engine.

Usage (from the repository root):

    python3 clifbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark (the library sources under src/main plus the harness
under clifbench/src) with sbt when its inputs changed, runs one workload in
one JVM (Spark local[N], N = usable cores), compares each op's output with
the DuckDB oracle, and prints one JSON result as the last stdout line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.

Everything the run writes goes under $CARGO_TARGET_DIR (default
.bench_build) in the current directory.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

BENCH = "clifbench"
SPARK_JARS = os.environ.get("SPARK_HOME", "/opt/spark") + "/jars"
DEADLINE_S = 170  # for one run, without the build
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg, t0=time.monotonic()):
    print(f"clifbench: [{time.monotonic() - t0:6.1f} s] {msg}", file=sys.stderr,
          flush=True)


def fail(msg, code=2):
    print(f"clifbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group and wait for it. The whole group
    is killed, and waited for, on timeout or when this process is told
    to stop."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"stopped by signal {signum}", 128 + signum)

    handlers = {s: signal.signal(s, stop)
                for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} exceeded {timeout:.0f} s", 4)
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)
    return p.returncode, out, err


def source_stamp(root):
    """Digest of every file the build reads from this checkout."""
    h = hashlib.sha256()
    files = []
    for top in ("src/main", f"{BENCH}/src/main"):
        for d, _, fs in os.walk(os.path.join(root, top)):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(root, BENCH, "build.sbt"),
              os.path.join(root, BENCH, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, build_dir):
    classes = os.path.join(build_dir, "sbt", "scala-2.13", "classes")
    stamp_file = os.path.join(build_dir, "stamp")
    stamp = source_stamp(root)
    if os.path.isdir(classes) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return classes
    env = dict(os.environ, COURSIER_MODE="offline",
               CLIFBENCH_TARGET=os.path.join(build_dir, "sbt"))
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
            "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    code, out, _ = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "Compile/copyResources"], 880,
        cwd=os.path.join(root, BENCH), env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if code != 0 or not os.path.isdir(classes):
        print(out[-4000:], file=sys.stderr)
        fail("build failed", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def load_canon(root):
    """The oracle canonicalisation of tools/check.py (columns sorted by
    name, values stringified, rows sorted)."""
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def files_digest(pattern):
    h = hashlib.sha256()
    for f in sorted(glob.glob(pattern)):
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def oracle_checks(root, build_dir, res):
    """Compare each checked op's output with its DuckDB oracle. The
    expectation is computed once per input and cached. Returns one failure
    message per failed op, with the executions it invalidates."""
    import duckdb
    import pandas as pd
    canon = load_canon(root)
    tables = res["oracle_tables"]
    key_in = "".join(f"{t}={files_digest(g)};" for t, g in sorted(tables.items()))
    cache = os.path.join(build_dir, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = None
    failures = []
    for c in res["checks"]:
        op, sql = c["op"], res["oracle_sql"].get(c["oracle"], "")
        if not sql:
            failures.append((op, "no oracle SQL", c["executions"]))
            continue
        key = hashlib.sha256((key_in + sql).encode()).hexdigest()[:32]
        path = os.path.join(cache, f"{op}-{key}.pkl")
        if os.path.exists(path):
            expected = pd.read_pickle(path)
        else:
            if con is None:
                con = duckdb.connect()
                for t, g in tables.items():
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{g}'")
            expected = con.execute(sql).fetchdf()
            expected.to_pickle(path)
        files = glob.glob(os.path.join(c["dir"], "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files \
            else pd.DataFrame()
        msg = compare(canon, got, expected)
        if msg:
            failures.append((op, msg, c["executions"]))
    return failures


def compare(canon, got, expected):
    """tools/check.py's verdict, plus: an empty result never passes."""
    if len(got) == 0 or len(expected) == 0:
        return f"empty result (got {len(got)} rows, oracle {len(expected)})"
    kinds = lambda df: {c: df[c].dtype.kind for c in df.columns}
    ka, kb = kinds(got), kinds(expected)
    mism = [c for c in sorted(set(ka) & set(kb)) if ka[c] != kb[c]]
    if mism:
        return f"dtype-kind mismatch {[(c, ka[c], kb[c]) for c in mism]}"
    a, b = canon(got), canon(expected)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    if not a.equals(b):
        i = (a != b).any(axis=1).idxmax()
        return f"value mismatch at row {i}: {a.loc[i].to_dict()} vs " \
               f"{b.loc[i].to_dict()}"
    return None


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=int, default=1,
                    help="multiply the encounter counts (sizing sweeps)")
    args = ap.parse_args()

    root = os.getcwd()
    try:
        spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no library sources under src/main/scala/graft; run from the "
             "repository root")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR",
                                               ".bench_build"))
    t_build = time.monotonic()
    classes = build(root, build_dir)
    log("build ready")
    # The run's own deadline leaves out the build, which only the first
    # run in a checkout pays.
    t_start += time.monotonic() - t_build

    work = os.path.join(build_dir, "work", f"{args.workload}-{os.getpid()}")
    try:
        measure(root, spec, args, build_dir, classes, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        log("work directory removed")


def measure(root, spec, args, build_dir, classes, work, t_start):
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{SPARK_JARS}/*", "clifbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scale", str(args.scale),
            "--work", work, "--spans", os.path.join(
                build_dir, "trace", f"spans-{args.workload}-{args.seed}.json")]
    left = DEADLINE_S - (time.monotonic() - t_start)
    code, out, err = run_group(cmd, max(left, 30), stdout=subprocess.PIPE,
                               stderr=subprocess.PIPE, text=True)
    for l in err.splitlines():
        if l.startswith("clifbench:"):
            print(l, file=sys.stderr)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or not lines:
        print(err[-4000:], file=sys.stderr)
        fail(f"benchmark JVM exited with {code}", 1)
    res = json.loads(lines[-1])
    log("benchmark JVM done")

    failures = oracle_checks(root, build_dir, res)
    log("oracle checks done")
    failed = res["failed"] + sum(n for _, _, n in failures)
    errors = res["errors"] + [f"{op}: {m}" for op, m, _ in failures]
    wanted = [m["name"] for m in spec["per_layer" if args.trace else
                                        "end_to_end"]]
    got = res["layers" if args.trace else "metrics"]
    if sorted(wanted) != sorted(got):
        fail(f"metric set mismatch: {sorted(set(wanted) ^ set(got))}", 5)

    for s in res["inputs"]:
        print(f"input {s['name']}: {s['rows']} rows, {s['bytes']} bytes")
    print(f"workload {res['workload']} seed {res['seed']}: local[{res['cores']}], "
          f"{res['passes']} timed passes, {res['traced_passes']} traced passes, "
          f"{res['input_rows']} input rows, {res['input_bytes']} input bytes")
    for e in errors:
        print(f"FAILED {e}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": min(failed, res["attempted"]),
        "metrics": {k: got[k] for k in wanted},
    }))


if __name__ == "__main__":
    main()
