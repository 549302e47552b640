#!/usr/bin/env python3
"""graft benchmark: run one seeded workload against the engine built from
this checkout and print its metrics.

    python3 perfbench/run.py --workload ml_pipeline --seed 7 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (offline) into .bench_build/; later runs reuse the build
while the sources are unchanged. One JVM runs the workload (perfbench.Main);
this script then checks the key results the JVM wrote against DuckDB over
SparkEntry.oracleSql, and prints, as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The line before it is a report with
the environment (nproc, load average, heap), sample counts, failing keys and
the workload-specific metrics (query/read/write percentiles, storage_amp,
error_rate).

Steadiness mode, used to prove the benchmark steady:

    python3 perfbench/run.py --workload table_rw --steady 10 --seconds 10

runs the workload with seeds 1..10 and prints, for each end-to-end metric,
its median, quartiles and spread ((q3 - q1) / median) against its bound.
With --sets 2 it runs a second set (seeds 11..20) and prints how much worse
the second set's median is than the first's, against the bound.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ml_pipeline", "table_rw", "serve_mix")
# wall limit of a run after the build (the contract allows 180 s)
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a stable order (the build stamp)."""
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    out = []
    for t in tops:
        if os.path.isfile(t):
            out.append(t)
            continue
        for d, dirs, files in os.walk(t):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)
                    if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    return out


def ensure_built():
    """Build engine + harness when the sources changed; return the launcher
    (classpath and the root build's JVM options)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(2, f"not a graft checkout: {need} missing under {ROOT}")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    launcher = os.path.join(BUILD, "launcher.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    os.makedirs(BUILD, exist_ok=True)
    if not (os.path.isfile(launcher) and os.path.isfile(stamp_file)
            and open(stamp_file).read() == stamp):
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        env = dict(os.environ, COURSIER_MODE="offline")
        env["SBT_OPTS"] = env.get("SBT_OPTS") or " ".join([
            "-Dsbt.override.build.repos=true",
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
            "-Dsbt.offline=true", "-Xmx3g"])
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as lf:
            rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLauncher"],
                           cwd=HERE, env=env, stdout=lf, timeout=BUILD_LIMIT_S)
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
            fail(3, f"build failed (rc={rc}); log in {log}")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    cp, opts = None, []
    for line in open(launcher).read().splitlines():
        if line.startswith("cp="):
            cp = line[3:]
        elif line.startswith("opt=") and not line.startswith("opt=-Xmx"):
            opts.append(line[4:])
    if not cp:
        fail(3, f"malformed launcher {launcher}")
    return cp, opts


_children = []


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout or interruption the
    whole group is killed and reaped, so no process outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return -9
    finally:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
        _children.remove(p)


def heap_size():
    """SPARK_DRIVER_MEM as the repo's test command (ROADMAP.md) sets it:
    half of RAM in GiB, within [2, 8]."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


# ------------------------------------------------------------ oracle check

def oracle_frame(con, sql, fixtures, cache_dir):
    """DuckDB result of one oracle query, cached per (sql, fixture files):
    the oracle runs on fixed read-only fixtures, so its answer only changes
    with the SQL or the data."""
    import pandas as pd
    h = hashlib.sha256(sql.encode())
    for t in sorted(os.listdir(fixtures)):
        st = os.stat(os.path.join(fixtures, t))
        h.update(f"{t}:{st.st_size}:{int(st.st_mtime)}".encode())
    path = os.path.join(cache_dir, h.hexdigest() + ".pkl")
    if os.path.isfile(path):
        return pd.read_pickle(path)
    df = con.execute(sql).fetchdf()
    tmp = path + f".{os.getpid()}.tmp"
    df.to_pickle(tmp)
    os.replace(tmp, path)
    return df


def compare(got, exp):
    """tools/preflight.py's rules: columns sorted by name, rows in order,
    values exactly equal. Returns None when equal, else a reason."""
    import pandas as pd
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return f"schema {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for c in got.columns:
        a, b = got[c], exp[c]
        av = a.astype(object).where(pd.notna(a), None).tolist()
        bv = b.astype(object).where(pd.notna(b), None).tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if x != y and not (x is None and y is None):
                return f"value col={c} row={i}: spark={x!r} duck={y!r}"
    return None


def check_oracles(checks, fixtures, deadline):
    """Compare every key result the JVM wrote against DuckDB. Returns
    {key: reason} for the keys that did not match. A DuckDB call holds the
    interpreter (signals wait for it), so a watchdog interrupts it at the
    run's deadline; the run then fails instead of reporting a result."""
    if not checks:
        return {}
    import duckdb
    import threading
    con = duckdb.connect()
    late = threading.Event()

    def watchdog():
        if not done.wait(max(0.0, deadline - time.time())):
            late.set()
            con.interrupt()
    done = threading.Event()
    threading.Thread(target=watchdog, daemon=True).start()
    con.execute("SET threads=2; SET TimeZone='UTC';")
    for t in sorted(os.listdir(fixtures)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{fixtures}/{t}'")
    cache_dir = os.path.join(BUILD, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    bad = {}
    for c in checks:
        try:
            got = con.execute(f"SELECT * FROM '{c['dir']}/*.parquet'").fetchdf()
            exp = oracle_frame(con, c["sql"], fixtures, cache_dir)
            why = compare(got, exp)
        except Exception as e:  # a broken oracle or result is a failed key
            why = f"{type(e).__name__}: {e}"[:300]
        if late.is_set():
            fail(6, f"oracle check did not finish within the run's time limit (at {c['key']})")
        if why:
            bad[c["key"]] = why
    done.set()
    con.close()
    return bad


# ------------------------------------------------------------------- run

def run_once(args):
    cp, opts = ensure_built()
    # the run's time limit starts after a build: a first run may build for
    # minutes, later runs skip it
    t_start = time.time()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return run_jvm(args, cp, opts, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_jvm(args, cp, opts, work, t_start):
    heap = heap_size()
    out_file = os.path.join(work, "result.json")
    cmd = ["java", *opts, f"-Xmx{heap}", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out_file,
           "--traces", os.path.join(BUILD, "traces")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(work, "jvm.log")
    budget = RUN_LIMIT_S - (time.time() - t_start) - 10
    with open(log, "w") as lf:
        rc = run_group(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                       timeout=max(30, budget))
    if rc != 0 or not os.path.isfile(out_file):
        sys.stderr.write(open(log, errors="replace").read()[-6000:])
        fail(4, f"workload JVM failed (rc={rc})")
    res = json.load(open(out_file))
    bad = check_oracles(res["checks"], res["info"]["fixtures"], t_start + RUN_LIMIT_S)
    # a key whose checked result mismatches the oracle fails every timed
    # execution of it too: they reproduce the checked result
    failing = dict(res["failing"])
    failed = res["failed"]
    for k, why in bad.items():
        failing[k] = "oracle: " + why
        failed += res["ops_by_key"].get(k, {}).get("ok", 0)
    attempted = res["attempted"]
    report = dict(res["info"], workload=args.workload, seed=args.seed, trace=args.trace,
                  checked_keys=len(res["checks"]) + res["pinned_keys"],
                  error_rate=failed / attempted, failing_keys=failing,
                  wall_s=round(time.time() - t_start, 3), extra=res["extra"])
    print(json.dumps({"report": report}, sort_keys=True))
    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    print(json.dumps({"correct": not failing and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


# ------------------------------------------------------------ steadiness

def steady(args):
    """Run --sets sets of --steady seeds each (set k starts at seed + k *
    steady) and print, per metric, each set's median and spread, and how far
    each later set's median is from the first set's, against the bound."""
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    names = [m["name"] for m in (bench["per_layer"] if args.trace else bench["end_to_end"])]
    sets = []
    for k in range(args.sets):
        vals = {n: [] for n in names}
        for i in range(args.steady):
            seed = args.seed + k * args.steady + i
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                   "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=RUN_LIMIT_S + 30)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(p.stderr[-3000:], file=sys.stderr)
                fail(5, f"seed {seed} failed rc={p.returncode}")
            res = json.loads(lines[-1])
            print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} " + " ".join(
                      f"{k}={v['value']:.6g}" for k, v in res["metrics"].items()), flush=True)
            for n in names:
                vals[n].append(res["metrics"][n]["value"])
        sets.append(vals)
    for n in names:
        b = bounds.get(n, {}).get("bound")
        better = bounds.get(n, {}).get("better", "lower")
        meds = []
        for k, vals in enumerate(sets):
            v = vals[n]
            med = statistics.median(v)
            q1, _, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            verdict = "" if b is None else (
                "  ok" if spread < b / 3 else ("  within bound" if spread <= b else "  OVER BOUND"))
            print(f"{n:28s} set {k + 1}: median={med:.6g} q1={q1:.6g} q3={q3:.6g} "
                  f"spread={spread:.4f}" + ("" if b is None else f" bound={b}") + verdict)
            meds.append(med)
        for k in range(1, len(meds)):
            # how much worse set k+1's median is than set 1's (negative: better)
            worse = (meds[k] - meds[0]) / meds[0] if meds[0] else float("inf")
            if better == "higher":
                worse = -worse
            print(f"{n:28s} set {k + 1} vs set 1: worse by {worse:+.4f}"
                  + ("" if b is None else f" bound={b}" + ("  ok" if worse <= b else "  OVER BOUND")))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0,
                    help="run N seeds (seed, seed+1, ...) and print each metric's spread")
    ap.add_argument("--sets", type=int, default=1,
                    help="with --steady: run this many sets of N seeds and compare their medians")
    args = ap.parse_args()
    if args.seconds < 1:
        fail(2, "--seconds must be >= 1")

    def on_signal(signum, _frame):
        for p in list(_children):
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    if args.steady:
        steady(args)
    else:
        run_once(args)


if __name__ == "__main__":
    main()
