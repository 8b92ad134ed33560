#!/usr/bin/env python3
"""Benchmark of the rayforcespark engine, run from the root of a checkout:

    python3 perfbench/run.py --workload suite|h2o --seed N \\
        --seconds S --trace 0|1

Builds the program and this harness from source when they changed (sbt,
offline, into perfbench/target), runs one workload in a fresh JVM, checks
every output, and prints one line per metric (value, unit, sample count)
followed by a last line of JSON: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones. All files it writes stay under .bench_build/ in the
checkout. See perfbench/README.md for what each metric means."""
import argparse
import hashlib
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("suite", "h2o")
# scale factor of the suite's parquet tables (gen.py); h2o builds its
# inputs inside the JVM
SUITE_SF = 0.001
HEAP = "3g"  # -Xmx of the benchmark JVM
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def selftest():
    import test_stats
    out = io.StringIO()
    res = unittest.TextTestRunner(stream=out, verbosity=0).run(
        unittest.defaultTestLoader.loadTestsFromModule(test_stats))
    if not res.wasSuccessful():
        die("self-tests of the benchmark arithmetic failed:\n" + out.getvalue())


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if not os.path.isdir(r):
            die(f"missing source tree {os.path.relpath(r, ROOT)}; run from "
                "the root of a full checkout")
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java"))]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(state):
    """Compiles when the sources changed; returns the runtime classpath."""
    stamp = source_hash()
    stamp_f = os.path.join(state, "build.stamp")
    cp_f = os.path.join(state, "classpath.txt")
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        with open(stamp_f) as f, open(cp_f) as g:
            same, cp = f.read() == stamp, g.read()
        # the harness's own classes dir comes first on the classpath
        if same and os.path.isdir(cp.split(os.pathsep)[0]):
            return cp, stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    if "SPARK_HOME" not in env:  # the build compiles against its jars
        submit = shutil.which("spark-submit")
        if not submit:
            die("SPARK_HOME is not set and spark-submit is not on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(submit)))
    env["SBT_OPTS"] += " -Dsbt.server.autostart=false -XX:-UsePerfData"
    log = os.path.join(state, "build.log")
    t0 = time.time()
    with open(log, "w") as lf:
        p = run_group(private_tmp(os.path.join(state, "sbt-tmp")) + [
            "sbt", "-batch", "-Dsbt.log.noformat=true",
            "export Runtime/fullClasspath"], HERE, env,
            BUILD_TIMEOUT_S, stdout=subprocess.PIPE, stderr=lf)
    lines = p[1].decode(errors="replace").strip().splitlines()
    if p[0] != 0 or not lines or "perfbench" not in lines[-1]:
        with open(log) as lf:
            err = lf.read()[-2000:]
        die(f"build failed (exit {p[0]}):\n" + "\n".join(lines[-40:]) +
            "\n" + err)
    cp = lines[-1].strip()
    with open(cp_f, "w") as f:
        f.write(cp)
    with open(stamp_f, "w") as f:
        f.write(stamp)
    print(f"build {time.time() - t0:.1f} s", file=sys.stderr)
    return cp, stamp


def run_group(cmd, cwd, env, timeout, stdout, stderr):
    """Runs cmd in its own process group; on timeout kills the whole
    group. Waits until it has ended; returns (exit code, stdout bytes)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        die(f"{cmd[0]} did not end within {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out or b""


def commit():
    """The checked-out commit, when the checkout is a git repository."""
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def host_state():
    def read(path):
        try:
            with open(path) as f:
                return f.read()
        except OSError:
            return ""
    load1 = (read("/proc/loadavg").split() or ["-1"])[0]
    cached = next((ln.split()[1] for ln in read("/proc/meminfo").splitlines()
                   if ln.startswith("Cached:")), "-1")
    return float(load1), int(cached)


def make_inputs(args, work):
    """Generates the workload's parquet tables; returns their directory."""
    out = os.path.join(work, "gen")
    os.makedirs(out)
    if args.workload == "suite":
        t0 = time.time()
        rows = gen.generate(out, SUITE_SF, args.seed)
        print("input " + json.dumps({"sf": SUITE_SF, "rows": rows,
                                     "gen_s": time.time() - t0},
                                    sort_keys=True))
    return out


def private_tmp(root):
    """Command prefix that runs a program with the directory `root` as its
    /tmp. The program keeps its stores, indexes and stream checkpoints at
    fixed /tmp/graft_* paths (and the JVM and sbt leave files in /tmp),
    while a run must write only inside its checkout. When the checkout
    itself lies under /tmp, it is bound back at its own path inside the
    new /tmp."""
    os.makedirs(root, exist_ok=True)
    tmp, ck = os.path.realpath("/tmp"), os.path.realpath(ROOT)
    if ck.startswith(tmp + os.sep):
        inner = os.path.join(root, os.path.relpath(ck, tmp))
        os.makedirs(inner, exist_ok=True)
        mount = ['mount --bind "$1" "$2"; mount --rbind "$3" /tmp; shift 3',
                 ck, inner, root]
    else:
        mount = ['mount --bind "$1" /tmp; shift', root]
    # a new mount namespace: as root, or else as root of a new user
    # namespace; mounts made in it are private to it
    for ns in (["unshare", "--mount"], ["unshare", "--map-root-user", "--mount"]):
        try:
            ok = subprocess.run(ns + ["true"], capture_output=True,
                                timeout=30).returncode == 0
        except (OSError, subprocess.SubprocessError):
            ok = False
        if ok:
            return ns + ["sh", "-c", f'set -e; {mount[0]}; exec "$@"',
                         "sh"] + mount[1:]
    die("cannot make a private /tmp: unshare --mount is not permitted here")


def run_jvm(cp, args, work, inputs):
    """Runs the benchmark JVM; returns its records and the DuckDB oracle
    counts, computed from the inputs while the JVM starts."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = private_tmp(os.path.join(work, "tmp")) + [
        java, f"-Xmx{HEAP}", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), work, inputs]
    log = os.path.join(work, "jvm.log")
    recs, oracle = [], {}
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=lf,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        timer = threading.Timer(JVM_TIMEOUT_S, os.killpg,
                                (p.pid, signal.SIGKILL))
        timer.start()
        duck = None
        try:
            for ln in p.stdout:
                if not ln.startswith(b"@pb "):
                    continue
                recs.append(json.loads(ln[4:]))
                if recs[-1]["k"] == "oracles":
                    duck = threading.Thread(target=duckdb_counts, args=(
                        inputs, recs[-1]["sql"], oracle))
                    duck.start()
            code = p.wait()
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
        finally:
            timer.cancel()
            if duck:
                duck.join()
    if code != 0:
        with open(log) as lf:
            tail = [ln for ln in lf.read().splitlines()
                    if " INFO " not in ln][-40:]
        die(f"benchmark JVM exited {code}:\n" + "\n".join(tail))
    return recs, oracle


def duckdb_counts(data, sqls, out):
    """Fills `out` with the row count of each query's oracle SQL, run by
    DuckDB over the same parquet files (None when there is no SQL, the
    error text when DuckDB fails)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, f)}')")
    for name, sql in sorted(sqls.items()):
        try:
            out[name] = con.execute(
                f"SELECT count(*) FROM ({sql})").fetchone()[0] if sql else None
        except duckdb.Error as e:
            out[name] = str(e)


def check(recs, oracle):
    """Names of ops whose checked output is wrong, with reasons."""
    bad = {}
    for r in recs:
        if r["k"] == "check" and not r["ok"]:
            bad[r["name"]] = r["why"]
    cold = {r["name"]: r["rows"] for r in recs
            if r["k"] == "op" and r["phase"] == "cold"}
    names = [n for r in recs if r["k"] == "oracles" for n in r["sql"]]
    for name in names:
        want = oracle.get(name, "not computed")
        if not isinstance(want, int):
            bad[name] = f"no oracle count: {want}"
        elif cold.get(name) != want:
            bad[name] = f"rows {cold.get(name)} != DuckDB {want}"
    return bad


def fmt(v):
    return repr(float(v)) if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    # a terminated run unwinds, so the JVM or sbt it started is killed too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    selftest()
    state = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    cp, stamp = build(state)
    work = os.path.join(state, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load0, cached0 = host_state()
    t0 = time.time()
    try:
        print(f"perfbench workload={args.workload} seed={args.seed} "
              f"seconds={args.seconds} trace={args.trace}")
        recs, oracle = run_jvm(cp, args, work, make_inputs(args, work))
        wall = time.time() - t0
        bad = check(recs, oracle)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load1, cached1 = host_state()

    ops = [r for r in recs if r["k"] == "op"]
    fails = [r for r in recs if r["k"] == "fail"]
    attempted = len(ops)
    failed = stats.failures(ops, fails, set(bad))
    host = next(r for r in recs if r["k"] == "host")
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()
    print(f"wall_s {wall:.1f}")
    print(f"host nproc={os.cpu_count()} cpus={cpus} spark_cores={host['cpus']} "
          f"load1={load0}->{load1} cached_kb={cached0}->{cached1} "
          f"heap={HEAP} jvm={host['jvm']} spark={host['spark']} "
          f"commit={commit()} "
          f"source={stamp[:12]} "
          f"seed={args.seed}")
    for r in recs:
        if r["k"] == "input":
            print("input " + json.dumps({k: v for k, v in r.items()
                                         if k != "k"}, sort_keys=True))
    marks = [r for r in recs if r["k"] == "mark"]
    if marks:
        print("timeline_s " + " ".join(f"{r['name']}={r['t']:.1f}"
                                       for r in marks))
    for r in recs:
        if r["k"] == "mem":
            print(f"heap_peak_mb {r['heap_peak_mb']:.1f}")
    for name, why in sorted(bad.items()):
        print(f"wrong {name}: {why}")
    for f in fails[:20]:
        print(f"failed {f['name']} round {f.get('round')}: {f['why']}")
    print(f"fail_share {failed}/{attempted} = "
          f"{stats.fail_share(attempted, failed)}")

    if args.trace:
        metrics, unstable, layer_ops = stats.per_layer(recs)
        report_layers(args.workload, recs, layer_ops, unstable)
    else:
        metrics = stats.end_to_end(recs)
        report_ops(ops)
    for name, (v, unit, n) in metrics.items():
        print(f"metric {name} = {fmt(v)} {unit} (n={n})")
    print(json.dumps({
        "correct": failed == 0 and not bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u, _) in metrics.items()}}))


def report_ops(ops):
    """Per-op cold time and warm median, and warm latency percentiles, for
    reading a run by eye."""
    lat = [o["s"] for o in ops if o["phase"] == "warm" and o["s"] >= 0]
    for p in (0.5, 0.75, 0.9):
        print(f"latency warm_p{round(100 * p)}_ms = "
              f"{1e3 * stats.percentile(lat, p)} (n={len(lat)}, "
              f"{stats.beyond(len(lat), p)} beyond)")
    names = sorted({o["name"] for o in ops})
    for n in names:
        cold = [o["s"] for o in ops if o["name"] == n and o["phase"] == "cold"]
        warm = [o["s"] for o in ops if o["name"] == n and o["phase"] == "warm"
                and o["s"] >= 0]
        if cold and warm:
            print(f"op {n} cold_ms={1e3 * cold[0]:.1f} "
                  f"warm_median_ms={1e3 * statistics.median(warm):.1f} "
                  f"warm_n={len(warm)}")


def report_layers(workload, recs, layer_ops, unstable):
    for fam, v in sorted(stats.families(layer_ops["warm"]).items()):
        print(f"family warm.{fam} " + " ".join(
            f"{k}={fmt(x)}" for k, x in sorted(v.items())))
    if workload == "h2o":  # the h2o setup is GroupKernel.encode
        enc = [r["s"] for r in recs if r["k"] == "setup"]
        print(f"layer operators.encode_ms = {1e3 * statistics.median(enc)}")
    lay = [r for r in recs if r["k"] == "ipc_layer"]
    if lay:
        names = {r["name"] for r in lay}
        ev = statistics.mean(r["eval_s"] for r in lay)
        sd = statistics.mean(r["serde_s"] for r in lay)
        lat = statistics.mean(o["s"] for o in recs if o["k"] == "op"
                              and o["phase"] == "warm" and o["s"] >= 0
                              and not o["traced"] and o["name"] in names)
        print(f"layer rayfall.eval_ms = {1e3 * ev} (mean of {len(lay)})")
        print(f"layer rayfall.serde_ms = {1e3 * sd}")
        print(f"layer ipc.reply_bytes = "
              f"{statistics.mean(r['bytes'] for r in lay)}")
        print(f"layer ipc.wait_ms = {1e3 * (lat - ev - sd)}")
    print("unstable_counts " + (",".join(unstable) if unstable else "none"))


if __name__ == "__main__":
    main()
