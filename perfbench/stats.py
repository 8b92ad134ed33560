"""The benchmark's arithmetic: percentiles, stage-interval union, failure
share, and the metrics built from the JVM's `@pb` records."""
import math
import statistics
from collections import defaultdict

def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p of the
    sample at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    return xs[max(1, math.ceil(p * len(xs))) - 1]


def beyond(n, p):
    """How many of n samples lie strictly above the nearest-rank p-th
    percentile's rank (13 of 268 for p95)."""
    return n - max(1, math.ceil(p * n))


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def fail_share(attempted, failed):
    if attempted < 1:
        raise ValueError("no attempted ops")
    return failed / attempted


def failures(ops, fails, bad_ops):
    """Failed op executions: each `fail` record (an exception, or a warm
    count that differs from the cold count) plus every execution of an
    op whose checked result is wrong. Counted once per execution."""
    bad = set()
    for f in fails:
        bad.add((f["name"], f.get("round", 0)))
    for o in ops:
        if o["name"] in bad_ops or o["s"] < 0:
            bad.add((o["name"], o.get("round", 0)))
    return len(bad)


def end_to_end(recs):
    """(value, unit, samples) for every end-to-end metric of one run.

    `warm_pass_s` uses the warm rounds every run completes (the first
    `min_rounds`): the window's later rounds run ever more compiled code,
    so counting them would tie the pass to how many rounds the host's
    speed let it finish. Throughput counts the whole window."""
    ops = [r for r in recs if r["k"] == "op"]
    win = next(r for r in recs if r["k"] == "window")
    done = [o for o in ops if o["phase"] == "warm" and o["s"] >= 0]
    warm = [o for o in done if o["round"] <= win["min_rounds"]]
    cold = [o for o in ops if o["phase"] == "cold" and o["s"] >= 0]
    setups = [r["s"] for r in recs if r["k"] == "setup"]
    by_op = defaultdict(list)
    for o in warm:
        by_op[o["name"]].append(o["s"])
    lat = [o["s"] for o in warm]
    return {
        "setup_s": (statistics.median(setups), "s", len(setups)),
        "cold_pass_s": (sum(o["s"] for o in cold), "s", len(cold)),
        "warm_pass_s": (sum(min(v) for v in by_op.values()), "s", len(lat)),
        "ops_per_s": (len(done) / win["s"], "1/s", len(done)),
    }


LAYER_FIELDS = (
    # metric suffix, record field, unit
    ("driver.build_s", "build", "s"),
    ("driver.build_jobs", "build_jobs", "count"),
    ("catalyst.analyze_s", "analyze", "s"),
    ("catalyst.optimize_s", "optimize", "s"),
    ("catalyst.physical_s", "physical", "s"),
    ("exec.s", "exec", "s"),
    ("exec.jobs", "exec_jobs", "count"),
    ("exec.stages", "stages", "count"),
    ("exec.tasks", "tasks", "count"),
    ("exec.task_s", "task_s", "s"),
    ("exec.stage_wall_s", "stage_wall", "s"),
    ("exec.driver_gap_s", "driver_gap", "s"),
    ("exec.shuffle_write_bytes", "shuffle_write", "bytes"),
    ("exec.shuffle_read_bytes", "shuffle_read", "bytes"),
    ("exec.spill_bytes", "spill", "bytes"),
    ("exec.input_bytes", "input", "bytes"),
    ("exec.result_bytes", "result", "bytes"),
    ("jvm.gc_s", "gc_s", "s"),
)
# streaming progress, reported for the cold pass only: warm reps find
# their checkpoints current and run no micro-batch
STREAM_FIELDS = (
    ("streaming.batches", "batches", "count"),
    ("streaming.input_rows", "input_rows", "count"),
    ("streaming.trigger_s", "trigger_s", "s"),
    ("streaming.commit_s", "commit_s", "s"),
    ("streaming.state_rows", "state_rows", "count"),
)
# exact counts: equal on every rep of the same op and seed. Task result
# bytes are left out: a task's result carries its own metric values,
# whose encoded size varies by a few bytes from rep to rep.
COUNT_FIELDS = [f for _, f, u in LAYER_FIELDS + STREAM_FIELDS
                if u != "s" and f != "result"]


def layer_record(t):
    """Adds the interval-derived fields to one trace record."""
    t = dict(t)
    t["stage_wall"] = union_length(t.get("intervals", []))
    t["driver_gap"] = max(0.0, t["wall"] - t["stage_wall"])
    return t


def per_op(traces):
    """One record per op: times are medians over the op's traced reps,
    counts come from its first traced rep. Also returns `op.field` for
    every count that differs between reps."""
    by = defaultdict(list)
    for t in traces:
        by[t["name"]].append(layer_record(t))
    out, unstable = {}, []
    for name, ts in by.items():
        ts.sort(key=lambda t: t.get("round", 0))
        rec = dict(ts[0])
        for _, f, unit in LAYER_FIELDS:
            if unit == "s":
                rec[f] = statistics.median(t[f] for t in ts)
        rec["wall"] = statistics.median(t["wall"] for t in ts)
        unstable += [f"{name}.{f}" for f in COUNT_FIELDS
                     if any(t[f] != ts[0][f] for t in ts)]
        out[name] = rec
    return out, unstable


def per_layer(recs):
    """Per-layer metrics of a traced run: every layer field summed over the
    workload's ops, for the cold pass and for one warm pass; the cold
    pass's streaming progress and the stores it left; and the tracing
    overhead."""
    metrics, unstable, ops = {}, [], {}
    for phase in ("cold", "warm"):
        ops[phase], bad = per_op(
            [r for r in recs if r["k"] == "trace" and r["phase"] == phase])
        unstable += [f"{phase}.{n}" for n in bad]
        fields = LAYER_FIELDS + (STREAM_FIELDS if phase == "cold" else ())
        for name, field, unit in fields:
            total = sum(o[field] for o in ops[phase].values())
            metrics[f"{phase}.{name}"] = (total, unit, len(ops[phase]))
    metrics.update(sources(recs))
    metrics["trace.overhead"] = overhead(recs)
    return metrics, unstable, ops


def sources(recs):
    """The stores under /tmp/graft_* after the cold pass: bytes, files,
    and bytes per byte of parquet input (0 when the workload reads no
    parquet)."""
    st = next(r for r in recs if r["k"] == "stores")
    inp = sum(r.get("bytes", 0) for r in recs if r["k"] == "input")
    return {
        "cold.sources.store_bytes": (st["bytes"], "bytes", 1),
        "cold.sources.store_files": (st["files"], "count", 1),
        "cold.sources.write_amp": (st["bytes"] / inp if inp else 0.0,
                                   "ratio", 1),
    }


def overhead(recs):
    """(value, unit, ops) of the tracing overhead: traced over untraced
    warm wall time, summed over ops, per op the fastest rep of each kind.
    The warm rounds alternate, and the listener is off the bus in the
    untraced ones. IPC ops are left out: they are timed over the socket
    but traced in process. Both kinds come from one run, so the host's
    noise is in both; a value below 1 is that noise."""
    plain, traced = defaultdict(list), defaultdict(list)
    for o in recs:
        if o["k"] == "op" and o["phase"] == "warm" and o["s"] >= 0 \
                and not o["ipc"]:
            (traced if o["traced"] else plain)[o["name"]].append(o["s"])
    names = [n for n in traced if n in plain]
    if not names:
        raise ValueError("no op has both traced and untraced warm reps")
    return (sum(min(traced[n]) for n in names) /
            sum(min(plain[n]) for n in names), "ratio", len(names))


def families(ops):
    """Per-family warm split (report only): family -> field -> total."""
    out = defaultdict(lambda: defaultdict(float))
    for o in ops.values():
        f = o.get("fam", "?")
        for key in ("build", "build_jobs", "exec", "exec_jobs",
                    "driver_gap"):
            out[f][key] += o[key]
        out[f]["catalyst"] += o["analyze"] + o["optimize"] + o["physical"]
    return out
