"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_query --seed 1 --seconds 20 --trace 0

A run starts a fresh local[N] session, generates the seeded inputs,
times the first op in the fresh session, runs the workload's untimed
warm-up ops, then runs ops back to back for ``--seconds`` and checks
every op's output against an independent reference outside the timed
region. Lines starting with ``#``
describe the run; the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``. A traced
run alternates traced and untraced steady ops (the difference of their
medians is the tracing overhead) and writes its spans to
``perfbench/out/``.

Exit status: 0 when every op ran and matched its reference, 1 when an
op raised or mismatched (the JSON still prints), 2 when the run could
not start or failed outside an op (no result printed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

MIN_STEADY_OPS = 2
GEN_REPEATS = 3
MAX_FAILS_IN_A_ROW = 3

EXTRA_PER_LAYER = (
    ("pip_join.refine_yield", "ratio"),
    ("dedup.pair_yield", "ratio"),
    ("snapshot.files_written", "count"),
    ("snapshot.bytes_written", "B"),
    ("checkpoint.resume_actions", "count"),
    ("checkpoint.resume_s", "s"),
    ("first_op.actions", "count"),
    ("first_op.codegen_compiles", "count"),
    ("first_op.codegen_ms", "ms"),
    ("first_op.python_init_ms", "ms"),
    ("op.tail_s", "s"),
    ("op.tail_pct", "%"),
    ("op.count", "count"),
    ("session.start_s", "s"),
    ("input.gen_s", "s"),
    ("process.peak_rss_mb", "MB"),
    ("spark.failed_tasks", "count"),
    ("failed_op_ratio", "ratio"),
    ("trace.overhead_s", "s"),
    ("trace.bookkeeping_s", "s"),
)


def per_layer_names() -> list[tuple[str, str]]:
    from perfbench.tracing import FIELDS, LAYERS, UNITS

    return [(f"{layer}.{f}", UNITS[f]) for layer in LAYERS for f in FIELDS] + list(EXTRA_PER_LAYER)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", type=int, default=3, help="local[N], at most the machine's cores")
    return p.parse_args(argv)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _layer_metrics(tr, traced_ops: list[int], steady_ops: list[int]) -> dict[str, float]:
    """Per-layer values as means per traced steady op; counts from the
    checks as means over every steady op; first-op values from op 0."""
    from perfbench.tracing import FIELDS, LAYERS

    per_op = [tr.op_layers(i) for i in traced_ops]
    out = {
        f"{layer}.{f}": _mean(o[layer][f] for o in per_op) for layer in LAYERS for f in FIELDS
    }

    def yield_of(fact: str, layer: str) -> float:
        num = sum(tr.facts[i].get(fact, 0) for i in traced_ops)
        den = sum(o[layer]["join_rows"] for o in per_op)
        return num / den if den else 0.0

    # the join executes inside the assign stage's snapshot commit, so its
    # candidate rows are charged to the snapshot layer
    out["pip_join.refine_yield"] = yield_of("pip_join.assigned", "snapshot")
    out["dedup.pair_yield"] = yield_of("dedup.pairs_verified", "dedup.pairs")
    for key in ("snapshot.files_written", "snapshot.bytes_written", "checkpoint.resume_s"):
        out[key] = _mean(tr.facts[i][key] for i in steady_ops if key in tr.facts[i])
    out["checkpoint.resume_actions"] = _mean(tr.subtree(i, "resume")["actions"] for i in traced_ops)
    cold = tr.subtree(0, "op")
    for key in ("actions", "codegen_compiles", "codegen_ms", "python_init_ms"):
        out[f"first_op.{key}"] = cold[key]
    return out


def run(args, work: str) -> tuple[dict, bool]:
    from perfbench import sparkenv, stats
    from perfbench.tracing import Tracer
    from perfbench.workloads import LAYER_CALLS, WORKLOADS

    if args.workload not in WORKLOADS:
        raise ValueError(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cores = os.cpu_count() or 1
    if not 1 <= args.cpus <= cores:
        raise ValueError(f"--cpus {args.cpus} must be between 1 and {cores}")

    def say(msg: str) -> None:
        print(f"# {msg}", flush=True)

    t0 = time.perf_counter()
    spark = sparkenv.start(args.cpus, work)
    tr = None
    try:
        session_s = time.perf_counter() - t0
        tr = Tracer(spark)
        wl = WORKLOADS[args.workload](spark, args.seed, tr)
        # the session starts once (a restart costs ~7 s of the run), the
        # inputs are generated GEN_REPEATS times into the same files
        gens = []
        for _ in range(GEN_REPEATS):
            t = time.perf_counter()
            digest = wl.generate(os.path.join(work, "inputs"))
            gens.append(time.perf_counter() - t)
        gen_s = stats.median(gens)
        setup_s = session_s + gen_s
        wl.prepare(os.path.join(work, "inputs"))
        say(f"workload={wl.name} seed={args.seed} cpus={args.cpus} inputs_sha256={digest}")
        if args.trace:
            tr.install(LAYER_CALLS)

        first_op_s = None
        warmup: list[float] = []
        times: dict[bool, list[float]] = {False: [], True: []}
        ops: dict[bool, list[int]] = {False: [], True: []}
        attempted = failed = in_a_row = 0
        deadline = None
        i = 0
        while in_a_row < MAX_FAILS_IN_A_ROW:
            # op 0 is the cold op, ops 1..warmup_ops warm up untimed, and
            # the window opens with the first steady op
            steady_i = i - 1 - wl.warmup_ops
            if steady_i == 0:
                deadline = time.perf_counter() + args.seconds
            done = times[False] + times[True]
            # stop once the next op would likely end past the window
            if len(done) >= MIN_STEADY_OPS and time.perf_counter() + stats.median(done) > deadline:
                break
            # traced runs go U T T U, U T T U, ... after the traced first
            # op, so a warm-up trend does not favour either side
            traced = bool(args.trace) and (i == 0 or (steady_i >= 0 and steady_i % 4 in (1, 2)))
            req = wl.request(i)
            spark._jvm.System.gc()  # outside the timed region, so ops start alike
            attempted += 1
            try:
                t = time.perf_counter()
                with tr.op(i, traced):
                    res = wl.op(req)
                dt = time.perf_counter() - t
                errs = wl.check(req, res)
            except Exception:
                errs = ["op raised:\n" + traceback.format_exc()]
            if traced:
                tr.collect()
            if errs:
                failed += 1
                in_a_row += 1
                for e in errs:
                    print(f"MISMATCH op {i}: {e}", file=sys.stderr, flush=True)
            elif i == 0:
                in_a_row = 0
                first_op_s = dt
            elif steady_i < 0:
                in_a_row = 0
                warmup.append(dt)
            else:
                in_a_row = 0
                times[traced].append(dt)
                ops[traced].append(i)
            i += 1

        untraced = times[False]
        steady = untraced + times[True]
        correct = failed == 0
        metrics: dict[str, tuple[float, str]] = {}
        if first_op_s is not None and untraced:
            op_p50 = stats.median(untraced)
            items = wl.items_per_op * len(untraced) / sum(untraced)
            tail = stats.tail(steady)
            tail_s, tail_pct = tail if tail else (max(steady), 100.0)
            say(
                f"setup_s={setup_s:.4f} s (session {session_s:.4f} s + median input generation "
                f"{gen_s:.4f} s of {[round(x, 4) for x in gens]})"
            )
            say(f"first_op_s={first_op_s:.4f} s")
            if warmup:
                say(f"warm-up op times (not in the steady figures) {[round(x, 4) for x in warmup]}")
            say(f"op_p50_s={op_p50:.4f} s over {len(untraced)} untraced steady ops")
            say(
                f"op_tail_s={tail_s:.4f} s is p{tail_pct:.0f} of {len(steady)} steady ops"
                + ("" if tail else " (fewer than 11 ops: no percentile has 10 beyond it, so the max)")
            )
            say(f"items_per_s={items:.2f} 1/s ({wl.items_per_op} items per op)")
            resume = [
                tr.facts[j]["checkpoint.resume_s"]
                for j in ops[False]
                if "checkpoint.resume_s" in tr.facts[j]
            ]
            if resume:
                say(f"resume_s={stats.median(resume):.4f} s")
            say(f"steady op times {[round(x, 4) for x in steady]}")
            if args.trace:
                layer = _layer_metrics(tr, ops[True], ops[False] + ops[True])
                overhead = stats.median(times[True]) - op_p50 if times[True] else 0.0
                layer.update(
                    {
                        "op.tail_s": tail_s,
                        "op.tail_pct": tail_pct,
                        "op.count": len(steady),
                        "session.start_s": session_s,
                        "input.gen_s": gen_s,
                        "process.peak_rss_mb": sparkenv.peak_rss_mb(spark),
                        "spark.failed_tasks": sparkenv.failed_tasks(spark),
                        "failed_op_ratio": failed / attempted,
                        "trace.overhead_s": overhead,
                        "trace.bookkeeping_s": _mean(tr.bookkeeping_s[j] for j in ops[True]),
                    }
                )
                say(
                    f"tracing overhead {overhead:+.4f} s: traced op p50 vs untraced, "
                    f"{len(times[True])} and {len(untraced)} ops; span bookkeeping "
                    f"{layer['trace.bookkeeping_s']:.4f} s per traced op"
                )
                metrics = {k: (float(layer[k]), u) for k, u in per_layer_names()}
                path = os.path.join(OUT, f"trace-{wl.name}-seed{args.seed}.json")
                with open(path, "w") as f:
                    json.dump(
                        {
                            "workload": wl.name,
                            "seed": args.seed,
                            "cpus": args.cpus,
                            "inputs_sha256": digest,
                            "first_op_s": first_op_s,
                            "op_times": {"untraced": untraced, "traced": times[True]},
                            "per_op_layers": {str(j): tr.op_layers(j) for j in [0] + ops[True]},
                            "metrics": {k: v[0] for k, v in metrics.items()},
                            **tr.dump(),
                        },
                        f,
                    )
                say(f"trace written to {os.path.relpath(path, ROOT)}")
            else:
                metrics = {
                    "setup_s": (setup_s, "s"),
                    "first_op_s": (first_op_s, "s"),
                    "op_p50_s": (op_p50, "s"),
                    "items_per_s": (items, "1/s"),
                }
        else:
            correct = False
        say(f"ops attempted={attempted} failed={failed} failed_op_ratio={failed / attempted:.4f}")
    finally:
        if tr is not None:
            tr.uninstall()
        sparkenv.stop(spark)
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, correct


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import gelos_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import sparkenv

    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sparkenv.prepare_env(ROOT, work)
    try:
        result, ok = run(args, work)
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
