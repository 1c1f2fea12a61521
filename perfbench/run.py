"""Benchmark entry point.

    python3 perfbench/run.py --workload sort_ingest --seed 1 --seconds 12 --trace 0

Run from the repository root. One client drives the chosen workload in a
closed loop on a SparkSession made by ``session.get_spark(cpus=nproc)``;
every operation's output is checked. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics named in BENCHMARK.json with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The full record (host, manifest,
per-operation latencies, tracing overhead) goes to
``perfbench/results/``, and traced runs write their spans beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

RESULTS_DIR = os.path.join(REPO, "perfbench", "results")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_metric_names() -> tuple[dict, dict]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    return e2e, layer


def layer_value(name: str, stats: dict, extras: dict) -> float:
    """Resolve ``<layer>.<function>.<stat>`` from span statistics.

    Plan spans are named ``<layer>.<function>``, action spans
    ``<layer>.<function>.exec``. A layer the workload never calls reads 0."""
    if name in extras:
        return extras[name]
    call, stat = name.rsplit(".", 1)
    plan, exec_ = stats.get(call), stats.get(call + ".exec")
    if stat == "calls":
        return float((plan or exec_ or {}).get("calls", 0))
    if stat == "plan_ms":
        return plan["ms"] if plan else 0.0
    if stat in ("exec_ms", "exec_s"):
        ms = exec_["ms"] if exec_ else 0.0
        return ms if stat == "exec_ms" else ms / 1e3
    if stat in ("spark_jobs", "spark_tasks"):
        return float(exec_[stat[6:]]) if exec_ else 0.0
    if stat == "bytes_per_user_byte":
        return 0.0
    raise KeyError(f"no rule for per-layer metric {name}")


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# {time.perf_counter() - T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def main(argv) -> int:
    args = parse_args(argv)
    # Import the program first: without it there is nothing to measure.
    import hadoop_source_spark  # noqa: F401

    import interactive_reads
    import sort_ingest
    from common import Env, cpu_steal, host_record, median, tail_percentile
    from spans import Tracer

    workloads = {w.name: w for w in (sort_ingest.Workload, interactive_reads.Workload)}
    if args.workload not in workloads:
        raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(workloads)}")
    e2e_units, layer_units = load_metric_names()

    env = Env(cpus=len(os.sched_getaffinity(0)))
    tracer = Tracer(enabled=bool(args.trace))
    wl = workloads[args.workload](env, tracer, args.seed)
    try:
        # -- set-up, as a caller meets it: start the session (which
        # launches the JVM), generate the inputs and stage them ----------
        started_at = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        t0 = time.perf_counter()
        session_s = env.start_session()
        tracer.bind(env.spark.sparkContext)
        g0 = time.perf_counter()
        manifest = wl.generate()
        generate_s = time.perf_counter() - g0
        wl.stage()
        setup_s = time.perf_counter() - t0
        log(f"set-up: {setup_s:.2f}s, of which session start {session_s:.2f}s")
        wl.open_oracle()
        log("oracle open")

        attempted = failed = 0

        def verdict(op: str, a: dict, result) -> None:
            nonlocal attempted, failed
            attempted += 1
            try:
                ok = wl.check(op, a, result)
            except Exception:  # a check that cannot run counts as a failure
                traceback.print_exc()
                ok = False
            if not ok:
                failed += 1
                log(f"check failed: {op} {str(a)[:200]}")

        # -- warm-up, not timed: several passes at once, one thread each,
        # so the JVM's first-run costs (class loading, code generation,
        # JIT compilation, Python workers) are paid before timing starts
        # without costing that many times the wall time. Its results are
        # not checked: every measured operation is, and the run budget
        # has no room to check both.
        w0 = time.perf_counter()
        passes = [wl.next_pass() for _ in range(wl.warmup_passes)]
        with tracer.paused(), ThreadPoolExecutor(len(passes)) as pool:
            list(pool.map(lambda ops: [wl.run(op, a) for op, a in ops], passes))
        warmup_s = time.perf_counter() - w0
        log(f"warm-up: {warmup_s:.2f}s")

        # -- closed loop, one client: whole passes until --seconds of
        # operation time have been spent ----------------------------------
        lat, by_op, records, busy, pass_s = [], {}, 0, 0.0, []
        steal0 = cpu_steal()
        while busy < args.seconds:
            pass_s.append(busy)
            for op, a in wl.next_pass():
                tracer.new_op()
                t0 = time.perf_counter()
                with tracer.span(f"op.{op}"):
                    result = wl.run(op, a)
                dt = time.perf_counter() - t0
                verdict(op, a, result)
                busy += dt
                lat.append(dt * 1e3)
                by_op.setdefault(op, []).append(dt * 1e3)
                records += wl.records_of(op, result)
        pass_s = [b - a for a, b in zip(pass_s, pass_s[1:] + [busy])]
        ticks, stolen = (b - a for a, b in zip(steal0, cpu_steal()))
        steal_share = stolen / ticks if ticks else 0.0
        tracer.resolve_counts()
        log(f"measured {len(lat)} operations in {len(pass_s)} passes, {busy:.2f}s; "
            f"started {started_at}, cpu steal {steal_share:.4f}")

        # one client request: a whole load in sort_ingest, one operation in
        # interactive_reads
        requests = [s * 1e3 for s in pass_s] if wl.pass_is_request else lat
        tail_p, tail_ms, n = tail_percentile(requests)
        e2e = {
            "setup_s": setup_s,
            "records_per_s": records / busy,
            "bytes_stored_per_user_byte": wl.stored_per_user_byte(),
            "ops_per_s": len(requests) / busy,
            "op_p50_ms": median(requests),
        }
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "started_at": started_at,
            "cpu_steal_share": steal_share,
            "host": host_record(env),
            "manifest": {**manifest, **wl.manifest_extras()},
            "attempted": attempted, "failed": failed,
            "failed_ratio": failed / attempted,
            "end_to_end": e2e,
            "op_tail_ms": tail_ms, "op_tail_percentile": tail_p, "op_samples": n,
            "peak_rss_mb": env.peak_rss_mb(),
            "op_p50_ms_by_type": {k: median(v) for k, v in by_op.items()},
            "op_count_by_type": {k: len(v) for k, v in by_op.items()},
            "session_start_s": session_s, "generate_s": generate_s,
            "warmup_s": warmup_s, "pass_s": pass_s,
        }
        os.makedirs(RESULTS_DIR, exist_ok=True)
        stem = os.path.join(RESULTS_DIR, f"{args.workload}-seed{args.seed}")
        if args.trace:
            stats = tracer.layer_stats()
            extras = {
                **wl.layer_extras(),
                "process.peak_rss_mb": record["peak_rss_mb"],
                "session.get_spark.s": session_s,
                "bench.generate.s": generate_s,
                "bench.warmup.s": warmup_s,
                "op.self_ms": median(
                    v["self_ms"] for k, v in stats.items() if k.startswith("op.")
                ),
                "trace.bookkeeping_ms_per_op": tracer.bookkeeping_s * 1e3 / len(lat),
            }
            metrics = {
                k: {"value": layer_value(k, stats, extras), "unit": u}
                for k, u in layer_units.items()
            }
            record["layers"] = stats
            tracer.dump(stem + "-spans.jsonl")
            untraced = stem + "-trace0.json"
            if os.path.exists(untraced):
                with open(untraced) as fh:
                    base = json.load(fh)["end_to_end"]
                record["tracing_overhead"] = {
                    k: e2e[k] / base[k] - 1 for k in ("ops_per_s", "op_p50_ms")
                }
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}
        with open(f"{stem}-trace{args.trace}.json", "w") as fh:
            json.dump(record, fh, indent=1, default=str)
    finally:
        wl.close()
        env.close()
        log("closed")

    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
