"""End-to-end benchmark of the ER engine's shipped entry points.

    python3 perfbench/run.py --workload er_dense --seed 1 --seconds 30 --trace 0

Runs from the root of a checkout.  One process starts one Spark session on
``local[N]`` (N = usable cores) with the package's production defaults; the
JVM heap is passed the way a deployment would (``SPARK_GRAFT_DRIVER_MEM``),
sized from MemTotal.  All scratch files, Spark's local dir included, live
under ``perfbench/_work`` and are removed at exit.

``--trace 0`` times the entry points and prints the end-to-end metrics;
``--trace 1`` is a separate run that wraps every layer call in a span
(instrument.py) and prints the per-layer metrics.  The line before the last
holds the details: host facts, settings, input sizes, load controls, every
check, the spans.  The last line is the result object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "lab02_citation_matching_and_entity_resolution_spark"
INPUT_REPEATS = 3

# (name, unit, better) — the end-to-end metrics every workload reports
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("e2e_s", "s", "lower"),
    ("docs_per_s", "1/s", "higher"),
    ("turns_per_s", "1/s", "higher"),
]

LAYERS = [
    "session", "assemble", "fused.payload", "blocking", "fused",
    "features.jaro_winkler", "resolve", "clustering", "tables", "ingest",
]
LAYER_COUNTERS = [
    ("wall_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("python_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("fetch_wait_s", "s", "lower"),
    ("shuffle_read_mb", "MB", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("failed_tasks", "count", "lower"),
    ("rows_out", "count", "lower"),
]
LAYER_EXTRAS = [
    ("session.start_s", "s", "lower"),
    ("session.peak_rss_mb", "MB", "lower"),
    ("session.shm_peak_mb", "MB", "lower"),
    ("blocking.pairs", "count", "lower"),
    ("blocking.capped_blocks", "count", "lower"),
    ("blocking.cap_rows_dropped", "count", "lower"),
    ("blocking.recall", "ratio", "higher"),
    ("fused.passes_per_pair", "ratio", "lower"),
    ("resolve.match_yield", "ratio", "higher"),
    ("clustering.rounds", "count", "lower"),
    ("clustering.fallback", "count", "lower"),
    ("tables.bytes_written", "bytes", "lower"),
    ("ingest.history_rows_read", "count", "lower"),
    ("trace.op_s", "s", "lower"),
    ("trace.total_s", "s", "lower"),
]
PER_LAYER = [
    (f"{layer}.{name}", unit, better)
    for layer in LAYERS for name, unit, better in LAYER_COUNTERS
] + LAYER_EXTRAS


def tail(latencies: list[float]) -> dict | None:
    """Highest percentile with at least 10 samples beyond it."""
    xs = sorted(latencies)
    k = len(xs) - 11
    if k < 0:
        return None
    return {"value": xs[k], "percentile": 100 * (k + 1) / len(xs), "beyond": 10, "n": len(xs)}


def layer_metrics(spans: list[dict], mem) -> dict[str, float]:
    out = {name: 0.0 for name, _, _ in PER_LAYER}
    by_id = {s["id"]: s for s in spans}

    def add(layer: str, s: dict, wall: float, cpu_ns: float, py: float, rows: float) -> None:
        c = s["spark"]
        out[f"{layer}.wall_s"] += wall
        out[f"{layer}.cpu_s"] += cpu_ns / 1e9
        out[f"{layer}.python_cpu_s"] += py
        out[f"{layer}.gc_s"] += c["gc_ms"] / 1e3
        out[f"{layer}.fetch_wait_s"] += c["fetch_wait_ms"] / 1e3
        out[f"{layer}.shuffle_read_mb"] += c["shuffle_read_bytes"] / 2**20
        out[f"{layer}.shuffle_write_mb"] += c["shuffle_write_bytes"] / 2**20
        out[f"{layer}.spill_mb"] += c["spill_bytes"] / 2**20
        out[f"{layer}.failed_tasks"] += c["failed_tasks"]
        out[f"{layer}.rows_out"] += rows

    for s in spans:
        layer = s["name"]
        if layer not in LAYERS:
            continue
        ex = s["extras"]
        if "jw_pair" in s:
            # UDF self time: the pair x prefix plan with minus without the UDF
            with_udf, without = (by_id[i] for i in s["jw_pair"])
            add(layer, with_udf, with_udf["wall_s"] - without["wall_s"],
                with_udf["spark"]["cpu_ns"] - without["spark"]["cpu_ns"],
                with_udf["python_cpu_s"] - without["python_cpu_s"], ex["rows_out"])
        else:
            add(layer, s, s["self_s"], s["spark"]["cpu_ns"], s["python_cpu_s"],
                ex.get("rows_out", s["spark"]["output_records"]))
        if layer == "blocking":
            for k in ("pairs", "capped_blocks", "cap_rows_dropped", "recall"):
                out[f"blocking.{k}"] += ex[k]
        elif layer == "fused":
            out["fused.passes_per_pair"] = ex.get("passes_per_pair", 0.0)
        elif layer == "clustering":
            out["clustering.rounds"] += ex["rounds"]
            out["clustering.fallback"] += ex["fallback"]
        elif layer == "tables":
            out["tables.bytes_written"] += s["spark"]["output_bytes"]
        elif layer == "ingest":
            out["ingest.history_rows_read"] += ex.get("history_rows_read", 0)
    sessions = [s for s in spans if s["name"] == "session"]
    out["session.start_s"] = sessions[0]["wall_s"] if sessions else 0.0
    out["session.peak_rss_mb"] = mem.peak_rss_mb()
    out["session.shm_peak_mb"] = mem.shm_peak_mb
    if out["fused.rows_out"]:
        out["resolve.match_yield"] = out["resolve.rows_out"] / out["fused.rows_out"]
    ops = [s["wall_s"] for s in spans if s["name"] in ("cli.main", "ingest.step")]
    out["trace.op_s"] = statistics.median(ops) if ops else 0.0
    out["trace.total_s"] = sum(ops)
    return out


def end_to_end(setup_s: float, outcome, cold_s: float, mem) -> tuple[dict, dict]:
    """(gated metrics, the full named set: the gated ones plus cold start,
    pairs/s, F1, peak memory, failed share and batch p50/tail; a metric that
    does not apply to this workload is None)."""
    op_total = sum(outcome.op_s)
    e2e = {
        "setup_s": setup_s,
        "e2e_s": statistics.median(outcome.op_s),
        "docs_per_s": sum(outcome.docs) / op_total,
        "turns_per_s": sum(outcome.turns) / op_total,
    }
    f1s = [c["pairwise_f1"] for c in outcome.checks if "pairwise_f1" in c]
    named = dict(e2e)
    named.update(
        peak_rss_mb=mem.peak_rss_mb(),
        cold_e2e_s=cold_s,
        pairs_per_s=sum(outcome.pairs) / op_total if outcome.pairs else None,
        pairwise_f1=min(f1s) if f1s else None,
        failed_frac=outcome.ok.count(False) / len(outcome.ok),
        batch_p50_s=statistics.median(outcome.op_s) if not outcome.pairs else None,
        batch_tail_s=tail(outcome.op_s) if not outcome.pairs else None,
    )
    return e2e, named


def stop_jvm(pids: list[int]) -> None:
    """Stop the Spark session, the JVM this process launched, and wait for
    the JVM and its Python workers to be gone."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in pids:
        while time.time() < deadline and os.path.exists(f"/proc/{pid}"):
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    if result is None:
        return 1
    detail, final = result
    print(json.dumps({"perfbench_detail": detail}, default=str))
    print(json.dumps(final))
    return 0


def run(workload, seed: int, seconds: float, trace: bool, corrupt_iter: int | None = None,
        min_ops: int = 1):
    """One benchmark run; returns (detail, result object) or None when no
    operation completed."""
    import host
    from spans import Tracer, jvm_descendants

    tag = f"{workload.name}-seed{seed}-trace{int(trace)}"
    work_root = os.path.join(HERE, "_work")
    work = os.path.join(work_root, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = host.deployment_env(ROOT, work)
    os.environ.update(env)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    cwd = os.getcwd()
    os.chdir(work)  # anything Spark writes relative to cwd stays in the work dir
    pids: list[int] = []
    try:
        from lab02_citation_matching_and_entity_resolution_spark import session

        jvm_pid = None
        tracer = Tracer(tag, lambda: jvm_pid) if trace else None
        t0 = time.perf_counter()
        if tracer is None:
            spark = session.get_spark()
        else:
            with tracer.span("session"):
                spark = session.get_spark()
        session_start_s = time.perf_counter() - t0
        jvm_pid = host.jvm_pid(spark)
        facts = host.host_facts(spark, env)
        with host.MemoryWitness(jvm_pid) as mem:
            state = workload.setup(spark, seed, work, INPUT_REPEATS)
            control_pre = host.sha2_control_s(spark)
            input_ready_s = statistics.median(state["input_ready_s"])
            setup_ops_s = state.get("setup_ops_s", [])
            setup_s = session_start_s + input_ready_s + sum(setup_ops_s)
            outcome = workload.run(spark, state, seconds, tracer=tracer,
                                   corrupt_iter=corrupt_iter, min_ops=min_ops)
            spark = session.get_spark()
            control_post = host.sha2_control_s(spark)
            pids = jvm_descendants(jvm_pid) + [jvm_pid]
        if not outcome.op_s:
            print(f"perfbench: no operation completed: {outcome.errors}", file=sys.stderr)
            return None
        e2e, named = end_to_end(setup_s, outcome,
                                (setup_ops_s or outcome.op_s)[0], mem)
        units = {n: u for n, u, _ in END_TO_END + PER_LAYER}
        units.update(peak_rss_mb="MB", cold_e2e_s="s", pairs_per_s="1/s", pairwise_f1="ratio",
                     failed_frac="ratio", batch_p50_s="s", batch_tail_s="s")
        detail = {
            "workload": workload.name, "seed": seed, "seconds": seconds, "trace": trace,
            "host": facts,
            "inputs": {
                "turns": state["turns"], "docs": state["docs"],
                "pairs": outcome.pairs[0] if outcome.pairs else None,
            },
            "setup": {"session_start_s": session_start_s, "input_ready_s": state["input_ready_s"],
                      "untimed_ops_s": setup_ops_s},
            "control_sha2_s": {"before": control_pre, "after": control_post},
            "memory": {"jvm_hwm_mb": mem.jvm_hwm_mb(), "workers_peak_mb": mem.workers_peak_mb,
                       "shm_peak_mb": mem.shm_peak_mb},
            "op_s": outcome.op_s, "ok": outcome.ok, "checks": outcome.checks,
            "errors": outcome.errors,
            "named_metrics": {k: {"value": v, "unit": units[k]} for k, v in named.items()},
        }
        results = os.path.join(work_root, "results")
        if trace:
            spans = tracer.dump()
            metrics = layer_metrics(spans, mem)
            # tracing overhead: the traced operation against the untraced
            # run of the same workload and seed, when one was made here
            untraced = os.path.join(results, tag[:-1] + "0.json")
            if os.path.exists(untraced):
                with open(untraced) as f:
                    e2e_s = json.load(f)["result"]["metrics"]["e2e_s"]["value"]
                detail["tracing"] = {"traced_op_s": metrics["trace.op_s"], "untraced_e2e_s": e2e_s,
                                     "overhead_s": metrics["trace.op_s"] - e2e_s}
            detail["spans"] = [
                {k: s[k] for k in ("id", "name", "parent", "run_id", "probe", "start", "end",
                                   "wall_s", "self_s", "python_cpu_s", "spark", "extras")}
                for s in spans
            ]
        else:
            metrics = e2e
        final = {
            "correct": all(outcome.ok),
            "attempted": len(outcome.ok),
            "failed": outcome.ok.count(False),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, f"{tag}.json"), "w") as f:
            json.dump({"detail": detail, "result": final}, f, default=str, indent=1)
        return detail, final
    finally:
        os.chdir(cwd)
        stop_jvm(pids)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
