"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload at a tiny size, untraced and traced, one process (and
JVM) per run.  Checks that each run emits every metric named in
BENCHMARK.json with its unit, that every operation passes its checks, and
that a corrupted output digest is reported as a failed operation.  Exits 0
when all of that holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

TINY = {
    "er_dense": ("er", [(6, 4), (4, 8)]),
    "er_long": ("er", [(1, 40), (2, 80)]),
    "ingest_stream": ("ingest", ([(1, 4), (2, 6), (3, 8)], [(1, 4), (2, 6)])),
}


def child(name: str, trace: bool, corrupt: bool) -> None:
    """One tiny run in this process; prints the result object."""
    sys.path.insert(0, os.path.dirname(HERE))
    sys.path.insert(0, HERE)
    import run
    from workloads import ErWorkload, IngestWorkload

    kind, shape = TINY[name]
    wl = ErWorkload(name, shape) if kind == "er" else IngestWorkload(*shape, followups=2)
    # two operations untraced, so the digest is compared across them
    res = run.run(wl, seed=7, seconds=0, trace=trace,
                  corrupt_iter=1 if corrupt else None, min_ops=1 if trace else 2)
    print(json.dumps(None if res is None else {"detail": res[0], "result": res[1]}, default=str))


def tiny_run(name: str, trace: bool, corrupt: bool = False) -> dict | None:
    proc = subprocess.run(
        [sys.executable, __file__, "--child", name, str(int(trace)), str(int(corrupt))],
        stdout=subprocess.PIPE, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]) if proc.returncode == 0 and lines else None


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = {
        False: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        True: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems: list[str] = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    for name in TINY:
        for trace in (False, True):
            res = tiny_run(name, trace)
            expect(res is not None, f"{name} trace={trace}: a result")
            if res is None:
                continue
            final = res["result"]
            got = {k: v["unit"] for k, v in final["metrics"].items()}
            expect(got == wanted[trace], f"{name} trace={trace}: metric names and units")
            expect(final["correct"] and final["failed"] == 0,
                   f"{name} trace={trace}: all operations pass their checks")
            if trace:
                spans = {s["name"] for s in res["detail"]["spans"]}
                expect("session" in spans and ("fused" in spans or "ingest" in spans),
                       f"{name}: span tree has the layer spans ({sorted(spans)})")
        res = tiny_run(name, trace=False, corrupt=True)
        expect(res is not None and res["result"]["failed"] >= 1 and not res["result"]["correct"],
               f"{name}: corrupted digest is a failed operation")
    print(f"selftest: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        child(sys.argv[2], sys.argv[3] == "1", sys.argv[4] == "1")
    else:
        sys.exit(main())
