"""The benchmark's workloads: inputs, timed operations and output checks.

er_dense / er_long   one operation = one batch CLI run
                     (``cli.main --input <parquet> --output <fresh dir>``).
ingest_stream        closed loop, one client: one operation = land one JSONL
                     file in the watched directory, then drain it with
                     ``read_transcript_stream`` + ``start_ingest(available_now)``,
                     the calls ``cli --stream-input`` makes.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import time

from lab02_citation_matching_and_entity_resolution_spark import cli, session
from lab02_citation_matching_and_entity_resolution_spark.sources.tables import TableStore
from lab02_citation_matching_and_entity_resolution_spark.synth import (
    TRANSCRIPT_SCHEMA,
    SynthConfig,
)

import inputs

MIN_F1 = 0.99
DRAIN_TIMEOUT_S = 120


def digest(rows) -> str:
    """Order-independent digest of a collection of rows."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def f1(pred: set, truth: set) -> float:
    tp = len(pred & truth)
    if not tp:
        return 0.0
    p, r = tp / len(pred), tp / len(truth)
    return 2 * p * r / (p + r)


@dataclasses.dataclass
class Outcome:
    """What a workload's timed loop produced."""

    op_s: list[float] = dataclasses.field(default_factory=list)
    ok: list[bool] = dataclasses.field(default_factory=list)
    turns: list[int] = dataclasses.field(default_factory=list)
    docs: list[int] = dataclasses.field(default_factory=list)
    pairs: list[int] = dataclasses.field(default_factory=list)
    checks: list[dict] = dataclasses.field(default_factory=list)
    errors: list[str] = dataclasses.field(default_factory=list)


def _time_repeated(fn, repeats: int) -> tuple[list[float], object]:
    times, out = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return times, out


class ErWorkload:
    """Batch CLI runs over a corpus with a fixed duplicate-cluster profile."""

    def __init__(self, name: str, shape: list[tuple[int, int]]):
        self.name = name
        self.shape = shape  # (duplicate count, turns) per entity

    def setup(self, spark, seed: int, work: str, repeats: int) -> dict:
        cfg = SynthConfig(seed=seed, max_cluster=max(size for size, _ in self.shape))
        path = os.path.join(work, "transcripts.parquet")

        def ready():
            rows, members = inputs.EntityPool(cfg).draw(self.shape)
            spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).write.mode("overwrite").parquet(path)
            return rows, members

        times, (rows, members) = _time_repeated(ready, repeats)
        return {
            "input_ready_s": times, "input": path, "work": work,
            "turns": len(rows), "docs": len(members), "truth": inputs.true_pairs(members),
        }

    def run(self, spark, state: dict, seconds: float, tracer=None,
            corrupt_iter: int | None = None, min_ops: int = 1) -> Outcome:
        from instrument import instrumented

        out = Outcome()
        first_digest = None
        t_start = time.perf_counter()
        i = 0
        while i < min_ops or time.perf_counter() - t_start < seconds:
            dest = os.path.join(state["work"], f"er_out_{i}")
            argv = ["--input", state["input"], "--output", dest]
            try:
                t0 = time.perf_counter()
                if tracer is None:
                    cli.main(argv)
                else:
                    with instrumented(tracer), tracer.span("cli.main"):
                        cli.main(argv)
                out.op_s.append(time.perf_counter() - t0)
                # the CLI stops its session on exit
                if tracer is None:
                    spark = session.get_spark()
                else:
                    with tracer.span("session"):
                        spark = session.get_spark()
                check = self.check(spark, dest, state)
            except Exception as exc:  # an op that raises is a failed op
                out.errors.append(f"op {i}: {type(exc).__name__}: {exc}"[:500])
                out.ok.append(False)
                i += 1
                continue
            if corrupt_iter == i:
                check["digest"] = "corrupted-" + check["digest"]
            if first_digest is None:
                first_digest = check["digest"]
            check["digest_matches_first"] = check["digest"] == first_digest
            ok = (check["pairwise_f1"] >= MIN_F1 and check["cluster_f1"] >= MIN_F1
                  and check["digest_matches_first"])
            out.ok.append(ok)
            out.checks.append(check)
            out.turns.append(state["turns"])
            out.docs.append(state["docs"])
            out.pairs.append(check["pairs"])
            if tracer is not None and i == 0:
                self.probe(spark, tracer, state)
            i += 1
        return out

    def check(self, spark, dest: str, state: dict) -> dict:
        store = TableStore(spark, dest)
        clusters = store.read("clusters").select("conv_id", "cluster_id").collect()
        matches = store.read("matches").select("left_id", "right_id", "score").collect()
        pairs = store.read("_metrics").where("metric = 'pairs_scored'").collect()
        by_cluster: dict[str, list[str]] = {}
        for r in clusters:
            by_cluster.setdefault(r["cluster_id"], []).append(r["conv_id"])
        cluster_members = [(c, k) for k, convs in by_cluster.items() for c in convs]
        truth = state["truth"]
        return {
            "digest": digest(clusters) + ":" + digest(matches),
            "pairwise_f1": f1({(r["left_id"], r["right_id"]) for r in matches}, truth),
            "cluster_f1": f1(inputs.true_pairs(cluster_members), truth),
            "pairs": int(pairs[0]["value"]),
            "matches": len(matches),
            "clusters": len(by_cluster),
        }

    def probe(self, spark, tracer, state: dict) -> None:
        from instrument import probe_fused
        from lab02_citation_matching_and_entity_resolution_spark.operators.assemble import (
            assemble_documents,
        )

        with tracer.span("probe.docs", probe=True):
            docs = assemble_documents(spark.read.parquet(state["input"])).persist()
            docs.count()
        scored = next(s for s in reversed(tracer.spans) if s["name"] == "fused")
        probe_fused(tracer, docs, state["truth"], scored["extras"]["rows_out"])
        docs.unpersist()


class IngestWorkload:
    """Closed-loop streaming ingest into a preloaded store."""

    name = "ingest_stream"

    def __init__(self, preload_shape: list[tuple[int, int]], step_shape: list[tuple[int, int]],
                 followups: int):
        self.preload_shape = preload_shape
        self.step_shape = step_shape
        self.followups = followups

    def _feed(self, seed: int) -> inputs.TurnFeed:
        return inputs.TurnFeed(SynthConfig(seed=seed), self.step_shape, self.followups)

    def setup(self, spark, seed: int, work: str, repeats: int) -> dict:
        src = os.path.join(work, "landing")
        staging = os.path.join(work, "staging")
        os.makedirs(src)
        os.makedirs(staging)

        def ready():
            feed = self._feed(seed)
            rows = feed.preload(self.preload_shape)
            path = os.path.join(staging, "preload.jsonl")
            with open(path, "w") as f:
                f.writelines(inputs.turn_json(r) + "\n" for r in rows)
            return feed, rows, path

        times, (feed, rows, path) = _time_repeated(ready, repeats)
        state = {
            "input_ready_s": times, "src": src, "staging": staging, "feed": feed,
            "store": os.path.join(work, "store"), "turns_landed": len(rows), "next_step": 0,
        }
        state["ckpt"] = os.path.join(state["store"], "_stream_ckpt")
        # untimed: the preload is the first drain in this JVM (the cold
        # operation); one step after it lets lazy set-up finish, as a
        # long-running ingest would have
        state["setup_ops_s"] = [self._land_and_drain(spark, state, path, "part-preload.jsonl")]
        state["setup_ops_s"].append(self._step(spark, state)[0])
        return state

    def _step(self, spark, state: dict, tracer=None) -> tuple[float, int, int]:
        """Land and drain the next step: (latency, turns, conversations touched)."""
        from instrument import instrumented

        i = state["next_step"]
        state["next_step"] += 1
        rows, touched = state["feed"].step(i)
        staged = os.path.join(state["staging"], f"step-{i:05d}.jsonl")
        with open(staged, "w") as f:
            f.writelines(inputs.turn_json(r) + "\n" for r in rows)
        state["turns_landed"] += len(rows)
        name = f"part-{i:05d}.jsonl"
        if tracer is None:
            lat = self._land_and_drain(spark, state, staged, name)
        else:
            with instrumented(tracer), tracer.span("ingest.step"):
                lat = self._land_and_drain(spark, state, staged, name)
        return lat, len(rows), touched

    def _land_and_drain(self, spark, state: dict, staged: str, name: str) -> float:
        from lab02_citation_matching_and_entity_resolution_spark.streaming import ingest

        os.replace(staged, os.path.join(state["src"], name))
        t0 = time.perf_counter()
        store = TableStore(spark, state["store"])
        q = ingest.start_ingest(
            ingest.read_transcript_stream(spark, state["src"]), store, state["ckpt"]
        )
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            q.stop()
            raise TimeoutError(f"drain of {name} exceeded {DRAIN_TIMEOUT_S}s")
        return time.perf_counter() - t0

    def run(self, spark, state: dict, seconds: float, tracer=None,
            corrupt_iter: int | None = None, min_ops: int = 1) -> Outcome:
        out = Outcome()
        t_start = time.perf_counter()
        i = 0
        while i < min_ops or time.perf_counter() - t_start < seconds:
            i += 1
            try:
                lat, turns, touched = self._step(spark, state, tracer)
                n_live = TableStore(spark, state["store"]).read("documents_live").count()
            except Exception as exc:  # an op that raises is a failed op
                out.errors.append(f"step {state['next_step'] - 1}: {type(exc).__name__}: {exc}"[:500])
                out.ok.append(False)
                continue
            out.op_s.append(lat)
            out.ok.append(n_live == len(state["feed"].last))
            out.turns.append(turns)
            out.docs.append(touched)
        state["turns"], state["docs"] = state["turns_landed"], len(state["feed"].last)
        final = self.check(spark, state)
        if corrupt_iter is not None:
            final["live_digest"] = "corrupted-" + final["live_digest"]
        final["equal"] = final["live_digest"] == final["oneshot_digest"]
        out.checks.append(final)
        if not final["equal"]:
            # the table is checked once at the end: a mismatch cannot be
            # pinned to a step, so every step counts as failed
            out.ok = [False] * len(out.ok)
        return out

    def check(self, spark, state: dict) -> dict:
        """documents_live against one-shot assemble_documents over every
        landed turn."""
        from lab02_citation_matching_and_entity_resolution_spark.operators.assemble import (
            assemble_documents,
        )
        from lab02_citation_matching_and_entity_resolution_spark.streaming.ingest import (
            TRANSCRIPT_DDL,
        )

        live = TableStore(spark, state["store"]).read("documents_live").drop("conv_bucket")
        oneshot = assemble_documents(spark.read.schema(TRANSCRIPT_DDL).json(state["src"]))
        cols = sorted(oneshot.columns)
        live_rows = live.select(cols).collect()
        return {
            "live_docs": len(live_rows),
            "live_digest": digest(live_rows),
            "oneshot_digest": digest(oneshot.select(cols).collect()),
        }


# Shapes are (duplicate count, turns per conversation) per entity.
# er_dense: 90 docs in clusters of 6-30, 4-12 turns, 945 planted pairs.
# er_long: 600 docs of 40-80 turns (36k turns) in clusters of 1-5.
# ingest_stream: a 45-conversation preload; each step lands 12 new
# conversations (100 turns) plus 2 follow-up turns on each of 8 landed ones.
SHORT = [(30, 4), (24, 6), (18, 8), (12, 10), (6, 12)]
WORKLOADS = {
    "er_dense": ErWorkload("er_dense", SHORT),
    "er_long": ErWorkload("er_long", list(zip([1, 2, 3, 4, 5], range(40, 81, 10))) * 40),
    "ingest_stream": IngestWorkload(
        list(zip([1, 2, 3, 4, 5], range(4, 13, 2))) * 3,
        [(2, 6), (3, 8), (3, 8), (4, 10)], followups=8,
    ),
}
