"""Spans around the package's layer calls, for the traced run only.

``instrumented`` swaps module attributes for wrappers that open a span, call
the original, and materialise its output inside the span (persist + count),
so each layer's work is done, and counted, where the layer is called.  The
shipped entry points (``cli.main``, ``start_ingest``) then run unchanged and
pick the wrappers up through their module globals.  Everything is restored on
exit.

``probe_fused`` re-runs the calls the fused plan makes internally (doc
payload, blocking, the Jaro-Winkler UDF) as separate spans marked ``probe``
under the ``fused`` span.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import functions as F

import lab02_citation_matching_and_entity_resolution_spark.operators.fused as fused_mod
import lab02_citation_matching_and_entity_resolution_spark.plans.pipeline as pipeline_mod
import lab02_citation_matching_and_entity_resolution_spark.session as session_mod
import lab02_citation_matching_and_entity_resolution_spark.streaming.ingest as ingest_mod
from lab02_citation_matching_and_entity_resolution_spark.sources.tables import TableStore

TABLE_WRITES = (
    "append", "create_or_replace", "overwrite_partitions", "merge_upsert",
    "merge_upsert_partitioned", "replace_groups_partitioned",
)


@contextmanager
def instrumented(tracer):
    saved = []

    def patch(obj, name, make):
        orig = getattr(obj, name)
        saved.append((obj, name, orig))
        setattr(obj, name, make(orig))

    def get_spark(orig):
        def wrapped(*a, **k):
            with tracer.span("session"):
                return orig(*a, **k)
        return wrapped

    def assemble(orig):
        def wrapped(*a, **k):
            with tracer.span("assemble") as sp:
                docs = orig(*a, **k).persist()
                sp["extras"]["rows_out"] = docs.count()
            return docs
        return wrapped

    def fused(orig):
        def wrapped(*a, **k):
            with tracer.span("fused") as sp:
                scored, metrics = orig(*a, **k)
                scored = scored.persist()
                sp["extras"]["rows_out"] = scored.count()
            return scored, metrics
        return wrapped

    def cc(orig):
        # run_pipeline hands the persisted threshold filter to CC as its
        # edges: counting them first is the resolve layer's work
        def wrapped(edges, *a, stats=None, **k):
            with tracer.span("resolve") as sp:
                sp["extras"]["rows_out"] = edges.count()
            stats = {} if stats is None else stats
            with tracer.span("clustering") as sp:
                out = orig(edges, *a, stats=stats, **k).persist()
                sp["extras"]["rows_out"] = out.count()
                sp["extras"]["rounds"] = stats.get("rounds") or 0
                sp["extras"]["fallback"] = int(bool(stats.get("fallback")))
            return out
        return wrapped

    def table_write(orig):
        def wrapped(*a, **k):
            with tracer.span("tables"):
                return orig(*a, **k)
        return wrapped

    def handler(orig):
        def make(*a, **k):
            process = orig(*a, **k)

            def traced(batch_df, batch_id):
                with tracer.span("ingest"):
                    process(batch_df, batch_id)
            return traced
        return make

    def history(orig):
        def wrapped(*a, **k):
            rows = orig(*a, **k).persist()
            ex = tracer.current()["extras"]
            ex["history_rows_read"] = ex.get("history_rows_read", 0) + rows.count()
            return rows
        return wrapped

    patch(session_mod, "get_spark", get_spark)
    patch(pipeline_mod, "assemble_documents", assemble)
    patch(ingest_mod, "assemble_documents", assemble)
    patch(fused_mod, "fused_scored_pairs", fused)
    patch(pipeline_mod, "connected_components_auto", cc)
    patch(ingest_mod, "incremental_assemble", handler)
    patch(ingest_mod, "pruned_history", history)
    for name in TABLE_WRITES:
        patch(TableStore, name, table_write)
    try:
        yield
    finally:
        for obj, name, orig in reversed(saved):
            setattr(obj, name, orig)


def _materialise(df) -> int:
    return df.persist().count()


def probe_fused(tracer, docs, truth: set[tuple[str, str]], scored_rows: int) -> None:
    """Re-run the fused plan's internal calls under the ``fused`` span."""
    from lab02_citation_matching_and_entity_resolution_spark.operators.blocking import (
        BlockingConfig,
        candidate_pairs,
    )
    from lab02_citation_matching_and_entity_resolution_spark.operators.features import (
        doc_payload,
        jaro_winkler_udf,
    )
    from lab02_citation_matching_and_entity_resolution_spark.operators.tfidf import (
        doc_tfidf_maps,
        hashed_key_maps,
    )

    fused_id = next(s["id"] for s in reversed(tracer.spans) if s["name"] == "fused")
    cfg = BlockingConfig()

    with tracer.span("fused.payload", probe=True, parent=fused_id) as sp:
        pay = doc_payload(docs).join(
            hashed_key_maps(doc_tfidf_maps(docs)), "conv_id", "left"
        )
        sp["extras"]["rows_out"] = _materialise(pay)
    pay.unpersist()

    with tracer.span("blocking", probe=True, parent=fused_id) as sp:
        pairs, caps = candidate_pairs(docs, cfg)
        pairs = pairs.persist()
        n_pairs = pairs.count()
        cap_row = caps.agg(
            F.count(F.lit(1)).alias("blocks"),
            F.coalesce(F.sum("rows_dropped"), F.lit(0)).alias("dropped"),
        ).collect()[0]
        sp["extras"].update(
            rows_out=n_pairs, pairs=n_pairs,
            capped_blocks=int(cap_row["blocks"]), cap_rows_dropped=int(cap_row["dropped"]),
        )
    found = {(r["left_id"], r["right_id"]) for r in pairs.select("left_id", "right_id").collect()}
    sp["extras"]["recall"] = len(found & truth) / len(truth) if truth else 1.0
    pairs.unpersist()

    # the rows the fused plan scores: every (block, left < right) occurrence
    # of every pass, before the cross-pass dedup
    with tracer.span("probe.setup", probe=True, parent=fused_id) as sp:
        occ = None
        for _, keyed, _ in fused_mod._keyed_passes(docs, cfg):
            l = keyed.select(F.col("conv_id").alias("left_id"), "block_key")
            r = keyed.select(F.col("conv_id").alias("right_id"), "block_key")
            part = l.join(r, "block_key").where(F.col("left_id") < F.col("right_id"))
            occ = part if occ is None else occ.unionByName(part)
        occ = occ.select("left_id", "right_id").persist()
        n_occ = occ.count()
        pfx = doc_payload(docs).select("conv_id", "pfx").persist()
        pfx.count()
    fused_span = next(s for s in tracer.spans if s["id"] == fused_id)
    fused_span["extras"]["passes_per_pair"] = n_occ / scored_rows if scored_rows else 0.0

    def pair_prefixes():
        return occ.join(
            pfx.select(F.col("conv_id").alias("left_id"), F.col("pfx").alias("l_pfx")), "left_id"
        ).join(
            pfx.select(F.col("conv_id").alias("right_id"), F.col("pfx").alias("r_pfx")), "right_id"
        )

    # Jaro-Winkler self time: the same pair x prefix plan with the UDF and
    # with a native expression in its place
    with tracer.span("features.jaro_winkler", probe=True, parent=fused_id) as sp:
        with tracer.span("probe.jw_with_udf", probe=True) as with_udf:
            pair_prefixes().agg(F.sum(jaro_winkler_udf("l_pfx", "r_pfx"))).collect()
        with tracer.span("probe.jw_without_udf", probe=True) as without:
            pair_prefixes().agg(
                F.sum((F.length("l_pfx") + F.length("r_pfx")).cast("double"))
            ).collect()
        sp["extras"]["rows_out"] = n_occ
        sp["jw_pair"] = (with_udf["id"], without["id"])
    occ.unpersist()
    pfx.unpersist()
