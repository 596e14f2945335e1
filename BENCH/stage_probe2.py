#!/usr/bin/env python
"""Round-7 probe #2: per-feature-class attribution of the all-features pair
stage, payload internals, and ML-transform overhead in isolation."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_BASE = int(os.environ.get("SPARK_GRAFT_BENCH_NBASE", "6000"))


def main() -> None:
    from pyspark.sql import functions as F

    from lab02_citation_matching_and_entity_resolution_spark.session import get_spark
    from lab02_citation_matching_and_entity_resolution_spark.synth import (
        SynthConfig,
        transcripts_df_distributed,
    )
    from lab02_citation_matching_and_entity_resolution_spark.operators.assemble import (
        assemble_documents,
    )
    from lab02_citation_matching_and_entity_resolution_spark.operators.blocking import (
        candidate_pairs,
    )
    from lab02_citation_matching_and_entity_resolution_spark.operators import features as FT
    from lab02_citation_matching_and_entity_resolution_spark.operators.features import (
        doc_payload,
        prefixed_payload,
        pair_features,
        levenshtein_sim_col,
        either_empty_jaccard_col,
        any_shared_col,
        year_match_col,
        year_diff_col,
        jaro_winkler_udf,
        LEV_MAX_DIST,
    )
    from lab02_citation_matching_and_entity_resolution_spark.operators.tfidf import (
        doc_tfidf_maps,
    )
    from lab02_citation_matching_and_entity_resolution_spark.operators.scoring import (
        fit_logistic,
        score_pairs_logistic,
        score_pairs_rule,
        logistic_weights_scorer,
        sigmoid_score_col,
    )
    from lab02_citation_matching_and_entity_resolution_spark.operators.tfidf import (
        pair_tfidf_cosine,
    )

    spark = get_spark(app_name="stage-probe2", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 32))
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    out: dict = {}

    def probe(name, mk, select=None, reps=2):
        times = []
        for i in range(reps):
            sc.setJobDescription(f"probe2:{name}#{i}")
            t0 = time.time()
            df = mk()
            force(df.select(*select) if select else df)
            times.append(round(time.time() - t0, 3))
        sc.setJobDescription(None)
        out[name] = times
        print(json.dumps({name: times}), flush=True)

    tr = transcripts_df_distributed(spark, SynthConfig(n_base=N_BASE)).persist()
    tr.count()
    docs = assemble_documents(tr).persist()
    docs.count()
    pairs, _ = candidate_pairs(docs)
    pairs = pairs.persist()
    n_pairs = pairs.count()
    print(json.dumps({"n_pairs": n_pairs}), flush=True)

    # --- payload internals (doc side only, 18k rows) ---
    npfx = F.substring("doc_text", 1, FT.NGRAM_PREFIX_CAP)
    from lab02_citation_matching_and_entity_resolution_spark.operators.blocking import (
        clean_for_shingles,
        shingle_expr_cleaned,
    )

    def shingles_inline(col, n):
        # cleaning inlined into the shingle lambda (the pre-round-7 shape)
        return shingle_expr_cleaned(clean_for_shingles(col), n)

    def hashed(arr):
        return F.transform(arr, lambda s: F.xxhash64(s))

    probe("payload_noshingle", lambda: docs.select(
        "conv_id",
        F.xxhash64("doc_text").alias("text_sig"),
        F.length("doc_text").alias("text_len"),
        F.substring("doc_text", 1, FT.LEV_PREFIX_CAP).alias("pfx"),
        hashed(F.array_distinct(F.col("tokens"))).alias("tokset"),
        F.size(F.col("tokens")).alias("ntok"),
        F.concat(F.col("roles"), F.col("tools")).alias("sig"),
        F.col("tools").alias("tools"),
        F.col("year_like").alias("year"),
    ))
    probe("payload_sh_only", lambda: docs.select(
        "conv_id",
        *[hashed(shingles_inline(npfx, n)).alias(f"sh{n}") for n in (3, 4, 5)],
    ))
    probe("payload_sh3_only", lambda: docs.select(
        "conv_id", hashed(shingles_inline(npfx, 3)).alias("sh3"),
    ))
    probe("payload_shnsh", lambda: docs.select(
        "conv_id",
        *[hashed(shingles_inline(npfx, n)).alias(f"sh{n}") for n in (3, 4, 5)],
        *[F.size(shingles_inline(npfx, n)).alias(f"nsh{n}") for n in (3, 4, 5)],
    ))
    probe("payload_full", lambda: doc_payload(docs))

    # --- bare double join, payload shipped, NO feature exprs ---
    pay = doc_payload(docs)

    def joined_only():
        return pairs.join(
            prefixed_payload(pay, "l", "left_id").hint("shuffle_hash"), "left_id"
        ).join(prefixed_payload(pay, "r", "right_id").hint("shuffle_hash"), "right_id")

    # forces every heavy array across both shuffles, touches them only O(1)
    probe("joined_shiponly", lambda: joined_only().select(
        "left_id", "right_id",
        *[(F.size(F.col(f"{s}_sh{n}")) + F.element_at(F.col(f"{s}_sh{n}"), 1)
           ).alias(f"{s}{n}w") for s in "lr" for n in (3, 4, 5)],
        *[F.length(F.col(f"{s}_pfx")).alias(f"{s}pl") for s in "lr"],
        *[F.size(F.col(f"{s}_tokset")).alias(f"{s}ts") for s in "lr"]))

    def j(name, cols):
        probe(name, lambda: joined_only().select("left_id", "right_id", *cols))

    # per-feature-class on top of the join (forces only that class's inputs)
    j("feat_lev", [
        F.when(
            (F.col("l_text_sig") == F.col("r_text_sig"))
            & (F.col("l_text_len") == F.col("r_text_len"))
            & (F.col("l_text_len") > 0), F.lit(1.0),
        ).otherwise(
            levenshtein_sim_col(F.col("l_pfx"), F.col("r_pfx"), max_dist=LEV_MAX_DIST)
        ).alias("levenshtein")])

    def ngram_jac(n):
        a, b = F.col(f"l_sh{n}"), F.col(f"r_sh{n}")
        na, nb = F.col(f"l_nsh{n}"), F.col(f"r_nsh{n}")
        inter = F.size(F.array_intersect(a, b))
        return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(
            inter / (na + nb - inter))

    j("feat_ngram", [ngram_jac(n).alias(f"char_ngram_{n}") for n in (3, 4, 5)])
    j("feat_tokset", [
        F.when(F.size(F.array_union("l_tokset", "r_tokset")) == 0, F.lit(0.0))
        .otherwise(F.size(F.array_intersect("l_tokset", "r_tokset"))
                   / F.size(F.array_union("l_tokset", "r_tokset"))).alias("jaccard"),
        F.size(F.array_intersect("l_tokset", "r_tokset")).alias("token_overlap"),
    ])
    j("feat_jw", [jaro_winkler_udf(F.col("l_pfx"), F.col("r_pfx")).alias("jw")])
    j("feat_misc", [
        either_empty_jaccard_col(F.col("l_sig"), F.col("r_sig")).alias("rto"),
        any_shared_col(F.col("l_tools"), F.col("r_tools")).alias("sm"),
        year_match_col(F.col("l_year"), F.col("r_year")).alias("ym"),
        year_diff_col(F.col("l_year"), F.col("r_year")).alias("yd"),
    ])

    # --- ML transform overhead on a MATERIALIZED feature frame ---
    feat = pair_tfidf_cosine(pair_features(pairs, docs), docs).persist()
    feat.count()
    train = score_pairs_rule(feat.limit(20000)).withColumn(
        "label", (F.col("score") >= 0.5).cast("int"))
    model = fit_logistic(train, "label")
    probe("ml_transform_only", lambda: score_pairs_logistic(model, feat),
          select=["left_id", "right_id", "model_score"])
    w, b = logistic_weights_scorer(model)
    probe("sigmoid_only", lambda: feat.withColumn(
        "model_score", F.round(sigmoid_score_col(w, b), 6)),
        select=["left_id", "right_id", "model_score"])
    feat.unpersist()

    print(json.dumps({"ALL2": out, "n_pairs": n_pairs}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
