"""Multi-pass candidate-pair blocking with skew capping (SURVEY.md §2.3 J1/J2, §2.9 M1).

The reference blocks on a single equi-key (paper_id) and takes the per-block
cross product (ref: src/match_utils.py:427-495), capping oversized blocks by
random downsample (MAX_REFS/MAX_BIBS=200, :592-595).  At transcript scale one
key is not enough: we run several independent blocking passes and union their
candidate pairs —

  pass "token"     : prefix of the normalized document text (exact-dup key —
                     the analogue of the reference's arxiv_exact short-circuit
                     join, :446-448)
  pass "signature" : role/tool multiset + turn-count bucket (structural key)
  pass "minhash"   : MinHash-LSH bands over the token sets (recall extender)

Every pass yields (conv_id, block_key) rows (_keyed_passes); the pair-list
form self-joins them into canonical (left_id < right_id) pairs and dedups
the passes with one groupBy, the fused form (fused.py) scores inside the
same self-join.  Skew: any block larger than ``block_cap``
is capped BEFORE the self-join by a deterministic hash-ranked row_number —
order-free (no rand(); reference's random.sample is row-order dependent, see
SURVEY §7.4.4) — and every cap event is counted into a metrics DataFrame (no
silent truncation).

Scale notes: the self-join per pass shuffles on block_key; the cap bounds the
worst block to cap^2/2 pairs.  AQE skew-join splits residual imbalance.  The
LSH pass keys by (band, band hash) — bounded fan-out by construction.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BLOCK_CAP = 200  # reference MAX_REFS = MAX_BIBS = 200 (notebook cell 3)


@dataclass
class BlockingConfig:
    token_prefix_len: int = 48      # chars of normalized doc_text in the token key
    block_cap: int = DEFAULT_BLOCK_CAP
    seed: int = 23120334
    minhash_tables: int = 6         # LSH bands
    minhash_rows: int = 4           # minhashes per band (s-curve knee ~0.64)
    passes: tuple[str, ...] = ("token", "signature", "minhash")


def cap_block(
    df: DataFrame, block_cols: list[str], id_col: str, cap: int, rank: F.Column
) -> tuple[DataFrame, DataFrame]:
    """Deterministically keep at most ``cap`` rows per block.

    Rows are ranked inside each block by (``rank``, id).  The rank is a hash
    of the id, so the survivors are stable under any partitioning or row
    order, unlike rand().  ER blocking passes rank by xxhash64(id, seed);
    the dedup operators rank by dedup._md5_rank, which a DuckDB oracle can
    reproduce.  Returns (survivors, cap_metrics): one metrics row per capped
    block, (block_key, block_size, cap, rows_dropped), with block_key the
    block columns joined by "|".
    """
    from pyspark.sql.window import Window

    block = Window.partitionBy(*block_cols).orderBy(rank, F.col(id_col))
    capped = (
        df.withColumn("_rk", F.row_number().over(block))
        .where(F.col("_rk") <= cap)
        .drop("_rk")
    )
    # the audit counts the unranked rows: partial aggregation ships one
    # count per block and partition, where a count over the rank's window
    # would shuffle and sort every row (measured on local[4], 2M rows in
    # 200k blocks: 0.76 s as a groupBy vs 1.78 s as a window count)
    metrics = (
        df.groupBy(*block_cols)
        .agg(F.count(F.lit(1)).alias("block_size"))
        .where(F.col("block_size") > cap)
        .select(
            F.concat_ws("|", *[F.col(c).cast("string") for c in block_cols]).alias(
                "block_key"
            ),
            "block_size",
            F.lit(cap).alias("cap"),
            (F.col("block_size") - cap).alias("rows_dropped"),
        )
    )
    return capped, metrics


def _keyed_passes(docs: DataFrame, cfg: BlockingConfig):
    """[(pass_name, keyed[conv_id, block_key], cap_metrics + block_pass)].

    The one definition of every blocking key and its cap: candidate_pairs
    self-joins the keyed frames on ids alone, fused.fused_scored_pairs joins
    the doc payload onto them, so both forms block identically.

      token     : prefix of the normalized doc_text
      signature : sha1 of the role/tool multiset + turn-count bucket
      minhash   : ``band_idx#band_key`` of a token-MinHash LSH band

    Native banded MinHash (token explode -> salted-min signature -> band
    key) rather than Spark ML's MinHashLSH: the ML variant pays vector-UDT
    construction plus an approxSimilarityJoin whose explode dominated the
    blocking stage (~6x this pass's cost at bench scale).  Token-level:
    near-duplicate conversations keep a nearly identical token SET under
    word swaps/insertions, and tokens are ~10-30x fewer than char shingles
    (char-shingle MinHash stays in dedup.py).  array_distinct before the
    explode: min() is duplicate-invariant, so the signatures are identical
    while the exploded rows (each paying n_hashes xxhash64 evals) shrink by
    the per-doc token repetition factor.  Band
    buckets are capped like every other block (md5-ranked, as in
    dedup.minhash_band_pairs), so a boilerplate token set shared by
    thousands of docs cannot explode the self-join.
    """
    from .dedup import _md5_rank, minhash_band_index

    xx_rank = F.xxhash64("conv_id", F.lit(cfg.seed))
    out = []
    if "token" in cfg.passes:
        keyed = docs.select(
            "conv_id",
            F.substring("doc_text", 1, cfg.token_prefix_len).alias("block_key"),
        ).where(F.length("block_key") > 0)
        out.append(
            ("token", *cap_block(keyed, ["block_key"], "conv_id", cfg.block_cap, xx_rank))
        )
    if "signature" in cfg.passes:
        keyed = docs.select(
            "conv_id",
            F.sha1(
                F.concat_ws(
                    "|",
                    F.concat_ws(",", "roles"),
                    F.concat_ws(",", "tools"),
                    (F.col("n_turns") / 4).cast("int").cast("string"),
                )
            ).alias("block_key"),
        )
        out.append(
            ("signature", *cap_block(keyed, ["block_key"], "conv_id", cfg.block_cap, xx_rank))
        )
    if "minhash" in cfg.passes:
        n_hashes = cfg.minhash_tables * cfg.minhash_rows
        exploded = docs.select("conv_id", F.explode(F.array_distinct("tokens")).alias("tok"))
        sigs = exploded.groupBy("conv_id").agg(
            *[
                F.min(F.xxhash64(F.col("tok"), F.lit(i))).alias(f"h{i}")
                for i in range(n_hashes)
            ]
        )
        banded = minhash_band_index(
            sigs, n_hashes=n_hashes, bands=cfg.minhash_tables, id_col="conv_id"
        )
        capped, m = cap_block(
            banded, ["band_idx", "band_key"], "conv_id", cfg.block_cap,
            _md5_rank("conv_id", cfg.seed),
        )
        keyed = capped.select(
            "conv_id", F.concat_ws("#", "band_idx", "band_key").alias("block_key")
        )
        out.append(("minhash", keyed, m))
    return [(name, keyed, m.withColumn("block_pass", F.lit(name))) for name, keyed, m in out]


def clean_for_shingles(col: F.Column) -> F.Column:
    """The shingler's text canonicalization: lowercase, all whitespace removed."""
    return F.regexp_replace(F.lower(col), r"\s+", "")


def shingle_expr_cleaned(cleaned: F.Column, n: int) -> F.Column:
    """Distinct char n-grams of an ALREADY-cleaned (clean_for_shingles) column.

    Callers should materialize the cleaned text as a named column in a
    separate projection and pass the attribute here: expressions inside a
    higher-order-function lambda are re-evaluated PER ELEMENT, so inlining
    the regexp_replace(lower(...)) subtree into the lambda re-runs the
    whitespace regexp once per shingle position (~250x per doc per n).
    Measured on the round-7 probe: doc_payload's three shingle sets cost
    5.7 s/eval at 18.5k docs with the inlined subtree vs ~0.8 s against a
    materialized attribute.  CollapseProject keeps the two projections
    separate because the cleaned column is expensive and multiply
    referenced (SPARK-36718), so no shuffle or barrier is needed.
    """
    return F.when(
        F.length(cleaned) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(cleaned) - n + 1),
                lambda i: cleaned.substr(i, F.lit(n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def candidate_pairs(docs: DataFrame, cfg: BlockingConfig | None = None) -> tuple[DataFrame, DataFrame]:
    """Union of all blocking passes, canonical + deduplicated.

    Returns (pairs_df[left_id, right_id, block_passes], cap_metrics_df).
    """
    cfg = cfg or BlockingConfig()
    docs = docs.persist()
    pairs, metrics = [], []
    for pass_name, keyed, m in _keyed_passes(docs, cfg):
        l = keyed.select("block_key", F.col("conv_id").alias("left_id"))
        r = keyed.select("block_key", F.col("conv_id").alias("right_id"))
        pairs.append(
            l.join(r, "block_key")
            .where(F.col("left_id") < F.col("right_id"))
            .select("left_id", "right_id", F.lit(pass_name).alias("block_pass"))
        )
        metrics.append(m)
    unioned = reduce(DataFrame.unionByName, pairs)
    return (
        unioned.groupBy("left_id", "right_id").agg(
            F.sort_array(F.collect_set("block_pass")).alias("block_passes")
        ),
        reduce(DataFrame.unionByName, metrics),
    )
