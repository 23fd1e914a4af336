"""Mergeable distinct-count sketch rollups (HyperLogLog partials).

The 100 TB incremental-analytics pattern: distinct-count questions over
arbitrary date ranges ("unique users last 7/30/90 days") cannot afford a
rescan of raw events per question. Instead, aggregate each day ONCE into
a fixed-size HLL sketch row (Apache DataSketches via Spark's
``hll_sketch_agg``), store the partials, and answer any range by
union-merging the covered sketches (``hll_union_agg``) — a few KB per
bucket regardless of cardinality, and the merge touches only
``n_buckets`` rows, never the raw data.

Why this is the scale path (vs ``q_count_distinct``'s exact pass or
``q_approx_count_distinct``'s one-shot sketch): partials are MERGEABLE —
register-wise max is associative and lossless for same-``lg_k``
sketches — so daily sketch rows compose into weekly/monthly/arbitrary
windows without revisiting history, the same artifact-advancement shape
as ``curate.advance_corpus_artifacts`` but for analytics state.

Extends the reference's gold aggregation family (SURVEY.md §2.6
"aggregations verified absent"); no counterpart in the 490-LoC reference
(gold_data_aggregation.py stops at exact group-by count).

Scale shape:
- the partial aggregation is map-side combinable (sketches merge in the
  partial-agg phase), so the exchange carries one sketch per
  (group, bucket) — bytes, not rows;
- the range merge reads ``n_buckets`` sketch rows — independent of raw
  cardinality;
- no Python anywhere: sketch agg/union/estimate are JVM expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inbev_data_engineering_case_spark.functions import sql_ident

# lg_k = 12 -> 4 KiB registers, ~1.6% relative standard error; the
# documented DataSketches default trade for analytics rollups.
DEFAULT_LG_K = 12


def sketch_partials(
    events: DataFrame,
    group_col: str = "event_type",
    key_col: str = "user_id",
    ts_col: str = "ts",
    unit: str = "day",
    lg_k: int = DEFAULT_LG_K,
) -> DataFrame:
    """One HLL sketch row per (group, time bucket): the stored partial.

    ``(group_col, bucket_ts, sketch)`` — ``sketch`` is the binary
    DataSketches HllSketch blob. At 100 TB this is the table you write
    daily (append-only, like the dedup signature store); its size is
    ``groups x buckets x ~2^lg_k bytes``, independent of event volume.
    """
    return events.groupBy(
        F.col(group_col), F.date_trunc(unit, F.col(ts_col)).alias("bucket_ts")
    ).agg(F.hll_sketch_agg(F.col(key_col), F.lit(lg_k)).alias("sketch"))


def rollup_estimate(
    partials: DataFrame, group_col: str = "event_type"
) -> DataFrame:
    """Merge stored per-bucket sketches per group and estimate the
    distinct count over the whole covered range — the arbitrary-window
    answer that never rescans raw events.

    ``(group_col, merged_estimate)``; filter ``partials`` on
    ``bucket_ts`` first for a sub-range.
    """
    return partials.groupBy(group_col).agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch"))).alias(
            "merged_estimate"
        )
    )


def sketch_rollup_report(
    events: DataFrame,
    group_col: str = "event_type",
    key_col: str = "user_id",
    ts_col: str = "ts",
    unit: str = "day",
    lg_k: int = DEFAULT_LG_K,
    rel_err: float = 0.05,
) -> DataFrame:
    """Self-verifying rollup: per group, the merged-partials estimate,
    the direct one-shot sketch estimate, and the exact distinct count.

    Output (one row per group, all engine-stable):
    - ``exact_keys``    exact distinct count (hash-comparable anchor);
    - ``merged_within_tol`` merged-partials estimate within ``rel_err``
      of exact — the accuracy property;
    - ``merge_lossless``    merged-partials estimate == direct
      whole-range sketch estimate — the mergeability property
      (register-max union of same-``lg_k`` sketches is exactly the
      sketch of the union, so daily partials lose nothing vs a rescan).
    """
    partials = sketch_partials(events, group_col, key_col, ts_col, unit, lg_k)
    merged = rollup_estimate(partials, group_col)
    direct = events.groupBy(group_col).agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col(key_col), F.lit(lg_k))
        ).alias("direct_estimate"),
        F.countDistinct(key_col).alias("exact_keys"),
    )
    return (
        direct.join(merged, group_col)
        .select(
            group_col,
            "exact_keys",
            (
                F.abs(F.col("merged_estimate") - F.col("exact_keys"))
                <= F.lit(rel_err) * F.col("exact_keys")
            ).alias("merged_within_tol"),
            (F.col("merged_estimate") == F.col("direct_estimate")).alias(
                "merge_lossless"
            ),
        )
        .orderBy(group_col)
    )


# --- count-min frequency partials ------------------------------------------
# The counting twin of the HLL rollup: "how often did item X occur in
# range R" without a per-item exact count over raw history. Counter-wise
# SUM is associative and lossless, so per-day partial tables compose into
# any window — the same store-partials-once shape as sketch_partials.
# Deterministic portable hashing (seeded portable_hash64) makes the whole
# sketch exactly replayable in the DuckDB oracle — no RNG, no approximation
# ambiguity: the estimate is a deterministic function of the data.

CMS_DEPTH = 4
CMS_WIDTH = 256


def _cms_cells(item: str, depth: int, width: int) -> F.Column:
    """Array of (r, c) cells an item touches — one per hash row
    (``item`` is SQL expression text)."""
    from inbev_data_engineering_case_spark.functions import portable_hash64

    return F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                (portable_hash64(item, seed=r + 1) % width).alias("c"),
            )
            for r in range(depth)
        ]
    )


def cms_partials(
    events: DataFrame,
    item_col: str = "user_id",
    ts_col: str = "ts",
    unit: str = "day",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Sparse count-min partials per time bucket:
    ``(bucket_ts, r, c, cnt)`` — at most ``buckets x depth x width``
    rows regardless of event volume (the stored table), built in ONE
    scan (cells explode in-row; the exchange is partial-aggregated on
    the bounded (bucket, r, c) key, never event-sized).

    Estimates from a count-min sketch are one-sided: ``est >= true``
    always, and ``est <= true + eN/width`` in expectation per row —
    the min over ``depth`` rows tightens the bound exponentially.

    The build dimensions ride along as constant ``depth``/``width``
    columns (bytes on a bounded table): ``cms_estimate`` validates its
    own dimensions against them, because probing a sketch with the
    wrong geometry would silently return 0 — inverting the one-sided
    guarantee — instead of failing.
    """
    if depth < 1 or width < 1:
        raise ValueError("cms_partials: depth and width must be >= 1")
    return (
        events.select(
            F.date_trunc(unit, F.col(ts_col)).alias("bucket_ts"),
            F.explode(
                _cms_cells(sql_ident(item_col), depth, width)
            ).alias("rc"),
        )
        .groupBy("bucket_ts", F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "*",
            F.lit(depth).alias("depth"),
            F.lit(width).alias("width"),
        )
    )


def cms_estimate(
    partials: DataFrame,
    items: DataFrame,
    item_col: str = "user_id",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Frequency estimates for ``items`` from stored partials (optionally
    pre-filtered to a bucket range): merge = counter-wise SUM over the
    covered buckets (touches ``<= buckets x depth x width`` rows, never
    raw events), then each item reads its ``depth`` cells and takes the
    min (absent cell = 0). Returns ``(item, est_count)`` with the
    one-sided guarantee ``est_count >= true count`` for items drawn
    from the sketched stream.

    Dimension safety: if the partials carry build-time ``depth``/
    ``width`` columns (``cms_partials`` writes them), any mismatch
    with this call's parameters fails loudly inside the plan — a
    wrong-geometry probe would otherwise hash to absent cells and
    return 0, silently inverting the one-sided guarantee.
    """
    if depth < 1 or width < 1:
        raise ValueError("cms_estimate: depth and width must be >= 1")
    if {"depth", "width"} <= set(partials.columns):
        guard = F.when(
            (F.col("depth") != depth) | (F.col("width") != width),
            F.raise_error(
                F.concat(
                    F.lit(
                        "cms_estimate: sketch built with (depth, width) = ("
                    ),
                    F.col("depth").cast("string"),
                    F.lit(", "),
                    F.col("width").cast("string"),
                    F.lit(f"), probed with ({depth}, {width})"),
                )
            ).cast("bigint"),
        ).otherwise(F.col("cnt"))
        partials = partials.select(
            "r", "c", guard.alias("cnt")
        )
    merged = partials.groupBy("r", "c").agg(F.sum("cnt").alias("cnt"))
    probes = items.select(
        F.col(item_col).alias("item"),
        F.explode(_cms_cells(sql_ident(item_col), depth, width)).alias("rc"),
    ).select("item", F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
    return (
        probes.join(F.broadcast(merged), ["r", "c"], "left")
        .groupBy("item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )
