"""Components double-jump experiment (r16, VERDICT item 6): does a
second pointer-jump per round (comp <- comp(comp(comp))) save enough
rounds to pay for its extra self-join?

Runs the sf-dir curate pair graph (and a deep synthetic chain) through
the production loop and a double-jump variant, reporting rounds, jobs
(statusTracker) and wall-clock mins. The variant mirrors the r16
one-action-per-round structure so the comparison isolates the jump
count, not the checkpoint discipline.

Usage: python tools/components_double_jump_probe.py [sf_dir] [runs]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def double_jump_components(pairs, max_iter=25):
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.dedup import (
        _truncate_lineage,
    )

    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    edges = _truncate_lineage(
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .unionByName(
            edges.select("src", F.col("src").alias("dst")).unionByName(
                edges.select(F.col("dst").alias("src"), "dst")
            )
        )
        .distinct(),
        eager=False,
    )
    labels = _truncate_lineage(
        edges.select(F.col("dst").alias("node"), F.col("src").alias("comp"))
        .groupBy("node")
        .agg(F.min("comp").alias("comp")),
        eager=False,
    )

    def label_sum(lbls):
        return lbls.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
        ).first()["s"]

    prev_sum = label_sum(labels)
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        nm = _truncate_lineage(
            edges.join(labels, edges["src"] == labels["node"])
            .select(F.col("dst").alias("node"), "comp")
            .groupBy("node")
            .agg(F.min("comp").alias("comp")),
            eager=False,
        )
        cur = label_sum(nm)
        if cur == prev_sum:
            return nm, rounds
        j1 = nm.select(F.col("node").alias("jn"), F.col("comp").alias("jc"))
        once = nm.join(j1, nm["comp"] == j1["jn"], "left").select(
            "node", F.coalesce("jc", "comp").alias("comp")
        )
        # second jump: needs `once` twice in one plan — materialize it
        # first via an eager cut (this is the double-jump's structural
        # cost: one extra action OR one recomputed join per round)
        once = _truncate_lineage(once)
        j2 = once.select(
            F.col("node").alias("jn"), F.col("comp").alias("jc")
        )
        labels = _truncate_lineage(
            once.join(j2, once["comp"] == j2["jn"], "left").select(
                "node", F.coalesce("jc", "comp").alias("comp")
            ),
            eager=False,
        )
        prev_sum = cur
    return labels, rounds


def main() -> int:
    from pyspark.sql import functions as F

    from inbev_data_engineering_case_spark.operators.dedup import (
        _materialize,
        dedup_components_with_stats,
        minhash_dedup_pairs,
    )
    from inbev_data_engineering_case_spark.operators.textops import (
        score_documents,
    )
    from inbev_data_engineering_case_spark.queries import _corpus_near
    from inbev_data_engineering_case_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("double-jump-probe")
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()

    def jobs():
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) if ids else 0

    corpus = _corpus_near(spark, sf_dir)
    eligible = _materialize(
        score_documents(corpus, "text", "doc_id").filter(
            F.col("lang").isin("en") & (F.col("quality") >= 0.3)
        )
    )
    pairs = _materialize(minhash_dedup_pairs(eligible, "text", "doc_id"))
    pairs.write.format("noop").mode("overwrite").save()  # build state once

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(255)], "id_a long, id_b long"
    )

    for label, graph in (("curate-pairs", pairs), ("chain-256", chain)):
        for variant, fn in (
            ("single-jump (prod)", dedup_components_with_stats),
            ("double-jump", double_jump_components),
        ):
            fn(graph)[0].write.format("noop").mode("overwrite").save()
            best, rr = None, None
            j0 = jobs()
            for _ in range(runs):
                t0 = time.perf_counter()
                labels, rr = fn(graph)
                labels.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            comps = {r["comp"] for r in labels.select("comp").distinct().collect()}
            print(
                f"{label:14s} {variant:20s} rounds={rr:2d} "
                f"min={best:6.3f}s jobs/run={(jobs()-j0)/runs:5.1f} "
                f"ncomp={len(comps)}",
                flush=True,
            )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
