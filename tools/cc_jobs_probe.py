#!/usr/bin/env python
"""Measure WHERE graph_cluster_keep_best's ~57 bench jobs go (r14 #1).

Replays the production cc fixpoint phase by phase with a job group per
phase, so the Spark job count of each piece (edge build, per-round
star contraction, convergence probe, keep-best tail) is attributed
mechanically. The phases call the PRODUCTION functions
(llmops.graph._near_dup_edge_parts / _large_star / _small_star /
barrier) so the measured plan is the declared one; the full declared
key is also run under one group as the total cross-check.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from bigdataprojectspring16_spark import QUERIES, get_session  # noqa: E402
from bigdataprojectspring16_spark.llmops import graph  # noqa: E402
from bigdataprojectspring16_spark.plans.barriers import barrier  # noqa: E402
from bigdataprojectspring16_spark.tables import load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    spark = get_session("cc-jobs-probe")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_in(group: str) -> int:
        return len(tracker.getJobIdsForGroup(group))

    def phase(name: str):
        sc.setJobGroup(name, name)
        return name

    d = load_table(spark, SF_DIR, "documents")

    # --- phase 1: edge build (rep graph parts), materialized eagerly
    g = phase("p1_edges")
    t0 = time.perf_counter()
    rep_nodes, rep_edges, spokes = graph._near_dup_edge_parts(d, 0.95)
    e = barrier(
        rep_edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )

    prev_n = graph._count_materialize(e)
    t1 = time.perf_counter()
    print(f"p1_edges+count0: jobs={jobs_in(g)} wall={t1 - t0:.2f}s n={prev_n}")

    # --- phase 2: rounds (r14 scheme: count gate + exact star test)
    rounds = 0
    converged_at = None
    for i in range(graph.MAX_ITERATIONS):
        rounds += 1
        g = phase(f"p2_round{rounds}")
        t0 = time.perf_counter()
        new = barrier(graph._small_star(graph._large_star(e)))
        n_new = graph._count_materialize(new)
        count_equal = n_new == prev_n
        t1 = time.perf_counter()
        n_jobs = jobs_in(g)
        print(
            f"p2_round{rounds}: jobs={n_jobs} wall={t1 - t0:.2f}s "
            f"n={n_new} count_equal={count_equal}"
        )
        converged = False
        if count_equal:
            g = phase(f"p3_starcheck_r{rounds}")
            t0 = time.perf_counter()
            converged = graph._is_star_forest(new)
            t1 = time.perf_counter()
            print(
                f"p3_starcheck: jobs={jobs_in(g)} wall={t1 - t0:.2f}s "
                f"is_star={converged}"
            )
        e, prev_n = new, n_new
        if converged:
            converged_at = rounds
            break
    print(f"rounds_to_fixpoint={converged_at}")

    # --- phase 4: labels + keep-best tail (the declared key's tail)
    g = phase("p4_tail")
    t0 = time.perf_counter()
    stars = e.groupBy(F.col("src").alias("node")).agg(
        F.min("dst").alias("component")
    )
    rep_labels = rep_nodes.join(stars, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )
    member_labels = spokes.join(
        rep_labels, spokes["dst"] == rep_labels["node"]
    ).select(F.col("src").alias("doc_id"), "component")
    comp = rep_labels.select(
        F.col("node").alias("doc_id"), "component"
    ).unionByName(member_labels)
    score = F.col("n_chars") * 1000000 - F.col("doc_id")
    keep = (
        comp.join(d.select("doc_id", "n_chars"), "doc_id")
        .groupBy("component")
        .agg(F.max_by("doc_id", score).alias("kept_id"))
    )
    out = keep.join(d, keep.kept_id == d.doc_id).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.sum("n_chars").alias("total_chars"),
    )
    out.write.format("noop").mode("overwrite").save()
    t1 = time.perf_counter()
    print(f"p4_tail: jobs={jobs_in(g)} wall={t1 - t0:.2f}s")

    # --- cross-check: the declared key end to end under one group
    g = phase("p5_declared_total")
    t0 = time.perf_counter()
    QUERIES["graph_cluster_keep_best"](spark, SF_DIR).write.format(
        "noop"
    ).mode("overwrite").save()
    t1 = time.perf_counter()
    print(f"p5_declared_total: jobs={jobs_in(g)} wall={t1 - t0:.2f}s")
    spark.stop()


if __name__ == "__main__":
    main()
