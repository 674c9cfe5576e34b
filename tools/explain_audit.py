"""Physical-plan audit: the scale-readiness gate.

For each audited query, capture ``explain('formatted')`` and check the
plan properties that matter at 100 TB:

  - parquet scans carry PushedFilters / pruned ReadSchema where expected
  - small-side joins broadcast (BroadcastHashJoin / BroadcastNestedLoop
    for cross joins), with an explicit no-SortMergeJoin assertion where
    every join in the query has a broadcastable side
  - relational queries contain NO Python UDFs (ArrowEvalPython /
    BatchEvalPython nodes) — only the LSH hasher and mapInPandas
    extractor are allowed Python
  (WholeStageCodegen is active but Spark 4's AQE explain output does not
  label codegen spans, so it is not asserted here.)

Writes PLANS.md with every plan + per-check verdicts under the system
temp directory (never over the tracked PLANS.md) and prints its path;
exits nonzero on hard violations. Run: python tools/explain_audit.py
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# query -> (expect_broadcast, expect_pushed_filter, allow_python, forbid_smj)
AUDITS = {
    "q1_pricing_summary": (False, True, False, True),
    "q6_forecast_revenue": (False, True, False, True),
    "q3_shipping_priority": (True, True, False, False),
    "q5_region_revenue": (True, False, False, False),
    "join_broadcast_dim": (True, False, False, True),
    "join_semi": (False, True, False, True),
    "window_rank_orders": (False, False, False, True),
    "knn_exact_l2": (False, True, True, True),
    "knn_exact_cosine": (False, True, True, True),
    # r12: assign + probe-restricted scoring fused into one mapInPandas
    # kernel (ann_ivf.ivf_scores_fused) — the plan has NO joins at all
    # (the probe map and query matrix ride the closure), so there is no
    # broadcast to assert; Python is the allowed fused kernel
    "ann_ivf_cosine": (False, True, True, True),
    "dedup_minhash_lsh": (False, False, False, True),
    "dedup_ngram_jaccard": (False, False, False, True),
    "text_quality_score": (False, False, False, True),
    "lsh_knn_l2": (True, False, True, True),  # hash UDF is the allowed Python
    # r6 window verdict entries: same pipelines + verification joins —
    # the verification side (pred, 100s of rows) must broadcast, never
    # drag the corpus into a sort-merge join
    "lsh_knn_l2_verdict": (True, False, True, True),
    "lsh_recall_l2_band": (True, False, True, True),
    "dedup_embedding_lsh_verdict": (True, True, True, True),
    "sessionize_events": (False, False, False, True),
    "asof_click_before_purchase": (False, True, False, True),
    "range_join_click_purchase": (True, True, False, True),
    "join_bloom_pruned": (True, True, False, True),
    "rollup_multiresolution": (False, False, False, True),
    "split_train_val_test": (False, False, False, True),
    "sketch_rollup_daily": (False, False, False, True),
    "curate_training_corpus": (True, False, False, False),
    # md5 keep-predicate can't reach parquet PushedFilters (not a plain
    # comparison); it still runs inside the scan stage, shuffle-free
    "sample_rebalance_langs": (False, False, False, True),
    "pack_training_sequences": (False, False, False, True),
    "decontaminate_train_split": (True, False, False, True),
    "text_repetition_filter": (False, False, False, True),
    "dedup_global_ngrams": (False, False, False, False),
    "text_tfidf_top_terms": (True, False, False, False),
    "pq_encode_codes": (False, False, True, True),
    "pq_search_adc": (True, False, True, True),
    "pq_search_adc_trained": (True, False, True, True),
    "sq8_encode_codes": (True, False, False, True),
    "sq8_search_rerank": (True, False, True, True),
    "ivf_pq_search": (True, False, True, True),
    # r11: the SQ8 rerank tier composition — broadcasts for the probe
    # join, the ADC candidates kernel is the allowed Python, the sq8
    # refine + exact rerank join against broadcast shortlists (never a
    # corpus SMJ)
    "ivfpq_sq8_rerank_knn": (True, False, True, True),
    "kmeans_train_centroids": (True, False, True, True),
    # r8: image near-dup dedup — the decode+dHash kernel is the allowed
    # Python (mapInPandas); the banded self-join is an equi-join on
    # (band, key) over doc-count-sized hash rows, so an SMJ there is
    # acceptable blocking (both sides are the same small table; at
    # corpus scale AQE picks the strategy). NEVER a cartesian product —
    # the no-cartesian check below is the hard gate.
    "dedup_image_phash": (False, False, True, False),
    # r8 second pass: the audio and video siblings share the image
    # entry's shape — Arrow fingerprint kernel is the allowed Python,
    # banded equi-join blocking (video adds the frame index to the join
    # key), no cartesian products ever
    "dedup_audio_fingerprint": (False, False, True, False),
    "dedup_video_framehash": (False, False, True, False),
}


# query -> columns that must NOT appear in any scan ReadSchema
PRUNING = {
    "q1_pricing_summary": ["l_orderkey", "l_partkey", "l_suppkey"],
    "q6_forecast_revenue": ["l_returnflag", "l_partkey"],
    "join_semi": ["c_acctbal", "o_orderdate"],
    "window_rank_orders": ["o_orderdate", "o_orderstatus"],
}


def audit_assignment_operators(spark, sections, failures) -> None:
    """Nearest-centroid assignment must be a pure map stage: no Exchange
    keyed by corpus id anywhere in the plan (VERDICT r2 finding #3 — the
    old groupBy(id).min(struct) argmin re-shuffled the whole corpus).
    The only allowed exchanges are the KB-sized centroid pack and
    local-mode ensure_parallelism round-robin."""
    from pyspark.sql import functions as F

    from vector_search_go_spark.operators.ann_ivf import assign_cells
    from vector_search_go_spark.operators.kmeans import kmeans_assign
    from vector_search_go_spark.operators.pq import pq_codebook, pq_encode, subvectors

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corpus = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    cents = emb.filter(F.col("vec_id") % 125 == 0).select(
        (F.col("vec_id") / 125).cast("int").alias("cid"),
        F.col("embedding").alias("cvec"),
    )
    ops = {
        "op:assign_cells": assign_cells(corpus, cents),
        "op:kmeans_assign": kmeans_assign(corpus, cents),
        "op:kmeans_assign_grouped": kmeans_assign(
            subvectors(corpus), cents.withColumn("sub", F.lit(0)), group=["sub"]
        ),
        "op:pq_encode": pq_encode(corpus, pq_codebook(emb)),
    }
    for name, df in ops.items():
        plan = plan_text(df)
        corpus_keyed = [
            l.strip()
            for l in plan.splitlines()
            if "Exchange hashpartitioning" in l and "id#" in l
        ]
        ok = not corpus_keyed
        line = f"  - [{'x' if ok else ' '}] no corpus-keyed Exchange (argmin is a map stage)"
        if not ok:
            failures.append(f"{name}: corpus-keyed Exchange present: {corpus_keyed}")
        sections.append(f"## {name}\n\n{line}\n\n```\n{plan}\n```\n")
        print(f"{name}: " + ("OK" if ok else "FAIL"))


def audit_projection(spark, sections, failures) -> None:
    """Random projection must be a pure map stage end to end: scan ->
    Arrow kernel -> posexplode, with NO Exchange anywhere (the matrix
    rides in the UDF closure, never as a joined side)."""
    from vector_search_go_spark import registry

    df = registry.queries()["embed_random_projection"](spark, SF_DIR)
    plan = plan_text(df)
    ok = "Exchange" not in plan
    line = f"  - [{'x' if ok else ' '}] no Exchange (projection is a pure map stage)"
    if not ok:
        failures.append("op:embed_random_projection: Exchange present in plan")
    sections.append(
        f"## op:embed_random_projection\n\n{line}\n\n```\n{plan}\n```\n"
    )
    print("op:embed_random_projection: " + ("OK" if ok else "FAIL"))


def audit_vecs_source(spark, sections, failures) -> None:
    """The custom vecs source plans its byte-range splits driver-side;
    id-filter pruning is invisible in plan text, so assert the actual
    scheduled partition counts on a live file: full read = ceil(n/rpp)
    splits, an id-bounded read schedules only the covering ranges."""
    import tempfile

    import numpy as np

    from vector_search_go_spark.sources import register_vecs_source, write_fvecs

    register_vecs_source(spark)
    with tempfile.TemporaryDirectory(prefix="audit_vecs_") as d:
        path = os.path.join(d, "x.fvecs")
        write_fvecs(path, np.zeros((1000, 8), dtype="float32"))
        rd = spark.read.format("vecs").option("records_per_partition", 100).load(path)
        full = rd.rdd.getNumPartitions()
        pruned = rd.filter("id >= 450 AND id < 550").rdd.getNumPartitions()
        plan = plan_text(rd.filter("id >= 450 AND id < 550"))
    ok = full == 10 and pruned == 2
    line = (
        f"  - [{'x' if ok else ' '}] byte-range splits: full scan {full}/10 "
        f"partitions, id-bounded read {pruned}/2 covering ranges"
    )
    if not ok:
        failures.append(
            f"op:vecs_source: partition planning off (full={full}, pruned={pruned})"
        )
    sections.append(f"## op:vecs_source\n\n{line}\n\n```\n{plan}\n```\n")
    print("op:vecs_source: " + ("OK" if ok else "FAIL"))


def audit_ivf_point_search(spark, sections, failures) -> None:
    """The IVF serving twin: the saved cells store must be read with a
    cell partition filter (I/O proportional to probed cells)."""
    import tempfile

    from pyspark.sql import functions as F

    from vector_search_go_spark.operators.ann_ivf import ivf_point_search, ivf_save

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    cents = emb.filter(F.col("vec_id") % 500 == 0).select(
        (F.col("vec_id") / 500).cast("int").alias("cid"),
        F.col("embedding").alias("cvec"),
    )
    path = tempfile.mkdtemp(prefix="audit_ivf_idx_")
    ivf_save(spark, corpus, cents, path, metric="cosine")
    qvec = emb.limit(1).collect()[0]["embedding"]
    plan = plan_text(ivf_point_search(spark, path, qvec, "cosine", k=5, nprobe=3))
    ok = "PartitionFilters: [" in plan and "cell" in plan.split(
        "PartitionFilters: ["
    )[1].split("]")[0]
    line = f"  - [{'x' if ok else ' '}] cells scan prunes cell partition dirs"
    if not ok:
        failures.append("op:ivf_point_search: cell partition filter missing")
    sections.append(f"## op:ivf_point_search\n\n{line}\n\n```\n{plan}\n```\n")
    print("op:ivf_point_search: " + ("OK" if ok else "FAIL"))


def audit_point_search(spark, sections, failures) -> None:
    """The point-lookup serving path must read the bucket store with
    partition pruning (tree dirs) AND parquet filter pushdown on hash —
    not a post-scan filter over the whole store. Asserted on the live
    plan of a real saved index at sf0.01."""
    import tempfile

    from pyspark.sql import functions as F

    import numpy as np

    from vector_search_go_spark.config import LshConfig
    from vector_search_go_spark.lsh.index import LshIndex
    from vector_search_go_spark.lsh.search import point_bucket_candidates

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    cfg = LshConfig(dims=64, n_trees=4, k_min_vecs=50, seed=3)
    idx = LshIndex.train(spark, corpus, cfg)
    path = tempfile.mkdtemp(prefix="audit_point_idx_")
    idx.save(path)
    qvec = emb.limit(1).collect()[0]["embedding"]
    q = np.asarray(list(qvec), dtype=np.float64)[None, :]
    hashes = idx.forest.hash_batch(q)
    probes = idx.forest.probe_batch(hashes)
    plan = plan_text(point_bucket_candidates(spark, path, hashes, probes))
    has_part = "PartitionFilters: [" in plan and "tree" in plan.split(
        "PartitionFilters: ["
    )[1].split("]")[0]
    has_push = any(
        seg.lstrip().startswith("In(hash")
        for seg in plan.split("PushedFilters: [")[1:]
    )
    ok = has_part and has_push
    line1 = f"  - [{'x' if has_part else ' '}] bucket scan prunes tree partition dirs"
    line2 = f"  - [{'x' if has_push else ' '}] hash IN (...) pushed to parquet (row-group skipping)"
    if not ok:
        failures.append(
            f"op:lsh_point_search: partition/pushdown missing (part={has_part}, push={has_push})"
        )
    sections.append(
        f"## op:lsh_point_search\n\n{line1}\n{line2}\n\n```\n{plan}\n```\n"
    )
    print("op:lsh_point_search: " + ("OK" if ok else "FAIL"))

    # capped variant: max_bucket_size thinning must ride the SAME
    # pruned scan (one read — the sz count is a window, not a
    # groupBy+self-join that would re-execute every per-tree scan)
    plan_c = plan_text(
        point_bucket_candidates(spark, path, hashes, probes, max_bucket_size=50)
    )
    c_part = "PartitionFilters: [" in plan_c and "tree" in plan_c.split(
        "PartitionFilters: ["
    )[1].split("]")[0]
    c_push = any(
        seg.lstrip().startswith("In(hash")
        for seg in plan_c.split("PushedFilters: [")[1:]
    )
    c_window = "Window" in plan_c
    # one scan per probed tree, not two: count the parquet scan nodes
    n_scans = plan_c.count("Scan parquet")
    n_scans_uncapped = plan.count("Scan parquet")
    c_single = n_scans == n_scans_uncapped
    ok_c = c_part and c_push and c_window and c_single
    lines_c = [
        f"  - [{'x' if c_part else ' '}] capped scan still prunes tree partition dirs",
        f"  - [{'x' if c_push else ' '}] capped scan keeps hash IN pushdown",
        f"  - [{'x' if c_window else ' '}] sz via count window (no stats self-join)",
        f"  - [{'x' if c_single else ' '}] same scan count as uncapped ({n_scans} == {n_scans_uncapped})",
    ]
    if not ok_c:
        failures.append(
            f"op:lsh_point_search_capped: structure off (part={c_part}, "
            f"push={c_push}, window={c_window}, scans={n_scans}/{n_scans_uncapped})"
        )
    sections.append(
        "## op:lsh_point_search_capped\n\n"
        + "\n".join(lines_c)
        + f"\n\n```\n{plan_c}\n```\n"
    )
    print("op:lsh_point_search_capped: " + ("OK" if ok_c else "FAIL"))


def audit_hot_chain(spark, sections, failures) -> None:
    """The hot-bucket dedup bound must be structurally LINEAR: chain
    pairs come from per-row lead() windows (each member emits <= width
    pairs), never from a join of the bucket against itself — so the
    plan must contain a Window and NO join node of any kind. Asserted
    on the live plan over a parquet-backed members table so the scan
    shape is production-like."""
    import tempfile

    from pyspark.sql import functions as F

    from vector_search_go_spark.queries_lsh import hot_bucket_chain_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    members = emb.select(
        F.lit(0).alias("tree"),
        F.lit(0).cast("bigint").alias("hash"),
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
    )
    path = tempfile.mkdtemp(prefix="audit_hot_members_")
    members.write.mode("overwrite").parquet(path)
    plan = plan_text(
        hot_bucket_chain_pairs(spark.read.parquet(path), dims=64, seed=23)
    )
    has_window = "Window" in plan
    no_join = not any(
        j in plan
        for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                  "BroadcastNestedLoopJoin", "CartesianProduct")
    )
    ok = has_window and no_join
    line1 = f"  - [{'x' if has_window else ' '}] lead() window present (linear pair emission)"
    line2 = f"  - [{'x' if no_join else ' '}] no join/cartesian node (never bucket x bucket)"
    if not ok:
        failures.append(
            f"op:dedup_hot_chain: structure off (window={has_window}, no_join={no_join})"
        )
    sections.append(
        f"## op:dedup_hot_chain\n\n{line1}\n{line2}\n\n```\n{plan}\n```\n"
    )
    print("op:dedup_hot_chain: " + ("OK" if ok else "FAIL"))


def audit_sketch_defaults(spark, sections, failures) -> None:
    """The band-verdict queries compute exact distinct/rank columns
    ONLY in verdict mode (the driver-oracle gate); their default plans
    must be sketch-only — no exact-distinct aggregate, no
    rank-validation join (VERDICT r4 item 6: at 100 TB the exact side
    dominates the whole query). 'count(distinct ' in formatted-plan
    aggregate expressions is the exact-distinct marker
    (approx_count_distinct renders as its own name, so the substring
    is unambiguous); the verdict plans are checked to CONTAIN it, so
    the discriminator itself cannot silently rot."""
    from vector_search_go_spark.queries_pipeline import sketch_rollup_plan
    from vector_search_go_spark.queries_relational import approx_aggregates_plan

    for name, fn in (
        ("op:sketch_rollup_default", sketch_rollup_plan),
        ("op:approx_aggregates_default", approx_aggregates_plan),
    ):
        plan_d = plan_text(fn(spark, SF_DIR, verdict=False)).lower()
        plan_v = plan_text(fn(spark, SF_DIR, verdict=True)).lower()
        ok_d = "count(distinct " not in plan_d
        ok_v = "count(distinct " in plan_v
        ok = ok_d and ok_v
        lines = [
            f"  - [{'x' if ok_d else ' '}] default plan has NO exact-distinct aggregate",
            f"  - [{'x' if ok_v else ' '}] verdict plan still carries the exact side (discriminator sanity)",
        ]
        if not ok:
            failures.append(
                f"{name}: exact-distinct placement wrong (default_clean={ok_d}, "
                f"verdict_has={ok_v})"
            )
        sections.append(f"## {name}\n\n" + "\n".join(lines) + f"\n\n```\n{plan_d}\n```\n")
        print(f"{name}: " + ("OK" if ok else "FAIL"))


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    from vector_search_go_spark.session import get_spark
    from vector_search_go_spark import registry

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    sections = []
    failures = []
    for name, (want_bcast, want_push, allow_py, forbid_smj) in AUDITS.items():
        fn = qs.get(name)
        if fn is None:
            failures.append(f"{name}: not registered")
            continue
        df = fn(spark, SF_DIR)
        plan = plan_text(df)
        checks = []

        def check(label: str, ok: bool, hard: bool = True):
            checks.append(f"  - [{'x' if ok else ' '}] {label}")
            if not ok and hard:
                failures.append(f"{name}: {label}")

        if want_bcast:
            check(
                "broadcast join present",
                "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan,
            )
        if forbid_smj:
            check("no SortMergeJoin", "SortMergeJoin" not in plan)
        if want_push:
            check(
                "filter pushed to scan (PushedFilters non-empty)",
                "PushedFilters: [" in plan
                and any(
                    "PushedFilters: []" not in line
                    for line in plan.splitlines()
                    if "PushedFilters" in line
                ),
            )
        # a plain CartesianProduct is a defect in ANY audited plan —
        # intentional small-side cross joins compile to
        # BroadcastNestedLoopJoin, never this node
        check("no CartesianProduct", "CartesianProduct" not in plan)
        py_nodes = [
            n for n in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas", "MapInPandas")
            if n in plan
        ]
        if allow_py:
            # r11 optimization: the media dedups materialize their
            # decode+fingerprint stage ONCE via localCheckpoint before
            # the banded self-join (the final plan would otherwise
            # plant the MapInPandas decode subtree into BOTH join
            # sides). The Python stage then lives in the checkpointed
            # RDD's lineage and the final plan shows a Scan
            # ExistingRDD instead — accept either shape.
            check(
                f"Python stage expected (found {py_nodes})",
                bool(py_nodes) or "Scan ExistingRDD" in plan,
            )
        else:
            check("no Python eval nodes in plan", not py_nodes)
        pruned = PRUNING.get(name)
        if pruned:
            # column pruning: the scan's ReadSchema must exclude columns
            # the query never touches
            read_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
            check(
                f"column pruning (scan excludes {pruned})",
                bool(read_lines)
                and all(c not in l for c in pruned for l in read_lines),
            )
        sections.append(
            f"## {name}\n\n" + "\n".join(checks) + f"\n\n```\n{plan}\n```\n"
        )
        print(f"{name}: " + ("OK" if not any(name in f for f in failures) else "FAIL"))

    audit_assignment_operators(spark, sections, failures)
    audit_projection(spark, sections, failures)
    audit_vecs_source(spark, sections, failures)
    audit_point_search(spark, sections, failures)
    audit_ivf_point_search(spark, sections, failures)
    audit_hot_chain(spark, sections, failures)
    audit_sketch_defaults(spark, sections, failures)

    import tempfile

    plans_path = os.path.join(tempfile.gettempdir(), "PLANS.md")
    with open(plans_path, "w") as f:
        f.write(
            "# PLANS — physical-plan audit (auto-generated by tools/explain_audit.py)\n\n"
            f"sf_dir: {SF_DIR}\n\n" + "\n".join(sections)
        )
    print(f"plans written to {plans_path}")
    if failures:
        print("\nFAILURES:")
        for x in failures:
            print(" -", x)
        return 1
    print("\nall plan audits passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
