"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": ..., "value": ..., "unit": "sec", "queries": {...}, "sf": ...}

Headline = the extraction engine (turns/sec over the synthesized transcripts
table for this sf), plus the operator suite.  Scaling evidence across two
parallelism levels lives in tools/bench_scaling.py -> BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _calibrate(ms: float = 600.0) -> float:
    """Single-thread calibration probe: a fixed integer-arithmetic loop,
    returned as mega-iterations/sec.  Run before AND after the timed section
    so a loaded window (shared-VM neighbours stealing cycles — the
    documented ±25% hazard) is visible IN the bench record itself instead
    of silently inflating per-query seconds; round-over-round comparisons
    should only pair records with similar calibration numbers."""
    block = 200_000
    total, x = 0, 0
    t0 = time.perf_counter()
    deadline = t0 + ms / 1000.0
    while time.perf_counter() < deadline:
        for _ in range(block):
            x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        total += block
    return round(total / (time.perf_counter() - t0) / 1e6, 2)


# the per-session result cache shared between driver queries
# (__spark_entry__._cached_stage, behind _extraction_plan/_dedup_chain/
# _ann_chain/_profile_chain): the FIRST query
# of a group in bench order pays the full operator cost, later members time
# projection-only reads of the materialized partitions.  Annotated in the
# JSON so a later-member timing is never misread as standalone operator cost.
CACHE_GROUPS = {
    "extraction_plan": ["extract_turns", "extract_eval", "extract_lineage"],
    "dedup_chain": ["minhash_lsh_pairs", "jaccard_pairs", "dedup_groups", "curated_docs"],
    "ann_suite": ["cosine_topk", "ann_lsh_topk", "ann_lsh_recall"],
    "payload_profile": ["payload_features", "payload_ink", "payload_thumbnail", "payload_profile"],
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(min(32, os.cpu_count() or 8))))
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "") or "0.1"

    import __spark_entry__ as entry
    from arabic_ocr_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=max(16, 2 * cpus))
    spark.sparkContext.setLogLevel("ERROR")

    # make sure the synth cache is built before timing anything
    synth_dir = entry.synth_dir_for(sf_dir)
    n_turns = spark.read.parquet(os.path.join(synth_dir, "transcripts.parquet")).filter(
        "text <> ''"
    ).count()

    qs = entry.queries()
    # warmup outside every timed window: JVM codegen, python workers,
    # broadcast deserialization.  Uses the UNCACHED extraction plan so the
    # timed extract_turns still pays the full kernel; extract_eval /
    # extract_lineage then measure the cached-reuse path by design.  The
    # warmup doubles as the smoke check: a broken kernel fails HERE, before
    # 28 queries of timing are wasted.
    # explicit raise (not assert): the warmup side effect and the smoke
    # check must survive python -O
    warm_kernel = entry._extraction_plan(spark, sf_dir, cached=False).limit(16 * cpus).count()
    warm_tokens = qs["token_stats"](spark, sf_dir).count()
    if warm_kernel <= 0 or warm_tokens <= 0:
        raise RuntimeError(f"smoke check failed: kernel={warm_kernel}, tokens={warm_tokens}")

    calib_before = _calibrate()

    bench_queries = [
        "extract_turns",
        "extract_eval",
        "dedup_exact",
        "minhash_lsh_pairs",
        "jaccard_pairs",
        "dedup_groups",
        "simhash",
        "token_stats",
        "bpe_tokens",
        "payload_meta",
        "payload_features",
        "payload_ink",
        "quality",
        "lang_id",
        "fingerprint",
        "cosine_topk",
        "embedding_dup_pairs",
        "embedding_neardup_hi",
        "ann_lsh_candidates",
        "ann_lsh_topk",
        "payload_thumbnail",
        "payload_profile",
        "pricing_summary",
        "orders_by_nation",
        "events_hourly",
        "asof_join",
        "range_join",
        "curated_docs",
    ]

    timings: dict[str, float] = {}
    extract_sec = None
    for name in bench_queries:
        t0 = time.perf_counter()
        n = qs[name](spark, sf_dir).count()
        dt = time.perf_counter() - t0
        timings[name] = round(dt, 3)
        if name == "extract_turns":
            extract_sec = dt
        print(f"# {name}: {n} rows in {dt:.2f}s", file=sys.stderr)

    # ANN quality metric + its wall time: LSH recall@10 vs exact
    # cosine_topk (reads the same materialized suite)
    t0 = time.perf_counter()
    recall_row = qs["ann_lsh_recall"](spark, sf_dir).collect()[0]
    timings["ann_lsh_recall"] = round(time.perf_counter() - t0, 3)

    # high-threshold near-dup pruning evidence: LSH-band candidate volume vs
    # the n^2/2 pairs the exact path would score, at the collision-model
    # banding auto-sized for this corpus (the same params the driver's
    # embedding_neardup_hi query now derives), plus the default-guard
    # hot-bucket audits for BOTH band self-joins — at the gated scales
    # n_hot_buckets must read 0 (the auto cap binds only on degenerate
    # mass-templated clusters)
    from arabic_ocr_spark.operators.dedup import lsh_bucket_audit
    from arabic_ocr_spark.operators.similarity import (
        embedding_neardup_candidates,
        neardup_band_params,
        neardup_bucket_audit,
    )

    aug = entry._augmented_embeddings(spark, sf_dir)
    n_aug = aug.count()
    nb, rpb = neardup_band_params(n_aug)
    neardup_cands = embedding_neardup_candidates(aug, nb, rpb, n_rows=n_aug).count()

    def audit_dict(row) -> dict:
        return {k: row[k] for k in ("cap", "n_buckets", "n_hot_buckets",
                                    "max_bucket", "dropped_pairs_ubound")}

    emb_audit = audit_dict(neardup_bucket_audit(aug, nb, rpb, n_rows=n_aug).collect()[0])
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    text_audit = audit_dict(lsh_bucket_audit(docs).collect()[0])

    calib_after = _calibrate()

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "bench_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "extract_turns": n_turns,
        "extract_turns_per_sec": round(n_turns / extract_sec, 1) if extract_sec else None,
        "ann_lsh_recall_at_10": recall_row["lsh_recall"],
        "neardup_hi_candidates": neardup_cands,
        "neardup_hi_allpairs": n_aug * (n_aug - 1) // 2,
        "neardup_band_params": [nb, rpb],
        "hot_bucket_audit": {"embedding_bands": emb_audit, "text_bands": text_audit},
        # single-thread M-iterations/sec before/after the timed section: a
        # loaded shared-VM window shows up as a depressed/changing number
        "calib_mips_before": calib_before,
        "calib_mips_after": calib_after,
        "cache_groups": CACHE_GROUPS,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
