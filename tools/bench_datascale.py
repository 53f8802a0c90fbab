"""Data-scale evidence: the dedup / CC / ANN ladders at 1x vs 10x rows.

The per-round bench (bench.py) varies PARALLELISM at fixed data; this tool
varies DATA at fixed parallelism, because the bucketing claims (LSH bucket
sizes, pointer-jumping round counts, near-dup candidate volume) only bend
when row counts move.  It derives a deterministic 10x corpus from the sf0.1
tables — no external data:

- documents x10: doc_id + j*1_000_000 for j in 1..9; variants j in {1,2}
  append a short suffix (shingle-Jaccard ~0.97 -> REAL near-duplicates that
  deepen the CC chains), variants j >= 3 rehash every token (distinct
  documents of the same length distribution).
- embeddings x10: vec_id + j*1_000_000; j in {1,2} get the small
  deterministic perturbation (cosine ~0.99 -> high-threshold near-dups),
  j >= 3 get per-coordinate pseudo-random sign flips (decorrelated).

Writes BENCH/datascale_result.json: per-query wall time and output rows at
both scales plus the time ratio (a bucketed ladder should scale near the
row ratio; a quadratic one would scale with its square).

Run on an otherwise idle machine (see CLAUDE.md on shared-VM throttling).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SCALE = 10


def scaled_documents(spark, sf_dir: str, scale: int):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select("doc_id", "text")
    parts = [docs]
    for j in range(1, scale):
        if j <= 2:
            # near-duplicate: tiny suffix, shingle sets ~97% identical
            txt = F.concat(F.col("text"), F.lit(f" v{j}"))
        else:
            # distinct: every token rehashed -> disjoint shingle space,
            # similar length distribution
            txt = F.concat_ws(
                " ",
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda t: F.substring(F.md5(F.concat(t, F.lit(f":{j}"))), 1, 8),
                ),
            )
        parts.append(
            docs.select((F.col("doc_id") + j * 1_000_000).alias("doc_id"), txt.alias("text"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def scaled_embeddings(spark, sf_dir: str, scale: int):
    from pyspark.sql import functions as F

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    parts = [emb]
    for j in range(1, scale):
        if j <= 2:
            # high-cosine near-duplicate (same arithmetic as the driver's
            # planted fixture): cosine ~0.99 vs the source vector
            vec = F.transform(
                "embedding",
                # two-param HOF lambda on purpose: i = 0-based element index
                lambda x, i: x * (1 + F.lit(0.5 * j) * ((i % 7) - 3) / F.lit(30.0)),
            )
        else:
            # decorrelated: deterministic per-coordinate sign flips
            vec = F.transform(
                "embedding",
                # two-param HOF lambda on purpose: i = 0-based element index
                lambda x, i: x * (1 - 2 * F.pmod(F.xxhash64(F.lit(j), i), F.lit(2))),
            )
        parts.append(
            emb.select((F.col("vec_id") + j * 1_000_000).alias("vec_id"), vec.alias("embedding"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def main() -> None:
    from arabic_ocr_spark.operators.dedup import (
        dedup_groups,
        exact_dup_groups,
        jaccard_verified_pairs,
        lsh_candidate_pairs,
    )
    from arabic_ocr_spark.operators.similarity import (
        embedding_neardup_candidates,
        embedding_neardup_hi,
        lsh_ann_topk,
        neardup_band_params,
    )
    from arabic_ocr_spark.session import get_spark

    spark = get_spark(master=f"local[{CPUS}]", shuffle_partitions=max(16, 2 * CPUS))
    spark.sparkContext.setLogLevel("ERROR")

    def corpus(scale):
        docs = scaled_documents(spark, SF_DIR, scale).localCheckpoint()
        emb = scaled_embeddings(spark, SF_DIR, scale).localCheckpoint()
        return docs, emb

    def run_suite(docs, emb, n_vecs, n_docs):
        # auto-sized banding for THIS corpus size (the collision-model
        # params the production near-dup path derives): background
        # candidates/row should stay O(1) as rows grow 10x, where a fixed
        # banding keeps a constant FRACTION of n^2/2
        nb, rpb = neardup_band_params(n_vecs)
        # n_rows threaded everywhere the auto cap would otherwise count:
        # the timed windows measure the operators, not a plan-time count
        queries = {
            "dedup_exact": lambda: exact_dup_groups(docs),
            "minhash_lsh_pairs": lambda: lsh_candidate_pairs(docs, n_rows=n_docs),
            "jaccard_pairs": lambda: jaccard_verified_pairs(docs, n_rows=n_docs),
            "dedup_groups": lambda: dedup_groups(docs, n_rows=n_docs),
            "embedding_neardup_hi": lambda: embedding_neardup_hi(emb, n_rows=n_vecs),
            "neardup_candidates": lambda: embedding_neardup_candidates(emb, nb, rpb, n_rows=n_vecs),
            "ann_lsh_topk": lambda: lsh_ann_topk(emb),
        }
        out = {}
        for name, fn in queries.items():
            t0 = time.perf_counter()
            n = fn().count()
            dt = time.perf_counter() - t0
            out[name] = {"sec": round(dt, 2), "rows": n}
            print(f"#   {name}: {n} rows in {dt:.1f}s", file=sys.stderr)
        out["_n_vectors"] = n_vecs
        out["_neardup_band_params"] = [nb, rpb]
        out["_neardup_cands_per_row"] = round(out["neardup_candidates"]["rows"] / n_vecs, 2)
        return out

    from arabic_ocr_spark.operators.dedup import lsh_bucket_audit

    results = {}
    guard_evidence = None
    for scale in (1, SCALE):
        docs, emb = corpus(scale)
        nd, ne = docs.count(), emb.count()
        print(f"# scale {scale}x: {nd} docs, {ne} vectors", file=sys.stderr)
        # warmup pass so JVM/py-worker spin-up stays out of the 1x numbers
        if scale == 1:
            exact_dup_groups(docs).count()
        results[f"{scale}x"] = run_suite(docs, emb, ne, nd)
        results[f"{scale}x"]["_n_docs"] = nd
        if scale == SCALE:
            # the default hot-bucket guard BINDS on this corpus (the token-
            # rehash variants create templated band collisions): record the
            # audit AND prove the Jaccard-verified output is identical with
            # and without the guard — the dropped candidates are all
            # below-threshold band collisions or pairs re-found via other
            # bands, so the default guard costs zero true pairs here while
            # skipping millions of useless verify rows
            audit = lsh_bucket_audit(docs, n_rows=nd).collect()[0].asDict()
            guarded = {(r.doc_a, r.doc_b)
                       for r in jaccard_verified_pairs(docs, n_rows=nd).collect()}
            raw_c = lsh_candidate_pairs(docs, max_bucket_size=None)
            unguarded = {(r.doc_a, r.doc_b)
                         for r in jaccard_verified_pairs(docs, candidates=raw_c).collect()}
            guard_evidence = {
                "audit": audit,
                "verified_pairs_guarded": len(guarded),
                "verified_pairs_unguarded": len(unguarded),
                "identical": guarded == unguarded,
            }
            print(f"#   guard evidence @{SCALE}x: {guard_evidence}", file=sys.stderr)

    ratios = {
        name: round(results[f"{SCALE}x"][name]["sec"] / max(results["1x"][name]["sec"], 1e-9), 2)
        for name in results["1x"]
        if not name.startswith("_")
    }
    out = {
        "metric": "datascale_time_ratio",
        "sf_dir": SF_DIR,
        "cpus": CPUS,
        "scale": SCALE,
        "results": results,
        "time_ratio_10x_over_1x": ratios,
        "hot_bucket_guard_10x": guard_evidence,
        "note": (
            "bucketed ladders should scale near the row ratio (10); a "
            "quadratic operator would approach 100.  neardup_candidates rows "
            "at 10x vs n^2/2 evidences the LSH pruning claim at scale."
        ),
    }
    os.makedirs(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH"), exist_ok=True)
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "datascale_result.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
