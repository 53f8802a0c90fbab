"""The `curate_docs` workload: the near-dup curation chain of
`operators.dedup` (lsh_candidate_pairs -> jaccard_verified_pairs ->
dedup_groups -> textstats.curated_docs) and `operators.similarity`'s
lsh_ann_topk, over a seeded documents table and a seeded embeddings table.

The documents have the shape of the repository's sf tables' `documents`
(doc_id, text, lang, source, n_chars: whitespace-separated words, 12-99 per
document) with planted near-duplicate clusters, so the dedup groups have a
ground truth.  The oracle is the repository's DuckDB `oracle_sql` on the
same files: its `jaccard_pairs`, `quality`, `token_stats` and
`ann_lsh_topk` queries, with the connected components of the verified
pairs taken by a union-find here (the recursive-CTE `dedup_groups` oracle
takes ~12 s at 1,000 documents, longer than a whole run can spend).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import harness

N_DOCS = 1000
N_VECS = 600
DIM = 64
VOCAB = 200
DUP_SHARE = 0.15      # documents that are edited copies of an earlier one
NUMERIC_SHARE = 0.05  # documents of digits only, which the quality gate drops
N_QUERIES, TOP_K = 5, 10  # lsh_ann_topk defaults


def _write_docs(path: str, texts: list[str]) -> None:
    n = len(texts)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)


def _write_vecs(path: str, vecs: np.ndarray, labels: np.ndarray) -> None:
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(len(vecs)), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), path)


def generate_docs(rng) -> tuple[list[str], list[int]]:
    """Texts plus the planted group of each document (its cluster's
    smallest doc_id: an original precedes its copies)."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(rng.choice(letters, size=int(rng.integers(3, 10)))) for _ in range(VOCAB)]
    texts: list[str] = []
    truth: list[int] = []
    originals: list[int] = []
    for i in range(N_DOCS):
        if originals and rng.random() < DUP_SHARE:
            src = originals[int(rng.integers(len(originals)))]
            toks = texts[src].split()
            for _ in range(int(rng.integers(0, len(toks) // 25 + 2))):
                toks[int(rng.integers(len(toks)))] = vocab[int(rng.integers(VOCAB))]
            texts.append(" ".join(toks))
            truth.append(src)
            continue
        n_tok = int(rng.integers(12, 100))
        if rng.random() < NUMERIC_SHARE:
            toks = [str(int(x)) for x in rng.integers(10, 99999, n_tok)]
        else:
            toks = [vocab[int(j)] for j in rng.integers(0, VOCAB, n_tok)]
        texts.append(" ".join(toks))
        truth.append(i)
        originals.append(i)
    return texts, truth


def curation_pass(spark, docs_path: str, emb_path: str) -> dict:
    """One pass of the chain, each stage materialized once and consumed by
    the next (as the repository's query entry point composes it)."""
    from arabic_ocr_spark.operators.dedup import (
        dedup_groups, jaccard_verified_pairs, lsh_candidate_pairs)
    from arabic_ocr_spark.operators.similarity import lsh_ann_topk
    from arabic_ocr_spark.operators.textstats import curated_docs

    stamps = [time.perf_counter()]
    docs = spark.read.parquet(docs_path)
    cands = lsh_candidate_pairs(docs).persist()
    n_cands = cands.count()
    stamps.append(time.perf_counter())
    pairs = jaccard_verified_pairs(docs, candidates=cands).persist()
    n_pairs = pairs.count()
    stamps.append(time.perf_counter())
    groups = dedup_groups(docs, pairs=pairs).persist()
    group_rows = groups.collect()
    stamps.append(time.perf_counter())
    curated = curated_docs(docs, groups).collect()
    stamps.append(time.perf_counter())
    topk = lsh_ann_topk(spark.read.parquet(emb_path)).collect()
    stamps.append(time.perf_counter())
    for df in (cands, pairs, groups):
        df.unpersist()
    names = ["candidates", "verify", "groups", "curate", "lsh_topk"]
    return {
        "wall": stamps[-1] - stamps[0],
        "stages": {n: stamps[i + 1] - stamps[i] for i, n in enumerate(names)},
        "n_cands": n_cands,
        "n_pairs": n_pairs,
        "groups": {r["doc_id"]: r["group_rep"] for r in group_rows},
        "curated": {r["doc_id"]: r["n_tokens"] for r in curated},
        "topk": {(r["query_id"], r["neighbor_id"], round(r["sim_r"], 4), r["rank"]) for r in topk},
    }


def _union_find_groups(n: int, pairs) -> dict[int, int]:
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n)}


def duckdb_oracle(work: str) -> dict:
    import duckdb

    import __spark_entry__ as entry

    # oracle_sql() builds the transcripts fixture its payload queries read
    # (in a shared temp directory); those queries are not used here, so the
    # fixture function points at this run's own directory instead
    entry.synth_dir_for = lambda _sf: work
    sql = entry.oracle_sql(sf_dir=work)
    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        for t in ("documents", "embeddings"):
            path = os.path.join(work, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        pairs = con.execute(sql["jaccard_pairs"]).fetchall()
        quality = dict(con.execute("SELECT doc_id, quality_ok FROM (" + sql["quality"] + ")").fetchall())
        tokens = dict(con.execute("SELECT doc_id, n_tokens FROM (" + sql["token_stats"] + ")").fetchall())
        ann = "SELECT query_id, neighbor_id, sim_r, rank FROM (" + sql["ann_lsh_topk"] + ")"
        topk = {(q, nb, round(s, 4), rk) for q, nb, s, rk in con.execute(ann).fetchall()}
    finally:
        con.close()
    groups = _union_find_groups(N_DOCS, [(a, b) for a, b, _j in pairs])
    curated = {d: tokens[d] for d, rep in groups.items() if rep == d and quality[d] == 1}
    return {"groups": groups, "curated": curated, "topk": topk, "n_pairs": len(pairs)}


def exact_topk(vecs: np.ndarray) -> set[tuple[int, int]]:
    """Exact cosine top-k of the first N_QUERIES vectors (cosine_topk's
    ranking: similarity rounded to 4 places, ties by neighbour id)."""
    v = vecs.astype(np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    out = set()
    for q in range(N_QUERIES):
        sims = np.round(v @ v[q], 4)
        order = sorted((i for i in range(len(v)) if i != q), key=lambda i: (-sims[i], i))
        out.update((q, i) for i in order[:TOP_K])
    return out


class CurationWorkload:
    def __init__(self, name: str, work: str, seed: int):
        self.name = name
        self.work = work
        self.seed = seed

    def generate(self) -> dict:
        rng = np.random.default_rng(self.seed)
        texts, self.truth = generate_docs(rng)
        vecs = (rng.standard_normal((N_VECS, DIM)) * 0.15).astype(np.float32)
        labels = rng.integers(0, 10, N_VECS)
        self.docs_path = os.path.join(self.work, "documents.parquet")
        self.emb_path = os.path.join(self.work, "embeddings.parquet")
        _write_docs(self.docs_path, texts)
        _write_vecs(self.emb_path, vecs, labels)
        self.exact = exact_topk(vecs)
        self.warm_docs = os.path.join(self.work, "warm", "documents.parquet")
        self.warm_emb = os.path.join(self.work, "warm", "embeddings.parquet")
        os.makedirs(os.path.dirname(self.warm_docs))
        _write_docs(self.warm_docs, texts[:60])
        _write_vecs(self.warm_emb, vecs[:60], labels[:60])
        t0 = time.perf_counter()
        self.oracle = duckdb_oracle(self.work)
        return {"input_rows": N_DOCS + N_VECS, "documents": N_DOCS, "embeddings": N_VECS,
                "input_bytes": os.path.getsize(self.docs_path) + os.path.getsize(self.emb_path),
                "oracle_s": time.perf_counter() - t0, "oracle_pairs": self.oracle["n_pairs"]}

    def warmup(self, spark) -> None:
        """Python workers (lsh_ann_topk's signature kernel) and the band
        self-join, over 60 documents and 60 vectors.  The rest of the
        chain meets its first-use costs in the measured pass, as in a
        session that curates once."""
        from arabic_ocr_spark.operators.dedup import lsh_candidate_pairs
        from arabic_ocr_spark.operators.similarity import lsh_ann_topk

        lsh_candidate_pairs(spark.read.parquet(self.warm_docs)).count()
        lsh_ann_topk(spark.read.parquet(self.warm_emb)).count()

    def check(self, res: dict) -> tuple[int, int, int]:
        """(attempted, failed, documents in their planted group)."""
        o = self.oracle
        bad = sum(
            1 for d in range(N_DOCS)
            if res["groups"].get(d) != o["groups"][d] or res["curated"].get(d) != o["curated"].get(d)
        )
        bad += len(res["topk"] ^ o["topk"])
        in_truth = sum(1 for d in range(N_DOCS) if res["groups"].get(d) == self.truth[d])
        return N_DOCS + len(o["topk"]), bad, in_truth

    def measure(self, spark, seconds: float) -> dict:
        walls, results = [], []
        t_start = time.perf_counter()
        with harness.WindowSampler(harness.jvm_pid()) as probe:
            while True:
                res = curation_pass(spark, self.docs_path, self.emb_path)
                walls.append(res["wall"])
                results.append(res)
                if harness.window_done(t_start, walls, seconds):
                    break
        attempted = failed = in_truth = 0
        for res in results:
            a, f, t = self.check(res)
            attempted, failed, in_truth = attempted + a, failed + f, in_truth + t
        return {
            "metrics": {
                "throughput": N_DOCS * len(walls) / sum(walls),
                "worker_peak_rss_mb": probe.peak_mb,
                "truth_match": in_truth / (N_DOCS * len(walls)),
            },
            "attempted": attempted,
            "failed": failed,
            "info": {"passes": len(walls), "pass_s": walls, "steal_share": probe.steal_share,
                     "failed_share": failed / max(1, attempted)},
        }

    def traced(self, spark) -> dict:
        from arabic_ocr_spark.operators.dedup import lsh_bucket_audit

        rec = harness.PlanRecorder(spark)
        job0 = harness.last_job_id(spark)
        res = curation_pass(spark, self.docs_path, self.emb_path)
        tasks = harness.tasks_since(spark, job0)
        executions = rec.drain()
        rec.close()
        attempted, failed, _ = self.check(res)
        audit = lsh_bucket_audit(spark.read.parquet(self.docs_path)).collect()[0]
        lsh_pairs = {(q, nb) for q, nb, _s, _r in res["topk"]}
        m = harness.spark_layer(executions)
        m["spark.tasks"] = tasks
        m["spark.boundary_ms"] = m["spark.python_total_ms"]
        m.update({f"dedup.{k}_s": v for k, v in res["stages"].items() if k != "lsh_topk"})
        m.update({
            "dedup.candidate_pairs": res["n_cands"],
            "dedup.verified_share": res["n_pairs"] / max(1, res["n_cands"]),
            "dedup.hot_buckets": audit["n_hot_buckets"],
            "similarity.lsh_topk_s": res["stages"]["lsh_topk"],
            "similarity.lsh_recall_at_10": len(lsh_pairs & self.exact) / len(self.exact),
        })
        return {
            "metrics": m,
            "attempted": attempted,
            "failed": failed,
            "info": {"pass_s": res["wall"], "sql_executions": len(executions),
                     "failed_share": failed / max(1, attempted)},
        }
