"""Physical-plan property tests (PLANS.md): pruning, pushdown, broadcast,
and shuffle count are load-bearing at scale — pin them."""

import pytest


import re


def _formatted(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _tree_count(plan: str, node: str) -> int:
    """Count node occurrences in the plan TREE (formatted mode repeats each
    node in the details section)."""
    return len(re.findall(rf"[+:]- {node}", plan))


@pytest.fixture(scope="module")
def entry_mod():
    import __spark_entry__ as e

    return e


def test_extraction_plan_prunes_and_single_shuffle(spark, entry_mod):
    plan = _formatted(spark, entry_mod._extraction_plan(spark, "/root/testdata/sf0.001", cached=False))
    # column pruning reaches the scan: only the 3 needed columns are read
    assert "ReadSchema: struct<conv_id:string,turn_idx:int,text:string>" in plan
    # payload-present filter pushed into the parquet reader
    assert "PushedFilters: [IsNotNull(text)" in plan
    # exactly one shuffle: the salted repartition
    assert _tree_count(plan, "Exchange") == 1
    assert "MapInPandas" in plan and "Sort" in plan


def test_wave_filter_below_kernel(spark, entry_mod):
    """A wave-restricted plan must filter on the PRE-kernel chunk column:
    the wave predicate prunes before the shuffle, and no Filter sits above
    MapInPandas (which would re-run the kernel on all rows per wave)."""
    import os

    from pyspark.sql import functions as F

    from arabic_ocr_spark.job import ExtractionJobConfig, plan_extraction
    from arabic_ocr_spark.sources.synth import default_model_path

    d = entry_mod.synth_dir_for("/root/testdata/sf0.001")
    df = spark.read.parquet(os.path.join(d, "transcripts.parquet")).filter(F.col("text") != "")
    cfg = ExtractionJobConfig(num_chunks=12, num_waves=3, model_path=default_model_path())
    plan = _formatted(spark, plan_extraction(spark, df, cfg, wave=1))
    tree = plan.split("\n\n")[0]  # root-first tree section of formatted explain
    map_pos = tree.index("MapInPandas")
    filter_positions = [m.start() for m in re.finditer(r"Filter", tree)]
    assert filter_positions and all(p > map_pos for p in filter_positions)
    assert "pmod" in plan  # the wave predicate on the salted chunk
    assert _tree_count(plan, "Exchange") == 1  # still exactly one shuffle


def test_dim_joins_are_broadcast(spark, entry_mod):
    q = entry_mod.queries()["orders_by_nation"]
    plan = _formatted(spark, q(spark, "/root/testdata/sf0.001"))
    assert _tree_count(plan, "BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    # fact scan pruned to join/agg columns only
    assert "struct<o_custkey:bigint,o_totalprice:double>" in plan


def test_pricing_filter_pushdown_and_partial_agg(spark, entry_mod):
    q = entry_mod.queries()["pricing_summary"]
    plan = _formatted(spark, q(spark, "/root/testdata/sf0.001"))
    assert "LessThanOrEqual(l_shipdate" in plan
    assert _tree_count(plan, "HashAggregate") == 2  # partial + final


def test_cosine_topk_rank_limit_pushdown(spark, entry_mod):
    q = entry_mod.queries()["cosine_topk"]
    plan = _formatted(spark, q(spark, "/root/testdata/sf0.001"))
    assert "WindowGroupLimit" in plan  # top-k pruned before the shuffle
    assert "BroadcastNestedLoopJoin" in plan  # tiny query side broadcast


def test_minhash_signatures_are_shuffle_free(spark, entry_mod):
    """Signature computation is map-only (array_min over per-seed md5
    transforms): the only shuffles in the LSH pair query belong to the
    band self-join and final distinct, never to the signatures."""
    from arabic_ocr_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sig_plan = _formatted(spark, minhash_signatures(docs))
    assert _tree_count(sig_plan, "Exchange") == 0
    assert "Generate" not in sig_plan  # no explode

    q = entry_mod.queries()["minhash_lsh_pairs"]
    plan = _formatted(spark, q(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan


def test_asof_join_single_shuffle(spark, entry_mod):
    """The union-merge as-of join shuffles exactly once (on the key); the
    window reuses that partitioning instead of adding an Exchange."""
    q = entry_mod.queries()["asof_join"]
    plan = _formatted(spark, q(spark, "/root/testdata/sf0.001"))
    assert _tree_count(plan, "Exchange") == 1
    assert "Window" in plan and "SortMergeJoin" not in plan and "Join" not in plan


def test_quality_gate_sits_below_kernel(spark, entry_mod):
    """With cfg.quality_filter the plan is: scan -> quality flag
    (MapInPandas) -> Filter(quality_ok) -> Exchange -> Sort -> OCR kernel
    (MapInPandas).  The gate filter must sit BELOW the kernel so dropped
    payloads never shuffle or extract; still exactly one Exchange."""
    import os

    from pyspark.sql import functions as F

    from arabic_ocr_spark.job import ExtractionJobConfig, plan_extraction
    from arabic_ocr_spark.sources.synth import default_model_path

    d = entry_mod.synth_dir_for("/root/testdata/sf0.001")
    df = spark.read.parquet(os.path.join(d, "transcripts.parquet")).filter(F.col("text") != "")
    cfg = ExtractionJobConfig(num_chunks=12, model_path=default_model_path(),
                              quality_filter=True)
    plan = _formatted(spark, plan_extraction(spark, df, cfg))
    tree = plan.split("\n\n")[0]
    maps = [m.start() for m in re.finditer(r"MapInPandas", tree)]
    assert len(maps) == 2  # quality flag + OCR kernel
    exchanges = [m.start() for m in re.finditer(r"[+:]- Exchange", tree)]
    assert len(exchanges) == 1
    filters = [m.start() for m in re.finditer(r"[+:]- Filter", tree)]
    # root-first tree: kernel printed first; the gate Filter must appear
    # between the kernel map and the flag map, i.e. below the kernel and the
    # exchange, above the flag's MapInPandas
    gate = [p for p in filters if maps[0] < p < maps[1]]
    assert gate and all(p > exchanges[0] for p in gate)
    assert "quality_ok" in plan  # expression details live outside the tree section


def test_staged_input_plan_prunes_partitions(spark, entry_mod, tmp_path):
    """The engine's own plan over a stage_chunked copy: the wave is a
    PARTITION filter on the scan (each wave reads 1/W of the bytes), the
    salted chunk is read rather than recomputed, and the one shuffle stays
    the only one."""
    import os

    from arabic_ocr_spark.job import ExtractionJobConfig, plan_extraction, stage_chunked
    from arabic_ocr_spark.sources.synth import default_model_path

    d = entry_mod.synth_dir_for("/root/testdata/sf0.001")
    cfg = ExtractionJobConfig(num_chunks=12, num_waves=3, model_path=default_model_path())
    staged = str(tmp_path / "staged")
    stage_chunked(spark, spark.read.parquet(os.path.join(d, "transcripts.parquet")), cfg, staged)
    plan = _formatted(spark, plan_extraction(spark, spark.read.parquet(staged), cfg, wave=1))
    assert "PartitionFilters: [isnotnull(wave" in plan
    assert _tree_count(plan, "Exchange") == 1
    assert "xxhash64" not in plan


def _band_join(plan):
    """The band self-join of a candidate operator's executed plan: the one
    join whose condition carries the l.id < r.id inequality."""
    nodes = [plan.inputPlan() if plan.nodeName() == "AdaptiveSparkPlan" else plan]
    joins = []
    while nodes:
        node = nodes.pop()
        if "Join" in node.nodeName() and " < " in node.simpleString(100):
            joins.append(node)
        kids = node.children()
        nodes.extend(kids.apply(i) for i in range(kids.size()))
    assert len(joins) == 1
    return joins[0]


@pytest.mark.parametrize("op, table, id_col, source", [
    ("lsh_candidate_pairs", "documents", "doc_id", "Generate"),
    ("embedding_neardup_candidates", "embeddings", "vec_id", "MapInPandas"),
])
def test_bucket_guard_filters_left_join_input_only(spark, op, table, id_col, source):
    """The hot-bucket star guard (dedup.band_pairs) at an int cap: the
    bucket-size aggregate and the `bsz <= cap OR id = anchor` filter sit on
    the band join's LEFT input, and the right input is the unfiltered bucket
    table — the quadratic intermediate of a hot bucket never materializes.
    Unguarded (None), the plan carries no size aggregate at all."""
    from arabic_ocr_spark.operators import dedup, similarity

    fn = getattr(dedup, op, None) or getattr(similarity, op)
    df = spark.read.parquet(f"/root/testdata/sf0.001/{table}.parquet")

    join = _band_join(fn(df, max_bucket_size=10)._jdf.queryExecution().executedPlan())
    left, right = join.left().toString(), join.right().toString()
    assert "count(1)" in left and "anchor" in left
    assert re.search(rf"\(bsz#\d+L? <= 10\) OR \({id_col}#\d+L? = anchor#\d+L?\)", left)
    assert "Aggregate" not in right and "Join" not in right and "bsz" not in right
    assert source in right  # the bucket table itself

    unguarded = fn(df, max_bucket_size=None)._jdf.queryExecution().executedPlan().toString()
    assert "count(1)" not in unguarded and "bsz" not in unguarded and "anchor" not in unguarded
