"""The `batch_mix` workload: job.run_extraction over a seeded synthetic
transcripts table, plus (traced run only) a trickle of the same rows
through streaming.stream_job.run_streaming_extraction.

Inputs come from `sources.synth.synthesize` with the run's seed; its golden
table carries the serial `kernel.pipeline.extract_page` result per turn (the
oracle) and the text each page was rendered from (the truth).  The engine
receives only the generated parquet files.
"""

from __future__ import annotations

import difflib
import glob
import json
import multiprocessing
import os
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import harness
from harness import median, tail

# 16 chunks = 4 tasks per core at local[4], in one checkpointed wave (one
# data commit and one lineage commit per job): with two waves each wave
# leaves half of its 16 partitions empty and the job's wall time swings
# twice as much from run to run
JOB_CFG = {"num_chunks": 16, "num_waves": 1}

# 80 conversations of 2-7 turns plus the synthesizer's hot conversation
# (skew_factor 100), capped at HOT_TURNS turns so that the table size, and
# with it the share of fixed per-job cost, does not swing with the seed
SYNTH = {"n_convs": 80, "mean_turns": 4, "pool_size": 100}
HOT_CONV = "conv_000042"
HOT_TURNS = 200

# the traced run's trickle: the table's first STREAM_FILES * STREAM_ROWS
# rows as STREAM_FILES files, one micro-batch each
STREAM_FILES = 3
STREAM_ROWS = 10

STAGES = [  # (metric stage name, name imported by kernel/pipeline.py)
    ("binarize", "binarize_inv"),
    ("deskew", "deskew"),
    ("segment_lines", "segment_lines"),
    ("word_separators", "word_separators"),
    ("contour_seg", "contour_seg"),
    ("features", "batch_get_feat_vectors"),
    ("classify", "match_feat_to_char"),
]


@dataclass
class Inputs:
    table: pa.Table        # the generated transcripts table (engine input)
    input_path: str        # its parquet file
    golden: dict           # (conv_id, turn_idx) -> (expected, true, payload) per payload turn
    payloads: list[str]    # payload texts, in input order
    words: int             # rendered words over all payload turns: the job's work
    warm_path: str         # a four-row table for the warm-up action


def _model():
    from arabic_ocr_spark.kernel.classifier import CharModel
    from arabic_ocr_spark.sources.synth import default_model_path

    return CharModel.load(default_model_path())


def generate(work: str, seed: int) -> Inputs:
    from arabic_ocr_spark.sources.synth import SynthConfig, synthesize

    gen = os.path.join(work, "gen")
    synthesize(gen, SynthConfig(seed=seed, **SYNTH))
    table = pq.read_table(os.path.join(gen, "transcripts.parquet"))
    hot = pc.equal(table.column("conv_id"), HOT_CONV)
    table = table.filter(pc.invert(pc.and_(hot, pc.greater_equal(table.column("turn_idx"), HOT_TURNS))))
    g = pq.read_table(os.path.join(gen, "transcripts_golden.parquet")).to_pylist()
    golden = {(r["conv_id"], r["turn_idx"]): (r["expected_text"], r["true_text"]) for r in g}
    path = os.path.join(work, "in", "transcripts.parquet")
    os.makedirs(os.path.dirname(path))
    pq.write_table(table, path)
    payload_rows = [r for r in table.select(["conv_id", "turn_idx", "text"]).to_pylist() if r["text"]]
    warm_path = os.path.join(work, "warm", "transcripts.parquet")
    os.makedirs(os.path.dirname(warm_path))
    keep = [i for i, t in enumerate(table.column("text").to_pylist()) if t][:4]
    pq.write_table(table.take(keep), warm_path)
    return Inputs(
        table=table,
        input_path=path,
        golden={(r["conv_id"], r["turn_idx"]): (*golden[(r["conv_id"], r["turn_idx"])], r["text"])
                for r in payload_rows},
        payloads=[r["text"] for r in payload_rows],
        words=sum(len(golden[(r["conv_id"], r["turn_idx"])][1].split()) for r in payload_rows),
        warm_path=warm_path,
    )


def write_trickle(table: pa.Table, in_dir: str) -> None:
    os.makedirs(in_dir)
    for i in range(STREAM_FILES):
        p = os.path.join(in_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * STREAM_ROWS, STREAM_ROWS), p)
        # the file source takes new files in modification-time order
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))


# ------------------------------------------------------------- operations

def _cfg():
    from arabic_ocr_spark.job import ExtractionJobConfig

    return ExtractionJobConfig(**JOB_CFG)


def run_batch(spark, input_path: str, out_dir: str) -> float:
    from arabic_ocr_spark.job import run_extraction

    t0 = time.perf_counter()
    run_extraction(spark, input_path, out_dir, _cfg())
    return time.perf_counter() - t0


def run_stream(spark, in_dir: str, out_dir: str) -> list:
    """Drain in_dir one file per trigger; returns the progress reports of
    the triggers that carried rows."""
    from arabic_ocr_spark.streaming.stream_job import run_streaming_extraction

    q = run_streaming_extraction(spark, in_dir, out_dir, _cfg(), max_files_per_trigger=1)
    return [p for p in q.recentProgress if p.numInputRows > 0]


# ------------------------------------------------------------------ checks

def read_output(out_dir: str) -> list[dict]:
    rows = []
    for unit_dir in sorted(glob.glob(os.path.join(out_dir, "data", "*=*"))):
        unit = os.path.basename(unit_dir)
        for f in sorted(glob.glob(os.path.join(unit_dir, "*.parquet"))):
            t = pq.read_table(f, columns=["conv_id", "turn_idx", "extracted_text", "part_id", "proc_us"])
            for r in t.to_pylist():
                r["unit"] = unit
                rows.append(r)
    return rows


def output_bytes(out_dir: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(out_dir, "data", "*=*", "*.parquet")))


class Checker:
    """Per-turn equality with the serial oracle, and agreement with the
    rendered truth: per turn, and in words over the distinct pages (each
    page scored once, from the first output that holds it)."""

    def __init__(self, golden: dict):
        self.golden = golden
        self.attempted = self.failed = 0
        self.turns_true = 0
        self.page_words: dict[str, tuple[int, int]] = {}

    def add(self, rows: list[dict]) -> None:
        """One operation's output: every golden turn must appear exactly
        once with the oracle's text; extra or repeated rows count as failed."""
        seen: dict[tuple, str] = {}
        bad = 0
        for r in rows:
            key = (r["conv_id"], r["turn_idx"])
            bad += key in seen or key not in self.golden
            seen[key] = r["extracted_text"]
        self.attempted += len(self.golden)
        for key, (expected, truth, page) in self.golden.items():
            got = seen.get(key)
            bad += got is None or got != expected
            got = got or ""
            self.turns_true += got == truth
            if page not in self.page_words:
                a, b = truth.split(), got.split()
                sm = difflib.SequenceMatcher(None, a, b, autojunk=False)
                self.page_words[page] = (sum(m.size for m in sm.get_matching_blocks()), len(a))
        self.failed += bad

    def turn_truth(self) -> float:
        return self.turns_true / max(1, self.attempted)

    def word_truth(self) -> float:
        return (sum(hit for hit, _ in self.page_words.values())
                / max(1, sum(n for _, n in self.page_words.values())))


# ---------------------------------------------------------------- workload

class ExtractionWorkload:
    def __init__(self, name: str, work: str, seed: int):
        self.name = name
        self.work = work
        self.seed = seed
        self.inputs: Inputs | None = None
        self.n_out = 0

    def _out(self, kind: str) -> str:
        self.n_out += 1
        return os.path.join(self.work, f"{kind}-out{self.n_out}")

    def generate(self) -> dict:
        self.inputs = generate(self.work, self.seed)
        return {"input_rows": self.inputs.table.num_rows, "payload_rows": len(self.inputs.payloads),
                "input_bytes": os.path.getsize(self.inputs.input_path),
                "distinct_pages": len(set(self.inputs.payloads))}

    def warmup(self, spark) -> None:
        """The job itself over four rows: Python workers, kernel imports,
        the model broadcast, and the scan, shuffle, write and lineage paths."""
        run_batch(spark, self.inputs.warm_path, self._out("warm"))

    def measure(self, spark, seconds: float) -> dict:
        checker = Checker(self.inputs.golden)
        walls, outs = [], []
        t_start = time.perf_counter()
        with harness.WindowSampler(harness.jvm_pid()) as probe:
            while True:
                outs.append(self._out("job"))
                walls.append(run_batch(spark, self.inputs.input_path, outs[-1]))
                if harness.window_done(t_start, walls, seconds):
                    break
        for out in outs:
            checker.add(read_output(out))
        return {
            "metrics": {
                "throughput": self.inputs.words * len(walls) / sum(walls),
                "worker_peak_rss_mb": probe.peak_mb,
                "truth_match": checker.word_truth(),
            },
            "attempted": checker.attempted,
            "failed": checker.failed,
            "info": {"jobs": len(walls), "job_s": walls, "steal_share": probe.steal_share,
                     "words": self.inputs.words,
                     "turns_per_s": len(self.inputs.payloads) * len(walls) / sum(walls),
                     "turn_truth_match": checker.turn_truth(),
                     "failed_share": checker.failed / max(1, checker.attempted)},
        }

    # ------------------------------------------------------------ traced

    def traced(self, spark) -> dict:
        inputs = self.inputs
        checker = Checker(inputs.golden)
        rec = harness.PlanRecorder(spark)
        job0 = harness.last_job_id(spark)
        out = self._out("job")
        wall = run_batch(spark, inputs.input_path, out)
        tasks = harness.tasks_since(spark, job0)
        executions = rec.drain()
        rec.close()
        rows = read_output(out)
        checker.add(rows)
        extraction = [qe for qe in executions if harness.has_node(qe, "MapInPandasExec")]
        m = harness.spark_layer(extraction)
        m["spark.tasks"] = tasks
        kernel_ms = sum(r["proc_us"] for r in rows) / 1e3
        per_part: dict[tuple, int] = {}
        for r in rows:
            key = (r["unit"], r["part_id"])
            per_part[key] = per_part.get(key, 0) + r["proc_us"]
        m["spark.kernel_ms"] = kernel_ms
        m["spark.boundary_ms"] = m["spark.python_total_ms"] - kernel_ms
        m["spark.task_skew"] = max(per_part.values()) / (sum(per_part.values()) / len(per_part))

        turns = len(inputs.payloads)
        spark_tps = turns / wall
        m["commit.waves"] = JOB_CFG["num_waves"]
        m["commit.output_bytes_per_turn"] = output_bytes(out) / turns
        m["commit.overhead_s"] = wall - self._noop_pass(spark)
        stream_m, stream_check = self._stream_layer(spark)
        m.update(stream_m)
        m.update(kernel_layer(inputs.payloads, self.trace_path()))
        m["spark.baremetal_ratio"] = spark_tps / baremetal_tps(inputs.payloads)
        m["scaling_eff_1to4"] = spark_tps / (4 * self._local1_tps(spark))
        return {
            "metrics": m,
            "attempted": checker.attempted + stream_check.attempted,
            "failed": checker.failed + stream_check.failed,
            "info": {"spark_rows_per_s": spark_tps, "job_s": wall,
                     "turn_truth_match": checker.turn_truth(),
                     "failed_share": checker.failed / max(1, checker.attempted),
                     "stream_failed": stream_check.failed,
                     "sql_executions": len(executions), "extraction_executions": len(extraction)},
        }

    def trace_path(self) -> str:
        return os.path.join(os.path.dirname(self.work), f"trace-{self.name}-seed{self.seed}.json")

    def _noop_pass(self, spark) -> float:
        """The job's extraction plan, one per wave, into Spark's no-op sink."""
        from pyspark.sql import functions as F

        from arabic_ocr_spark.job import plan_extraction

        cfg = _cfg()
        df = spark.read.parquet(self.inputs.input_path).filter(F.col("text") != "")
        t0 = time.perf_counter()
        for wave in range(cfg.num_waves):
            plan_extraction(spark, df, cfg, wave=wave).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def _stream_layer(self, spark) -> tuple[dict, Checker]:
        """The table's first rows as a trickle of small files, drained one
        file per trigger after a one-file warm-up drain; returns the stream.*
        metrics and the check of the drain's output."""
        table = self.inputs.table
        warm_dir = os.path.join(self.work, "trickle-warm")
        os.makedirs(warm_dir)
        pq.write_table(table.slice(0, 4), os.path.join(warm_dir, "part-00000.parquet"))
        run_stream(spark, warm_dir, self._out("trickle"))
        in_dir = os.path.join(self.work, "trickle-in")
        write_trickle(table, in_dir)
        out = self._out("trickle")
        prog = run_stream(spark, in_dir, out)
        rows = table.slice(0, STREAM_FILES * STREAM_ROWS).select(["conv_id", "turn_idx"]).to_pylist()
        keys = {(r["conv_id"], r["turn_idx"]) for r in rows}
        checker = Checker({k: v for k, v in self.inputs.golden.items() if k in keys})
        checker.add(read_output(out))
        durations = [p.durationMs["triggerExecution"] / 1e3 for p in prog]
        m = {
            "stream.triggers": len(prog),
            "stream.rows_per_trigger": sum(p.numInputRows for p in prog) / len(prog),
            "stream.microbatch_p50_s": median(durations),
            "stream.microbatch_tail_s": tail(durations),
        }
        for key, dkey in (("add_batch_ms", "addBatch"), ("planning_ms", "queryPlanning"),
                          ("wal_commit_ms", "walCommit")):
            m[f"stream.{key}"] = median([p.durationMs.get(dkey, 0) for p in prog])
        return m, checker

    def _local1_tps(self, spark) -> float:
        """Turns/s of the same job at local[1]; ends the local[4] session."""
        spark.stop()
        spark1 = harness.start_spark("local[1]")
        self.warmup(spark1)
        wall = run_batch(spark1, self.inputs.input_path, self._out("local1"))
        return len(self.inputs.payloads) / wall


# ------------------------------------------------------------ kernel layer

def kernel_layer(payloads: list[str], trace_path: str) -> dict:
    """Serial extract_page over the distinct payloads, each page once plain
    and once with timing wrappers around the names kernel/pipeline.py
    imports (plus a counter on features.recognize_char, which sees every
    character slice); the spans are kept in memory and written to
    trace_path at the end."""
    from arabic_ocr_spark.kernel import features, pipeline
    from arabic_ocr_spark.sources.codec import decode_payload

    model = _model()
    pages = list(dict.fromkeys(payloads))

    spans: list[tuple[int, str, float, float]] = []  # (page, stage, start, end)
    page_no = [0]
    slices = {"calls": 0, "repeats": 0}
    seen_slices: set = set()

    def wrap(stage, fn):
        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                spans.append((page_no[0], stage, t0, time.perf_counter()))
        return timed

    def count_slices(fn):
        def counted(img, *a, **kw):
            key = (img.shape, img.tobytes())
            slices["calls"] += 1
            slices["repeats"] += key in seen_slices
            seen_slices.add(key)
            return fn(img, *a, **kw)
        return counted

    originals = {attr: getattr(pipeline, attr) for _, attr in STAGES}
    wrapped = {attr: wrap(stage, originals[attr]) for stage, attr in STAGES}
    orig_rc = features.recognize_char
    counted_rc = count_slices(orig_rc)
    decode = wrap("decode", decode_payload)

    def traced_page(i: int, p: str):
        page_no[0] = i
        for attr, fn in wrapped.items():
            setattr(pipeline, attr, fn)
        features.recognize_char = counted_rc
        try:
            t0 = time.perf_counter()
            r = pipeline.extract_page(decode(p), model)
            spans.append((i, "page", t0, time.perf_counter()))
        finally:
            for attr, fn in originals.items():
                setattr(pipeline, attr, fn)
            features.recognize_char = orig_rc
        return r

    plain_ms: list[float] = []

    def plain_page(p: str):
        t0 = time.perf_counter()
        r = pipeline.extract_page(decode_payload(p), model)
        plain_ms.append((time.perf_counter() - t0) * 1e3)
        return r

    plain_page(pages[0])  # first-call costs are not part of a page's time
    plain_ms.clear()
    words = []
    for i, p in enumerate(pages):
        # alternate which of the two runs of a page goes first, so that
        # neither side always finds the caches warm
        if i % 2:
            t, r = traced_page(i, p), plain_page(p)
        else:
            r = plain_page(p)
            t = traced_page(i, p)
        if t.text != r.text:
            raise RuntimeError(f"the traced kernel returned a different text for page {i}")
        words.append(r.n_words)

    n = len(pages)
    total = {}
    for _, stage, t0, t1 in spans:
        total[stage] = total.get(stage, 0.0) + (t1 - t0) * 1e3
    stage_sum = sum(v for k, v in total.items() if k != "page")
    m = {f"kernel.{stage}_ms": total.get(stage, 0.0) / n for stage, _ in STAGES}
    m.update({
        "codec.decode_ms_per_turn": total["decode"] / n,
        "codec.payload_kb_per_turn": sum(len(p) for p in payloads) / len(payloads) / 1024,
        "kernel.page_ms_p50": median(plain_ms),
        "kernel.page_ms_tail": tail(plain_ms),
        "kernel.stage_coverage": stage_sum / total["page"],
        "kernel.trace_overhead": total["page"] / sum(plain_ms) - 1.0,
        "kernel.words_per_page": sum(words) / n,
        "kernel.char_slices_per_page": slices["calls"] / n,
        "kernel.char_slice_repeat_share": slices["repeats"] / max(1, slices["calls"]),
    })
    os.makedirs(os.path.dirname(trace_path), exist_ok=True)
    with open(trace_path, "w", encoding="utf-8") as f:
        json.dump({"spans": [{"page": p, "name": s, "start": a, "end": b} for p, s, a, b in spans],
                   "summary": m}, f)
    return m


# ------------------------------------------------------- bare-metal ceiling

_MP_MODEL = None


def _mp_init() -> None:
    global _MP_MODEL
    _MP_MODEL = _model()


def _mp_ready(_: int) -> None:
    time.sleep(0.2)  # long enough that every worker takes one


def _mp_extract(texts: list[str]) -> list[str]:
    from arabic_ocr_spark.kernel.pipeline import extract_page
    from arabic_ocr_spark.sources.codec import decode_payload

    return [extract_page(decode_payload(t), _MP_MODEL).text for t in texts]


def baremetal_tps(payloads: list[str], procs: int = 4) -> float:
    """Turns/s of `procs` spawned processes running extract_page over the
    same payloads (process start, imports and model load are not timed)."""
    chunks = [payloads[i::64] for i in range(64)]
    ctx = multiprocessing.get_context("spawn")
    pool = ctx.Pool(procs, initializer=_mp_init)
    try:
        pool.map(_mp_ready, range(2 * procs), chunksize=1)
        t0 = time.perf_counter()
        pool.map(_mp_extract, chunks, chunksize=1)
        dt = time.perf_counter() - t0
    finally:
        pool.close()
        pool.join()
    return len(payloads) / dt
