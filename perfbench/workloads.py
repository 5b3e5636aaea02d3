"""The workloads. Each is a closed loop with one client: the main thread
issues one operation, waits for it, checks its output, then issues the
next, for at least ``MIN_ROUNDS`` rounds and until the run's time is up.

Every workload returns a ``Result``: the samples behind the end-to-end
metrics, and the per-layer metrics its traced phase measured. Layers are
timed from outside, around the benchmark's own calls into each layer's
public functions; ``spark.*`` counters come from the event log.
"""

from __future__ import annotations

import gc
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np

from . import inputs
from .session import session_conf
from .stats import median, percentile
from .trace import Tracer

# Sketch configurations are fixed; the run's seed varies only the inputs.
CMS_EPSILON, CMS_DELTA, CMS_SEED = 0.001, 0.1, 12345
HLL_PRECISION, HLL_SEED = 12, 1

# Input sizes. The run budget (every workload, ten seeds, twice) sets
# them; the regimes they keep are stated in each workload's docstring.
CORPUS_PAGES = 10_000
CORPUS_DAYS = 90
READ_LENGTHS = 5
READ_PASSES = 8
# Unrecorded passes over the read lengths on the last store: the first
# read of each length runs up to twice as slow as the eighth.
READ_WARMUP_PASSES = 2
TABLE_ROWS = {"documents": 2_000, "lineitem": 120_000}
JOB_TIMEOUT_S = 150

# The query-suite subset: the Catalyst CMS table (an open regression), CMS
# heavy hitters (Arrow build plus broadcast probe), an Arrow text kernel and
# the priority sample (an open perf tail).
SUITE = (
    "cms_sketch_table", "cms_heavy_hitters", "doc_repetition",
    "quality_weighted_sample",
)
# Measured rounds per run, at least: a median needs several, and each
# round lengthens every run.
MIN_ROUNDS = {"corpus_store": 2, "query_suite": 3}
# Unrecorded passes before the query suite is timed: the first is cold
# (plan codegen, Python workers), the second still runs ~30% slow.
WARMUP_PASSES = 2


@dataclass
class Ctx:
    root: str
    out: str
    seed: int
    seconds: float
    traced: bool
    cores: int
    setup_reps: int = 3
    min_rounds: int | None = None  # None: MIN_ROUNDS of the workload
    spark: object = None
    tracer: Tracer = field(default_factory=Tracer)


@dataclass
class Result:
    setup: list = field(default_factory=list)     # seconds per set-up rep
    ops: dict = field(default_factory=lambda: defaultdict(list))  # kind -> s
    bulk: list = field(default_factory=list)      # seconds per bulk step
    attempted: int = 0
    failures: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def all_ops(self) -> list[float]:
        return [x for xs in self.ops.values() for x in xs]

    def op_typical(self) -> float:
        """Geometric mean over operation kinds of each kind's median. The
        kinds (queries, range lengths) differ in cost, so a median of the
        pooled samples would jump between their clusters from run to run,
        and a median over the kinds would rest on one kind's samples; the
        geometric mean uses every kind and weighs their relative changes
        alike."""
        return statistics.geometric_mean(median(xs) for xs in self.ops.values())


# HLL factory and decoder for the generic rail: module-level so Python
# workers unpickle them by reference.
def make_hll():
    from parallel_count_min_sketch_spark.sketches.hll import HyperLogLog

    return HyperLogLog(HLL_PRECISION, HLL_SEED)


def hll_from_bytes(b):
    from parallel_count_min_sketch_spark.sketches.hll import HyperLogLog

    return HyperLogLog.from_bytes(b)


def _cfg():
    from parallel_count_min_sketch_spark.config import CMSConfig

    return CMSConfig(epsilon=CMS_EPSILON, delta=CMS_DELTA, seed=CMS_SEED)


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the metrics."""
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def _more(ctx: Ctx, workload: str, t0: float, rounds: int) -> bool:
    """Whether the closed loop issues another round."""
    return (rounds < (ctx.min_rounds or MIN_ROUNDS[workload])
            or time.perf_counter() - t0 < ctx.seconds)


def settle(spark) -> None:
    """Full collections in the JVM and in this process before a measured
    step, so that garbage left by earlier steps is not collected inside
    it, at a point that varies from run to run."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _parquet_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")) or not n.endswith(".parquet"):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def _timed(fn, reps: int) -> float:
    """Median wall seconds of ``reps`` calls of ``fn``."""
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return median(walls)


# ---------------------------------------------------------------------------
# shared layer probes
# ---------------------------------------------------------------------------
def kernel_replay(layers: dict) -> None:
    """hashing/sketches: the numpy kernels replayed single-threaded on a
    fixed 200k-token sample of the corpus mixture."""
    from parallel_count_min_sketch_spark.sketches.cms import CountMinSketch
    from parallel_count_min_sketch_spark.sketches.hashing import djb2_batch

    toks = inputs.token_sample(200_000, 0)
    n = len(toks)
    hashes = djb2_batch(toks)
    cfg = _cfg()
    layers["hashing.djb2_mtok_per_s"] = n / _timed(lambda: djb2_batch(toks), 5) / 1e6
    layers["sketches.cms_update_mitems_per_s"] = n / _timed(
        lambda: cfg.new_sketch().update_batch(hashes), 5) / 1e6
    layers["sketches.hll_update_mitems_per_s"] = n / _timed(
        lambda: make_hll().update_batch(hashes), 5) / 1e6
    a, b = cfg.new_sketch(), cfg.new_sketch()
    a.update_batch(hashes)
    b.update_batch(hashes[::-1])
    blob = a.to_bytes()
    layers["sketches.cms_merge_us"] = _timed(lambda: a.merge(b), 50) * 1e6
    layers["sketches.cms_to_bytes_us"] = _timed(a.to_bytes, 50) * 1e6
    layers["sketches.cms_from_bytes_us"] = _timed(
        lambda: CountMinSketch.from_bytes(blob, cfg.epsilon, cfg.delta), 50) * 1e6
    layers["sketches.cms_blob_bytes"] = len(blob)


def scan_probe(ctx: Ctx, layers: dict, path: str, col: str) -> None:
    """sources.scan_s: the workload's main input scanned into a noop sink."""
    spark = ctx.spark

    def scan():
        with ctx.tracer.span("scan", "sources"):
            spark.read.parquet(path).select(col).write.format("noop") \
                .mode("overwrite").save()

    layers["sources.scan_s"] = _timed(scan, 3)


def web_corpus(ctx: Ctx, res: Result, n_pages: int, name: str,
               days: int | None = None) -> str:
    """The program's seeded web-page generator, written ``ctx.setup_reps``
    times (set-up is the median); returns the last copy's path. With
    ``days``, ``warc_ts`` is stretched to span that many days."""
    from pyspark.sql import functions as F

    from parallel_count_min_sketch_spark.sources.web_pages import web_pages

    cols = [F.col("text")]
    if days:
        stretch = max(1, (days * 86400) // n_pages)
        base = "timestamp'2026-01-01 00:00:00'"
        cols.append(F.expr(
            f"timestampadd(SECOND, (unix_timestamp(warc_ts) - "
            f"unix_timestamp({base})) * {stretch}, {base})").alias("warc_ts"))
    path = ""
    for rep in range(ctx.setup_reps):
        path = os.path.join(ctx.out, f"{name}_{rep}.parquet")
        with ctx.tracer.span("generate", "sources") as s:
            web_pages(ctx.spark, n_pages, seed=ctx.seed,
                      partitions=ctx.cores).select(*cols) \
                .write.mode("overwrite").parquet(path)
        res.setup.append(s["end"] - s["start"])
    res.layers["sources.generate_s"] = median(res.setup)
    log(f"corpus of {n_pages} pages written {ctx.setup_reps}x")
    return path


def exact_counts(path: str) -> tuple[dict[str, int], dict[str, int]]:
    """Exact token counts and tokens per UTC day of a written corpus,
    computed in this process with Arrow, independently of Spark."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["text", "warc_ts"])
    split = pc.split_pattern(t.column("text").combine_chunks(), " ")
    toks = pc.list_flatten(split)
    keep = pc.not_equal(toks, "").to_numpy(zero_copy_only=False)
    vc = pc.value_counts(toks.filter(pc.not_equal(toks, "")))
    tok_counts = dict(zip(vc.field("values").to_pylist(),
                          vc.field("counts").to_pylist()))
    page = pc.list_parent_indices(split).to_numpy()[keep]
    per_page = np.bincount(page, minlength=t.num_rows)
    day = pc.cast(t.column("warc_ts"), "date32").to_numpy()
    days, inv = np.unique(day, return_inverse=True)
    per_day = np.bincount(inv, weights=per_page).astype(np.int64)
    return tok_counts, {str(d): int(n) for d, n in zip(days, per_day)}


# ---------------------------------------------------------------------------
# corpus_store
# ---------------------------------------------------------------------------
def corpus_store(ctx: Ctx) -> Result:
    """The paper's bulk update+merge over one seeded web_pages corpus whose
    warc_ts spans 90 days: per round, one CMS through the Catalyst path,
    one through the Arrow partial/treeReduce path, one HLL on the generic
    rail, and one write_rollup(cms_time_buckets(...)) of per-day CMSs; then
    seeded 1-90 day range reads off the last store. Scan, tokenizing,
    hashing and partial/merge do the bulk work; the reads exercise the
    rollup layer and its blob format."""
    from pyspark.sql import functions as F

    from parallel_count_min_sketch_spark.operators.agg import (
        build_cms_from_text, cms_text_partials, merge_partials)
    from parallel_count_min_sketch_spark.operators.rollup import (
        cms_time_buckets, read_rollup, rollup_range_collect, write_rollup)
    from parallel_count_min_sketch_spark.operators.sketch_agg import (
        build_sketch_from_text, merge_sketch_partials, text_token_partials)
    from parallel_count_min_sketch_spark.operators.sql_build import cms_table_df
    from parallel_count_min_sketch_spark.sketches.cms import CountMinSketch
    from parallel_count_min_sketch_spark.sketches.hashing import djb2_batch

    spark, tr, res = ctx.spark, ctx.tracer, Result()
    cfg = _cfg()
    path = web_corpus(ctx, res, CORPUS_PAGES, "corpus", days=CORPUS_DAYS)
    df = spark.read.parquet(path).select("text")
    day_toks = spark.read.parquet(path).select(
        "warc_ts", F.explode(F.split("text", " ")).alias("tok")) \
        .filter(F.col("tok") != "")

    tok_counts, per_day = exact_counts(path)
    n_exact, distinct = sum(tok_counts.values()), len(tok_counts)
    # the sequential kernel over the distinct tokens: the registers every
    # distributed HLL build must reproduce exactly
    ref_hll = make_hll()
    ref_hll.update_batch(djb2_batch(list(tok_counts)))
    slack = math.ceil(CMS_EPSILON * n_exact)
    # The estimator's distance from the exact distinct count is reported
    # (sketches.hll_rel_error), not checked: on these djb2-hashed tokens the
    # library's HLL misses its 1.04/sqrt(m) standard error by far (+28%;
    # within 3% on random integers). A build is correct when it reproduces
    # the sequential kernel, which is what the repo's own correctness gate
    # checks for HLL (registers exactly).
    ref_est = ref_hll.estimate()
    hll_err = abs(ref_est - distinct) / distinct
    res.layers["sketches.hll_rel_error"] = hll_err
    if hll_err > 3 * 1.04 / math.sqrt(1 << HLL_PRECISION):
        log(f"known defect: HLL estimates {ref_est:.0f} for {distinct} "
            f"distinct tokens, over 3 standard errors off")
    days = sorted(per_day)
    rng = np.random.default_rng([ctx.seed, 5])
    # range lengths are stratified over 1..len(days), so seeds move where
    # ranges fall, not how much the run reads
    ladder = np.linspace(1, len(days), READ_LENGTHS).round().astype(int)

    def cms_ok(sk) -> bool:
        est = sk.point_query_strings(["tok123", "tok456"])
        return (sk.total == n_exact
                and all(tok_counts[t] <= e <= tok_counts[t] + slack
                        for t, e in zip(("tok123", "tok456"), est)))

    def sql_build():
        with tr.span("cms_sql_build", "sql_build") as s:
            t = time.perf_counter()
            toks = df.select(F.explode(F.split("text", " ")).alias("tok")) \
                .filter(F.col("tok") != "")
            table = cms_table_df(toks, "tok", cfg, string_items=True)
            s["counts"]["construct_s"] = time.perf_counter() - t
            t = time.perf_counter()
            rows = table.collect()
            s["counts"]["collect_s"] = time.perf_counter() - t
            t = time.perf_counter()
            sk = cfg.new_sketch()
            if rows:
                idx = np.array([(r[0], r[1]) for r in rows], dtype=np.int64)
                sk.table[idx[:, 0], idx[:, 1]] = [r[2] for r in rows]
            sk.total = int(sk.table[0].sum())
            s["counts"]["reconstruct_s"] = time.perf_counter() - t
            s["counts"]["rows"] = len(rows)
        return sk

    def arrow_build():
        with tr.span("cms_arrow_build", "agg"):
            return build_cms_from_text(df, "text", cfg)

    def hll_build():
        with tr.span("hll_build", "sketch_agg"):
            return build_sketch_from_text(df, "text", make_hll, hll_from_bytes)

    def write(i: int):
        """Writes store ``i`` and opens it: a reader keeps the handle, so
        partition discovery is paid once per store, not once per read."""
        store = os.path.join(ctx.out, f"store_{i}")
        with tr.span("rollup_write", "rollup"):
            write_rollup(cms_time_buckets(day_toks, "warc_ts", "tok", cfg,
                                          string_items=True,
                                          pre_aggregate=True), store)
        with tr.span("rollup_open", "rollup"):
            handle = read_rollup(spark, store)
        return store, handle

    def from_bytes(b):
        return CountMinSketch.from_bytes(b, cfg.epsilon, cfg.delta)

    def read(handle, span: int, record: bool):
        lo_i = int(rng.integers(0, len(days) - span + 1))
        lo, hi = days[lo_i], days[lo_i + span - 1]
        with tr.span("range_read", "rollup", days=span) as s:
            rows, sk = rollup_range_collect(handle, lo, hi, from_bytes)
        if record:
            s["op"] = True
            res.ops[span].append(s["end"] - s["start"])
            want = sum(per_day[d] for d in days[lo_i:lo_i + span])
            res.check(sk is not None and len(rows) == span and sk.total == want,
                      f"range {lo}..{hi} total differs from the exact count")

    def round_(i: int, record: bool):
        settle(spark)
        n0 = len(tr.spans)
        t = time.perf_counter()
        sql_sk = sql_build()
        arrow_sk = arrow_build()
        h = hll_build()
        store, handle = write(i)
        wall = time.perf_counter() - t
        if record:
            for sp in tr.spans[n0:]:
                sp["op"] = True
            res.bulk.append(wall)
            res.check(cms_ok(sql_sk), "SQL CMS outside [exact, exact+eps*N]")
            res.check(cms_ok(arrow_sk)
                      and np.array_equal(sql_sk.table, arrow_sk.table),
                      "Arrow CMS differs from the SQL matrix")
            res.check(np.array_equal(h.registers, ref_hll.registers),
                      "HLL registers differ from the sequential kernel")
            res.check(h.estimate() == ref_est,
                      "HLL estimate differs from the sequential kernel's")
        if record:
            log(f"round {i}: {wall:.2f} s bulk")
        return store, handle

    log(f"exact answers ready: {n_exact} tokens, {distinct} distinct, "
        f"{len(days)} days")
    t = time.perf_counter()
    round_(-1, record=False)
    res.layers["bench.warmup_s"] = time.perf_counter() - t
    log("warm-up round done")
    t0 = time.perf_counter()
    i = 0
    while True:
        store, handle = round_(i, record=True)
        i += 1
        if not _more(ctx, "corpus_store", t0, i):
            break
    # the range reads of the last store, each length READ_PASSES times
    settle(spark)
    for p in range(READ_WARMUP_PASSES + READ_PASSES):
        for span in rng.permutation(ladder):
            read(handle, int(span), record=p >= READ_WARMUP_PASSES)
    log(f"{READ_PASSES * len(ladder)} range reads, typical "
        f"{res.op_typical() * 1e3:.0f} ms")
    store_bytes, files = _parquet_bytes(store)

    L = res.layers

    def op_median(name: str, key: str | None = None) -> float:
        spans = [sp for sp in tr.spans if sp["name"] == name and sp.get("op")]
        return median((sp["end"] - sp["start"]) if key is None
                      else sp["counts"][key] for sp in spans)

    L["sql_build.build_s"] = op_median("cms_sql_build")
    L["sql_build.construct_ms"] = op_median("cms_sql_build", "construct_s") * 1e3
    L["sql_build.collect_s"] = op_median("cms_sql_build", "collect_s")
    L["sql_build.reconstruct_ms"] = op_median("cms_sql_build", "reconstruct_s") * 1e3
    L["sql_build.rows"] = op_median("cms_sql_build", "rows")
    L["agg.build_s"] = op_median("cms_arrow_build")
    L["sketch_agg.build_s"] = op_median("hll_build")
    L["rollup.write_s"] = op_median("rollup_write")
    L["rollup.open_ms"] = op_median("rollup_open") * 1e3
    reads = res.all_ops()
    L["rollup.read_p50_ms"] = median(reads) * 1e3
    L["rollup.read_p75_ms"] = percentile(reads, 75) * 1e3
    L["rollup.store_bytes"] = store_bytes
    L["rollup.files"] = files
    L["rollup.days_read"] = op_median("range_read", "days")
    if ctx.traced:
        # split builds: the partials are cached so the merge is timed alone
        parts, merges, counts, sizes = [], [], [], []
        hparts, hmerges = [], []
        for _ in range(3):
            with tr.span("cms_partials", "agg") as sp:
                p = cms_text_partials(df, "text", cfg).cache()
                rows = p.select("sketch").collect()
            parts.append(sp["end"] - sp["start"])
            counts.append(len(rows))
            sizes.append(sum(len(r[0]) for r in rows))
            with tr.span("cms_merge", "agg") as sp:
                merge_partials(p, cfg)
            merges.append(sp["end"] - sp["start"])
            p.unpersist()
            with tr.span("hll_partials", "sketch_agg") as sp:
                hp = text_token_partials(df, "text", make_hll).cache()
                hp.count()
            hparts.append(sp["end"] - sp["start"])
            with tr.span("hll_merge", "sketch_agg") as sp:
                merge_sketch_partials(hp, hll_from_bytes)
            hmerges.append(sp["end"] - sp["start"])
            hp.unpersist()
        L["agg.partials_s"] = median(parts)
        L["agg.merge_s"] = median(merges)
        L["agg.partial_count"] = counts[-1]
        L["agg.partial_bytes"] = sizes[-1]
        L["sketch_agg.partials_s"] = median(hparts)
        L["sketch_agg.merge_s"] = median(hmerges)

        # split reads: the collect with a no-op decoder, then the fold
        class _Blob:
            def merge(self, other):
                return self

        collects, folds = [], []
        for _ in range(5):
            with tr.span("read_collect", "rollup") as sp:
                rows, _ = rollup_range_collect(handle, days[0], days[-1],
                                               lambda b: _Blob())
            collects.append(sp["end"] - sp["start"])
            with tr.span("fold", "sketches") as sp:
                sk = None
                for r in sorted(rows, key=lambda r: r["bucket"]):
                    o = from_bytes(bytes(r["sketch"]))
                    sk = o if sk is None else sk.merge(o)
            folds.append(sp["end"] - sp["start"])
        L["rollup.read_collect_ms"] = median(collects) * 1e3
        L["rollup.fold_ms"] = median(folds) * 1e3
        scan_probe(ctx, L, path, "text")
    return res


# ---------------------------------------------------------------------------
# query_suite
# ---------------------------------------------------------------------------
def normalize(df):
    """Order- and dtype-insensitive form of a result, as the repo's
    correctness gate compares Spark results with their DuckDB oracles."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(9)
        else:
            try:
                df[c] = df[c].astype("int64")
            except (TypeError, ValueError):
                pass
    return df.sort_values(by=list(df.columns), kind="stable").reset_index(drop=True)


def _same(got, want) -> bool:
    g, w = normalize(got), normalize(want)
    return list(g.columns) == list(w.columns) and len(g) == len(w) and g.equals(w)


def write_input_tables(ctx: Ctx, res: Result, sizes: dict, name: str) -> str:
    """One set-up rep: the seeded tables, written to a fresh directory."""
    tables = os.path.join(ctx.out, f"{name}_{len(res.setup)}")
    with ctx.tracer.span("generate", "sources") as s:
        inputs.write_tables(tables, sizes, ctx.seed)
    res.setup.append(s["end"] - s["start"])
    return tables


def query_suite(ctx: Ctx) -> Result:
    """A warm pass over a fixed list of registry queries on small seeded
    tables: latency is set by plan construction, job scheduling and
    Python-worker start-up, the opposite regime of corpus_store."""
    import duckdb

    from parallel_count_min_sketch_spark.plans import all_oracles, all_queries

    spark, tr, res = ctx.spark, ctx.tracer, Result()
    tables = write_input_tables(ctx, res, TABLE_ROWS, "tables")
    log(f"tables {TABLE_ROWS} written")
    queries, oracles = all_queries(), all_oracles()
    con = duckdb.connect()
    for t in TABLE_ROWS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables}/{t}.parquet')")
    want = {q: con.execute(oracles[q]).df() for q in SUITE}
    con.close()
    log("oracle answers ready")

    def run(q: str, record: bool):
        with tr.span(q, "plans") as s:
            t = time.perf_counter()
            df = queries[q](spark, tables)
            s["counts"]["construct_s"] = time.perf_counter() - t
            t = time.perf_counter()
            got = df.toPandas()
            s["counts"]["collect_s"] = time.perf_counter() - t
        if record:
            s["op"] = True
            res.ops[q].append(s["end"] - s["start"])
            res.check(_same(got, want[q]), f"{q} differs from its oracle")
        return got

    def setup_rep():
        """The other set-up reps run one after each pass: the host's speed
        shifts over seconds, and 0.1 s reps timed back to back would all
        sample one speed."""
        if len(res.setup) < ctx.setup_reps:
            write_input_tables(ctx, res, TABLE_ROWS, "tables")

    res.layers["bench.warmup_s"] = 0.0
    for _ in range(WARMUP_PASSES):
        t = time.perf_counter()
        for q in SUITE:
            run(q, record=False)
        res.layers["bench.warmup_s"] += time.perf_counter() - t
        setup_rep()
    log(f"{WARMUP_PASSES} warm-up passes done")
    t0 = time.perf_counter()
    passes = 0
    while True:
        settle(spark)
        t = time.perf_counter()
        out = 0
        for q in SUITE:
            out += int(run(q, record=True).memory_usage(deep=True).sum())
        res.bulk.append(time.perf_counter() - t)
        log(f"pass: {res.bulk[-1]:.2f} s")
        passes += 1
        setup_rep()
        if not _more(ctx, "query_suite", t0, passes):
            break
    res.layers["plans.result_bytes"] = out
    res.layers["sources.generate_s"] = median(res.setup)

    L = res.layers
    spans = [s for s in tr.spans if s.get("op")]
    L["plans.suite_s"] = median(res.bulk)
    L["plans.query_p50_s"] = median(res.all_ops())
    L["plans.construct_s"] = median(
        sum(s["counts"]["construct_s"] for s in spans[i:i + len(SUITE)])
        for i in range(0, len(spans), len(SUITE)))
    L["plans.collect_s"] = median(
        sum(s["counts"]["collect_s"] for s in spans[i:i + len(SUITE)])
        for i in range(0, len(spans), len(SUITE)))
    for q in SUITE:
        L[f"plans.{q}_s"] = median(s["end"] - s["start"] for s in spans
                                   if s["name"] == q)
    if ctx.traced:
        scan_probe(ctx, L, f"{tables}/documents.parquet", "text")
        job_probe(ctx, res, f"{tables}/documents.parquet")
    return res


# ---------------------------------------------------------------------------
# the curation job, run once in query_suite's traced phase
# ---------------------------------------------------------------------------
def spark_submit() -> str:
    found = shutil.which("spark-submit")
    if found:
        return found
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def submit_conf(ctx: Ctx, event_dir: str | None) -> list[str]:
    args = []
    for k, v in session_conf(ctx.out, ctx.cores, event_dir).items():
        if k == "spark.driver.memory":
            args += ["--driver-memory", v]
        else:
            args += ["--conf", f"{k}={v}"]
    return args


def job_probe(ctx: Ctx, res: Result, docs: str) -> None:
    """jobs: one spark-submit of jobs/curation_job.py on the suite's seeded
    documents, with its own event log -- the dedup -> LSH -> components ->
    packing chain end to end, where each stage calls count(). Its wall is
    the process's, from launch to exit."""
    import pyarrow.parquet as pq

    from .trace import event_log_files, parse_event_log

    out = os.path.join(ctx.out, "job")
    event_dir = os.path.join(ctx.out, "job_events")
    cmd = [spark_submit(), "--master", f"local[{ctx.cores}]",
           *submit_conf(ctx, event_dir),
           os.path.join(ctx.root, "jobs", "curation_job.py"),
           "--input", docs, "--output", out]
    with open(os.path.join(ctx.out, "job.log"), "w") as joblog, \
            ctx.tracer.span("curation_job", "jobs") as s:
        proc = subprocess.Popen(cmd, cwd=ctx.root, stdout=joblog,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JOB_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    wall = s["end"] - s["start"]
    L = res.layers
    L["jobs.job_s"] = wall
    if code != 0:
        res.check(False, f"curation job exited with {code}")
        return
    with open(os.path.join(out, "stats.json")) as f:
        stats = json.load(f)
    stages = [stats[k] for k in ("n_input", "n_after_quality",
                                 "n_after_exact_dedup", "n_after_near_dedup",
                                 "n_after_sample")]
    corpus = pq.read_table(os.path.join(out, "corpus"))
    packing = pq.read_table(os.path.join(out, "packing"))
    res.check(all(a >= b for a, b in zip(stages, stages[1:]))
              and corpus.num_rows == stats["n_after_sample"]
              and packing.num_rows == corpus.num_rows
              and int(corpus.column("n_tokens").to_numpy().sum())
              == stats["total_tokens"],
              "curation stats.json disagrees with its outputs")
    L["jobs.wall_sec"] = stats["wall_sec"]
    L["jobs.startup_s"] = wall - stats["wall_sec"]
    L["jobs.spark_jobs"] = sum(
        g["jobs"] for g in parse_event_log(event_log_files(event_dir)).values())


WORKLOADS = {
    "corpus_store": corpus_store,
    "query_suite": query_suite,
}
