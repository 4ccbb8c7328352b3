"""The three workloads.  Each is a closed loop: one client in one Python
process issues its next call only after the previous one returned.

Every workload warms up on inputs from a seed disjoint from the measured
one, times only public ``xapian_spark`` calls, and checks every answer
after the timed loop (oracle work is never timed).
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

from xapian_spark.operators import dedup, similarity
from xapian_spark.operators import indexer as indexer_mod
from xapian_spark.operators.indexer import build_index
from xapian_spark.operators.matcher import Matcher, decode_blocks
from xapian_spark.oracle import OracleIndex, OracleMatcher
from xapian_spark.sources.catalog import load_index
from xapian_spark.streaming.freshness import MultiIndex, append_segment, compact

from . import checks, gen

K = 10  # top-k of every query but WAND's
WAND_K = 100  # deep enough that exact BM25 ties land inside the top-k
WAND_DEPTH = WAND_K + 20  # oracle depth that covers ties at the k-th weight

# No tail percentile: a run holds 10-20 requests, too few for any
# percentile above the median to have ten samples beyond it.  The p90 is
# still computed and written to the report file.
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_p50_s": "s",
    "docs_per_s": "docs/s",
    "recall": "ratio",
}

SHAPE_METRICS = [f"matcher.p50_s.{s}" for s in gen.SHAPES if s != "wand"]
PER_LAYER = {
    "session.start_s": "s",
    **{f"indexer.{m}": "s" for m in ("build_s", "stats_ready_s", "postings_write_s")},
    "indexer.jobs": "count",
    "indexer.tasks": "count",
    "indexer.executor_run_s": "s",
    "indexer.python_cpu_s": "s",
    "indexer.shuffle_write_bytes": "bytes",
    "indexer.spill_bytes": "bytes",
    "indexer.gc_s": "s",
    "catalog.load_s": "s",
    "catalog.postings_bytes": "bytes",
    "catalog.docs_bytes": "bytes",
    "catalog.dictionary_bytes": "bytes",
    "catalog.index_bytes_per_input_byte": "ratio",
    "matcher.plan_s": "s",
    "matcher.exec_s": "s",
    "matcher.plan_jobs_per_query": "count",
    "matcher.jobs_per_query": "count",
    "matcher.stages_per_query": "count",
    "matcher.tasks_per_query": "count",
    "matcher.input_bytes_per_query": "bytes",
    "matcher.shuffle_bytes_per_query": "bytes",
    "matcher.executor_run_s_per_query": "s",
    "matcher.python_cpu_s_per_query": "s",
    **{m: "s" for m in SHAPE_METRICS},
    "matcher.decode_s": "s",
    "matcher.inexact_weights": "count",
    "wand.p50_s": "s",
    "wand.jobs_per_query": "count",
    "wand.stages_per_query": "count",
    "wand.order_flips": "count",
    "freshness.append_s": "s",
    "freshness.union_load_s": "s",
    "freshness.fresh_query_s": "s",
    "freshness.union_query_jobs": "count",
    "freshness.segments": "count",
    "freshness.compact_s": "s",
    "freshness.compact_shuffle_bytes": "bytes",
    "dedup.shingles_s": "s",
    "dedup.minhash_s": "s",
    "dedup.jaccard_s": "s",
    "dedup.shuffle_bytes": "bytes",
    "dedup.python_cpu_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.candidate_precision": "ratio",
    "dedup.shingles_dropped_by_df_cap": "count",
    "dedup.minhash_recall": "ratio",
    "similarity.cos_pairs_s": "s",
    "similarity.broadcast_bytes": "bytes",
    "similarity.python_cpu_s": "s",
    "similarity.lsh_build_s": "s",
    "similarity.near_dups_s": "s",
    "similarity.candidate_pairs": "count",
    "similarity.shuffle_bytes": "bytes",
    "similarity.lsh_recall": "ratio",
    **{f"{layer}.self_s": "s" for layer in (
        "session", "indexer", "catalog", "matcher", "wand", "freshness", "dedup", "similarity",
    )},
    "trace.overhead_share": "ratio",
}


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def p90(xs) -> float:
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Run:
    """One run of one workload: the session, the tracer and the tallies."""

    def __init__(self, spark, tracer, seed: int, seconds: float, work: str, traced: bool):
        self.spark = spark
        self.tr = tracer
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.traced = traced
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.selftest_tried = 0
        self.selftest_missed: list[str] = []
        self.notes: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.samples: dict[str, int] = {}

    def df(self, rows, schema=gen.DOC_SCHEMA):
        return self.spark.createDataFrame(rows, schema)

    def check(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.append(f"{what}: {problems[0]}")

    def error(self, what: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        self.problems.append(f"{what}: raised {type(exc).__name__}: {exc}"[:300])

    def selftest(self, what: str, check, corruptions: dict) -> None:
        self.selftest_tried += len(corruptions)
        self.selftest_missed += [
            f"{what}:{m}" for m in checks.corruptions_flagged(check, corruptions)
        ]

    def loop(self, step, cycle: int = 1) -> None:
        """Call ``step(i, traced)`` until ``seconds`` have passed, stopping
        only after whole cycles of ``cycle`` steps so every run sees the
        same mix.  A traced run runs the loop twice, untraced then traced,
        so the per-layer numbers and the tracing overhead come from the
        same run."""
        phases = (False, True) if self.traced else (False,)
        i = 0
        for traced in phases:
            self.tr.traced = traced
            self.tr.bookkeeping_s = 0.0
            t_end = time.perf_counter() + self.seconds
            while i % cycle or time.perf_counter() < t_end:
                step(i, traced)
                i += 1
        self.loop_bookkeeping_s = self.tr.bookkeeping_s
        self.tr.traced = self.traced

    # ------------------------------------------------------- counters

    def counters(self, name: str) -> list[dict]:
        return self.tr.find(name, traced_only=True)

    def layer_counts(self, prefix: str, spans: list[dict], per: int) -> None:
        """Spark and Python counters of traced ``spans``, per request."""
        tot = {c: sum(s[c] for s in spans) / per for c in (
            "jobs", "stages", "tasks", "input_bytes", "shuffle_write_bytes",
            "executor_run_s", "python_cpu_s",
        )}
        self.layer.update({
            f"{prefix}.jobs_per_query": tot["jobs"],
            f"{prefix}.stages_per_query": tot["stages"],
        })
        if prefix == "matcher":
            self.layer.update({
                "matcher.tasks_per_query": tot["tasks"],
                "matcher.input_bytes_per_query": tot["input_bytes"],
                "matcher.shuffle_bytes_per_query": tot["shuffle_write_bytes"],
                "matcher.executor_run_s_per_query": tot["executor_run_s"],
                "matcher.python_cpu_s_per_query": tot["python_cpu_s"],
            })

    def overhead(self, latencies: list[tuple[str, float, bool]]) -> None:
        """Share of the traced loop's time spent taking counters.  (The
        traced loop runs after the untraced one, on a JVM that is warmer
        still, so comparing the two loops' latencies understates it.)"""
        traced = sum(lat for _, lat, t in latencies if t)
        if traced:
            self.layer["trace.overhead_share"] = self.loop_bookkeeping_s / traced
            self.notes.append(
                "traced/untraced median request latency: "
                f"{median(lat for _, lat, t in latencies if t) / median(lat for _, lat, t in latencies if not t):.3f}"
            )


# ------------------------------------------------------------ helpers

def _timed_build(run: Run, rows, path: str, label: str) -> tuple[float, dict]:
    df = run.df(rows)
    _, secs = run.tr.timed(
        "indexer.build_index",
        lambda: build_index(run.spark, df, meta_cols=["lang"], write_path=path),
        req=label,
    )
    timings = dict(indexer_mod.LAST_BUILD_TIMINGS)
    # build_index leaves its inversion tables cached; drop them so every
    # build starts from the same memory state
    run.spark.catalog.clearCache()
    return secs, timings


def _indexer_metrics(run: Run, builds: list[float], n_docs: int, timings: dict) -> None:
    run.layer["indexer.build_s"] = median(builds)
    run.layer["indexer.stats_ready_s"] = timings.get("stats_ready_sec", 0.0)
    run.layer["indexer.postings_write_s"] = timings.get("postings_write_sec", 0.0)
    run.e2e["docs_per_s"] = n_docs / median(builds)
    spans = run.counters("indexer.build_index")
    if spans:
        last = spans[-1]  # the measured-seed build, warm
        run.layer.update({
            "indexer.jobs": last["jobs"],
            "indexer.tasks": last["tasks"],
            "indexer.executor_run_s": last["executor_run_s"],
            "indexer.python_cpu_s": last["python_cpu_s"],
            "indexer.shuffle_write_bytes": last["shuffle_write_bytes"],
            "indexer.spill_bytes": last["spill_bytes"],
            "indexer.gc_s": last["gc_s"],
        })


def _catalog_metrics(run: Run, path: str, rows) -> None:
    sizes = {t: dir_bytes(os.path.join(path, t)) for t in ("postings", "docs", "dictionary")}
    for t, b in sizes.items():
        run.layer[f"catalog.{t}_bytes"] = b
    input_bytes = sum(len(r[5].encode()) for r in rows)
    run.layer["catalog.index_bytes_per_input_byte"] = sum(sizes.values()) / input_bytes


def _query(run: Run, m: Matcher, shape: str, q, req) -> tuple[list, float]:
    """One top-k request: plan (``mset_df``, including the driver-side
    term-stats collect) then execute (``collect``)."""
    layer = "wand" if shape == "wand" else "matcher"
    with run.tr.span("request", req) as r:
        k = WAND_K if layer == "wand" else K
        df, _ = run.tr.timed(f"{layer}.mset_df", lambda: m.mset_df(q, k, prune=layer == "wand"))
        rows, _ = run.tr.timed(f"{layer}.collect", df.collect)
    return [(int(x["doc_id"]), float(x["weight"])) for x in rows], r["end"] - r["start"]


def _check_queries(run: Run, answers, oracle_for) -> None:
    """Exhaustive answers with docids and order exact and weights within
    1e-9, weights that are not bit-identical counted as
    ``matcher.inexact_weights``; WAND answers within its documented
    tolerance, ties counted as ``wand.order_flips``.  Also feeds corrupted
    copies of the first answer of each kind back through the check."""
    flips = inexact = 0
    inexact_shapes = {}
    hit = want_total = 0
    tested = set()
    for shape, q, got, state in answers:
        om = oracle_for(state)
        if shape == "wand":
            deep = om.mset(q, WAND_DEPTH)
            problems, f = checks.mset_wand(got, deep, WAND_K)
            flips += f
            want = deep[:WAND_K]
            check = lambda bad, deep=deep: checks.mset_wand(bad, deep, WAND_K)  # noqa: E731
        else:
            want = om.mset(q, K)
            problems, n = checks.mset_exact(got, want)
            inexact += n
            if n:
                inexact_shapes[shape] = inexact_shapes.get(shape, 0) + n
            check = lambda bad, want=want: checks.mset_exact(bad, want)  # noqa: E731
        run.check(f"{shape} {q}", problems)
        hit += len({d for d, _ in got} & {d for d, _ in want})
        want_total += len(want)
        kind = shape == "wand"
        if not problems and kind not in tested and len(got) > 1:
            tested.add(kind)
            run.selftest(shape, check, checks.mset_corruptions(got))
    run.e2e["recall"] = hit / want_total if want_total else 0.0
    run.layer["matcher.inexact_weights"] = inexact
    if inexact:
        run.notes.append(
            f"matcher.inexact_weights={inexact} {inexact_shapes}: exhaustive weights "
            "within 1e-9 of the oracle but not bit-identical (known defect: "
            "matcher._synonym_scored_single_job takes Spark's ln, which can differ "
            "from libm's log by 1 ulp)"
        )
    if any(a[0] == "wand" for a in answers):
        run.layer["wand.order_flips"] = flips
        if flips:
            run.notes.append(
                f"wand.order_flips={flips}: pruned top-k reordered docs whose oracle "
                "weights tie within 1e-9 (known defect, ROADMAP direction 4: the WAND "
                "kernel does not sum in leaf order)"
            )


def _latency_metrics(run: Run, lats: list[tuple[str, float, bool]]) -> None:
    untraced = [lat for _, lat, t in lats if not t]
    run.e2e["latency_p50_s"] = median(untraced)
    run.e2e["latency_p90_s"] = p90(untraced)
    run.samples["latency"] = len(untraced)
    run.overhead(lats)


# -------------------------------------------------------- query_ingest

INDEX_DOCS = 2000
SEGMENT_DOCS = 200
# The first build in a process is cold (JIT, Python worker start-up), so
# it is of a warm-up corpus; setup_s takes the median of the builds of the
# measured corpus after it.  More builds would not fit the time budget.
SETUP_BUILDS = 2
# on a new Matcher over the union, after the append (traced runs only)
FRESH_SHAPES = ("or4", "near", "and", "synonym")
COMPACTED_SHAPE = "wand"


def _merge_oracle(base: OracleIndex, rows) -> OracleIndex:
    add = gen.oracle_index(rows)
    out = OracleIndex(
        postings={t: dict(p) for t, p in base.postings.items()},
        doclens=dict(base.doclens),
        doccount=base.doccount + add.doccount,
        total_length=base.total_length + add.total_length,
    )
    for t, p in add.postings.items():
        out.postings.setdefault(t, {}).update(p)
    out.doclens.update(add.doclens)
    return out


def query_ingest(run: Run) -> None:
    """The index's life.  Set-up: bulk-build a warm-up corpus (a cold
    build), then the measured corpus twice.  Warm-up: one query of every
    shape on the warm-up index.  A traced run then also appends a segment
    to the warm-up index, queries the MultiIndex union on a new Matcher
    (cold stats cache), compacts and queries the result; that epilogue
    feeds only per-layer metrics, so untraced runs skip it.  Then top-k
    queries of every shape on one warm, long-lived Matcher over the
    measured index for ``seconds`` (terms repeat Zipf-fashion, so the
    term-stats cache hits)."""
    tr = run.tr
    setups, builds, loads, indexes = [], [], [], []
    warm_seed = gen.derived_seed(run.seed, "warm0")
    seeds = [warm_seed] + [run.seed] * SETUP_BUILDS
    corpus = {seed: gen.doc_rows(0, INDEX_DOCS, seed) for seed in (warm_seed, run.seed)}
    for i, seed in enumerate(seeds):
        rows = corpus[seed]
        root = os.path.join(run.work, f"index-{i}")
        path = os.path.join(root, "seg-0000")
        b, timings = _timed_build(run, rows, path, f"setup{i}")
        ix, load_s = tr.timed("catalog.load_index", lambda: load_index(run.spark, path))
        m, m_s = tr.timed("matcher.init", lambda: Matcher(run.spark, ix))
        indexes.append((rows, root, path, ix, m))
        if i > 0:
            builds.append(b)
            loads.append(load_s)
            setups.append(b + load_s + m_s)
    run.e2e["setup_s"] = run.layer["session.start_s"] + median(setups)
    run.samples["setup"] = len(setups)
    run.layer["catalog.load_s"] = median(loads)
    _indexer_metrics(run, builds, INDEX_DOCS, timings)
    rows, root, path, ix, m = indexes[-1]
    _catalog_metrics(run, path, rows)

    answers = []
    warm_rows, warm_root, _, _, warm_m = indexes[0]
    warm_oix = gen.oracle_index(warm_rows)
    warm_mix = gen.QueryMix(warm_oix, warm_rows, gen.derived_seed(run.seed, "warmq"))
    for shape in gen.SHAPES:
        q = warm_mix.make(shape)
        try:
            got, _ = _query(run, warm_m, shape, q, "warmup")
        except Exception as exc:
            run.error(f"warm-up {shape} {q}", exc)
            continue
        answers.append((shape, q, got, warm_oix))
    if run.traced:
        try:
            _ingest(run, warm_root, warm_oix, warm_mix, answers)
        except Exception as exc:
            run.error("append/compact", exc)

    oix = gen.oracle_index(rows)
    sched = gen.QueryMix(oix, rows, gen.derived_seed(run.seed, "queries")).schedule(20 * len(gen.SHAPES))
    lats, traced_qs = [], []

    def step(i, traced):
        shape, q = sched[i]
        try:
            got, lat = _query(run, m, shape, q, i)
        except Exception as exc:  # a failed request is counted, not fatal
            run.error(f"{shape} {q}", exc)
            return
        answers.append((shape, q, got, oix))
        lats.append((shape, lat, traced))
        if traced and shape != "wand":
            traced_qs.append(q)

    first_window_span = len(tr.spans)
    run.loop(step, cycle=len(gen.SHAPES))
    window = tr.spans[first_window_span:]
    _latency_metrics(run, lats)
    for s in gen.SHAPES:
        if s != "wand":
            run.layer[f"matcher.p50_s.{s}"] = median(lat for sh, lat, _ in lats if sh == s)
    run.layer["wand.p50_s"] = median(lat for sh, lat, _ in lats if sh == "wand")
    for name, key in (("matcher.mset_df", "plan_s"), ("matcher.collect", "exec_s")):
        run.layer[f"matcher.{key}"] = median(s["end"] - s["start"] for s in window if s["name"] == name)
    for layer in ("matcher", "wand"):
        spans = [s for s in window if s.get("traced") and s["name"].split(".")[0] == layer]
        n = sum(1 for sh, _, t in lats if t and (sh == "wand") == (layer == "wand"))
        if spans and n:
            run.layer_counts(layer, spans, n)
    plan = [s for s in window if s.get("traced") and s["name"] == "matcher.mset_df"]
    if plan:
        run.layer["matcher.plan_jobs_per_query"] = mean(s["jobs"] for s in plan)

    if run.traced:  # decode cost of the traced queries' posting blocks
        for q in traced_qs[: len(gen.SHAPES)]:
            terms = sorted(set(q.terms()))
            tr.timed(
                "matcher.decode_blocks",
                lambda: decode_blocks(ix.postings.filter(F.col("term").isin(terms))).count(),
            )
        run.layer["matcher.decode_s"] = median(
            s["end"] - s["start"] for s in tr.find("matcher.decode_blocks")
        )

    oms: dict[int, OracleMatcher] = {}

    def oracle_for(oracle_ix):
        if id(oracle_ix) not in oms:
            oms[id(oracle_ix)] = OracleMatcher(oracle_ix)
        return oms[id(oracle_ix)]

    _check_queries(run, answers, oracle_for)


def _ingest(run: Run, root: str, base_oix: OracleIndex, mix, answers) -> None:
    """Append one segment, query the union on a new Matcher, compact, query
    the compacted index."""
    tr = run.tr
    seg_rows = gen.doc_rows(INDEX_DOCS, SEGMENT_DOCS, gen.derived_seed(run.seed, "segment"))
    batch = run.df(seg_rows)
    _, run.layer["freshness.append_s"] = tr.timed(
        "freshness.append_segment",
        lambda: append_segment(run.spark, root, batch, "0001", meta_cols=["lang"]),
        req="ingest",
    )
    union, run.layer["freshness.union_load_s"] = tr.timed(
        "freshness.union_load", lambda: MultiIndex(run.spark, root).load(), req="ingest"
    )
    run.layer["freshness.segments"] = 2
    union_oix = _merge_oracle(base_oix, seg_rows)
    m = Matcher(run.spark, union)
    fresh, first_span = [], len(tr.spans)
    for r, shape in enumerate(FRESH_SHAPES):
        q = mix.make(shape)
        got, lat = _query(run, m, shape, q, f"fresh{r}")
        fresh.append(lat)
        answers.append((shape, q, got, union_oix))
    run.layer["freshness.fresh_query_s"] = median(fresh)
    spans = [s for s in tr.spans[first_span:] if s.get("traced") and s["name"].split(".")[0] in ("matcher", "wand")]
    if spans:
        run.layer["freshness.union_query_jobs"] = sum(s["jobs"] for s in spans) / len(FRESH_SHAPES)

    out = os.path.join(run.work, "compacted")
    _, run.layer["freshness.compact_s"] = tr.timed(
        "freshness.compact", lambda: compact(run.spark, root, out), req="ingest"
    )
    spans = run.counters("freshness.compact")
    if spans:
        run.layer["freshness.compact_shuffle_bytes"] = spans[-1]["shuffle_write_bytes"]
    m = Matcher(run.spark, load_index(run.spark, out))
    q = mix.make(COMPACTED_SHAPE)
    got, _ = _query(run, m, COMPACTED_SHAPE, q, "compacted")
    answers.append((COMPACTED_SHAPE, q, got, union_oix))


# ------------------------------------------------------------ near_dup

TEXT_DOCS = 1000
VECTORS = 1000
DIM = 64
SHINGLE_W = 3
MINHASH = dict(n_hashes=8, bands=4, max_bucket_size=50)
JACCARD = dict(threshold=0.7, max_shingle_df=50)
COS_K = 50
LSH_THRESHOLD = 0.95
LSH = dict(n_planes=32, bands=4, signature_impl="arrow")  # 8-bit band keys
SETUP_LOADS = 3  # input batches loaded during set-up
PASSES_PER_CYCLE = 2  # whole cycles, so the median is of two passes or more


class _Batch:
    """One pass's inputs: text docs and vectors, persisted before timing."""

    def __init__(self, run: Run, j: int, seed: int):
        self.rows = gen.doc_rows(j * TEXT_DOCS, TEXT_DOCS, seed)
        self.ids, self.vecs = gen.embeddings(
            VECTORS, DIM, gen.derived_seed(seed, f"vectors{j}"), first_id=j * VECTORS + 1
        )
        self.run = run
        self.docs = self.emb = None

    def load(self) -> float:
        t = time.perf_counter()
        self.docs = self.run.df(
            [(r[0], r[5]) for r in self.rows], "doc_id long, content string"
        ).persist()
        self.docs.count()
        self.emb = self.run.df(
            [(int(i), v.tolist()) for i, v in zip(self.ids, self.vecs)],
            "vec_id long, embedding array<double>",
        ).persist()
        self.emb.count()
        return time.perf_counter() - t

    def drop(self) -> None:
        self.docs.unpersist()
        self.emb.unpersist()


def _materialized(df):
    df = df.persist()
    df.count()
    return df


def _broadcast_files(sc) -> dict[str, int]:
    d = sc._temp_dir
    return {f: os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)}


def _dedup_pass(run: Run, b: _Batch, req) -> dict:
    tr = run.tr
    sc = run.spark.sparkContext
    out = {}
    with tr.span("request", req) as r:
        sh, out["shingles_s"] = tr.timed(
            "dedup.shingles",
            lambda: _materialized(dedup.shingles(b.docs, text_col="content", w=SHINGLE_W)),
        )
        cand, out["minhash_s"] = tr.timed(
            "dedup.minhash",
            lambda: dedup.minhash_candidate_pairs(
                dedup.minhash_signatures(sh, n_hashes=MINHASH["n_hashes"]), **MINHASH
            ).collect(),
        )
        jac, out["jaccard_s"] = tr.timed(
            "dedup.ngram_jaccard_pairs", lambda: dedup.ngram_jaccard_pairs(sh, **JACCARD).collect()
        )
        before = _broadcast_files(sc) if tr.traced else {}
        top, out["cos_s"] = tr.timed(
            "similarity.cosine_pairs_topk",
            lambda: similarity.cosine_pairs_topk(b.emb, k=COS_K).collect(),
        )
        if tr.traced:
            after = _broadcast_files(sc)
            out["broadcast_bytes"] = sum(v for f, v in after.items() if f not in before)
        ix, out["lsh_build_s"] = tr.timed(
            "similarity.lsh_build", lambda: similarity.AnnLshIndex(b.emb, dim=DIM, **LSH)
        )
        nd, out["near_dups_s"] = tr.timed(
            "similarity.embedding_near_dups",
            lambda: similarity.embedding_near_dups(ix, LSH_THRESHOLD).collect(),
        )
    out["latency"] = r["end"] - r["start"]
    if tr.traced:
        buckets = {}
        for row in ix.buckets.collect():
            buckets.setdefault((row["band"], row["bucket_key"]), []).append(row["vec_id"])
        pairs = set()
        for members in buckets.values():
            members.sort()
            pairs.update((a, c) for i, a in enumerate(members) for c in members[i + 1 :])
        out["lsh_candidates"] = len(pairs)
    sh.unpersist()
    ix.unpersist()
    out["cand"] = [(int(x["d1"]), int(x["d2"])) for x in cand]
    out["jac"] = [(int(x["d1"]), int(x["d2"]), float(x["jac"])) for x in jac]
    out["top"] = [(int(x["a"]), int(x["b"]), float(x["cos"])) for x in top]
    out["nd"] = [(int(x["a"]), int(x["b"]), float(x["cos"])) for x in nd]
    return out


def _check_pass(run: Run, b: _Batch, res: dict, first: bool) -> dict:
    q = {}
    sets = checks.shingle_sets([(r[0], r[5]) for r in b.rows], SHINGLE_W)
    want, dropped = checks.jaccard_expected(sets, JACCARD["threshold"], JACCARD["max_shingle_df"])
    run.check("ngram_jaccard_pairs", checks.jaccard_exact(res["jac"], want))
    run.check("minhash_candidate_pairs", checks.candidate_pairs_wellformed(res["cand"], set(sets)))
    exact_pairs = {(a, c) for a, c, _ in want}
    cand = set(res["cand"])
    q["dropped"] = dropped
    q["mh_found"], q["mh_expected"] = len(cand & exact_pairs), len(exact_pairs)
    q["precision"] = len(cand & exact_pairs) / len(cand) if cand else 0.0
    ex = checks.ExactCosine(b.ids, b.vecs)
    run.check("cosine_pairs_topk", checks.cosine_topk(res["top"], ex, COS_K))
    run.check("embedding_near_dups", checks.near_dups(res["nd"], ex, LSH_THRESHOLD))
    brute = ex.pairs_at_least(LSH_THRESHOLD)
    if not brute:
        run.check("embedding_near_dups", ["expected (brute-force) pair set is empty"])
    q["lsh_found"] = len({(a, c) for a, c, _ in res["nd"]} & brute)
    q["lsh_expected"] = len(brute)
    if first and res["jac"] and res["top"] and res["nd"]:
        jac = res["jac"]
        run.selftest("ngram_jaccard_pairs", lambda bad: checks.jaccard_exact(bad, want), {
            "drop_pair": jac[1:],
            "nudge_jac_1e-6": [(jac[0][0], jac[0][1], jac[0][2] + 1e-6)] + jac[1:],
            "swap_docids": [(jac[0][1], jac[0][0], jac[0][2])] + jac[1:],
        })
        top = res["top"]
        run.selftest("cosine_pairs_topk", lambda bad: checks.cosine_topk(bad, ex, COS_K), {
            "drop_pair": top[1:],
            "nudge_cos_1e-3": [(top[0][0], top[0][1], top[0][2] + 1e-3)] + top[1:],
            "swap_docids": [(top[0][1], top[0][0], top[0][2])] + top[1:],
        })
        nd = res["nd"]
        low = next(
            (int(b.ids[i]), int(b.ids[i + 1])) for i in range(len(b.ids) - 1)
            if ex.of(int(b.ids[i]), int(b.ids[i + 1])) < LSH_THRESHOLD - 0.01
        )  # consecutive ids are in random clusters, so one is always found
        run.selftest("embedding_near_dups", lambda bad: checks.near_dups(bad, ex, LSH_THRESHOLD), {
            "add_pair_below_threshold": nd + [(low[0], low[1], LSH_THRESHOLD)],
        })
        cand_l = res["cand"]
        if cand_l:
            run.selftest(
                "minhash_candidate_pairs",
                lambda bad: checks.candidate_pairs_wellformed(bad, set(sets)),
                {"duplicate_pair": cand_l + cand_l[:1], "reversed_pair": [(cand_l[0][1], cand_l[0][0])] + cand_l[1:]},
            )
    return q


def near_dup(run: Run) -> None:
    """No index at all: MinHash + exact-Jaccard dedup of text batches with
    planted near-duplicates, and exact / LSH cosine near-duplicates of
    clustered vectors."""
    loads, batches = [], []
    for j in range(SETUP_LOADS):
        b = _Batch(run, j, run.seed)
        loads.append(b.load())
        batches.append(b)
    run.e2e["setup_s"] = run.layer["session.start_s"] + median(loads)
    run.samples["setup"] = len(loads)

    # warm-up: the same calls on a full-size batch from another seed (after
    # a smaller one the first timed pass still ran about 25 % slow)
    warm = _Batch(run, 0, gen.derived_seed(run.seed, "warm"))
    warm.load()
    _dedup_pass(run, warm, "warmup")
    warm.drop()

    results = []

    def step(j, traced):
        while len(batches) <= j:
            b = _Batch(run, len(batches), run.seed)
            b.load()
            batches.append(b)
        try:
            res = _dedup_pass(run, batches[j], j)
        except Exception as exc:
            run.error(f"pass {j}", exc)
            return
        batches[j].drop()
        results.append((j, res, traced))

    run.loop(step, cycle=PASSES_PER_CYCLE)
    for b in batches[len(results):]:
        if b.docs is not None:
            b.drop()

    qs = [_check_pass(run, batches[j], res, i == 0) for i, (j, res, _) in enumerate(results)]
    untraced = [res for _, res, t in results if not t]
    _latency_metrics(run, [("pass", res["latency"], t) for _, res, t in results])
    # text docs plus vectors deduplicated per second of a whole pass
    run.e2e["docs_per_s"] = (TEXT_DOCS + VECTORS) / run.e2e["latency_p50_s"]
    found = sum(q["mh_found"] + q["lsh_found"] for q in qs)
    expected = sum(q["mh_expected"] + q["lsh_expected"] for q in qs)
    run.e2e["recall"] = found / expected if expected else 0.0
    for key, name in (
        ("shingles_s", "dedup.shingles_s"), ("minhash_s", "dedup.minhash_s"),
        ("jaccard_s", "dedup.jaccard_s"), ("cos_s", "similarity.cos_pairs_s"),
        ("lsh_build_s", "similarity.lsh_build_s"), ("near_dups_s", "similarity.near_dups_s"),
    ):
        run.layer[name] = median(r[key] for r in untraced)
    run.layer["dedup.candidate_pairs"] = median(len(r["cand"]) for _, r, _ in results)
    run.layer["dedup.verified_pairs"] = median(len(r["jac"]) for _, r, _ in results)
    run.layer["dedup.candidate_precision"] = median(q["precision"] for q in qs)
    run.layer["dedup.shingles_dropped_by_df_cap"] = median(q["dropped"] for q in qs)
    run.layer["dedup.minhash_recall"] = sum(q["mh_found"] for q in qs) / max(1, sum(q["mh_expected"] for q in qs))
    run.layer["similarity.lsh_recall"] = sum(q["lsh_found"] for q in qs) / max(1, sum(q["lsh_expected"] for q in qs))
    traced = [r for _, r, t in results if t]
    if traced:
        run.layer["similarity.broadcast_bytes"] = median(r["broadcast_bytes"] for r in traced)
        run.layer["similarity.candidate_pairs"] = median(r["lsh_candidates"] for r in traced)
    for layer, names in (
        ("dedup", ["dedup.shingles", "dedup.minhash", "dedup.ngram_jaccard_pairs"]),
        ("similarity", ["similarity.cosine_pairs_topk", "similarity.lsh_build", "similarity.embedding_near_dups"]),
    ):
        spans = [s for n in names for s in run.counters(n) if s["req"] != "warmup"]
        if spans:
            n_pass = len(traced)
            run.layer[f"{layer}.shuffle_bytes"] = sum(s["shuffle_write_bytes"] for s in spans) / n_pass
            run.layer[f"{layer}.python_cpu_s"] = sum(
                s["python_cpu_s"] for s in spans if layer == "dedup" or s["name"] == "similarity.cosine_pairs_topk"
            ) / n_pass


WORKLOADS = {"query_ingest": query_ingest, "near_dup": near_dup}
