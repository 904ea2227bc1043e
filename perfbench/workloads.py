"""The benchmark workloads and the loop that measures them.

Each workload is a closed loop with one client: this process drives a
``local[4]`` Spark session and starts its next repetition only after the
previous one finished (``route_count`` adds a ``local[1]`` pass for
``scaling_eff``). Unmeasured, checked warm-up repetitions precede the timed
ones and count as set-up. A repetition builds fresh DataFrames from the
input files, so no repetition reuses another's shuffle output, and its
outputs are checked against the reference after the timed region. One
engine call is one operation; a call that raises, or whose checked output
differs from the reference, is a failed operation.

With tracing on, untraced and traced repetitions alternate: the untraced
ones give the numbers the tracing overhead is measured against, the traced
ones give the per-layer metrics (see :func:`layer_metrics`). Traced
``route_count`` runs also run the near-dup section (:func:`dedup_section`),
which measures ``operators.dedup``.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import shovel_spark.operators.dedup as dedup
import shovel_spark.pipeline as pipeline
from perfbench import inputs
from perfbench.harness import JobCounters, Sessions
from perfbench.tracing import Span, Tracer, covered
from shovel_spark.session import local_rows_df
from shovel_spark.synth import default_domain_rules, default_lang_map

CORES = 4
N_BUCKETS = 16
#: buckets one paced invocation takes (the crash takes as many)
PACE_BUCKETS = 8

#: ``route_count`` writes its pages as this many files and lists each file
#: this many times in one scan: 32 paths, the most Spark lists without
#: launching a listing job of its own.
ROUTE_FILES = 4
ROUTE_READS = 8

#: Timed repetitions at least, whatever ``--seconds`` says; the end-to-end
#: times are their medians. A warm ``paced_recovery`` repetition takes
#: 11-15 s on a 4-core virtual machine; it gets two, because with one, a
#: burst of CPU steal during it moved ``docs_per_s`` by a fifth.
ROUTE_MIN_REPS = 4
ROUTE_LOCAL1_REPS = 2
PACED_MIN_REPS = 2
#: ``route_count``'s warm-up queries, by reads of the pages.
ROUTE_WARM_UP_READS = (1, ROUTE_READS)

#: Input size per workload, in pages.
SIZES = {
    "route_count": 25_000,
    "paced_recovery": 4_000,
}
#: Base docs of the near-dup corpus of :func:`dedup_section`.
NEARDUP_DOCS = 4_000


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Rep:
    dur: float
    traced: bool
    job_lo: int
    job_hi: int
    root: Span | None = None


@dataclass
class Run:
    """State of one benchmark run: session, counters, tracer and tallies."""

    sessions: Sessions
    work_dir: str
    seed: int
    seconds: float
    trace: bool
    size: int
    attempted: int = 0
    failed: int = 0
    reps: list[Rep] = field(default_factory=list)
    extra: dict = field(default_factory=dict)
    counters: JobCounters | None = None
    tracer: Tracer | None = None
    reference: inputs.Reference | None = None
    _tracing_now: bool = False

    @property
    def spark(self):
        return self.sessions.spark

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)

    def fresh_dir(self, name: str) -> str:
        p = self.path(name)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def attach(self) -> None:
        """Bind counters (and the tracer) to the current session."""
        self.counters = JobCounters(self.spark)
        if self.trace:
            self.tracer = self.tracer or Tracer(self.counters)
            self.tracer.counters = self.counters

    def span(self, name: str, layer: str):
        """A span when this repetition is traced, else nothing."""
        if self._tracing_now:
            return self.tracer.span(name, layer)
        return contextlib.nullcontext()

    @contextlib.contextmanager
    def phase(self, name: str):
        """Log how long an untimed step (generation, warm-up, check) took."""
        t0 = time.perf_counter()
        yield
        dur = time.perf_counter() - t0
        self.extra.setdefault("phases", []).append([name, dur])
        log(f"{name}: {dur:.2f} s")

    def record(self, ok: bool, ops: int = 1) -> None:
        self.attempted += ops
        if not ok:
            self.failed += ops

    @contextlib.contextmanager
    def timed(self, traced: bool):
        """The timed region of one repetition; traced ones get a root span
        and the wrapped engine attributes."""
        self._tracing_now = traced
        rep = Rep(0.0, traced, self.counters.next_job_id(), 0)
        with contextlib.ExitStack() as stack:
            if traced:
                stack.enter_context(self.tracer.installed())
                rep.root = stack.enter_context(self.tracer.span("rep", "workload"))
            t0 = time.perf_counter()
            try:
                yield rep
            finally:
                rep.dur = time.perf_counter() - t0
                rep.job_hi = self.counters.next_job_id()
                self._tracing_now = False
        self.reps.append(rep)


def repeat(run: Run, one_rep, seconds: float, min_reps: int) -> list[Rep]:
    """Call ``one_rep(run, traced)`` until ``seconds`` have passed and at
    least ``min_reps`` ran. A rep that raises counts its operations as
    failed and the loop goes on.

    With tracing on, repetitions alternate untraced and traced, at least
    one of each."""
    start = len(run.reps)
    if run.trace:
        min_reps = max(min_reps, 2)
    deadline = time.perf_counter() + seconds
    i = 0
    while i < min_reps or time.perf_counter() < deadline:
        traced = run.trace and i % 2 == 1
        try:
            one_rep(run, traced)
        except Exception:  # noqa: BLE001 — a failed engine call is a measured outcome
            log("repetition raised:\n" + traceback.format_exc())
            run.record(False, run.extra.get("ops_per_rep", 1))
        i += 1
    return run.reps[start:]


def warm_up(run: Run, name: str, fn, ops: int) -> None:
    """Run ``fn()``, an unmeasured warm-up that is part of set-up: in a fresh
    JVM the first repetition runs 1.5-3x slower, and the JIT keeps speeding
    the next few up. If it raises, its ``ops`` operations fail. Repetitions
    it times are dropped."""
    start = len(run.reps)
    with run.phase(name):
        try:
            fn()
        except Exception:  # noqa: BLE001 — a failed engine call is a measured outcome
            log(f"{name} raised:\n" + traceback.format_exc())
            run.record(False, ops)
    del run.reps[start:]


def median_dur(reps: list[Rep], traced: bool | None = False) -> float:
    durs = [r.dur for r in reps if traced is None or r.traced == traced]
    return statistics.median(durs)


def core_util(run: Run, reps: list[Rep]) -> float:
    """Executor time over wall time x cores, across untraced repetitions:
    the share of the 4 cores the workload kept busy."""
    task = sum(run.counters.totals(r.job_lo, r.job_hi).task_s for r in reps if not r.traced)
    wall = sum(r.dur for r in reps if not r.traced)
    return task / (wall * CORES)


def dims(run: Run):
    return default_lang_map(run.spark), default_domain_rules(run.spark)


# --- route_count ------------------------------------------------------------


def _route_input(run: Run, reads: int = ROUTE_READS):
    """The pages, each file listed ``reads`` times: one scan reads every
    page that many times over."""
    files = sorted(glob.glob(os.path.join(run.extra["pages"], "*.parquet")))
    return run.spark.read.parquet(*files * reads)


def _route_query(run: Run, reads: int = ROUTE_READS) -> list:
    lm, dr = dims(run)
    cfg = pipeline.JobConfig(n_buckets=N_BUCKETS)
    return (
        pipeline.build_routed(_route_input(run, reads), lm, dr, cfg)
        .groupBy("status", "sink")
        .agg(F.count("*").alias("n"), F.sum(F.length("text")).alias("text_chars"))
        .collect()
    )


def _check_route(run: Run, rows: list, reads: int) -> None:
    got = {inputs.ref_key(r.status, r.sink): [r.n, r.text_chars or 0] for r in rows}
    run.record(got == inputs.expected_route_counts(run.reference.result(), reads))


def _route_warm_up(run: Run, reads: tuple[int, ...]) -> None:
    """The route query over the pages read ``reads[0]``, ``reads[1]``, ...
    times, each checked like a repetition."""
    for n in reads:
        _check_route(run, _route_query(run, reads=n), reads=n)


def _route_rep(run: Run, traced: bool) -> None:
    with run.timed(traced):
        with run.span("route_count.action", "pipeline"):
            rows = _route_query(run)
    _check_route(run, rows, ROUTE_READS)
    run.extra["last_rows"] = rows


def _route_prefixes(run: Run, rounds: int = 2) -> dict:
    """Self time per layer as differences between actions on successive
    prefixes of ``build_routed`` (scan; +parse; +enrich; +route; full)."""
    from shovel_spark.functions.parse import parse_pages
    from shovel_spark.operators.enrich import apply_domain_rules, normalize_lang
    from shovel_spark.operators.route import apply_routes

    cfg = pipeline.JobConfig(n_buckets=N_BUCKETS)

    def prefix(i: int):
        """A fresh plan of prefix ``i`` for every action."""
        lm, dr = dims(run)
        df = _route_input(run)
        if i == 4:
            return pipeline.build_routed(df, lm, dr, cfg)
        steps = [
            lambda d: parse_pages(d, impl=cfg.parser_impl),
            lambda d: apply_domain_rules(normalize_lang(d, lm, default=cfg.lang_default), dr),
            lambda d: apply_routes(d, cfg.sink_rules),
        ]
        for step in steps[:i]:
            df = step(df)
        return df

    wall: list[list[float]] = [[] for _ in range(5)]
    task: list[list[float]] = [[] for _ in range(5)]
    for _ in range(rounds):
        for i in range(5):
            df = prefix(i)
            lo = run.counters.next_job_id()
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            wall[i].append(time.perf_counter() - t0)
            task[i].append(run.counters.totals(lo, run.counters.next_job_id()).task_s)
    w = [statistics.median(x) for x in wall]
    t = [statistics.median(x) for x in task]
    return {
        "parse.self_s": w[1] - w[0],
        "parse.task_s": t[1] - t[0],
        "enrich.self_s": w[2] - w[1],
        "route.self_s": w[3] - w[2],
        "pipeline.self_s": w[4] - w[3],
        "prefix_wall_s": w,
    }


def route_count(run: Run) -> dict:
    run.extra["pages"] = run.path("pages")
    run.extra["docs"] = run.size * ROUTE_READS
    with run.phase("generate"):
        inputs.make_pages(run.spark, run.extra["pages"], run.size, run.seed, files=ROUTE_FILES)
    run.reference = inputs.Reference(run.spark, run.extra["pages"])
    reads = ROUTE_WARM_UP_READS
    warm_up(run, "warm-up", lambda: _route_warm_up(run, reads), ops=len(reads))
    setup_s = time.perf_counter() - run.extra["t_start"]

    reps4 = repeat(run, _route_rep, run.seconds, min_reps=ROUTE_MIN_REPS)
    run.extra["layer_reps"] = reps4
    # the result table: the last checked aggregate, written once, untimed
    result_dir = run.fresh_dir("out_route")
    local_rows_df(
        run.spark,
        [tuple(r) for r in run.extra["last_rows"]],
        "status string, sink string, n long, text_chars long",
    ).write.parquet(os.path.join(result_dir, "sink_route_counts"))
    if run.trace:
        run.extra["prefixes"] = _route_prefixes(run)
        run.extra["dedup"] = dedup_section(run)
        layer_metrics(run)  # before the job ids of this context go away
    peak_rss_mb = run.sessions.peak_rss_mb()

    # N = 1: the same query over the same files at local[1], untraced
    run.sessions.start(1)
    run.attach()
    trace, run.trace = run.trace, False
    warm_up(run, "warm-up local[1]", lambda: _route_warm_up(run, (ROUTE_READS,)), ops=1)
    reps1 = repeat(run, _route_rep, 0, min_reps=ROUTE_LOCAL1_REPS)
    run.trace = trace
    return {
        "docs_per_s": run.extra["docs"] / median_dur(reps4),
        "setup_s": setup_s,
        # thr(4) / (4 x thr(1)) on the same input
        "scaling_eff": median_dur(reps1) / (CORES * median_dur(reps4)),
        "peak_rss_mb": peak_rss_mb,
        "sink_files": inputs.count_parquet_files(result_dir, "sink_"),
    }


# --- paced_recovery ---------------------------------------------------------


def _ledger(out_dir: str) -> list[tuple[str, int]]:
    t = inputs.read_table(os.path.join(out_dir, "ledger"), ["status", "bucket"])
    return list(zip(t.column("status").to_pylist(), t.column("bucket").to_pylist()))


def _check_paced(out_dir: str, ref: dict) -> bool:
    """Sinks equal the default-rules reference and every bucket is done
    exactly once in the ledger."""
    sinks = pipeline.JobConfig().sinks
    if inputs.sink_totals(out_dir, sinks) != inputs.expected_sink_totals(ref, sinks):
        return False
    done = sorted(b for status, b in _ledger(out_dir) if status == "done")
    return done == list(range(N_BUCKETS))


def ack_ratio(out_dir: str) -> float:
    """Done rows over attempt rows in a run directory's ledger."""
    statuses = [status for status, _ in _ledger(out_dir)]
    return statuses.count("done") / statuses.count("attempt")


def _paced_sequence(run: Run, pages: str, cfg, denied, lm, dr) -> None:
    """Crash after one slice, paced resumes until every bucket is done,
    then the dead-letter replay under the default rules."""
    df = run.spark.read.parquet(pages)
    res = pipeline.run_resumable(run.spark, df, lm, denied, cfg, max_buckets=PACE_BUCKETS)
    done = set(res["processed_buckets"])
    while len(done) < N_BUCKETS:
        res = pipeline.run_resumable(
            run.spark, run.spark.read.parquet(pages), lm, denied, cfg,
            max_buckets=PACE_BUCKETS, throttle=True,
        )
        if not res["processed_buckets"]:
            raise RuntimeError("paced resume made no progress")
        done |= set(res["processed_buckets"])
    pipeline.replay_dead_letters(run.spark, run.spark.read.parquet(pages), lm, dr, cfg)


def _paced_rep(run: Run, traced: bool, pages: str) -> None:
    out_dir = run.fresh_dir("out_paced")
    cfg = pipeline.JobConfig(out_dir=out_dir, n_buckets=N_BUCKETS)
    lm, dr = dims(run)
    denied = inputs.denied_domain_rules(run.spark)
    with run.timed(traced):
        _paced_sequence(run, pages, cfg, denied, lm, dr)
    run.record(_check_paced(out_dir, run.reference.result()), run.extra["ops_per_rep"])
    if traced:
        run.reps[-1].root.attrs["ack_ratio"] = ack_ratio(out_dir)


def paced_recovery(run: Run) -> dict:
    # one crashed run + the paced resumes + one replay
    run.extra["ops_per_rep"] = 1 + (N_BUCKETS - PACE_BUCKETS) // PACE_BUCKETS + 1
    pages = run.path("pages")
    with run.phase("generate"):
        inputs.make_pages(run.spark, pages, run.size, run.seed)
    run.reference = inputs.Reference(run.spark, pages)
    one_rep = lambda r, t: _paced_rep(r, t, pages)  # noqa: E731
    warm_up(run, "warm-up", lambda: one_rep(run, False), ops=run.extra["ops_per_rep"])
    setup_s = time.perf_counter() - run.extra["t_start"]

    reps = repeat(run, one_rep, run.seconds, min_reps=PACED_MIN_REPS)
    run.extra["layer_reps"] = reps
    if run.trace:
        layer_metrics(run)
    return {
        "docs_per_s": run.size / median_dur(reps),
        "setup_s": setup_s,
        "scaling_eff": core_util(run, reps),
        "sink_files": inputs.count_parquet_files(run.path("out_paced"), "sink_"),
        "peak_rss_mb": run.sessions.peak_rss_mb(),
    }


# --- near-dup section (traced route_count runs) -------------------------------


def _neardup_rep(run: Run, traced: bool, docs: str, ref: dict) -> None:
    """Pairs then clusters over ``docs``, both written as parquet, then
    checked against the planted pairs."""
    out_dir = run.fresh_dir("out_neardup")
    pairs_dir, clusters_dir = os.path.join(out_dir, "pairs"), os.path.join(out_dir, "clusters")
    with run.timed(traced):
        with run.span("dedup.pairs", "dedup"):
            dedup.minhash_dedup_pairs(
                run.spark.read.parquet(docs), threshold=0.7, num_hashes=16, bands=8,
                max_doc_freq=100,
            ).write.parquet(pairs_dir)
        with run.span("dedup.clusters", "dedup"):
            dedup.dup_clusters(run.spark.read.parquet(pairs_dir)).write.parquet(clusters_dir)
    pairs = inputs.read_table(pairs_dir, ["id_a", "id_b"])
    found = set(zip(pairs.column("id_a").to_pylist(), pairs.column("id_b").to_pylist()))
    run.record(all((a, b) in found for a, b in ref["planted"]))
    ids = {i for pair in found for i in pair}
    sizes = inputs.read_table(clusters_dir, ["cluster_size"]).column("cluster_size").to_pylist()
    run.record(sum(sizes) == len(ids))


def dedup_section(run: Run) -> dict:
    """``operators.dedup`` over the near-dup corpus, in traced
    ``route_count`` runs: one checked warm-up repetition, one traced one.
    Returns the ``dedup.*`` per-layer metrics; the ``lsh_candidate_pairs``
    count runs after the timed region."""
    docs = run.path("docs")
    with run.phase("generate near-dup corpus"):
        ref = inputs.make_neardup_docs(run.spark, docs, NEARDUP_DOCS, run.seed)
    ops, run.extra["ops_per_rep"] = run.extra.get("ops_per_rep", 1), 2
    start = len(run.reps)
    reps = repeat(run, lambda r, t: _neardup_rep(r, t, docs, ref), 0, min_reps=2)
    del run.reps[start:]
    run.extra["ops_per_rep"] = ops
    traced = [r for r in reps if r.traced and r.root is not None]
    if not traced:  # the traced repetition raised; it counts as failed
        return {}
    out = {k: v for k, v in _rep_layers(run, traced[0].root).items() if k.startswith("dedup.")}
    with run.tracer.span("dedup.candidates", "dedup.candidates"):
        sh = dedup.shingle_table(run.spark.read.parquet(docs), max_doc_freq=100)
        out["dedup.candidates"] = dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(sh, num_hashes=16), bands=8, num_hashes=16
        ).count()
    return out


WORKLOADS = {
    "route_count": route_count,
    "paced_recovery": paced_recovery,
}


# --- per-layer metrics --------------------------------------------------------


def _top(spans: list[Span], layer: str, by_id: dict[int, Span]) -> list[Span]:
    """Spans of ``layer`` with no ancestor of the same layer."""
    out = []
    for s in spans:
        if s.layer != layer:
            continue
        p = s.parent
        while p is not None and by_id[p].layer != layer:
            p = by_id[p].parent
        if p is None:
            out.append(s)
    return out


def _rep_layers(run: Run, root: Span) -> dict:
    tr, counters = run.tracer, run.counters
    by_id = {s.id: s for s in tr.spans}
    desc = tr.descendants(root.id)

    def top(layer):
        return _top(desc, layer, by_id)

    def wall(layer):
        return sum(s.dur for s in top(layer))

    def jobs(layer):
        return sum(s.job_hi - s.job_lo for s in top(layer))

    def totals(layer):
        t = [counters.totals(s.job_lo, s.job_hi) for s in top(layer)]
        return (
            sum(x.task_s for x in t),
            sum(x.shuffle_write_mb for x in t),
            sum(x.spill_mb for x in t),
            sum(x.output_mb for x in t),
        )

    def util(task_s, wall_s):
        return task_s / (wall_s * CORES) if wall_s > 0 else 0.0

    p_task, p_shuffle, p_spill, _ = totals("pipeline")
    s_task, _, _, s_out = totals("sinks")
    _, d_shuffle, d_spill, _ = totals("dedup")
    named = lambda name: sum(s.dur for s in desc if s.name == name)  # noqa: E731
    return {
        "pipeline.plan_s": wall("pipeline.plan"),
        "pipeline.self_s": sum(tr.self_time(s) for s in top("pipeline")),
        "pipeline.jobs": jobs("pipeline"),
        "pipeline.shuffle_write_mb": p_shuffle,
        "pipeline.spill_mb": p_spill,
        "pipeline.core_util": util(p_task, wall("pipeline")),
        "sinks.wall_s": wall("sinks"),
        "sinks.jobs": jobs("sinks"),
        "sinks.task_s": s_task,
        "sinks.output_mb": s_out,
        "sinks.core_util": util(s_task, wall("sinks")),
        "ledger.wall_s": wall("ledger"),
        "ledger.jobs": jobs("ledger"),
        "ledger.ack_ratio": root.attrs.get("ack_ratio", 0.0),
        "observability.write_s": wall("observability"),
        "observability.samples": sum(s.attrs.get("samples", 0) for s in desc),
        "merge.plan_s": wall("merge.plan"),
        "dedup.pairs_s": named("dedup.pairs"),
        "dedup.clusters_s": named("dedup.clusters"),
        "dedup.jobs": jobs("dedup"),
        "dedup.shuffle_write_mb": d_shuffle,
        "dedup.spill_mb": d_spill,
        # engine calls only: the benchmark's own action spans would cover
        # the whole region by construction
        "trace.coverage": covered([s for s in desc if s.engine], root.start, root.end) / root.dur,
    }


def layer_metrics(run: Run) -> None:
    """Per-layer metrics, medians over the traced repetitions, stored as
    ``run.extra["layers"]``. Called by each workload while its session is
    still the one that ran the repetitions."""
    reps = run.extra["layer_reps"]
    docs = run.extra.get("docs", run.size)
    traced = [r for r in reps if r.traced]
    per_rep = [_rep_layers(run, r.root) for r in traced]
    out = {k: statistics.median(d[k] for d in per_rep) for k in per_rep[0]}
    out.update(
        {
            "parse.self_s": 0.0,
            "parse.task_s": 0.0,
            "enrich.self_s": 0.0,
            "route.self_s": 0.0,
        }
    )
    prefixes = run.extra.get("prefixes")
    if prefixes:
        out.update({k: v for k, v in prefixes.items() if k != "prefix_wall_s"})
    out["session.start_s"] = run.sessions.start_s
    out["dedup.candidates"] = 0
    out.update(run.extra.get("dedup", {}))
    traced_rate = docs / median_dur(reps, traced=True)
    out["trace.docs_per_s"] = traced_rate
    out["trace.overhead_docs_per_s"] = docs / median_dur(reps, traced=False) - traced_rate
    run.extra["layers"] = out
