"""The benchmark's workloads. Each is one closed-loop client driving the
package's public API: every call waits for its result before the next.

Both workloads report the same end-to-end metrics, each defined for its
own op stream (README.md has the table):

- setup_s: process start to the first timed op (input generation, which
  runs three times, contributes its median);
- cold_s: the workload's first op or pass in the fresh session;
- query_ms: the typical latency of the workload's queries, once warm;
- cycle_s: one warm cycle of the workload's op mix, summed from the
  median of each op type in it;
- bytes_per_input_byte: bytes stored per input byte.
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import shutil
import statistics
import time
from dataclasses import dataclass, field

import gen
import oracle
import tables
from tracing import Counters, Tracer, event_log_file, median, read_event_log

# Corpus shape: (bytes, docs, vocabulary). Smaller than the reference
# corpus (BASELINE.md: 14.25 MB, 78,587 words) so that a run, with its
# session start and cold build, fits the benchmark's time budget.
CORPUS = (2_000_000, 24, 24_000)
APPEND_DOCS, APPEND_BYTES, DELETE_DOCS = 4, 64_000, 2
SETUP_REPEATS = 3
# Latency still falls op by op while the JVM compiles, so each phase
# runs a fixed minimum of work that outlasts the window: every run then
# measures the same ops.
WARM_BUILDS = 2
SERVE_ROUNDS = 2
CYCLES = 2
RW_LOOKUPS = 3  # timed lookups after each delete
# Warm passes of the analytics mix; a traced run makes two, so that each
# query has a tagged and an untagged warm run.
MIX_PASSES = 1


@dataclass
class Run:
    """One benchmark run: the session, its tracer and what it measured."""

    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    t_start: float
    t_session: float
    tracer: Tracer = None
    metrics: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    log_dir: str = ""
    attempted: int = 0
    failed: int = 0

    def __post_init__(self) -> None:
        self.tracer = Tracer(self.spark, tagging=self.trace)

    def counters(self) -> Counters:
        """Event-log counters of every span so far. The event log flushes
        at each job end, so it is complete for every finished call."""
        return Counters(self.tracer, read_event_log(event_log_file(self.log_dir)))

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            shown = self.info.setdefault("mismatches", [])
            if len(shown) < 20:
                shown.append(what)

    def put(self, name: str, value: float) -> None:
        self.metrics[name] = float(value)

    def window(self, minimum: int):
        """Yield 0, 1, 2, ... until `seconds` have passed and at least
        `minimum` iterations ran."""
        deadline = time.perf_counter() + self.seconds
        i = 0
        while i < minimum or time.perf_counter() < deadline:
            yield i
            i += 1

    def setup_inputs(self, make) -> tuple[object, float]:
        """Run `make()` SETUP_REPEATS times; return its last result and
        the median time it took."""
        times = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            out = make()
            times.append(time.perf_counter() - t0)
        return out, median(times)


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def data_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


# -- index_lifecycle ----------------------------------------------------------------


def index_lifecycle(run: Run) -> None:
    """Build an index, maintain it, then serve queries from it."""
    root = os.path.join(run.work, "corpus")

    def make():
        shutil.rmtree(root, ignore_errors=True)
        return gen.make_corpus(run.seed, root, *CORPUS)

    corpus, gen_s = run.setup_inputs(make)
    run.put("setup_s", run.t_session - run.t_start + gen_s)
    model = oracle.PostingsModel()
    for d in corpus.docs:
        model.add(d.doc_id, d.text)
    run.info["corpus"] = {
        "sha256": corpus.digest(), "docs": len(corpus.docs),
        "mb": round(corpus.n_bytes / 1e6, 3),
        "distinct_words": len(model.postings), "postings": model.n_postings(),
    }
    index = os.path.join(run.work, "index")
    build_s = build_phase(run, corpus, index)
    # Serving follows maintenance: straight after the builds, query
    # latency still fell by a third over the serve rounds while the JVM
    # compiled the planning paths, so it measured how fast the host let
    # the compiler work; after the maintenance cycles it is flat.
    maintain_s = maintain_phase(run, corpus, index, model)
    round_s = serve_phase(run, corpus, index, model)
    if not run.trace:
        run.put("cycle_s", build_s + round_s + maintain_s)


def build_phase(run: Run, corpus: gen.Corpus, index: str) -> float:
    """A cold build, then warm builds; returns the median warm build."""
    from map_reduce_indexing_spark.api import IndexSession
    from map_reduce_indexing_spark.functions.text import tokenize
    from map_reduce_indexing_spark.operators.indexing import build_postings
    from map_reduce_indexing_spark.sources.corpus import read_corpus_dir

    spark, tr = run.spark, run.tracer

    def build():
        IndexSession.build(spark, corpus.glob, index)

    digests = []
    with tr.span("api.build", phase="cold") as cold:
        build()
    digests.append(oracle.index_digest(index))
    untraced = []
    for _ in run.window(minimum=WARM_BUILDS - 1 if run.trace else WARM_BUILDS):
        if run.trace:
            # staged noop materializations, each adding one public call
            with tr.span("corpus.read"):
                noop(read_corpus_dir(spark, corpus.glob))
            with tr.span("text.tokenize"):
                noop(tokenize(read_corpus_dir(spark, corpus.glob)).select("doc_id", "word"))
            with tr.span("indexing.build_postings"):
                noop(build_postings(read_corpus_dir(spark, corpus.glob)))
            with tr.span("api.build"):
                build()
            digests.append(oracle.index_digest(index))
        _, t = timed(build)
        untraced.append(t)
        digests.append(oracle.index_digest(index))

    expected, shell_s = oracle.shell_postings(
        [(d.doc_id, os.path.join(corpus.root, d.collection, d.doc_id + ".txt")) for d in corpus.docs],
        os.path.join(run.work, "shell"),
    )
    want = oracle.frame_digest(expected)
    for n, got in enumerate(digests):
        run.check(got == want, f"build {n}: index {got} != shell {want}")
    warm_s = median(untraced)
    run.info["samples"] = {"warm_builds": len(untraced)}
    if not run.trace:
        run.put("cold_s", cold.seconds)
        return warm_s

    c = run.counters()
    read, tok, post = tr.named("corpus.read"), tr.named("text.tokenize"), tr.named("indexing.build_postings")
    full = [s for s in tr.named("api.build") if s.attrs.get("phase") != "cold"]
    t_read, t_tok, t_post, t_full = (median([s.seconds for s in x]) for x in (read, tok, post, full))
    run.put("build_cold_s", cold.seconds)
    run.put("build_mb_per_s", corpus.n_bytes / 1e6 / warm_s)
    run.put("corpus.read_s", t_read)
    run.put("corpus.input_bytes", c.median_of(read, "input_bytes"))
    run.put("corpus.tasks", c.median_of(read, "tasks"))
    run.put("text.tokenize_self_s", t_tok - t_read)
    run.put("text.tokens", sum(len(oracle.tokens(d.text)) for d in corpus.docs))
    run.put("indexing.aggregate_self_s", t_post - t_tok)
    run.put("indexing.shuffle_write_bytes", c.median_of(post, "shuffle_write_bytes"))
    run.put("indexing.postings_rows", c.median_of(full, "output_records"))
    run.put("indexing.write_self_s", t_full - t_post)
    run.put("indexing.files_written", data_files(index))
    run.put("indexing.bytes_written", c.median_of(full, "output_bytes"))
    run.put("indexing.build_jobs", c.median_of(full, "jobs"))
    run.put("indexing.build_stages", c.median_of(full, "stages"))
    run.put("indexing.build_tasks", c.median_of(full, "tasks"))
    run.put("indexing.build_cpu_ms", c.median_of(full, "cpu_ms"))
    run.put("ref.shell_s", shell_s)
    run.put("ref.build_vs_shell_x", warm_s / shell_s)
    return warm_s


SERVE_OPS = {
    "lookup": lambda idx, t: idx.lookup(t[0]),
    "top_docs": lambda idx, t: idx.top_docs(t[0], k=10),
    "and": lambda idx, t: idx.search_all(t),
    "or": lambda idx, t: idx.search_any(t),
    "not": lambda idx, t: idx.exclude(t[0], t[1]),
}


def serve_phase(run: Run, corpus: gen.Corpus, index: str, model: oracle.PostingsModel) -> float:
    """Seeded query rounds against the maintained index; returns one
    round's time from the per-op medians."""
    from map_reduce_indexing_spark.api import IndexSession
    from map_reduce_indexing_spark.operators.indexing import read_index
    from map_reduce_indexing_spark.sources.generations import load_manifest

    spark, tr = run.spark, run.tracer
    idx = IndexSession(spark, index)
    stream = gen.query_stream(run.seed, corpus.words, 50)
    results = []  # (op, terms, rows, plan_s, exec_s, traced)
    seen = dict.fromkeys(gen.QUERY_MIX, 0)

    def query(op: str, terms: list[str]) -> None:
        seen[op] += 1
        # a traced run traces every other query of each op type
        traced = run.trace and seen[op] % 2 == 1
        if traced:
            with tr.span(f"op.{op}", i=len(results)) as parent:
                with tr.span(f"api.{op}"):
                    df = SERVE_OPS[op](idx, terms)
                with tr.span(f"search.{op}") as ex:
                    rows = df.collect()
            plan_s, exec_s = parent.seconds - ex.seconds, ex.seconds
        else:
            t0 = time.perf_counter()
            df = SERVE_OPS[op](idx, terms)
            t1 = time.perf_counter()
            rows = df.collect()
            plan_s, exec_s = t1 - t0, time.perf_counter() - t1
        results.append((op, terms, rows, plan_s, exec_s, traced))

    # The opening query of each op type is its first in the session;
    # whole rounds follow, so every run measures the same op mix.
    n_first = len(gen.QUERY_MIX)
    for op, terms in stream[:n_first]:
        query(op, terms)
    for r in run.window(minimum=SERVE_ROUNDS):
        for op, terms in stream[n_first + r * gen.ROUND: n_first + (r + 1) * gen.ROUND]:
            query(op, terms)

    for op, terms, rows, *_ in results:
        run.check(oracle.answer(op, rows) == model.expect(op, terms), f"{op}{terms}")

    rest = results[n_first:]
    lat = {op: [p + e for o, _, _, p, e, traced in rest if o == op and not traced] for op in gen.QUERY_MIX}
    single = [x for op in gen.SINGLE_OPS for x in lat[op]]
    boolean = [x for op in gen.BOOLEAN_OPS for x in lat[op]]
    run.info["samples"].update({op: len(v) for op, v in lat.items()})
    round_s = sum(n * median(lat[op]) for op, n in gen.QUERY_MIX.items())
    if not run.trace:
        # The mean latency of a round's mix with each op type at its
        # median. The median of all queries falls where one op type's
        # latencies meet the next's and jumps between them from run to run.
        run.put("query_ms", round_s / gen.ROUND * 1000)
        return round_s

    c = run.counters()
    run.put("lookup_p50_ms", median(single) * 1000)
    run.put("boolean_p50_ms", median(boolean) * 1000)
    for op in gen.QUERY_MIX:
        ops = [s for s in tr.named(f"op.{op}") if s.attrs["i"] >= n_first]
        run.put(f"api.{op}.plan_ms", median([s.seconds for s in tr.named(f"api.{op}")]) * 1000)
        run.put(f"search.{op}.exec_ms", median([s.seconds for s in tr.named(f"search.{op}")]) * 1000)
        run.put(f"search.{op}.jobs", c.median_of(ops, "jobs"))
        run.put(f"search.{op}.tasks", c.median_of(ops, "tasks"))
        run.put(f"search.{op}.bytes_read", c.median_of(ops, "input_bytes"))
        returned = sum(len(results[s.attrs["i"]][2]) for s in ops)
        read = sum(c.of(s)["input_records"] for s in ops)
        run.put(f"search.{op}.rows_read_per_row_returned", read / max(1, returned))
    reads, manifests = [], []
    for _ in range(5):
        with tr.span("indexing.read_index") as s:
            read_index(spark, index)
        reads.append(s.seconds)
        with tr.span("generations.load_manifest") as s:
            load_manifest(index)
        manifests.append(s.seconds)
    run.put("indexing.read_index_ms", median(reads) * 1000)
    run.put("generations.load_manifest_ms", median(manifests) * 1000)
    traced_single = [s.seconds for op in gen.SINGLE_OPS for s in tr.named(f"op.{op}") if s.attrs["i"] >= n_first]
    run.put("trace.overhead_pct", (median(traced_single) / median(single) - 1) * 100)
    return round_s


def maintain_phase(run: Run, corpus: gen.Corpus, index: str, model: oracle.PostingsModel) -> float:
    """Maintenance cycles on the built index; returns one cycle's time
    from the per-op medians."""
    from map_reduce_indexing_spark.api import IndexSession
    from map_reduce_indexing_spark.sources.commitio import MANIFEST_NAME
    from map_reduce_indexing_spark.sources.generations import generation_head

    spark, tr = run.spark, run.tracer
    idx = IndexSession(spark, index)
    with tr.span("matview.create") as create:
        idx.letter_stats().collect()
    run.info["store_io"] = os.environ.get("MRI_STORE_IO") or "posix (default)"
    terms = iter(gen.lookup_terms(run.seed, corpus.words, 100_000))
    ingested = corpus.n_bytes
    times: dict[str, list[float]] = {k: [] for k in ("append", "delete", "refresh", "compact", "lookup")}
    checks = []  # (op, terms, got, expected)
    files_after_op = []
    append_files = []
    returned = 0  # rows returned by the timed lookups
    bytes_at_mark = None

    def op(name: str, fn):
        before = files_after_op[-1] if files_after_op else data_files(index)
        with tr.span(f"api.{name}") as s:
            out = fn()
        times[name].append(s.seconds)
        files_after_op.append(data_files(index))
        if name == "append":
            append_files.append(files_after_op[-1] - before)
        return out

    def lookup(term: str, timed_op: bool) -> None:
        nonlocal returned
        if timed_op:
            rows = op("lookup", lambda: idx.lookup(term).collect())
            returned += len(rows)
        else:
            rows = idx.lookup(term).collect()
        checks.append(("lookup", [term], oracle.answer("lookup", rows), model.expect("lookup", [term])))

    for cycle in run.window(minimum=CYCLES):
        batch = gen.append_batch(run.seed, corpus.words, cycle, APPEND_DOCS, APPEND_BYTES)
        root = os.path.join(run.work, "appends", f"b{cycle:03d}")
        gen.write_tree(root, batch)
        op("append", lambda: idx.append(os.path.join(root, "*", "*")))
        for d in batch:
            model.add(d.doc_id, d.text)
        ingested += sum(len(d.text) for d in batch)

        victims = gen.delete_pick(run.seed, sorted(model.doc_ids()), cycle, DELETE_DOCS)
        # Copy-on-write: a deletion-vector delete (mode="dv") names rows
        # by file basename, which a letter-partitioned write repeats
        # across `letter=` directories, so it also drops other documents'
        # rows (README.md, "Known defect").
        op("delete", lambda: idx.delete_docs(victims))
        model.delete(victims)
        # Reads against uncompacted appends and the rewritten files: timed
        # lookups of Zipf terms, then an untimed one of a word only this
        # cycle's appended documents hold (each ends with a line of them).
        for _ in range(RW_LOOKUPS):
            lookup(next(terms), True)
        fresh = sorted({w for d in batch for w in oracle.tokens(d.text.rsplit("\n", 2)[-2])})
        lookup(fresh[cycle % len(fresh)], False)

        rows = op("refresh", lambda: idx.letter_stats().collect())
        got = sorted((r["letter"], int(r["total_cnt"]), int(r["n_words"]), int(r["n_docs"])) for r in rows)
        checks.append(("letter_stats", [], got, model.letter_stats()))

        op("compact", idx.compact)
        if cycle == CYCLES - 1:
            bytes_at_mark = dir_bytes(index) / ingested

    for name, terms_, got, want in checks:
        diff = sorted(set(got) ^ set(want))[:4]
        run.check(got == want, f"{name}{terms_}: differs in {diff}")
    run.info["samples"].update({f"maintain.{k}": len(v) for k, v in times.items()})
    med = {k: median(v) for k, v in times.items()}
    cycle_s = med["append"] + med["delete"] + med["refresh"] + med["compact"]
    if not run.trace:
        run.put("bytes_per_input_byte", bytes_at_mark)
        return cycle_s

    c = run.counters()
    ap, dl, cp = tr.named("api.append"), tr.named("api.delete"), tr.named("api.compact")
    rf, lk = tr.named("api.refresh"), tr.named("api.lookup")
    writes = [s for s in tr.spans if s.name in ("api.append", "api.delete", "api.refresh", "api.compact")]
    run.put("append_p50_s", med["append"])
    run.put("delete_p50_s", med["delete"])
    run.put("compact_p50_s", med["compact"])
    run.put("rw_lookup_p50_ms", med["lookup"] * 1000)
    run.put("stats_refresh_p50_s", med["refresh"])
    run.put("api.append.jobs", c.median_of(ap, "jobs"))
    run.put("api.append.files_written", median(append_files))
    run.put("api.append.bytes_written", c.median_of(ap, "output_bytes"))
    run.put("api.append.cpu_ms", c.median_of(ap, "cpu_ms"))
    run.put("api.delete.jobs", c.median_of(dl, "jobs"))
    run.put("api.delete.bytes_written", c.median_of(dl, "output_bytes"))
    run.put("indexing.compact_jobs", c.median_of(cp, "jobs"))
    run.put("indexing.compact_shuffle_bytes", c.median_of(cp, "shuffle_write_bytes"))
    run.put("indexing.compact_bytes_written", c.median_of(cp, "output_bytes"))
    run.put("generations.data_files", median(files_after_op))
    run.put("generations.manifest_bytes", os.path.getsize(os.path.join(index, MANIFEST_NAME)))
    run.put("generations.published", generation_head(index))
    run.put("maintain.rw_lookup.jobs", c.median_of(lk, "jobs"))
    run.put("maintain.rw_lookup.rows_read_per_row_returned", sum(c.of(s)["input_records"] for s in lk) / max(1, returned))
    run.put("matview.create_s", create.seconds)
    run.put("matview.refresh_jobs", c.median_of(rf, "jobs"))
    run.put("matview.refresh_bytes_read", c.median_of(rf, "input_bytes"))
    written = sum(c.of(s)["output_bytes"] for s in writes)
    run.put("maintain.write_amp", written / max(1, ingested - corpus.n_bytes))
    return cycle_s


# -- analytics_mix -------------------------------------------------------------------

# One registry query or more per analytics operator module.
MIX = (
    "rel_q5_local_supplier",
    "rel_delete_dv",
    "rel_matview_rollup_route",
    "dedup_clusters",
    "ann_knn_bruteforce",
    "text_lm_score",
    "rel_pagerank_trade",
    "multimodal_image_meta",
    "stream_funnel",
)


def oracle_mismatch(got, con, sql: str) -> str | None:
    """How a query's collected frame differs from its DuckDB oracle, as
    an order-insensitive comparison of column set, row count and values;
    None when they agree."""
    # DuckDB inlines a CTE at each reference, so a chain of CTEs that
    # each read their predecessor twice (the PageRank rounds) grows
    # exponentially; materializing every CTE once computes the same rows.
    want = con.execute(re.sub(r"(\b\w+) AS \(", r"\1 AS MATERIALIZED (", sql)).fetchdf()
    cols = sorted(got.columns)
    if sorted(want.columns) != cols:
        return f"columns {cols} != oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    a = got[cols].sort_values(cols, ignore_index=True).astype(str)
    b = want[cols].sort_values(cols, ignore_index=True).astype(str)
    return None if a.equals(b) else "values differ from the oracle"


def analytics_mix(run: Run) -> None:
    """Registry queries over seeded fixture tables: one cold pass in the
    fresh session, then warm passes through the noop sink."""
    import duckdb

    from map_reduce_indexing_spark.plans import registry

    spark, tr = run.spark, run.tracer
    sf = os.path.join(run.work, "sf")

    def make():
        shutil.rmtree(sf, ignore_errors=True)
        return tables.write_tables(run.seed, sf)

    rows, gen_s = run.setup_inputs(make)
    # the first lookup imports every operator module
    queries, import_s = timed(lambda: {q: registry.get(q) for q in MIX})
    run.put("setup_s", run.t_session - run.t_start + gen_s + import_s)
    h = hashlib.sha256()
    for name in sorted(rows):
        with open(os.path.join(sf, f"{name}.parquet"), "rb") as fh:
            h.update(fh.read())
    run.info["tables"] = {"sha256": h.hexdigest(), "rows": rows, "mb": round(dir_bytes(sf) / 1e6, 3)}
    layer = {q: f"{rq.fn.__module__.rsplit('.', 1)[1]}.{q}" for q, rq in queries.items()}

    def execute(q: str, tagged: bool, phase: str, sink=noop):
        if tagged:
            with tr.span(layer[q], phase=phase) as s:
                out = sink(queries[q].fn(spark, sf))
            return out, s.seconds
        return timed(lambda: sink(queries[q].fn(spark, sf)))

    # The cold pass collects each result for the oracle check; the warm
    # passes force every query through the noop sink.
    cold, collected = {}, {}
    for q in MIX:
        collected[q], cold[q] = execute(q, run.trace, "cold", sink=lambda df: df.toPandas())
    artifacts = dir_bytes(os.environ["SPARK_GRAFT_INDEX_DIR"])
    warm: dict[str, list[float]] = {q: [] for q in MIX}
    tagged_s: dict[str, list[float]] = {q: [] for q in MIX}
    passes = []
    for p in run.window(minimum=2 if run.trace else MIX_PASSES):
        t0 = time.perf_counter()
        for i, q in enumerate(MIX):
            # a traced run tags every other query, alternating by pass
            tagged = run.trace and (i + p) % 2 == 0
            _, t = execute(q, tagged, "warm")
            (tagged_s if tagged else warm)[q].append(t)
        passes.append(time.perf_counter() - t0)

    con = duckdb.connect()
    for name in rows:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf}/{name}.parquet'")
    for q, got in collected.items():
        sql = queries[q].oracle
        bad = "no rows" if got.empty else (oracle_mismatch(got, con, sql) if sql else None)
        run.check(bad is None, f"{q}: {bad}")
    con.close()

    run.info["samples"] = {"warm_passes": len(passes)}
    if not run.trace:
        run.put("cold_s", sum(cold.values()))
        # The geometric mean of the per-query medians, as TPC-H's power
        # metric summarizes its queries: the median of nine is a single
        # query's time and moves with that one query's noise.
        run.put("query_ms", math.exp(statistics.fmean(math.log(median(v)) for v in warm.values())) * 1000)
        run.put("cycle_s", sum(median(v) for v in warm.values()))
        run.put("bytes_per_input_byte", artifacts / dir_bytes(sf))
        return

    c = run.counters()
    run.put("mix_cold_s", sum(cold.values()))
    run.put("mix_warm_s", median(passes))
    for q in MIX:
        spans = [s for s in tr.named(layer[q]) if s.attrs["phase"] == "warm"]
        run.put(f"{layer[q]}.cold_s", cold[q])
        run.put(f"{layer[q]}.warm_s", median(warm[q] + tagged_s[q]))
        run.put(f"{layer[q]}.jobs", c.median_of(spans, "jobs"))
        run.put(f"{layer[q]}.shuffle_bytes", c.median_of(spans, "shuffle_write_bytes"))
        run.put(f"{layer[q]}.cpu_ms", c.median_of(spans, "cpu_ms"))
    untagged = sum(median(warm[q]) for q in MIX)
    run.put("trace.overhead_pct", (sum(median(tagged_s[q]) for q in MIX) / untagged - 1) * 100)


WORKLOADS = {
    "index_lifecycle": index_lifecycle,
    "analytics_mix": analytics_mix,
}
