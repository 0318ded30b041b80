"""The inverted-index pipeline — the reference's entire reason to exist.

Reference topology (SURVEY.md §3.1): client -> master -> worker splits the
file -> k mappers tokenize+count (helper_map.c:166) -> alphabetic range
shuffle (helper_map.c:175-188, 343-364) -> k reducers merge counts
(helper_reduce.c:153) -> 26 letter-bucketed master-index files
(helper_reduce.c:238-257).

Spark expression: ONE declarative chain. Catalyst compiles it to exactly
the same physical topology — scan + partial hash agg (map-side combine,
the reference's `sort | uniq -c`) | shuffle on the group key | final hash
agg (the reference's awk sum) — and the letter-bucketed index is a
Hive-partitioned Parquet write whose commit protocol also fixes the
reference's unlocked concurrent-append race (helper_reduce.c:241-257,
SURVEY.md §2.12).

Scale posture (100 TB): the shuffle key is natural-language words, which
are Zipfian — "the" alone can be ~5% of all tokens. The partial
aggregation collapses each map partition to at most |vocab| rows BEFORE
the shuffle, so the shuffle volume is bounded by vocab x partitions, not
token count; AQE skew handling covers the residual imbalance.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import state
from ..functions.text import duckdb_tokens_sql, tokenize
from ..plans.registry import register
from ..sources.tables import load_table


def build_postings(docs: DataFrame, doc_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """documents(doc_id, text) -> postings(word, doc_id, cnt).

    Logical semantics of helper_map.c:166 + helper_reduce.c:153 (and of
    the Hadoop oracle WordCount.java:43-67): COUNT(*) GROUP BY word, doc.
    """
    tokens = tokenize(docs.select(doc_col, text_col), text_col=text_col, out_col="word")
    return tokens.groupBy("word", doc_col).agg(F.count(F.lit(1)).alias("cnt"))


def with_letter(postings: DataFrame) -> DataFrame:
    """Attach the first-letter routing key (helper_reduce.c:255)."""
    return postings.withColumn("letter", F.substring("word", 1, 1))


def write_letter_partitioned(
    df: DataFrame,
    path: str,
    sort_cols: tuple[str, ...],
    mode: str = "overwrite",
    num_files: int = 26,
    max_records_per_file: int | None = None,
) -> None:
    """Scale-bounded letter-partitioned sorted write — the shared layout
    engine for the count index and the positional index.

    The reference's 26 append-only files ./index/a..z
    (helper_reduce.c:238-257) become Hive partitions `letter=a/..`. The
    26-file layout is the reference's *partitioning*, not a
    one-file-per-letter contract: here `repartitionByRange(num_files,
    letter, word)` range-partitions rows over contiguous (letter, word)
    spans, so a Zipf-hot letter ("s", "t") is written by SEVERAL
    parallel tasks — each owning a disjoint word range — while rare
    letters share a task (partitionBy still writes them to their own
    directories). File count scales with data volume, not with the
    alphabet, and no single writer task ever owns a whole hot letter.

    Rows stay sorted by `sort_cols` within every written file — the
    reference's reduce-side `| sort` (helper_reduce.c:153, SURVEY.md
    §2.6 O1/O2) — so parquet word min/max zone maps skip row groups,
    AND the range partitioning makes whole FILES disjoint in word
    range within each letter, so a `word = 'x'` lookup reads one file
    of the letter partition, not all of them.

    `max_records_per_file` (or the session-level
    `spark.sql.files.maxRecordsPerFile`) additionally splits a task's
    sorted output into bounded-size files; the splits inherit the sort,
    so their ranges stay disjoint. At 100 TB, set `num_files` to the
    write parallelism you want and the per-file bound to your target
    file size — same layout, bounded files.
    """
    writer = (
        df.repartitionByRange(num_files, "letter", "word")
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
    )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy("letter").parquet(path)


def write_index(
    postings: DataFrame,
    path: str,
    mode: str = "overwrite",
    num_files: int = 26,
    max_records_per_file: int | None = None,
) -> None:
    """Persist the master index, partitioned by first letter; layout
    semantics (range-partitioned parallel writers, in-file word sort,
    bounded file sizes) in `write_letter_partitioned`."""
    write_letter_partitioned(
        with_letter(postings),
        path,
        sort_cols=("letter", "word"),
        mode=mode,
        num_files=num_files,
        max_records_per_file=max_records_per_file,
    )


def read_index(spark: SparkSession, path: str) -> DataFrame:
    """The index artifact's LIVE read (appends visible the moment they
    land — the reference's semantic). If the store's head generation
    carries a deletion vector (IndexSession.delete_docs(mode='dv')),
    it applies here too: the vector names (file, row_index) positions
    in published immutable files, so the live scan anti-joins the same
    broadcast sidecar the generation reader uses; unpublished appended
    files are untouched by construction (a vector can only reference
    files that existed at its publish).

    Each call re-reads the directory (partition discovery, manifest
    load). `IndexSession.postings()` calls it once per index state and
    serves its queries from that frame; it skips its re-aggregation
    only when the head is `compact_index`'s output (`unique_keys`),
    has no deletion vector, and lists exactly the live files."""
    from ..sources.generations import _dv_anti, load_manifest

    recover_index(path)
    df = spark.read.parquet(path)
    m = load_manifest(path)
    g = (m or {}).get("gens", {}).get(str((m or {}).get("head", 0)))
    dv = (g or {}).get("dv")
    if dv:
        side = spark.read.parquet(os.path.join(path, dv["file"]))
        # Manifest-exact vector size: a small sidecar broadcasts (no
        # exchange of the index scan); only a vector past the guard
        # degrades to a shuffle-hash anti-join.
        df = _dv_anti(df, side, int(dv.get("rows") or 0))
    return df


@contextmanager
def index_writer_lock(path: str):
    """Serialize WRITERS of one index directory: a blocking exclusive
    flock on a sibling `<path>.lock` file (sibling, not inside — the
    compaction swap replaces the directory itself).

    Closes the compact-vs-append race: an `append()` landing between
    compaction's read and its swap would be silently dropped, and two
    concurrent compactors would clobber each other's renames. Every
    mutation (`IndexSession.append`, `compact_index`, and the acting
    branch of `recover_index`) enters here first, so a concurrent
    writer BLOCKS until the holder finishes — the interleaving above
    becomes append-after-compact, and no postings are lost
    (tests/test_session_index.py proves both properties).

    flock scope is one host / one shared POSIX filesystem — exactly the
    single-node reality of the reference's ./index (whose appends were
    unlocked, SURVEY.md §2.12). On an object store the same role is
    played by the metastore's table lock / atomic pointer swap. Each
    call opens its own fd, so the lock also serializes threads within
    one process (flock treats separate open file descriptions
    independently). Both scopes are tested: thread-pair interleavings
    in tests/test_api.py / test_session_index.py, and the cross-
    process guarantee (a holder in another interpreter blocks this
    session's append, and vice versa) in
    test_api.test_writer_lock_excludes_across_processes. Readers never
    enter: reads are safe against the swap via `recover_index`
    self-healing.
    """
    from ..sources.commitio import IO

    with IO.writer_lock(path):
        yield


def compact_index(spark: SparkSession, path: str) -> None:
    """Merge appended partial postings: re-aggregate to one row per
    (word, doc) and rewrite the index.

    Append-mode maintenance (batch re-index of changed docs, streaming
    foreachBatch) accumulates one partial-count row per (word, doc)
    PER APPEND — reads stay correct only if they re-aggregate, and file
    counts grow without bound. Compaction is the standard log-structured
    fix. The whole read-merge-swap runs under `index_writer_lock`, so
    appends issued mid-compaction wait and land on the compacted copy
    instead of vanishing in the swap. The rewrite stages to a sibling
    directory, renames the live index ASIDE, moves staging into place,
    then deletes the old copy. A crash at any point leaves a complete
    copy ON DISK — the new one at `path`, or the old one at `path` or
    `path + '.old'` — and `recover_index` (called on entry here and by
    `read_index`) restores a stranded `.old` copy, so the brief
    path-missing window between the two renames self-heals on the next
    call. (POSIX rename gives no two-directory atomic swap; on a
    production object store / HDFS the same pattern runs under a
    metastore pointer swap, which IS atomic.)

    The published head generation records `unique_keys: ["word",
    "doc_id"]` (the rewrite's output has one row per key), which lets
    `IndexSession.postings()` skip its re-aggregation until the next
    publish.
    """
    compact_artifact(
        spark,
        path,
        lambda df, staging: write_index(
            df.groupBy("word", "doc_id").agg(F.sum("cnt").alias("cnt")),
            staging,
            mode="overwrite",
        ),
        entry_extra={"unique_keys": ["word", "doc_id"]},
    )


# Probed ONCE at import: os.umask is process-global and read-by-set,
# so probing it per call would open a recurring race window. Linux
# exposes the value race-free in /proc/self/status (Umask:, kernel
# 4.7+); only when that is unavailable fall back to the set-probe —
# and probe RESTRICTIVE (0o077): if another thread creates a file
# inside the window, it comes out over-protected, never
# world-permissive (the old os.umask(0) probe briefly made the whole
# process world-writable-by-default).
def _read_umask() -> int:
    try:
        with open("/proc/self/status") as fh:
            for line in fh:
                if line.startswith("Umask:"):
                    return int(line.split()[1], 8)
    except OSError:
        pass
    prev = os.umask(0o077)
    os.umask(prev)
    return prev


_UMASK = _read_umask()


def _chmod_staging(staging: str) -> None:
    """mkdtemp creates 0700 directories; a staged swap then publishes
    that mode as the live store/index, making an artifact built on
    shared storage unreadable to every other user/process. Re-apply the
    umask (what a plain mkdir would have produced) before the swap."""
    os.chmod(staging, 0o777 & ~_UMASK)


def compact_artifact(
    spark: SparkSession,
    path: str,
    rewrite,
    df_source=None,
    entry_extra: dict | None = None,
) -> None:
    """The locked read -> rewrite -> staged-swap engine behind every
    persisted artifact's compaction (count index above, bucketed
    vector store in operators/similarity.py). `rewrite(df, staging)`
    writes the compacted form of the artifact's current contents to
    the staging directory; crash-safety and locking semantics are
    exactly `compact_index`'s docstring — this IS that code, factored
    so each artifact only supplies its merge/layout step.

    `df_source(spark) -> DataFrame` overrides the input read (called
    under the lock). The default is the live directory scan — the
    index artifacts' semantic, where an append's rows are visible the
    moment they land; generation-store rewrites pass a precise
    head-listing read instead (generations.optimize_store), so a
    crashed optimistic placement can never be folded into the
    compacted store.

    `entry_extra` merges caller metadata into the head generation the
    compaction publishes (`carry_generations`); e.g. `compact_index`
    records the rewrite's unique keys."""
    import tempfile

    from ..sources.commitio import IO
    from ..sources.generations import carry_generations

    with index_writer_lock(path):
        _recover_index_locked(path)
        if df_source is not None:
            df = df_source(spark)
        else:
            # live directory scan, DV-aware: a head deletion vector
            # (delete_docs/delete_ids mode='dv') must not survive the
            # fold — the rewrite reads the LOGICAL rows so its output
            # files are clean and the new entry carries no vector
            from ..sources.generations import _dv_anti, load_manifest

            df = spark.read.parquet(path)
            m0 = load_manifest(path)
            g0 = (m0 or {}).get("gens", {}).get(
                str((m0 or {}).get("head", 0))
            )
            dv = (g0 or {}).get("dv")
            if dv:
                side = spark.read.parquet(os.path.join(path, dv["file"]))
                df = _dv_anti(df, side, int(dv.get("rows") or 0))
        staging = tempfile.mkdtemp(
            prefix="mri_compact_", dir=os.path.dirname(path) or "."
        )
        _chmod_staging(staging)
        rewrite(df, staging)
        # Snapshot support: relocate pinned generations into staging
        # (hardlinks; live path untouched) and stage the post-swap
        # manifest so data + generations commit atomically. No-op for
        # stores that never published a generation. The session is
        # passed through so a bulk rewrite's stats/bloom rebuild runs
        # as one Spark job over the staged file list.
        carry_generations(path, staging, spark=spark, entry_extra=entry_extra)
        IO.publish_swap(path, staging)


def recover_index(path: str) -> None:
    """Heal a crashed swap: if the backend reports crash residue (a
    stranded `.old` copy under POSIX, a swap journal under CAS),
    restore/complete it. The heal itself takes the writer lock
    (re-checking under it), so a reader racing a LIVE rewriter's swap
    window blocks instead of interfering; the no-op fast path stays
    lock-free."""
    from ..sources.commitio import IO

    if IO.needs_recovery(path):
        with index_writer_lock(path):
            _recover_index_locked(path)


def _recover_index_locked(path: str) -> None:
    from ..sources.commitio import IO

    IO.recover(path)


def postings_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postings computed from the corpus — the BUILD path. Used by the
    `index_postings` flagship query (which measures the reference's
    whole map/shuffle/reduce pipeline) and by `session_index_path` to
    materialize the artifact; every other index/search query reads the
    persisted artifact via `indexed_postings`."""
    return build_postings(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Session-scoped persisted index: the reference's build-then-query lifecycle
# ---------------------------------------------------------------------------

SOURCES_FILE = "_sources.json"  # consumed-source listing (leading "_":
# invisible to Spark scans, same convention as the vector-store sidecars)


def _data_listing(src: str) -> dict[str, list[int]]:
    """{relpath: [size, mtime_ns]} of a directory source's DATA files.
    Hidden files (_SUCCESS, .crc) are excluded on both sides of the
    delta comparison: Spark readers ignore them, and an append-mode
    write refreshes _SUCCESS's mtime — which must not demote an
    append-only corpus growth to a full rebuild."""
    out: dict[str, list[int]] = {}
    for root, dirs, files in os.walk(src):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for name in sorted(files):
            if name.startswith(("_", ".")):
                continue
            p = os.path.join(root, name)
            st = os.stat(p)
            out[os.path.relpath(p, src)] = [st.st_size, st.st_mtime_ns]
    return out


def _load_sources(path: str) -> dict[str, list[int]] | None:
    import json

    p = os.path.join(path, SOURCES_FILE)
    if os.path.isfile(p):
        with open(p) as f:
            return json.load(f)
    return None


def _save_sources(path: str, listing: dict[str, list[int]]) -> None:
    import json

    tmp = os.path.join(path, SOURCES_FILE) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(listing, f)
    os.replace(tmp, os.path.join(path, SOURCES_FILE))


def _delta_ids_are_new(
    spark: SparkSession, old_files: list[str], new_files: list[str]
) -> bool:
    """True iff the appended files' doc_ids are disjoint from the
    already-consumed files' — the append-only delta contract. One
    column-pruned doc_id scan per side, the delta side broadcast
    (it is delta-sized); corpora without a doc_id column have no
    per-doc contract to check."""
    if not old_files:
        return True
    new_df = spark.read.parquet(*new_files)
    if "doc_id" not in new_df.columns:
        return True
    overlap = (
        spark.read.parquet(*old_files)
        .select("doc_id")
        .join(F.broadcast(new_df.select("doc_id").distinct()), "doc_id")
        .limit(1)
        .count()
    )
    return overlap == 0


def session_artifact_path(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    source_file: str,
    build,
    delta_build=None,
) -> str:
    """Generic once-per-(Spark application, source content) persisted
    artifact: the reference's build-then-query lifecycle for any derived
    store (count index, positional index, bucketed embedding store).
    `build(path)` must write the artifact at `path`.

    One session-state entry per (kind, source), versioned by the
    source's content fingerprint (a tuple `source_file` fingerprints
    every input), so a regenerated source rebuilds rather than serving
    stale data, and concurrent first calls build once.

    Placement: `$SPARK_GRAFT_INDEX_DIR` if set (point it at shared
    storage — HDFS mount / object-store fuse — on a real cluster, the
    reference's shared ./index location), else a driver-local tempdir,
    which is only readable by executors in local mode. Either way the
    directory is removed at interpreter exit.
    """
    if isinstance(source_file, (tuple, list)):
        src = tuple(
            os.path.join(os.path.realpath(sf_dir), s) for s in source_file
        )
        fingerprint = tuple(state.content_fingerprint(s) for s in src)
    else:
        src = os.path.join(os.path.realpath(sf_dir), source_file)
        fingerprint = state.content_fingerprint(src)
    sc = spark.sparkContext
    incremental = (
        delta_build is not None and isinstance(src, str) and os.path.isdir(src)
    )

    def refresh() -> str:
        prev = state.entries(sc, "artifact").get((kind, src))
        if (
            incremental
            and prev is not None
            and os.path.isdir(prev[1])
            and _delta_refresh(spark, src, prev[1], delta_build)
        ):
            return prev[1]
        import atexit
        import shutil
        import tempfile

        base = os.environ.get("SPARK_GRAFT_INDEX_DIR")
        if base:
            os.makedirs(base, exist_ok=True)
        workdir = tempfile.mkdtemp(prefix=f"mri_{kind}_", dir=base)
        atexit.register(shutil.rmtree, workdir, True)
        path = os.path.join(workdir, kind)
        # Snapshot the consumed listing BEFORE the build runs: a file
        # dropped into the corpus DURING the Spark job may or may not
        # have entered the job's input, so recording the post-build
        # listing could skip its docs forever (consumed-but-unread),
        # while recording the pre-build one could duplicate them
        # (read-and-also-delta'd). Resolution: save the sidecar ONLY
        # when the listing is identical before and after the build —
        # otherwise leave no sidecar, and the next fingerprint change
        # takes the (always-correct) full rebuild.
        listing = _data_listing(src) if incremental else None
        build(path)
        if listing is not None and _data_listing(src) == listing:
            _save_sources(path, listing)
        return path

    return state.lookup(
        sc, "artifact", (kind, src), fingerprint, refresh, valid=os.path.isdir
    )


def _delta_refresh(spark: SparkSession, src: str, path: str, delta_build) -> bool:
    """Incremental maintenance: if the directory source `src` changed
    APPEND-ONLY since the artifact at `path` was built, run
    `delta_build(path, new_files)` over just the delta, publish it as a
    new generation and return True; else False (full rebuild)."""
    # Every file the artifact consumed must be byte-identical, only new
    # data files may appear. The consumed listing persists as a
    # _sources.json sidecar inside the artifact, so the comparison is
    # against what was actually built, not an in-memory guess.
    consumed = _load_sources(path)
    current = _data_listing(src)
    if consumed is None or any(
        current.get(p) != meta for p, meta in consumed.items()
    ):
        return False
    new_files = sorted(set(current) - set(consumed))
    # The delta contract every incremental artifact relies on — appended
    # files hold only NEW doc_ids — is checked here, once for all
    # artifacts: a file re-adding an existing doc_id would double-count
    # its rows, so an overlap takes the full rebuild, always correct.
    if not new_files or not _delta_ids_are_new(
        spark,
        [os.path.join(src, p) for p in consumed],
        [os.path.join(src, p) for p in new_files],
    ):
        return False
    from ..sources.generations import ensure_base_generation, publish_generation

    # snapshot isolation for the artifact tier: the pre-delta state
    # becomes pinnable, each delta publishes a new head (read back with
    # session_artifact_df(..., at=)). Lock taken and RELEASED around each
    # manifest touch — delta_build takes the same flock itself and flock
    # does not nest across fds in-process.
    with index_writer_lock(path):
        ensure_base_generation(path)
    delta_build(path, [os.path.join(src, p) for p in new_files])
    with index_writer_lock(path):
        publish_generation(path)
    _save_sources(path, current)
    return True


def session_artifact_df(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    source_file: str,
    build,
    delta_build=None,
    at: int | None = None,
) -> DataFrame:
    """`session_artifact_path` + a cached partition-discovered read.

    Hive partition discovery + schema inference over a many-partition
    artifact costs ~0.5 s of driver time PER `spark.read.parquet` call,
    so the discovered DataFrame (a logical plan) is a session-state
    entry per artifact, versioned by its manifest identity and directory
    stat: a delta publishes a new manifest and a compaction swaps the
    directory, so either re-discovers the file listing.

    `at=` pins a published GENERATION of the artifact (snapshot
    isolation, sources/generations.py): incremental delta appends
    publish one per delta, so a multi-query session can keep reading
    the exact pre-append row set while the corpus grows underneath it."""
    from ..sources.generations import _manifest_identity, read_generation

    path = session_artifact_path(
        spark, sf_dir, kind, source_file, build, delta_build
    )
    if at is not None:
        return read_generation(spark, path, at=at)
    st = os.stat(path)
    return state.lookup(
        spark.sparkContext,
        "artifact_read",
        path,
        (_manifest_identity(path), st.st_ino, st.st_mtime_ns),
        lambda: spark.read.parquet(path),
    )


def session_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Path of the persisted letter-partitioned index for this corpus,
    built ONCE per (Spark application, corpus content) and reused by
    every subsequent index/search query in the session.

    The reference's lifecycle is build-then-query: client.c:39 submits
    an indexing job whose artifact is ./index/a..z, and every later
    lookup scans those files (helper_reduce.c:238-257) — it does not
    re-tokenize the corpus per query. This cache reproduces that: the
    first index/search query in a session pays the one tokenize +
    aggregate + write build; every later one is a partition-pruned scan
    of the persisted artifact. At 100 TB this is the difference between
    a full corpus pass per query and reading 1/26th of an index.

    Caching / invalidation / placement semantics: `session_artifact_path`.
    """
    return session_artifact_path(
        spark,
        sf_dir,
        "session_index",
        "documents.parquet",
        lambda path: write_index(_artifact_postings(spark, sf_dir), path),
        delta_build=_index_delta_build(spark),
    )


def _index_delta_build(spark: SparkSession):
    """Incremental maintenance for the session index (round 8): an
    append-only corpus delta contributes postings rows keyed by NEW
    doc_ids, so appending the delta's own aggregation is EXACTLY the
    full rebuild's output (groupBy(word, doc_id) never merges rows
    across documents) — the reference's append-sink lifecycle
    (helper_reduce.c:241) with the same new-doc_ids contract as
    IndexSession.append. The delta is tokenized directly (it is tiny);
    the letter layout is unchanged, so consumer pruning is unchanged."""

    def delta(path: str, new_files: list[str]) -> None:
        docs = spark.read.parquet(*new_files)
        with index_writer_lock(path):
            _recover_index_locked(path)
            write_index(build_postings(docs), path, mode="append")

    return delta


def _artifact_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postings derived from the session tokens artifact rather than a
    fresh corpus tokenization — since round 7 the index build CHAINS on
    the tokens artifact, so one session tokenizes the corpus exactly
    once no matter which mix of index/search/text/dedup queries runs
    (explode(ws) == tokenize(), property-tested in
    tests/test_tokens_artifact.py / test_tokenizer.py). The flagship
    `index_postings` query keeps the direct `postings_for` path — it
    exists to measure the reference's whole pipeline from raw text."""
    from .tokens import token_rows  # function-local: tokens imports this module

    return (
        token_rows(spark, sf_dir, out_col="word")
        .groupBy("word", "doc_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def indexed_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postings (word, doc_id, cnt, letter) served from the persisted
    letter-partitioned index — the artifact-read path every search/index
    consumer query executes against. `letter` is the Hive partition
    column, so `letter = 'x'` predicates prune 25/26 of the files before
    any row is read, and the within-file word sort gives min/max zone
    maps that skip row groups inside the partition."""
    return session_artifact_df(
        spark,
        sf_dir,
        "session_index",
        "documents.parquet",
        lambda path: write_index(_artifact_postings(spark, sf_dir), path),
        delta_build=_index_delta_build(spark),
    )


# ---------------------------------------------------------------------------
# Registered queries (driver-verified vs DuckDB at sf0.01)
# ---------------------------------------------------------------------------

# Shared oracle fragment: one row per (doc_id, word) token occurrence.
TOKENS_SQL = (
    "SELECT doc_id, word FROM ("
    f"SELECT doc_id, {duckdb_tokens_sql('text')} AS word FROM documents"
    ") WHERE word <> ''"
)

POSTINGS_SQL = (
    "SELECT word, doc_id, CAST(COUNT(*) AS BIGINT) AS cnt "
    f"FROM ({TOKENS_SQL}) GROUP BY word, doc_id"
)


@register(
    "index_postings",
    oracle=POSTINGS_SQL,
    tier="ref",
    doc="Full inverted-index build: normalize (helper_map.c:166) + "
    "COUNT(*) GROUP BY word, doc (helper_reduce.c:153).",
)
def q_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return postings_for(spark, sf_dir).select("word", "doc_id", "cnt")


@register(
    "index_corpus_stats",
    oracle=(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_postings, "
        "CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words, "
        "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, "
        f"CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM ({POSTINGS_SQL})"
    ),
    tier="implied",
    doc="Corpus statistics over the index (SURVEY.md §2.4 A5/A6); reads "
    "the persisted session index, not the raw corpus.",
)
def q_index_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = indexed_postings(spark, sf_dir)
    return p.agg(
        F.count(F.lit(1)).alias("n_postings"),
        F.countDistinct("word").alias("n_words"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("cnt").alias("n_tokens"),
    )


@register(
    "index_letter_histogram",
    oracle=(
        "SELECT substr(word, 1, 1) AS letter, CAST(COUNT(*) AS BIGINT) AS n_postings, "
        f"CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM ({POSTINGS_SQL}) GROUP BY 1"
    ),
    tier="ref",
    doc="Postings per index partition — the reference's 26-way letter "
    "routing (helper_reduce.c:238-257) as an aggregation. Reads the "
    "persisted index; `letter` here IS the Hive partition column, so "
    "this is a per-partition metadata-cheap count, no re-tokenize.",
)
def q_index_letter_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        indexed_postings(spark, sf_dir)
        .groupBy("letter")
        .agg(F.count(F.lit(1)).alias("n_postings"), F.sum("cnt").alias("n_tokens"))
    )


N_SALT = 16


@register(
    "index_vocabulary_topk_salted",
    export=False,  # pytest-verified variant; kept out of the external window
    oracle=(
        "SELECT word, CAST(SUM(cnt) AS BIGINT) AS total, "
        "CAST(COUNT(*) AS BIGINT) AS n_docs "
        f"FROM ({POSTINGS_SQL}) GROUP BY word "
        "ORDER BY total DESC, word LIMIT 25"
    ),
    tier="implied",
    doc="Salted two-phase variant of index_vocabulary_topk, same oracle: "
    f"phase 1 aggregates (word, salt=hash(doc) % {N_SALT}) so a Zipf-hot "
    "word ('the' ~5% of all tokens) spreads over 16 reducers; phase 2 "
    "merges the 16 partials per word. For plain sums Spark's map-side "
    "partial agg already flattens skew; the salt is the pattern for "
    "aggregates with heavy per-key state (exact distinct sets, "
    "collect_list, percentile buffers) where one reducer would "
    "otherwise hold the hot key's entire state alone.",
)
def q_index_vocabulary_topk_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = indexed_postings(spark, sf_dir)
    phase1 = (
        p.withColumn("salt", F.pmod(F.hash("doc_id"), F.lit(N_SALT)))
        .groupBy("word", "salt")
        .agg(F.sum("cnt").alias("pt"), F.count(F.lit(1)).alias("pd"))
    )
    return (
        phase1.groupBy("word")
        .agg(F.sum("pt").alias("total"), F.sum("pd").alias("n_docs"))
        .orderBy(F.desc("total"), "word")
        .limit(25)
    )


@register(
    "index_vocabulary_topk",
    oracle=(
        "SELECT word, CAST(SUM(cnt) AS BIGINT) AS total, "
        "CAST(COUNT(*) AS BIGINT) AS n_docs "
        f"FROM ({POSTINGS_SQL}) GROUP BY word "
        "ORDER BY total DESC, word LIMIT 25"
    ),
    tier="implied",
    doc="Global top-k words by corpus frequency (SURVEY.md §2.6 O4); "
    "deterministic tie-break on word. Reads the persisted index.",
)
def q_index_vocabulary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        indexed_postings(spark, sf_dir)
        .groupBy("word")
        .agg(F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("total"), "word")
        .limit(25)
    )


MIN_DF = 3  # drop hapax-ish noise
MAX_DF_FRAC = 0.5  # drop corpus-wide stopwords


@register(
    "index_vocabulary_prune",
    oracle=f"""
        WITH v AS (
            SELECT word, CAST(SUM(cnt) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM ({POSTINGS_SQL}) GROUP BY word),
        d AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS total_docs
              FROM ({POSTINGS_SQL}))
        SELECT word, total, n_docs
        FROM v, d
        WHERE n_docs >= {MIN_DF} AND n_docs <= {MAX_DF_FRAC} * total_docs
    """,
    tier="implied",
    doc=f"Document-frequency vocabulary pruning (the CountVectorizer "
    f"minDF/maxDF stage): keep words appearing in >= {MIN_DF} docs and "
    f"<= {int(MAX_DF_FRAC * 100)}% of the corpus — drops OCR noise at "
    "one end and corpus-wide stopwords at the other. One groupBy(word) "
    "over the postings plus a 1-row doc-count broadcast; output is the "
    "working vocabulary for downstream TF-IDF / n-gram models.",
)
def q_index_vocabulary_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = indexed_postings(spark, sf_dir)
    vocab = p.groupBy("word").agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_docs")
    )
    total_docs = p.agg(F.countDistinct("doc_id").alias("total_docs"))
    return (
        vocab.crossJoin(F.broadcast(total_docs))
        .filter(
            (F.col("n_docs") >= MIN_DF)
            & (F.col("n_docs") <= MAX_DF_FRAC * F.col("total_docs"))
        )
        .select("word", "total", "n_docs")
    )
