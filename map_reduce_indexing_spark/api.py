"""User-facing facade: the reference's client lifecycle as one object.

The reference's end-user story (client.c:39; SURVEY.md §3.1) is:
submit an indexing job for a corpus directory, then run lookups against
the 26 letter files the job materialized (helper_reduce.c:238-257).
`IndexSession` packages that lifecycle over the engine's operators:

    from map_reduce_indexing_spark.api import IndexSession

    idx = IndexSession.build(spark, "data/*/*", "/shared/index")
    idx.lookup("spark")                # pruned scan of letter=s
    idx.search_all(["spark", "query"]) # AND: semi joins on doc_id
    idx.search_any(["spark", "query"]) # OR: union + distinct
    idx.exclude("spark", "slow")       # NOT: anti join
    idx.top_docs("spark", k=10)        # tf-ranked docs for a term
    idx.vocabulary(k=25)               # corpus top-k words
    idx.append(more_docs)              # incremental maintenance...
    idx.compact()                      # ...then log-structured merge

Everything returns a DataFrame (lazy); nothing collects. A corpus can
be a text tree (the reference's `data/<collection>/<doc>` layout) or
any (doc_id, text) DataFrame.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators.indexing import (
    build_postings,
    compact_index,
    read_index,
    with_letter,
    write_index,
)
from .operators.search import search_and, search_not, search_or, term_lookup
from .sources import commitio
from .sources.artifacts import _data_listing
from .sources.catalog import (  # noqa: F401 — public surface
    attach_catalog,
    load_catalog,
    register_store,
    save_catalog,
    store_sql,
)
from .sources.corpus import read_corpus_dir


def _normalize_term(term: str) -> str:
    """Apply the index tokenizer's normalization (functions/text.py
    rules 2-3: lowercase, delete [^a-z]) to a QUERY term, so
    `lookup("Spark")` matches the stored token 'spark' instead of
    silently returning empty. Terms that normalize to nothing (e.g.
    "42", "") can never match an indexed token — reject them loudly
    rather than returning an empty frame or crashing on term[0]."""
    words = [w for w in re.split(r"\s+", term) if w]
    if len(words) > 1:
        # Deleting separators would silently fuse 'machine learning' into
        # 'machinelearning', a token the tokenizer can never produce.
        raise ValueError(
            f"query term {term!r} contains multiple words; the index is "
            "word-grained — use search_all/search_any with one term per "
            "word instead"
        )
    norm = re.sub(r"[^a-z]", "", term.lower())
    if not norm:
        raise ValueError(
            f"query term {term!r} normalizes to empty under the index "
            "tokenizer (lowercase, strip non-[a-z]) and can never match"
        )
    return norm


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Ad-hoc ANSI SQL over the engine's tables: registers every fixture
    table (region nation customer supplier part orders lineitem events
    documents embeddings) as a temp view with the engine's normalized
    schemas (UTC timestamps, NTZ/nanos handling — sources/tables.py),
    then runs the query through Catalyst.

        from map_reduce_indexing_spark import api
        api.sql(spark, sf_dir, "SELECT count(*) FROM orders").show()

    This is the drop-in surface for a user bringing their own SQL: the
    same views the DuckDB oracle sees, the same plans the registered
    queries get (pushdown, broadcast, AQE — nothing here bypasses the
    optimizer)."""
    from .sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(query)


def funnel(
    events: DataFrame,
    steps: list[str] | tuple[str, ...],
    deadlines_us: list[int | None] | None = None,
    per_user: bool = False,
    strategy: str = "window",
) -> DataFrame:
    """Parametric ordered conversion funnel over ANY
    (user_id, ts, event_type) frame — arbitrary step list, optional
    per-transition deadlines in integer microseconds
    (``deadlines_us[i]`` bounds the step i -> i+1 gap; None entries
    are unbounded).

        from map_reduce_indexing_spark import api
        api.funnel(ev, ["signup", "activate", "invite", "purchase"],
                   deadlines_us=[None, 24*3600*1_000_000, None])

    Returns the per-step summary (step_no, step, n_users,
    conv_from_first), or the per-user conversion-times frame
    (user_id, t_0..t_{n-1}) with ``per_user=True``.

    ``strategy="window"`` (default) costs one user_id exchange and one
    source scan regardless of step count; ``strategy="join_chain"`` is
    the hot-user fallback — per-step hash aggregations whose map-side
    combine and AQE skew-join splitting flatten a bot-sized key, at
    one scan per step (operators/eventflow.funnel_times documents the
    trade). Both are property-tested output-identical against the
    join-chain oracle model for arbitrary step counts and deadline
    mixes (tests/test_eventflow.py)."""
    from .operators.eventflow import funnel_summary, funnel_times

    f = funnel_times(events, steps, deadlines_us, strategy=strategy)
    return f if per_user else funnel_summary(f, steps)


def maintain_store(
    spark: SparkSession, path: str, vacuum_grace_seconds: float = 3600.0
) -> dict:
    """The one call a scheduler runs against ANY generations store:
    fire the recorded compaction policy if its trigger holds, then
    vacuum unreachable crash residue (generations.maybe_autocompact +
    vacuum_store). Returns {"compacted_to": new generation or None,
    "vacuum": removal counts}; a no-op on a store with no manifest
    yet. IndexSession.maintain / VectorStore.maintain are this
    function bound to their paths."""
    from .sources.generations import (
        load_manifest,
        maybe_autocompact,
        vacuum_store,
    )

    if load_manifest(path) is None:
        return {"compacted_to": None, "vacuum": {}}
    gen = maybe_autocompact(spark, path)
    return {
        "compacted_to": gen,
        "vacuum": vacuum_store(path, grace_seconds=vacuum_grace_seconds),
    }


def _reaggregate(raw: DataFrame) -> DataFrame:
    """Fold an index read's partial counts to one row per (word, doc)."""
    return raw.groupBy("word", "doc_id", "letter").agg(
        F.sum("cnt").alias("cnt")
    ).select("word", "doc_id", "cnt", "letter")


class IndexSession:
    """A persisted letter-partitioned inverted index plus its query
    surface — the engine's equivalent of the reference's ./index
    artifact and the lookups it implies."""

    def __init__(self, spark: SparkSession, index_path: str):
        self.spark = spark
        self.index_path = index_path
        # (index state key, resolved postings frame): see postings()
        self._resolved: tuple | None = None

    # -- build / maintain ---------------------------------------------------

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        corpus: str | DataFrame,
        index_path: str,
        mode: str = "overwrite",
    ) -> "IndexSession":
        """Index a corpus (glob of text files, reference layout, or a
        (doc_id, text) DataFrame) into `index_path` and return the
        queryable session. The write is the engine's committed
        partitioned parquet — the reference's 26 append files without
        the unlocked-append race (SURVEY.md §2.12)."""
        docs = (
            read_corpus_dir(spark, corpus) if isinstance(corpus, str) else corpus
        )
        write_index(build_postings(docs), index_path, mode=mode)
        return cls(spark, index_path)

    def append(self, corpus: str | DataFrame) -> None:
        """Incrementally index more documents (the reference's append
        lifecycle, helper_reduce.c:241): partial counts append
        atomically; reads stay correct because `postings()`
        re-aggregates; call `compact()` to fold them in. The write
        holds the index writer lock, so an append issued while a
        compaction is mid-swap WAITS and lands on the compacted copy
        instead of being dropped by it (commitio.IO.writer_lock)."""
        docs = (
            read_corpus_dir(self.spark, corpus)
            if isinstance(corpus, str)
            else corpus
        )

        from .sources.generations import locked_append, publish_append

        # Heal a crashed compaction FIRST: appending while the live path
        # is missing would recreate it with only the delta and
        # permanently orphan the full index stranded at <path>.old. The
        # pre-append state stays pinnable, and every append publishes a
        # new head generation (sources/generations.py).
        with locked_append(self.index_path):
            publish_append(
                self.index_path,
                with_letter(build_postings(docs))
                .write.mode("append")
                .partitionBy("letter")
                .parquet,
            )

    def compact(self) -> None:
        """Merge appended partial postings back to one row per
        (word, doc) — log-structured maintenance with crash recovery.
        Pinned generations survive the rewrite (relocated under _gen,
        retention GEN_RETAIN — sources/generations.py). The published
        head records `unique_keys`, so queries skip the re-aggregation
        until the next write (see `postings`)."""
        compact_index(self.spark, self.index_path)

    def delete_docs(self, doc_ids: list, mode: str = "cow") -> dict:
        """Remove documents from the index — the takedown/erasure verb
        the reference never had (its ./index files only ever grow):
        every posting of the named doc_ids is deleted copy-on-write
        (sources/generations.py:delete_rows — only the files that may
        hold them rewrite; here the index is letter-partitioned and
        doc postings span letters, so expect a broad rewrite — rare
        operation, exact result). Searches stop returning the
        documents immediately; pinned generations still serve them
        (tag a snapshot first if you need a retention record); the
        letter_stats view rebuilds exactly on its next refresh.
        Returns the delete report.

        `mode="dv"` (round 12) deletes MERGE-ON-READ instead: a
        deletion-vector sidecar, zero postings rewritten — the right
        call when the doc set is small against a large index; the
        vector folds away at the next compact()."""
        from .sources.generations import delete_rows, delete_rows_dv

        verb = delete_rows_dv if mode == "dv" else delete_rows
        return verb(
            self.spark, self.index_path, [("doc_id", "in", list(doc_ids))]
        )

    def postings_at(self, generation: int | str | None = None) -> DataFrame:
        """`postings()` against a PINNED generation — two queries at
        the same generation see the same rows even while appends and
        compactions land in between (snapshot isolation; generations
        are published by `append` and relocated by `compact`)."""
        from .sources.generations import read_generation

        return _reaggregate(
            read_generation(self.spark, self.index_path, at=generation)
        )

    def generation(self) -> int:
        """The newest published generation of this index (0 before the
        first append publishes one) — the handle `postings_at` pins."""
        from .sources.generations import generation_head

        return generation_head(self.index_path)

    def set_compaction_policy(
        self,
        max_files: int,
        n_files: int = 16,
        cluster_by: list[str] | None = None,
        min_file_bytes: int | None = None,
        max_deleted_ratio: float | None = None,
        max_dv_rows: int | None = None,
    ) -> None:
        """Record the store's small-file + deletion-vector policy in
        its manifest (see generations.set_compaction_policy);
        `maintain()` — and every policy-aware publisher — fires it
        when any trigger holds (file count, median size, or DV
        growth)."""
        from .sources.generations import set_compaction_policy

        set_compaction_policy(
            self.index_path,
            max_files,
            n_files,
            cluster_by,
            min_file_bytes,
            max_deleted_ratio=max_deleted_ratio,
            max_dv_rows=max_dv_rows,
        )

    def maintain(self, vacuum_grace_seconds: float = 3600.0) -> dict:
        """The one call a scheduler runs: fire the recorded compaction
        policy + vacuum unreachable residue (see maintain_store)."""
        return maintain_store(
            self.spark, self.index_path, vacuum_grace_seconds
        )

    def letter_stats(self, refresh: bool = True) -> DataFrame:
        """Per-letter index statistics (total term count, distinct
        words, distinct documents) served from an INCREMENTALLY
        MAINTAINED materialized view over the index's own generations
        (operators/matview.py): the first call materializes it, later
        calls merge only the files appended since — a dashboard over a
        growing index never rescans it. `refresh=False` serves the
        view as-is (at most one refresh behind).

        The aggregate set is deliberately FOLD-INVARIANT: compaction
        folds appended partial postings into one row per key, which
        preserves sums and the distinct word/doc sets but not physical
        row counts — so the view carries sum(cnt) and distinct counts,
        never count(*). Across a compaction the refresh REBUILDS from
        the head snapshot (operators/matview.py:_refresh_locked, which
        falls back to _rebuild_locked without a count(*) anchor): a
        fold changes cnt on keys that already existed at the pin, so
        a key-level anti-join delta would silently drop the appended
        cnt from total_cnt — the rebuild is exact for any rewrite and
        scans only head (tests/test_matview.py, including the
        append-duplicate-key-then-compact-before-refresh case)."""
        import os as _os

        from .operators.matview import (
            create_matview,
            read_matview,
            refresh_matview,
        )
        from .sources.generations import locked_append

        view = self.index_path.rstrip("/") + "_letter_stats"
        if not _os.path.isfile(_os.path.join(view, "_matview.json")):
            with locked_append(self.index_path):
                pass  # the index's current state becomes its base generation
            create_matview(
                self.spark,
                self.index_path,
                view,
                ["letter"],
                {
                    "total_cnt": ("sum", "cnt"),
                    "n_words": ("count_distinct", "word"),
                    "n_docs": ("count_distinct", "doc_id"),
                },
                row_keys=["word", "doc_id"],
            )
        elif refresh:
            refresh_matview(self.spark, view)
        return read_matview(self.spark, view)

    # -- query --------------------------------------------------------------

    def postings(self) -> DataFrame:
        """(word, doc_id, cnt, letter) with one row per (word, doc_id),
        so appended partial counts read correctly even before
        compaction.

        One resolved read per index state: the session keeps the last
        resolved frame, keyed by the manifest's identity plus the live
        data-file listing (relpath, size, mtime). Every call still
        heals a crashed swap and re-walks the listing, so an append
        that lands without publishing is visible on the next query
        (`read_index`'s live-read contract); only a changed key pays
        the read, manifest load and planning again.

        The re-aggregation is skipped only when the head generation
        was published by `compact()` (it carries `unique_keys`), has
        no deletion vector, and its file list is exactly the live
        listing; any other index (no manifest, appended files, a
        deletion vector, another writer's rewrite) keeps the
        `groupBy(word, doc_id, letter).sum(cnt)`."""
        from .sources.generations import _manifest_identity

        def state() -> tuple:
            return (
                _manifest_identity(self.index_path),
                _data_listing(self.index_path),
            )

        commitio.recover_index(self.index_path)
        key = state()
        if self._resolved is not None and self._resolved[0] == key:
            return self._resolved[1]
        raw = read_index(self.spark, self.index_path)
        unique = self._compacted_head(key[1])
        if state() != key:
            # the index changed while resolving: the manifest just read
            # may not describe `raw`, so serve the re-aggregating plan
            # (correct for any listing) and keep nothing
            return _reaggregate(raw)
        if unique:
            df = raw.select("word", "doc_id", "cnt", "letter")
        else:
            df = _reaggregate(raw)
        self._resolved = (key, df)
        return df

    def _compacted_head(self, listing: dict) -> bool:
        """True when the head generation is a compaction's output (one
        row per (word, doc_id)), carries no deletion vector, and lists
        exactly the live data files."""
        from .sources.generations import load_manifest

        m = load_manifest(self.index_path) or {}
        head = m.get("gens", {}).get(str(m.get("head", 0))) or {}
        return (
            head.get("unique_keys") == ["word", "doc_id"]
            and not head.get("dv")
            and set(head.get("files", ())) == set(listing)
        )

    def lookup(self, term: str) -> DataFrame:
        """Posting list of one term: letter-partition-pruned scan of
        the session's resolved `postings()` frame (no re-read while the
        index state is unchanged; no shuffle on a compacted index).
        The term is normalized with the index tokenizer's rules first."""
        return term_lookup(self.postings(), _normalize_term(term)).select(
            "doc_id", "cnt"
        )

    def search_all(self, terms: list[str]) -> DataFrame:
        """Docs containing ALL terms (AND)."""
        return search_and(self.postings(), [_normalize_term(t) for t in terms])

    def search_any(self, terms: list[str]) -> DataFrame:
        """Docs containing ANY term (OR)."""
        return search_or(self.postings(), [_normalize_term(t) for t in terms])

    def exclude(self, include: str, exclude: str) -> DataFrame:
        """Docs containing `include` but not `exclude` (NOT)."""
        return search_not(
            self.postings(), _normalize_term(include), _normalize_term(exclude)
        )

    def top_docs(self, term: str, k: int = 10) -> DataFrame:
        """Best documents for a term by term frequency."""
        return (
            self.lookup(term).orderBy(F.desc("cnt"), "doc_id").limit(k)
        )

    def vocabulary(self, k: int = 25) -> DataFrame:
        """Corpus top-k words by total frequency."""
        return (
            self.postings()
            .groupBy("word")
            .agg(F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_docs"))
            .orderBy(F.desc("total"), "word")
            .limit(k)
        )


class VectorStore:
    """A persisted LSH-bucket-partitioned embedding store plus its
    serving lookup — the IndexSession lifecycle (build / append /
    compact / query, flock-serialized writers, crash-safe swap)
    applied to the ANN tier:

        from map_reduce_indexing_spark.api import VectorStore

        vs = VectorStore.build(spark, vectors_df, "/shared/vectors")
        vs.topk([0.1, -0.3, ...], k=10)   # one pruned bucket scan
        vs.append(new_vectors_df)          # incremental ingest...
        vs.compact()                       # ...then re-bucket folding
        vs.vectors()                       # (vec_id, v, bucket)

    `vectors_df` is any (vec_id, v array<double>) frame. Lookups see
    appended vectors immediately (their bucket partition gains a file;
    the `bucket = q` prune is unchanged); compaction folds the
    accumulated per-append files back to one per bucket."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        vectors: DataFrame,
        path: str,
        layout: str = "lsh",
        centroids: list[list[float]] | None = None,
        pq: bool = False,
        codebooks: list[list[list[float]]] | None = None,
    ) -> "VectorStore":
        """layout="lsh" partitions on the hyperplane bucket, "ivf" on
        the nearest coarse centroid; append/compact/topk infer the
        layout from the store's partition directories thereafter.
        `centroids` (IVF only) builds against a TRAINED quantizer —
        e.g. `operators.similarity.train_kmeans(spark, sf_dir)` — which
        persists inside the store and routes every later append, topk,
        streaming ingest, and compaction of this path automatically.
        `pq=True` stores product-quantization codes beside the raw
        vectors with the codebook as a second sidecar: appends
        re-encode against it, compaction carries it, and
        `topk(..., serving="pq")` serves from codes (ADC shortlist +
        exact re-rank) instead of scanning floats. `codebooks` (pq
        only) builds against TRAINED sub-quantizers — e.g.
        `operators.similarity.train_pq_codebooks(spark, sf_dir)` —
        persisted in the sidecar like the pinned defaults."""
        from .operators.similarity import build_vector_store

        build_vector_store(
            spark,
            vectors,
            path,
            layout=layout,
            centroids=centroids,
            pq=pq,
            codebooks=codebooks,
        )
        return cls(spark, path)

    def append(self, vectors: DataFrame) -> None:
        from .operators.similarity import append_vectors

        append_vectors(self.spark, vectors, self.path)

    def compact(self, retrain: bool = False) -> None:
        """`retrain=True` (IVF layouts) re-trains the quantizer — and,
        for a compressed store, the PQ codebooks, re-encoding every
        code — from the store's current vectors during the compaction
        rewrite and swaps the new models in as the sidecars — the
        drift-adaptation maintenance op (see
        operators.similarity.compact_vector_store)."""
        from .operators.similarity import compact_vector_store

        compact_vector_store(self.spark, self.path, retrain=retrain)

    def delete_ids(self, ids: list, mode: str = "cow") -> dict:
        """Remove vectors by id copy-on-write (delete_rows on the
        bucketed store: partition-dir and stats pruning keep untouched
        cells' files by name). Lookups stop returning them
        immediately; pinned generations still serve them. The
        quantizer/codebook sidecars are unchanged (they are learned
        layouts, not row state) — retrain at the next
        `compact(retrain=True)` if the deletion shifted the
        distribution. Returns the delete report. `mode="dv"` deletes
        merge-on-read (deletion-vector sidecar, zero files rewritten;
        folds at the next compact)."""
        from .sources.generations import delete_rows, delete_rows_dv

        verb = delete_rows_dv if mode == "dv" else delete_rows
        return verb(
            self.spark, self.path, [("vec_id", "in", list(ids))]
        )

    def vectors(self) -> DataFrame:
        from .operators.similarity import read_vector_store

        return read_vector_store(self.spark, self.path)

    def vectors_at(self, generation: int | str | None = None) -> DataFrame:
        """The store's rows at a PINNED generation (snapshot
        isolation across concurrent appends/compactions — e.g. train
        a model on snapshot S while ingest continues; generations are
        published by `append`, relocated by `compact`)."""
        from .sources.generations import read_generation

        return read_generation(self.spark, self.path, at=generation)

    def generation(self) -> int:
        """Newest published generation (0 before the first append)."""
        from .sources.generations import generation_head

        return generation_head(self.path)

    def set_compaction_policy(
        self,
        max_files: int,
        n_files: int = 16,
        cluster_by: list[str] | None = None,
        min_file_bytes: int | None = None,
        max_deleted_ratio: float | None = None,
        max_dv_rows: int | None = None,
    ) -> None:
        """Record the store's small-file + deletion-vector policy (see
        IndexSession) — the DV triggers matter here: delete_ids(
        mode='dv') accumulates vectors no file-count trigger sees."""
        from .sources.generations import set_compaction_policy

        set_compaction_policy(
            self.path,
            max_files,
            n_files,
            cluster_by,
            min_file_bytes,
            max_deleted_ratio=max_deleted_ratio,
            max_dv_rows=max_dv_rows,
        )

    def maintain(self, vacuum_grace_seconds: float = 3600.0) -> dict:
        """Fire the recorded compaction policy + vacuum unreachable
        residue (see maintain_store)."""
        return maintain_store(self.spark, self.path, vacuum_grace_seconds)

    def topk(
        self,
        qv: list[float],
        k: int = 10,
        serving: str = "exact",
        nprobe: int = 1,
        where=None,
    ) -> DataFrame:
        from .operators.similarity import vector_store_topk

        return vector_store_topk(
            self.spark,
            self.path,
            qv,
            k,
            serving=serving,
            nprobe=nprobe,
            where=where,
        )
