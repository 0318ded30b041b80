"""Similarity search over embeddings (EXT tier, BASELINE.json north star).

Three tiers over the `embeddings` fixture (vec_id, embedding float[64]):

- brute-force cosine top-k: the exactness baseline; one pass, no index.
- LSH (random-hyperplane signs): the scale path — bucket on an 8-bit
  signature, search only the query's bucket. Hyperplanes are integer
  vectors from a fixed deterministic formula so Spark and DuckDB build
  identical buckets.
- IVF (coarse quantization): assign each vector to its nearest of 8
  fixed centroids, search only the query's cell.

Scale posture (100 TB): brute force is a full scan per query — fine for
batch scoring (it is embarrassingly parallel and shuffle-free), wrong
for interactive lookup. The LSH/IVF variants turn a lookup into a
partition-prunable equality predicate (`bucket = q_bucket`), the same
trick the reference uses with its 26 letter files (helper_reduce.c:238).
Persist bucketed/partitioned by `bucket` and a query touches one cell.

All dot products fold left-to-right in double on both engines, so
cosine values compare bit-exact against the oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import state
from ..localrel import local_rows_df
from ..plans.registry import register
from ..sources import commitio
from ..sources.artifacts import compact_artifact, session_artifact_df
from ..sources.generations import staged_rewrite
from ..sources.tables import load_table
from .dedup import (
    EMB_DIM,
    HYPERPLANES,
    N_PLANES,
    SPARK_DOT,
    _duck_arr,
    _spark_arr,
    duck_cosine,
    duck_lsh_bucket,
    spark_cosine,
    spark_lsh_bucket,
)

# Single source of truth for the embedding dimension (shared with the
# LSH hyperplanes in dedup.py): mismatched lengths would make zip_with
# pad with nulls and silently collapse every bucket/cell to 0.
DIM = EMB_DIM
QUERY_VEC_ID = 0
N_CENTROIDS = 8  # IVF cells

# Deterministic integer centroids, inlined into both engines. (The LSH
# hyperplanes/bucket builders live in operators/dedup.py, shared with the
# embedding near-dup operator.)
CENTROIDS = [
    [((j * 37 + d * 11) % 9) - 4 for d in range(DIM)] for j in range(N_CENTROIDS)
]


def spark_ivf_cell(vec: str) -> str:
    """1-based index of the nearest centroid (first-min tie-break).

    d2(v, c) = |v|^2 - 2 v.c + |c|^2; |v|^2 is common -> argmin over
    (|c|^2 - 2 v.c), exact in double for integer centroids.
    """
    dists = ", ".join(
        f"({sum(x * x for x in c)}.0d - 2.0d * {SPARK_DOT.format(a=vec, b=_spark_arr(c))})"
        for c in CENTROIDS
    )
    return f"array_position(array({dists}), array_min(array({dists})))"


def duck_ivf_cell(vec: str) -> str:
    dists = ", ".join(
        f"({sum(x * x for x in c)}.0 - 2.0 * list_dot_product({vec}, {_duck_arr(c)}))"
        for c in CENTROIDS
    )
    return f"list_indexof([{dists}], list_min([{dists}]))"


def embeddings_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )


# ---------------------------------------------------------------------------
# Partitioned vector stores: the ANN serving layout
# ---------------------------------------------------------------------------


def lsh_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, bucket) served from a session-persisted store
    Hive-partitioned by the 8-bit hyperplane bucket. A `bucket = q`
    predicate prunes to ~1/256th of the files — the 'persist partitioned
    by bucket' posture the module docstring promises, materialized.
    Caching semantics: `sources.artifacts.session_artifact_df`."""

    def build(path: str) -> None:
        (
            embeddings_double(spark, sf_dir)
            .select("vec_id", "v")
            .withColumn("bucket", F.expr(spark_lsh_bucket("v")))
            .repartition("bucket")  # one compact file per bucket
            .write.partitionBy("bucket")
            .parquet(path)
        )

    return session_artifact_df(
        spark, sf_dir, "emb_store", "embeddings.parquet", build
    )


def ivf_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, cell) partitioned by the IVF coarse-quantization
    cell — one Hive partition per centroid, so probing n cells reads n
    partitions."""

    def build(path: str) -> None:
        (
            embeddings_double(spark, sf_dir)
            .select("vec_id", "v")
            .withColumn("cell", F.expr(spark_ivf_cell("v")).cast("long"))
            .repartition("cell")  # one compact file per cell
            .write.partitionBy("cell")
            .parquet(path)
        )

    return session_artifact_df(
        spark, sf_dir, "ivf_store", "embeddings.parquet", build
    )


# ---------------------------------------------------------------------------
# User-path vector store lifecycle: build -> append -> compact -> lookup
# ---------------------------------------------------------------------------
# The session artifacts above serve the registered queries; this is the
# MAINTAINED form — the same append-then-compact story the inverted
# index has (reference analogue: every persisted artifact is an append
# sink, helper_reduce.c:241 `fopen(..., "a+")` — here with the flock
# writer serialization and crash-safe swap the reference lacked,
# SURVEY.md §2.12).


# User-path store layouts: partition-column name -> routing expression.
# "lsh" routes on the 8-bit hyperplane bucket, "ivf" on the nearest
# coarse centroid; either way a lookup is one pruned partition scan and
# the append/compact lifecycle is identical (the machinery below infers
# the layout from the partition directories, so one code path maintains
# both).
_LAYOUT_COLS = {"lsh": "bucket", "ivf": "cell"}


def _with_bucket(
    vectors: DataFrame,
    col: str = "bucket",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """(vec_id, v, metadata...) -> + the routing key for the store
    layout: the 8-bit hyperplane bucket ("bucket") or the IVF cell
    ("cell" — against the store's TRAINED centroids when given, else
    the pinned defaults). Extra input columns are KEPT (round 10
    third wave): metadata riding the store partitions is what makes
    vector_store_topk(where=...) a filtered-ANN scan instead of a
    post-join."""
    if col == "bucket":
        expr = spark_lsh_bucket("v")
    elif centroids is not None:
        # Trained quantizer: route through assign_nearest so a store
        # built with a large-k model (> ASSIGN_LITERAL_MAX_K) assigns
        # via the broadcast path instead of a megabyte literal plan
        # (both assignment paths pass non-vector columns through).
        return assign_nearest(vectors, centroids, out_col=col)
    else:
        expr = spark_ivf_cell("v")
    return vectors.withColumn(col, F.expr(expr).cast("long"))


QUANTIZER_FILE = "_quantizer.json"  # leading "_": invisible to Spark scans


def _quantizer_path(path: str) -> str:
    return os.path.join(path, QUANTIZER_FILE)


def load_quantizer(path: str) -> list[list[float]] | None:
    """Trained centroids persisted inside an IVF store (the model
    travels WITH the store, so append/topk/streaming ingest in a later
    session route identically), or None -> the pinned defaults.
    Callers must heal the store first: the sidecar moves through
    compaction's staged swap with the data directories."""
    import json

    p = _quantizer_path(path)
    if os.path.isfile(p):
        with open(p) as f:
            return json.load(f)
    return None


def _save_quantizer(path: str, centroids: list[list[float]]) -> None:
    # tmp + rename: a crash mid-write must never leave truncated JSON
    # that turns every later load_quantizer into a JSONDecodeError
    import json

    tmp = _quantizer_path(path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump([[float(x) for x in c] for c in centroids], f)
    os.replace(tmp, _quantizer_path(path))


CODEBOOK_FILE = "_codebook.json"  # PQ codebook sidecar (same pattern)


def _codebook_path(path: str) -> str:
    return os.path.join(path, CODEBOOK_FILE)


def load_codebook(path: str) -> list[list[list[float]]] | None:
    """PQ codebook persisted inside a compressed store — appends
    re-encode and pq-serving lookups build their LUTs against the SAME
    codebook the store was built with, across sessions and compactions.
    None -> the store carries no PQ tier. Heal the store first, like
    load_quantizer (the sidecar rides compaction's staged swap)."""
    import json

    p = _codebook_path(path)
    if os.path.isfile(p):
        with open(p) as f:
            return json.load(f)
    return None


def _save_codebook(path: str, books: list[list[list[float]]]) -> None:
    import json

    tmp = _codebook_path(path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            [[[float(x) for x in c] for c in b] for b in books], f
        )
    os.replace(tmp, _codebook_path(path))


def store_layout_col(path: str) -> str:
    """Partition column of an existing store, inferred from its
    directories (looking through a checkpointed batch=<id> level);
    defaults to the LSH bucket for new/empty paths."""
    if os.path.isdir(path):
        entries = list(os.listdir(path))
        for e in list(entries):
            if e.startswith("batch="):
                entries += os.listdir(os.path.join(path, e))
        for e in entries:
            if e.startswith("cell="):
                return "cell"
            if e.startswith("bucket="):
                return "bucket"
    return "bucket"


def _write_vector_store(
    vectors: DataFrame,
    path: str,
    mode: str,
    col: str = "bucket",
    centroids: list[list[float]] | None = None,
    books: list[list[list[float]]] | None = None,
) -> None:
    """Partitioned write: `repartition(col)` gives one writer task per
    occupied partition (one compact file per partition per write),
    `partitionBy` makes `col = q` a directory prune. `books` adds the
    PQ `code` column (4-bit indices per subspace) encoded against that
    codebook — a store built compressed keeps every later append
    encoded the same way (the caller passes the SIDECAR's codebook)."""
    df = _with_bucket(vectors, col, centroids)
    if books is not None:
        df = df.withColumn(
            "code", F.expr(spark_pq_code("v", books)).cast("array<int>")
        )
    (
        df.repartition(col)
        .write.partitionBy(col)
        .mode(mode)
        .parquet(path)
    )


def build_vector_store(
    spark: SparkSession,
    vectors: DataFrame,
    path: str,
    layout: str = "lsh",
    centroids: list[list[float]] | None = None,
    pq: bool = False,
    codebooks: list[list[list[float]]] | None = None,
) -> None:
    """Materialize a partitioned vector store at a USER path from any
    (vec_id, v array<double>) frame — layout "lsh" (hyperplane
    buckets) or "ivf" (coarse-centroid cells); every later append /
    compact / topk infers the layout from the partition directories.
    `centroids` (IVF only) builds against a TRAINED quantizer — e.g.
    `train_kmeans`'s output — persisted as a sidecar INSIDE the store,
    so every later writer and lookup of this path routes with the same
    model without being told (train once, the store carries its model;
    the reference's artifact discipline applied to the model itself).
    `pq=True` additionally stores each vector's product-quantization
    code (PQ_M 4-bit indices) and persists the codebook as a second
    sidecar (_codebook.json) — appends re-encode against it, compaction
    carries it through the swap, and `vector_store_topk(...,
    serving="pq")` runs the ADC-shortlist + exact-re-rank plan against
    the store. At 100 TB the codes are what a cold lookup scans (8 B/row
    instead of 512 B of floats); raw vectors are touched only for the
    shortlist re-rank. Overwrites; enters the writer lock so a
    concurrent maintainer of the same path serializes."""

    if layout not in _LAYOUT_COLS:
        raise ValueError(
            f"unknown vector-store layout {layout!r}; "
            f"expected one of {sorted(_LAYOUT_COLS)}"
        )
    if centroids is not None:
        if layout != "ivf":
            raise ValueError(
                "centroids= is the IVF quantizer; pass layout='ivf' "
                "(the LSH layout routes on hyperplane signs, not cells)"
            )
        if not centroids or any(len(c) != DIM for c in centroids):
            raise ValueError(
                f"centroids must be a non-empty list of dim-{DIM} vectors"
            )
    if codebooks is not None and not pq:
        raise ValueError("codebooks= requires pq=True")
    if codebooks is not None and (
        len(codebooks) != PQ_M
        or any(len(b) != PQ_K for b in codebooks)
        or any(len(c) != PQ_SUBDIM for b in codebooks for c in b)
    ):
        raise ValueError(
            f"codebooks must be {PQ_M} books of {PQ_K} dim-{PQ_SUBDIM} "
            "centroids (train_pq_codebooks' shape)"
        )
    col = _LAYOUT_COLS[layout]
    books = (codebooks or PQ_CODEBOOKS) if pq else None
    # Staged swap (compact_artifact's pattern) for every layout: the
    # live store stays intact until the swap (an in-place overwrite
    # deletes it first, so a failed build would lose the store and its
    # generations), and data and model sidecar(s) commit TOGETHER —
    # sequential writes into the live path would leave a crash window
    # where the store holds trained-cell partitions (or PQ codes) but
    # no sidecar, a "healthy" store that silently routes every later
    # lookup/append with the wrong model.
    def write(staging: str) -> None:
        _write_vector_store(
            vectors,
            staging,
            mode="overwrite",
            col=col,
            centroids=centroids,
            books=books,
        )
        if centroids is not None:
            _save_quantizer(staging, centroids)
        if books is not None:
            _save_codebook(staging, books)

    with commitio.IO.writer_lock(path):
        staged_rewrite(path, write, "mri_build_", spark=spark)


def append_vectors(spark: SparkSession, vectors: DataFrame, path: str) -> None:
    """Incremental ingest: new vectors land as additional files inside
    their bucket partitions (append-mode partitioned write), under the
    same flock every other writer of this path takes — an append racing
    a compactor blocks instead of vanishing in the directory swap.
    Lookups see appended vectors immediately with pruning intact: the
    partition directory gains a file, the `bucket = q` prune is
    unchanged. Per-bucket file COUNT grows by one per append — that is
    compact_vector_store's job, exactly the index's log-structured
    story. Appends are new vec_ids; re-sending an existing vec_id
    stores a second copy (dedup/upsert is a CDC-layer concern —
    operators/cdc.py — not the store's). The routing key is computed
    with the STORE's layout (inferred from its partition directories),
    so an append can never mix bucket and cell partitions."""

    with commitio.IO.writer_lock(path):
        commitio.IO.recover(path)  # heal a crashed compactor first
        # Fail-fast layout guard, same as the streaming ingest: a raw
        # top-level bucket=* append beside a checkpointed
        # batch=<id>/bucket=* store makes Spark's partition discovery
        # raise "conflicting directory structures" on every subsequent
        # read — and compaction (which must read first) cannot heal it.
        # Checked AFTER recovery, under the lock: a store stranded
        # mid-compaction looks like an empty path until healed, which
        # would silently bypass this guard (and default the layout).
        if os.path.isdir(path) and any(
            e.startswith("batch=") for e in os.listdir(path)
        ):
            raise ValueError(
                f"{path!r} holds a checkpointed batch=<id> store; a raw "
                "append would corrupt its partition discovery. "
                "Run compact_vector_store first (it folds the batched "
                "layout flat), or keep appending through the checkpointed "
                "streaming ingest."
            )
        # sidecars are read under the lock, after healing: a store
        # stranded mid-swap has its models in the .old copy until
        # healed. A compressed store's append re-encodes the new
        # vectors against the persisted codebook, so lookups never see
        # a partition mixing coded and code-less rows.
        from ..sources.generations import (
            ensure_base_generation,
            publish_generation,
        )

        ensure_base_generation(path)  # pre-append state stays pinnable
        _write_vector_store(
            vectors,
            path,
            mode="append",
            col=store_layout_col(path),
            centroids=load_quantizer(path),
            books=load_codebook(path),
        )
        publish_generation(path)


def compact_vector_store(
    spark: SparkSession,
    path: str,
    retrain: bool = False,
    iters: int | None = None,  # None -> KMEANS_ITERS (defined below)
) -> None:
    """Fold the appended partials back to one compact file per
    partition (bucket or cell — inferred): read -> repartition ->
    staged rewrite -> locked swap. Locking/crash-safety semantics:
    artifacts.compact_artifact (shared with the count index).

    `retrain=True` (IVF layouts only) additionally RE-TRAINS the
    quantizer from the store's CURRENT vectors before re-laying-out —
    the maintenance op a drifting ingest stream needs: appended vectors
    route through the old centroids, so cells grow lopsided as the
    distribution moves; retraining warm-starts Lloyd from the persisted
    sidecar (or the pinned defaults for a default-centroid store),
    re-assigns every vector, and swaps the NEW model in as the sidecar
    — after which every append/topk/ingest routes through it
    automatically. A COMPRESSED store (codebook sidecar present)
    additionally re-trains its PQ codebooks the same way (round 9:
    warm-started per-subspace Lloyd over the store's current vectors
    via train_pq_codebooks_frame) and re-encodes every code column
    against the new books — after drift, stale codebooks degrade the
    ADC shortlist even when the cells are fresh; both sidecars swap
    atomically with the data. All under the same writer flock +
    staged swap, so a crash mid-retrain leaves the old store (and old
    models) intact."""

    # drop("batch") folds a checkpointed streaming-ingest layout
    # (batch=<id>/bucket=*) into the flat form; a no-op on flat stores.
    # The layout column comes from the frame compact_artifact hands us
    # AFTER taking the lock and healing — directory sniffing here would
    # misread a store stranded mid-swap (path briefly missing).
    def rewrite(df: DataFrame, staging: str) -> None:
        col = "cell" if "cell" in df.columns else "bucket"
        if retrain and col != "cell":
            raise ValueError(
                "retrain=True requires an IVF-layout store (cell "
                "partitions); LSH buckets have no trained model"
            )
        out = df.drop("batch")
        cents = load_quantizer(path)
        books = load_codebook(path)
        if retrain:
            init = (
                cents
                if cents is not None
                else [[float(x) for x in c] for c in CENTROIDS]
            )
            cents = train_kmeans_frame(
                out.select("vec_id", "v"),
                init,
                iters=KMEANS_ITERS if iters is None else iters,
            )
            out = assign_nearest(out.drop("cell"), cents, out_col="cell")
            if books is not None:
                # drift adaptation for the compression tier too:
                # warm-start from the persisted books, re-encode every
                # row so codes and sidecar can never disagree
                books = train_pq_codebooks_frame(
                    out.select("v"),
                    books,
                    iters=KMEANS_ITERS if iters is None else iters,
                )
                out = out.drop("code").withColumn(
                    "code",
                    F.expr(spark_pq_code("v", books)).cast("array<int>"),
                )
        (
            out.repartition(col)
            .write.partitionBy(col)
            .mode("overwrite")
            .parquet(staging)
        )
        # the model sidecars ride the staged swap: copy them AFTER the
        # parquet write (overwrite replaces staging contents), so the
        # swapped-in directory still carries the store's quantizer and
        # PQ codebook (the code COLUMNS travel as data in df above)
        if cents is not None:
            _save_quantizer(staging, cents)
        if books is not None:
            _save_codebook(staging, books)

    compact_artifact(spark, path, rewrite)


def read_vector_store(spark: SparkSession, path: str) -> DataFrame:
    """(vec_id, v, bucket) — self-healing read (restores a stranded
    compaction like the index's read path)."""

    commitio.recover_index(path)
    return spark.read.parquet(path)


def lsh_bucket_of(qv: list[float]) -> int:
    """Driver-side bucket of a query vector — the same hyperplane-sign
    arithmetic as spark_lsh_bucket, computed in Python so a serving
    lookup plans its partition prune without any Spark job."""
    b = 0
    for j, p in enumerate(HYPERPLANES):
        if sum(x * y for x, y in zip(qv, p)) > 0:
            b |= 1 << j
    return b


def ivf_cell_of(
    qv: list[float], centroids: list[list[float]] | None = None
) -> int:
    """Driver-side IVF cell of a query vector — the same surrogate
    distance (|c|^2 - 2 v.c, first-min tie-break, 1-based) as
    spark_ivf_cell, property-tested identical against the Spark
    expression over the fixture vectors. With `centroids`, routes
    against a store's trained quantizer instead of the pinned defaults
    (same left-to-right fold as the inlined expression)."""
    dists = [
        float(sum(x * x for x in c)) - 2.0 * sum(v * x for v, x in zip(qv, c))
        for c in (centroids if centroids is not None else CENTROIDS)
    ]
    return dists.index(min(dists)) + 1


def store_probe_partitions(
    path: str, qv: list[float], col: str, nprobe: int
) -> list[int]:
    """Driver-side probe set for a maintained store, no Spark job:
    IVF -> the nprobe nearest cells by the same surrogate distance as
    the routing argmin (against the store's trained quantizer when it
    carries one); LSH -> the query's bucket plus its Hamming-nearest
    neighbor buckets (flip one hyperplane sign per extra probe — the
    planes whose margin |q.p| is smallest are the likeliest
    misroutes, same recall argument as ann_lsh_multiprobe)."""
    if nprobe < 1:
        # nprobe=0 would silently return an empty IVF probe set (a
        # lookup that finds nothing) and a NEGATIVE slice on the LSH
        # side (probing 7 buckets when asked for fewer) — fail loudly.
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if col == "cell":
        cents = load_quantizer(path)
        cl = cents if cents is not None else CENTROIDS
        dists = [
            (
                float(sum(x * x for x in c))
                - 2.0 * sum(v * x for v, x in zip(qv, c)),
                j + 1,
            )
            for j, c in enumerate(cl)
        ]
        return [cell for _, cell in sorted(dists)[:nprobe]]
    base = lsh_bucket_of(qv)
    margins = sorted(
        (abs(sum(x * y for x, y in zip(qv, p))), j)
        for j, p in enumerate(HYPERPLANES)
    )
    return [base] + [base ^ (1 << j) for _, j in margins[: nprobe - 1]]


def vector_store_topk(
    spark: SparkSession,
    path: str,
    qv: list[float],
    k: int = 10,
    exclude_vec_id: int | None = None,
    serving: str = "exact",
    nprobe: int = 1,
    where=None,
) -> DataFrame:
    """Serving lookup against a maintained store: cosine top-k within
    the query's bucket — one pruned partition scan (PartitionFilters
    on `bucket`, plan-asserted in tests/test_vector_store.py), the
    probe inlined as a literal so the scan is the only job.
    `exclude_vec_id` drops the probe's own row BEFORE the top-k cut
    (a self-match at cosine 1.0 would otherwise consume a slot). The
    probe partition is computed with the store's layout (LSH bucket or
    IVF cell), driver-side either way — taken from the HEALED read's
    schema, not a directory listing, so a lookup racing (or following)
    a crashed compactor still routes correctly. `nprobe` > 1 widens
    the scan to the n most likely partitions (nearest cells / lowest-
    margin bucket flips) — the standard recall knob; the scan stays
    partition-pruned (`col IN (probes)`).

    `where` (the store predicate grammar — AND-list of (col, op, val)
    triples, OR via nested lists) makes this a FILTERED ANN lookup
    over the store's metadata columns (build_vector_store keeps every
    extra input column beside vec_id/v): the predicate applies DURING
    the pruned partition scan, before the top-k cut, so "nearest
    among rows matching P" costs the same one-partition scan. The
    standard filtered-ANN caveat applies and is the caller's knob: a
    selective predicate thins the probed partition's candidates, so
    pair it with a larger `nprobe` to keep recall (candidates ~
    selectivity x partition size x nprobe)."""
    store = read_vector_store(spark, path)
    col = "cell" if "cell" in store.columns else "bucket"
    # sidecars are read after the healed read: a store mid-swap carries
    # them in the .old copy until recover_index restores it
    probes = store_probe_partitions(path, qv, col, nprobe)
    df = store.filter(
        F.col(col) == probes[0]
        if len(probes) == 1
        else F.col(col).isin(probes)
    )
    if where:
        from ..sources.generations import _where_column

        df = df.filter(_where_column(where))
    if exclude_vec_id is not None:
        df = df.filter(F.col("vec_id") != exclude_vec_id)
    if serving == "pq":
        # ADC shortlist + exact re-rank (the ann_ivf_pq_topk plan,
        # against the MAINTAINED store): candidates in the probed
        # partition are ranked by PQ_M LUT lookups + adds over their
        # stored codes (LUTs built driver-side from the exact query and
        # the store's persisted codebook — no decompression, no
        # vector reads), the top PQ_RERANK fetch their raw vectors for
        # the exact cosine. At scale the cold scan touches 8-byte
        # codes; floats are read for the shortlist only.
        books = load_codebook(path)
        if books is None:
            raise ValueError(
                f"{path!r} carries no PQ codebook; build the store "
                "with pq=True for serving='pq'"
            )
        lut = _pq_lut(qv, books)
        adist = None
        for m in range(len(lut)):
            term = F.element_at(
                F.array(*[F.lit(x) for x in lut[m]]),
                F.element_at("code", m + 1),
            )
            adist = term if adist is None else adist + term
        shortlist = (
            df.select("vec_id", adist.alias("adist"))
            .orderBy("adist", "vec_id")
            .limit(PQ_RERANK)
            .select("vec_id")
        )
        df = df.join(F.broadcast(shortlist), "vec_id")
    elif serving != "exact":
        raise ValueError(
            f"unknown serving mode {serving!r}; expected 'exact' or 'pq'"
        )
    return (
        df.withColumn("qv", _qv_literal(qv))
        .select("vec_id", F.expr(spark_cosine("v", "qv")).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


def query_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture's probe vector (qv) — extracted from the raw table,
    as a serving query would arrive from outside the store."""
    return (
        embeddings_double(spark, sf_dir)
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("v").alias("qv"))
    )


def _qv_literal(qv):
    """The probe vector inlined as an array literal — the serving-path
    shape where the query arrives driver-side; keeps the pruned store
    scan the ONLY distributed job in the lookup."""
    return F.array(*[F.lit(float(x)) for x in qv])


def _probe_row(df: DataFrame):
    """Eager 1-row driver fetch of the probe vector (the serving-path
    contract: ANN lookup queries run a bounded job at PLAN-BUILD time to
    fetch the probe — `bench --explain` therefore triggers it too). A
    regenerated fixture without vec_id == QUERY_VEC_ID would make
    first() return None and crash later with AttributeError; fail
    loudly at the fetch instead."""
    row = df.first()
    if row is None:
        raise ValueError(
            f"probe vector vec_id={QUERY_VEC_ID} not found in the "
            "embeddings fixture; ANN serving queries need it"
        )
    return row


DUCK_EMB = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings"
DUCK_QVEC = f"SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}"


@register(
    "ann_knn_bruteforce",
    oracle=f"""
        SELECT vec_id, {duck_cosine('v', 'qv')} AS cosine
        FROM ({DUCK_EMB}) CROSS JOIN ({DUCK_QVEC})
        WHERE vec_id <> {QUERY_VEC_ID}
        ORDER BY cosine DESC, vec_id LIMIT 10
    """,
    tier="llm",
    doc="Exact cosine top-k for one query vector: broadcast the query, "
    "scan once, TakeOrdered — the ANN correctness baseline.",
)
def q_ann_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = embeddings_double(spark, sf_dir)
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("v").alias("qv"))
    return (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.expr(spark_cosine("v", "qv")).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


@register(
    "ann_lsh_bucket_histogram",
    export=False,  # pytest-verified variant; kept out of the external window
    oracle=f"""
        SELECT {duck_lsh_bucket('v')} AS bucket, CAST(COUNT(*) AS BIGINT) AS n
        FROM ({DUCK_EMB}) GROUP BY 1
    """,
    tier="llm",
    doc=f"LSH bucket assignment ({N_PLANES} hyperplanes, {2**N_PLANES} "
    "buckets): per-row arithmetic, zero shuffle before the final count.",
)
def q_ann_lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = embeddings_double(spark, sf_dir)
    return (
        e.withColumn("bucket", F.expr(spark_lsh_bucket("v")))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "ann_lsh_topk",
    oracle=f"""
        WITH e AS (SELECT vec_id, v, {duck_lsh_bucket('v')} AS bucket FROM ({DUCK_EMB})),
        q AS (SELECT v AS qv, bucket AS qbucket FROM e WHERE vec_id = {QUERY_VEC_ID})
        SELECT vec_id, {duck_cosine('v', 'qv')} AS cosine
        FROM e CROSS JOIN q
        WHERE e.bucket = q.qbucket AND vec_id <> {QUERY_VEC_ID}
        ORDER BY cosine DESC, vec_id LIMIT 10
    """,
    tier="llm",
    doc="LSH-bucketed ANN top-k against the PERSISTED bucket-partitioned "
    "store — the serving shape: the probe vector is fetched driver-side "
    "(1 bounded row, as a live query would arrive), its bucket becomes "
    "a STATIC partition filter, and the only distributed job is the "
    "pruned scan of that one Hive partition (~1/256 of the store).",
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    qrow = _probe_row(
        query_vector(spark, sf_dir)
        .withColumn("qbucket", F.expr(spark_lsh_bucket("qv")))
    )
    return (
        lsh_store(spark, sf_dir)
        .filter(
            (F.col("bucket") == int(qrow.qbucket))
            & (F.col("vec_id") != QUERY_VEC_ID)
        )
        .withColumn("qv", _qv_literal(qrow.qv))
        .select("vec_id", F.expr(spark_cosine("v", "qv")).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


N_BATCH_QUERIES = 8
BATCH_K = 10


@register(
    "ann_knn_batch_numpy",
    # Tolerance-verdict oracle: BLAS reorders the double summation, so raw
    # BLAS cosines differ from a left-to-right SQL fold in the last ulp.
    # The query therefore uses BLAS only to PRUNE (per-cell top-(k+5)),
    # re-ranks the surviving ~cells*q*(k+5) candidates with the exact
    # left-to-right fold (bit-identical on both engines), and emits a
    # boolean asserting |blas - fold| <= 1e-9. The oracle ranks by the
    # same fold and emits literal TRUE.
    oracle=f"""
        WITH e AS ({DUCK_EMB}),
        q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {N_BATCH_QUERIES}),
        scored AS (
            SELECT q_id, e.vec_id, {duck_cosine('e.v', 'q.qv')} AS cosine
            FROM e CROSS JOIN q
            WHERE e.vec_id <> q.q_id
        ),
        ranked AS (
            SELECT q_id, vec_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cosine DESC, vec_id) AS rn
            FROM scored
        )
        SELECT q_id, vec_id, cosine, CAST(rn AS BIGINT) AS rn,
               TRUE AS blas_within_1e9
        FROM ranked WHERE rn <= {BATCH_K}
    """,
    tier="llm",
    doc="Batch multi-query exact KNN (SURVEY.md §2.10 applyInPandas "
    "surface): score all vectors against 8 query vectors at once with "
    "one numpy/BLAS matmul per IVF cell (grouped map, Arrow-batched), "
    "keep a per-cell partial top-k per query, then merge with a window. "
    "This is the batch-scoring shape for 100 TB: per-partition dense "
    "matmul amortizes Python/Arrow overhead over the whole cell, and "
    "the partial top-k bounds the shuffle to cells x queries x k rows.",
)
def q_ann_knn_batch_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    e = ivf_store(spark, sf_dir)
    qrows = (
        e.filter(F.col("vec_id") < N_BATCH_QUERIES)
        .select("vec_id", "v")
        .collect()
    )
    q_ids = np.array([r.vec_id for r in qrows])
    Q = np.array([r.v for r in qrows], dtype=np.float64)  # (q, dim)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    # Per-cell margin over k so the final fold-ordered top-k set cannot be
    # changed by last-ulp BLAS-vs-fold differences at the cut boundary;
    # the in-cell selection tie-breaks on vec_id (same as the oracle's
    # ROW_NUMBER ordering), so exact-duplicate cosines can never evict
    # the fold-rank winner, and the margin covers near-ties within the
    # 1e-9 BLAS band.
    PRUNE_K = BATCH_K + 10

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        M = np.stack(pdf["v"].values).astype(np.float64)  # (n, dim)
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        C = Mn @ Qn.T  # (n, q) cosines
        out = []
        vec_ids = pdf["vec_id"].values
        for qi, q_id in enumerate(q_ids):
            col = C[:, qi]
            mask = vec_ids != q_id
            cand_ids, cand_cos = vec_ids[mask], col[mask]
            take = min(PRUNE_K, len(cand_ids))
            if take == 0:
                continue
            # lexsort: primary -cosine (desc), secondary vec_id (asc)
            part = np.lexsort((cand_ids, -cand_cos))[:take]
            out.append(
                pd.DataFrame(
                    {"q_id": q_id, "vec_id": cand_ids[part], "blas_cosine": cand_cos[part]}
                )
            )
        if not out:
            return pd.DataFrame({"q_id": [], "vec_id": [], "blas_cosine": []})
        return pd.concat(out, ignore_index=True)

    partial = e.groupBy("cell").applyInPandas(
        score_cell, schema="q_id long, vec_id long, blas_cosine double"
    )
    # Re-rank the pruned candidates (~cells * q * PRUNE_K rows) with the
    # exact left-to-right fold so ordering and values are bit-identical to
    # the oracle; the BLAS score survives only as a tolerance verdict.
    cand = partial.join(
        e.select("vec_id", "v"), "vec_id"
    ).join(
        F.broadcast(
            e.filter(F.col("vec_id") < N_BATCH_QUERIES).select(
                F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
            )
        ),
        "q_id",
    ).select(
        "q_id",
        "vec_id",
        "blas_cosine",
        F.expr(spark_cosine("v", "qv")).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        cand.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= BATCH_K)
        .select(
            "q_id",
            "vec_id",
            "cosine",
            "rn",
            (F.abs(F.col("blas_cosine") - F.col("cosine")) <= F.lit(1e-9)).alias(
                "blas_within_1e9"
            ),
        )
    )


@register(
    "ann_ivf_cells",
    export=False,  # pytest-verified variant; kept out of the external window
    oracle=f"""
        SELECT CAST({duck_ivf_cell('v')} AS BIGINT) AS cell,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ({DUCK_EMB}) GROUP BY 1
    """,
    tier="llm",
    doc=f"IVF coarse quantization: nearest of {N_CENTROIDS} fixed centroids "
    "per vector (argmin over exact squared distances).",
)
def q_ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = embeddings_double(spark, sf_dir)
    return (
        e.withColumn("cell", F.expr(spark_ivf_cell("v")).cast("long"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "ann_ivf_topk",
    oracle=f"""
        WITH e AS (SELECT vec_id, v, {duck_ivf_cell('v')} AS cell FROM ({DUCK_EMB})),
        q AS (SELECT v AS qv, cell AS qcell FROM e WHERE vec_id = {QUERY_VEC_ID})
        SELECT vec_id, {duck_cosine('v', 'qv')} AS cosine
        FROM e CROSS JOIN q
        WHERE e.cell = q.qcell AND vec_id <> {QUERY_VEC_ID}
        ORDER BY cosine DESC, vec_id LIMIT 10
    """,
    tier="llm",
    doc="IVF ANN top-k against the persisted cell-partitioned store: "
    "probe only the query's cell (nprobe=1) — a static partition "
    "filter, one partition read (serving shape, 1-row driver fetch).",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    qrow = _probe_row(
        query_vector(spark, sf_dir)
        .withColumn("qcell", F.expr(spark_ivf_cell("qv")).cast("long"))
    )
    return (
        ivf_store(spark, sf_dir)
        .filter(
            (F.col("cell") == int(qrow.qcell)) & (F.col("vec_id") != QUERY_VEC_ID)
        )
        .withColumn("qv", _qv_literal(qrow.qv))
        .select("vec_id", F.expr(spark_cosine("v", "qv")).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Recall-improving probe strategies (the production knobs for LSH / IVF)
# ---------------------------------------------------------------------------

# Multi-probe LSH: the query's bucket plus every bucket at Hamming
# distance 1 in signature space (flip one hyperplane sign) — 9 probes of
# 256 buckets. Vectors near a hyperplane land one bit away; probing the
# adjacent buckets recovers most of the recall lost to that boundary
# effect without adding hash tables.
PROBE_MASKS = [0] + [1 << j for j in range(N_PLANES)]


@register(
    "ann_lsh_multiprobe",
    oracle=f"""
        WITH e AS (SELECT vec_id, v, {duck_lsh_bucket('v')} AS bucket FROM ({DUCK_EMB})),
        q AS (SELECT v AS qv, bucket AS qbucket FROM e WHERE vec_id = {QUERY_VEC_ID}),
        probes AS (
            SELECT qv, xor(qbucket, m.m) AS pbucket
            FROM q, (VALUES {', '.join(f'({m})' for m in PROBE_MASKS)}) AS m(m))
        SELECT vec_id, {duck_cosine('v', 'qv')} AS cosine
        FROM e JOIN probes ON e.bucket = probes.pbucket
        WHERE vec_id <> {QUERY_VEC_ID}
        ORDER BY cosine DESC, vec_id LIMIT 10
    """,
    tier="llm",
    doc=f"Multi-probe LSH ANN: search the query's bucket plus its "
    f"{N_PLANES} Hamming-1 neighbors ({len(PROBE_MASKS)}/{2**N_PLANES} "
    "buckets). Still an equality join on the bucket key — each probe is "
    "a pruned partition read at scale — recovering boundary-effect "
    "recall without extra hash tables or a wider scan.",
)
def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    qrow = _probe_row(
        query_vector(spark, sf_dir)
        .withColumn("qbucket", F.expr(spark_lsh_bucket("qv")))
    )
    probes = [int(qrow.qbucket) ^ m for m in PROBE_MASKS]
    return (
        lsh_store(spark, sf_dir)
        .filter(F.col("bucket").isin(probes) & (F.col("vec_id") != QUERY_VEC_ID))
        .withColumn("qv", _qv_literal(qrow.qv))
        .select("vec_id", F.expr(spark_cosine("v", "qv")).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


N_PROBE = 2  # IVF cells probed


def _duck_ivf_cell_dists(qv: str) -> str:
    """UNION ALL of (cell, d) rows: squared-distance surrogate per centroid."""
    return " UNION ALL ".join(
        f"SELECT {j + 1} AS cell, "
        f"({sum(x * x for x in c)}.0 - 2.0 * list_dot_product({qv}, {_duck_arr(c)})) AS d FROM q"
        for j, c in enumerate(CENTROIDS)
    )


def spark_ivf_probe_cells(vec: str, nprobe: int) -> str:
    """Spark expr: the nprobe nearest centroid indices, tie-broken by
    centroid index (== ORDER BY d, cell in the oracle)."""
    structs = ", ".join(
        f"struct(({sum(x * x for x in c)}.0d - 2.0d * {SPARK_DOT.format(a=vec, b=_spark_arr(c))}) AS d, {j + 1} AS i)"
        for j, c in enumerate(CENTROIDS)
    )
    return f"transform(slice(array_sort(array({structs})), 1, {nprobe}), s -> s.i)"


@register(
    "ann_ivf_topk_nprobe",
    oracle=f"""
        WITH e AS (SELECT vec_id, v, {duck_ivf_cell('v')} AS cell FROM ({DUCK_EMB})),
        q AS (SELECT v AS qv FROM ({DUCK_EMB}) WHERE vec_id = {QUERY_VEC_ID}),
        cand AS ({_duck_ivf_cell_dists('qv')}),
        probecells AS (SELECT cell, qv FROM cand, q ORDER BY d, cell LIMIT {N_PROBE})
        SELECT vec_id, {duck_cosine('v', 'qv')} AS cosine
        FROM e JOIN probecells ON e.cell = probecells.cell
        WHERE vec_id <> {QUERY_VEC_ID}
        ORDER BY cosine DESC, vec_id LIMIT 10
    """,
    tier="llm",
    doc=f"IVF ANN with nprobe={N_PROBE}: search the {N_PROBE} nearest "
    "cells instead of one. The query's probe list explodes to rows and "
    "equi-joins the cell key, so each extra probe is one more pruned "
    "partition read — the standard recall/latency knob for "
    "quantization-based indexes.",
)
def q_ann_ivf_topk_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    qrow = _probe_row(
        query_vector(spark, sf_dir)
        .withColumn("pcells", F.expr(spark_ivf_probe_cells("qv", N_PROBE)))
    )
    probes = [int(c) for c in qrow.pcells]
    return (
        ivf_store(spark, sf_dir)
        .filter(F.col("cell").isin(probes) & (F.col("vec_id") != QUERY_VEC_ID))
        .withColumn("qv", _qv_literal(qrow.qv))
        .select("vec_id", F.expr(spark_cosine("v", "qv")).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


@register(
    "ann_recall_eval",
    oracle=f"""
        WITH e AS (SELECT vec_id, v, {duck_lsh_bucket('v')} AS bucket,
                          {duck_ivf_cell('v')} AS cell FROM ({DUCK_EMB})),
        q AS (SELECT v AS qv, bucket AS qbucket, cell AS qcell
              FROM e WHERE vec_id = {QUERY_VEC_ID}),
        bf AS (SELECT vec_id FROM e CROSS JOIN q
               WHERE vec_id <> {QUERY_VEC_ID}
               ORDER BY {duck_cosine('v', 'qv')} DESC, vec_id LIMIT 10),
        lsh AS (SELECT vec_id FROM e CROSS JOIN q
                WHERE e.bucket = q.qbucket AND vec_id <> {QUERY_VEC_ID}
                ORDER BY {duck_cosine('v', 'qv')} DESC, vec_id LIMIT 10),
        ivf AS (SELECT vec_id FROM e CROSS JOIN q
                WHERE e.cell = q.qcell AND vec_id <> {QUERY_VEC_ID}
                ORDER BY {duck_cosine('v', 'qv')} DESC, vec_id LIMIT 10)
        SELECT CAST((SELECT COUNT(*) FROM bf) AS BIGINT) AS k,
               CAST((SELECT COUNT(*) FROM bf JOIN lsh USING (vec_id)) AS BIGINT)
                 AS lsh_hits,
               CAST((SELECT COUNT(*) FROM bf JOIN ivf USING (vec_id)) AS BIGINT)
                 AS ivf_hits,
               ROUND(CAST((SELECT COUNT(*) FROM bf JOIN lsh USING (vec_id)) AS DOUBLE)
                     / (SELECT COUNT(*) FROM bf), 6) AS lsh_recall,
               ROUND(CAST((SELECT COUNT(*) FROM bf JOIN ivf USING (vec_id)) AS DOUBLE)
                     / (SELECT COUNT(*) FROM bf), 6) AS ivf_recall
    """,
    tier="llm",
    doc="ANN recall@10 evaluation: how much of the exact brute-force "
    "top-10 the LSH-bucketed and IVF-cell lookups recover — the "
    "accuracy/latency trade every approximate index must report before "
    "replacing an exact scan. Composes the three registered lookups "
    "(shared stores, shared probe vector) into one 1-row metrics frame.",
)
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    bf = q_ann_knn_bruteforce(spark, sf_dir).select("vec_id")
    lsh = q_ann_lsh_topk(spark, sf_dir).select("vec_id")
    ivf = q_ann_ivf_topk(spark, sf_dir).select("vec_id")
    k = bf.agg(F.count(F.lit(1)).alias("k"))
    lsh_hits = bf.join(lsh, "vec_id", "left_semi").agg(
        F.count(F.lit(1)).alias("lsh_hits")
    )
    ivf_hits = bf.join(ivf, "vec_id", "left_semi").agg(
        F.count(F.lit(1)).alias("ivf_hits")
    )
    return (
        k.crossJoin(F.broadcast(lsh_hits))
        .crossJoin(F.broadcast(ivf_hits))
        .select(
            "k",
            "lsh_hits",
            "ivf_hits",
            F.round(F.col("lsh_hits").cast("double") / F.col("k"), 6).alias(
                "lsh_recall"
            ),
            F.round(F.col("ivf_hits").cast("double") / F.col("k"), 6).alias(
                "ivf_recall"
            ),
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized compression tier
# ---------------------------------------------------------------------------
#
# At 100 TB the float vectors dominate storage (64 x float64 = 512 B per
# row). Product quantization stores an 8-byte code instead: split the
# vector into PQ_M subspaces, quantize each against its own PQ_K-entry
# codebook, keep only the code indices. Lookup uses ASYMMETRIC distance:
# the query stays exact, and per subspace a 16-entry lookup table of
# query-to-centroid partial distances is built once, so scoring a
# candidate is PQ_M table lookups + adds — no decompression.
#
# Codebooks are deterministic centroids like CENTROIDS above, but scaled
# to the DATA: the fixture embeddings are unit-norm with per-dim std
# ~0.125, so entries are dyadic multiples of 1/64 in [-0.125, 0.125] —
# exactly representable doubles whose repr() round-trips, so Spark,
# DuckDB, and the Python LUT all see bit-identical values. (Unscaled
# integer centroids make |c|^2 dominate the argmin, collapsing every
# vector to one code.) Within a subspace, centroids are pairwise
# distinct: two codes k1 != k2 would need k1*(d+2) == k2*(d+2) (mod 17)
# for every d, impossible mod a prime with k < 17.
PQ_M = 8  # subspaces
PQ_SUBDIM = DIM // PQ_M
PQ_K = 16  # centroids per subspace -> 4-bit codes
PQ_CODEBOOKS = [
    [
        [
            (((m * 5 + k * (d + 2) + 7 * d) % 17) - 8) / 64
            for d in range(PQ_SUBDIM)
        ]
        for k in range(PQ_K)
    ]
    for m in range(PQ_M)
]


def _spark_farr(v: list[float]) -> str:
    return "array(" + ", ".join(f"{x!r}d" for x in v) + ")"


def _duck_farr(v: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in v) + "]::DOUBLE[]"


def _spark_sub(vec: str, m: int) -> str:
    return f"slice({vec}, {m * PQ_SUBDIM + 1}, {PQ_SUBDIM})"


def _duck_sub(vec: str, m: int) -> str:
    return f"list_slice({vec}, {m * PQ_SUBDIM + 1}, {(m + 1) * PQ_SUBDIM})"


def _spark_enc_dists(vec: str, m: int, books=None) -> str:
    """16 encode distances ||v_m - c_mk||^2 (+ const |v_m|^2 dropped):
    |c|^2 - 2 v_m . c — |c|^2 is a Python-computed dyadic literal, so
    all three arithmetics (Spark, DuckDB, the Python LUT) agree
    bit-for-bit. `books` overrides the pinned codebooks (a maintained
    store encodes with the codebook persisted in ITS sidecar)."""
    return ", ".join(
        f"({sum(x * x for x in c)!r}d - 2.0d * "
        f"{SPARK_DOT.format(a=_spark_sub(vec, m), b=_spark_farr(c))})"
        for c in (books or PQ_CODEBOOKS)[m]
    )


def _duck_enc_dists(vec: str, m: int) -> str:
    return ", ".join(
        f"({sum(x * x for x in c)!r} - 2.0 * "
        f"list_dot_product({_duck_sub(vec, m)}, {_duck_farr(c)}))"
        for c in PQ_CODEBOOKS[m]
    )


def spark_pq_code(vec: str, books=None) -> str:
    """array<int> of PQ_M 1-based code indices (first-min tie-break,
    same argmin idiom as spark_ivf_cell)."""
    entries = ", ".join(
        f"array_position(array({_spark_enc_dists(vec, m, books)}), "
        f"array_min(array({_spark_enc_dists(vec, m, books)})))"
        for m in range(PQ_M)
    )
    return f"array({entries})"


def duck_pq_code_entry(vec: str, m: int) -> str:
    d = _duck_enc_dists(vec, m)
    return f"list_indexof([{d}], list_min([{d}]))"


def pq_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell, code array<int>) — the COMPRESSED vector store:
    IVF cell for pruning plus the PQ code, no raw vector. 512 B of
    floats per row becomes PQ_M small ints (4 bits each in a real
    bit-packed layout); candidates are scored from codes alone.
    Partitioned by cell so a probe reads one Hive partition."""

    def build(path: str) -> None:
        (
            embeddings_double(spark, sf_dir)
            .select(
                "vec_id",
                F.expr(spark_ivf_cell("v")).cast("long").alias("cell"),
                F.expr(spark_pq_code("v")).cast("array<int>").alias("code"),
            )
            .repartition("cell")
            .write.partitionBy("cell")
            .parquet(path)
        )

    return session_artifact_df(
        spark, sf_dir, "pq_store", "embeddings.parquet", build
    )


@register(
    "ann_pq_codes",
    oracle=f"""
        SELECT vec_id,
               array_to_string([{
                   ", ".join(duck_pq_code_entry("v", m) for m in range(PQ_M))
               }], ',') AS code
        FROM ({DUCK_EMB})
    """,
    tier="llm",
    doc=f"PQ encoding parity: each vector's {PQ_M} sub-quantizer code "
    f"indices ({PQ_K} centroids per subspace), emitted as a comma string "
    "(scalar for the driver canonicalizer). Reads the compressed store, "
    "so this also verifies the persisted codes round-trip.",
)
def q_ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_store(spark, sf_dir).select(
        "vec_id",
        F.concat_ws(",", F.transform("code", lambda x: x.cast("string"))).alias(
            "code"
        ),
    )


def _pq_lut(qv: list[float], books=None) -> list[list[float]]:
    """Per-subspace asymmetric lookup tables: LUT[m][k] = |c_mk|^2 -
    2 q_m . c_mk. Plain Python doubles with a left-to-right dot fold —
    the same association order as SPARK_DOT and list_dot_product, so the
    values are bit-identical to either engine computing them."""
    lut = []
    for m in range(PQ_M):
        qsub = qv[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
        row = []
        for c in (books or PQ_CODEBOOKS)[m]:
            dot = 0.0
            for x, y in zip(qsub, c):
                dot += x * y
            row.append(sum(x * x for x in c) - 2.0 * dot)
        lut.append(row)
    return lut


def _duck_adc_terms(vec: str, qv: str) -> str:
    """Sum of per-subspace asymmetric distances, left-associated: the
    query-side distance list subscripted by the vector's code index."""
    terms = []
    for m in range(PQ_M):
        qd = ", ".join(
            f"({sum(x * x for x in c)!r} - 2.0 * "
            f"list_dot_product({_duck_sub(qv, m)}, {_duck_farr(c)}))"
            for c in PQ_CODEBOOKS[m]
        )
        terms.append(f"([{qd}])[{duck_pq_code_entry(vec, m)}]")
    return "(" + " + ".join(terms) + ")"


# Exact squared-L2 ranking key (constant |q|^2 dropped): |v|^2 - 2 q.v —
# the ground truth the PQ approximation is judged against, and the
# re-rank key for the PQ shortlist.
def _spark_l2_key(vec: str, qv: str) -> str:
    return (
        f"({SPARK_DOT.format(a=vec, b=vec)} "
        f"- 2.0d * {SPARK_DOT.format(a=vec, b=qv)})"
    )


def _duck_l2_key(vec: str, qv: str) -> str:
    return (
        f"(list_dot_product({vec}, {vec}) "
        f"- 2.0 * list_dot_product({vec}, {qv}))"
    )


# Serving knobs, tuned on the fixture via ann_pq_recall_eval (recall@10
# 0.1 -> 0.5): with only 8 coarse cells, 4 probes is half the centroid
# set — on a production index n_cells ~ sqrt(N) and the same nprobe is a
# vanishing fraction. The rerank depth buys recall at the cost of 60
# full-precision vector fetches per query.
PQ_NPROBE = 4  # IVF cells probed by the PQ serving path
PQ_RERANK = 60  # ADC shortlist size fed to the exact re-rank


@register(
    "ann_ivf_pq_topk",
    oracle=f"""
        WITH e AS (SELECT vec_id, v, {duck_ivf_cell('v')} AS cell FROM ({DUCK_EMB})),
        q AS (SELECT v AS qv FROM ({DUCK_EMB}) WHERE vec_id = {QUERY_VEC_ID}),
        cand AS ({_duck_ivf_cell_dists('qv')}),
        probecells AS (SELECT cell FROM cand ORDER BY d, cell LIMIT {PQ_NPROBE}),
        short AS (
            SELECT vec_id, {_duck_adc_terms('v', 'qv')} AS adist
            FROM e JOIN probecells USING (cell) CROSS JOIN q
            WHERE vec_id <> {QUERY_VEC_ID}
            ORDER BY adist, vec_id LIMIT {PQ_RERANK})
        SELECT e.vec_id, {_duck_l2_key('e.v', 'q.qv')} AS l2
        FROM e JOIN short ON e.vec_id = short.vec_id CROSS JOIN q
        ORDER BY l2, e.vec_id LIMIT 10
    """,
    tier="llm",
    doc=f"IVF-PQ serving lookup, the canonical three-stage plan: probe "
    f"the {PQ_NPROBE} nearest IVF cells of the COMPRESSED store (codes "
    f"only — pruned partition reads), rank candidates by asymmetric "
    f"distance ({PQ_M} LUT lookups + adds per candidate, LUTs built "
    f"driver-side from the exact query), keep the top {PQ_RERANK}, then "
    "exact-re-rank just the shortlist against raw vectors fetched from "
    "the same pruned cell partitions of the vector store. At 100 TB the "
    "full-precision vectors are touched for 30 rows, not the corpus. "
    "The oracle recomputes quantization, ADC fold, and re-rank "
    "symbolically in SQL — bit-for-bit.",
)
def q_ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    qrow = _probe_row(
        query_vector(spark, sf_dir)
        .withColumn("pcells", F.expr(spark_ivf_probe_cells("qv", PQ_NPROBE)))
    )
    probes = [int(c) for c in qrow.pcells]
    lut = _pq_lut(list(qrow.qv))
    adist = None
    for m in range(PQ_M):
        term = F.element_at(
            F.array(*[F.lit(x) for x in lut[m]]), F.element_at("code", m + 1)
        )
        adist = term if adist is None else adist + term
    shortlist = (
        pq_store(spark, sf_dir)
        .filter(
            F.col("cell").isin(probes) & (F.col("vec_id") != QUERY_VEC_ID)
        )
        .select("vec_id", adist.alias("adist"))
        .orderBy("adist", "vec_id")
        .limit(PQ_RERANK)
        .select("vec_id")
    )
    vecs = ivf_store(spark, sf_dir).filter(F.col("cell").isin(probes))
    return (
        vecs.join(F.broadcast(shortlist), "vec_id")
        .withColumn("qv", _qv_literal(qrow.qv))
        .select("vec_id", F.expr(_spark_l2_key("v", "qv")).alias("l2"))
        .orderBy("l2", "vec_id")
        .limit(10)
    )


@register(
    "ann_pq_recall_eval",
    oracle=f"""
        WITH e AS (SELECT vec_id, v, {duck_ivf_cell('v')} AS cell FROM ({DUCK_EMB})),
        q AS (SELECT v AS qv FROM ({DUCK_EMB}) WHERE vec_id = {QUERY_VEC_ID}),
        cand AS ({_duck_ivf_cell_dists('qv')}),
        probecells AS (SELECT cell FROM cand ORDER BY d, cell LIMIT {PQ_NPROBE}),
        short AS (
            SELECT vec_id, {_duck_adc_terms('v', 'qv')} AS adist
            FROM e JOIN probecells USING (cell) CROSS JOIN q
            WHERE vec_id <> {QUERY_VEC_ID}
            ORDER BY adist, vec_id LIMIT {PQ_RERANK}),
        pq AS (SELECT e.vec_id FROM e JOIN short ON e.vec_id = short.vec_id
               CROSS JOIN q
               ORDER BY {_duck_l2_key('e.v', 'q.qv')}, e.vec_id LIMIT 10),
        exact AS (SELECT vec_id FROM e CROSS JOIN q
                  WHERE vec_id <> {QUERY_VEC_ID}
                  ORDER BY {_duck_l2_key('v', 'qv')}, vec_id LIMIT 10)
        SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS k,
               CAST((SELECT COUNT(*) FROM exact JOIN pq USING (vec_id)) AS BIGINT)
                 AS pq_hits,
               ROUND(CAST((SELECT COUNT(*) FROM exact JOIN pq USING (vec_id)) AS DOUBLE)
                     / (SELECT COUNT(*) FROM exact), 6) AS pq_recall
    """,
    tier="llm",
    doc=f"IVF-PQ recall@10 vs the exact full-scan L2 top-10 — the "
    "accuracy report the compression tier owes: how much of the true "
    f"neighborhood survives {PQ_NPROBE}-cell pruning + 4-bit product "
    f"quantization + exact re-rank of the top {PQ_RERANK}.",
)
def q_ann_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = embeddings_double(spark, sf_dir)
    qrow = _probe_row(query_vector(spark, sf_dir))
    qv = F.array(*[F.lit(float(x)) for x in qrow.qv])
    exact = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .withColumn("qv", qv)
        .select(
            "vec_id",
            F.expr(_spark_l2_key("v", "qv")).alias("l2key"),
        )
        .orderBy("l2key", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    pq = q_ann_ivf_pq_topk(spark, sf_dir).select("vec_id")
    k = exact.agg(F.count(F.lit(1)).alias("k"))
    hits = exact.join(pq, "vec_id", "left_semi").agg(
        F.count(F.lit(1)).alias("pq_hits")
    )
    return (
        k.crossJoin(F.broadcast(hits)).select(
            "k",
            "pq_hits",
            F.round(F.col("pq_hits").cast("double") / F.col("k"), 6).alias(
                "pq_recall"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Trained coarse quantizer: Lloyd's k-means over the embedding table
# ---------------------------------------------------------------------------

# The IVF tier above quantizes against PINNED centroids (the honest
# stand-in for a trained model, like multimodal_embed's pinned
# projection). This section trains the quantizer for real: k-means with
# deterministic init (the pinned centroids), a fixed iteration count,
# and exact-decimal per-dimension means so Spark and the DuckDB oracle
# derive bit-identical centroids. Reference analogue: the build-then-
# query artifact lifecycle (helper_reduce.c:238-257) — train once,
# serve many — applied to the vector tier's model instead of its data.
#
# Iterative-refinement topology (the same class as connected
# components in dedup.py): each Lloyd round is
#   assign:  map-only argmin over k inlined centroid literals
#            (no join — the model rides the expression, k*dim doubles)
#   update:  one hash aggregation emitting 64 decimal column-sums +
#            a count per cluster; map-side partial agg means the
#            shuffle carries k rows per partition, never vectors
#   fetch:   collect() of <= k rows — the bounded model fetch, same
#            declared pattern as the ANN probe fetch (similarity.py
#            _probe_row); the new model is re-inlined as literals.
# At 100 TB the per-round cost is one columnar scan + a k-row shuffle.
# Above ASSIGN_LITERAL_MAX_K the assign step switches (automatically,
# in assign_nearest) to a broadcast centroid matrix + mapInPandas
# argmin — bit-equal to the literal path, still map-only — so k scales
# to the thousands a real IVF store wants.
#
# Determinism contract (why means go through DECIMAL(38,12)):
# per-dimension sums are order-dependent in double but EXACT in
# decimal, so both engines see the identical sum regardless of
# partitioning; float(sum)/n then round(.., 9) operates on the same
# IEEE double on both sides. 9dp-rounded centroids re-enter both
# engines as fixed-point literals (%.9f), which parse identically.

KMEANS_K = N_CENTROIDS
KMEANS_ITERS = 3
KMEANS_ROUND = 9  # centroid decimals: exact %.9f literals both engines
_KM_DEC = "decimal(38,12)"


def _arrf_spark(c: list[float]) -> str:
    return "array(" + ", ".join(f"{x:.9f}d" for x in c) + ")"


def _arrf_duck(c: list[float]) -> str:
    return "[" + ", ".join(f"{x:.9f}" for x in c) + "]::DOUBLE[]"


def _dists_expr(vec: str, cents: list[list[float]]) -> str:
    """Comma-joined surrogate squared distances (|c|^2 - 2 v.c), one
    per centroid — |c|^2 precomputed in Python (exact for the
    %.9f-parsed doubles both engines hold). The single source for both
    the argmin and the d2 expressions: their literals being identical
    is part of the determinism contract."""
    return ", ".join(
        f"(cast('{sum(x * x for x in c)!r}' as double)"
        f" - 2.0d * {SPARK_DOT.format(a=vec, b=_arrf_spark(c))})"
        for c in cents
    )


def _spark_nearest(vec: str, cents: list[list[float]]) -> str:
    """1-based argmin cluster over inlined centroids."""
    dists = _dists_expr(vec, cents)
    return f"array_position(array({dists}), array_min(array({dists})))"


def _spark_d2min(vec: str, cents: list[list[float]]) -> str:
    """Squared distance to the nearest centroid (adds the common |v|^2
    back onto the argmin surrogate)."""
    dists = _dists_expr(vec, cents)
    return f"({SPARK_DOT.format(a=vec, b=vec)} + array_min(array({dists})))"


def _init_centroids() -> list[list[float]]:
    return [[float(x) for x in c] for c in CENTROIDS]


# Literal-inlining budget for the argmin assignment: above this k the
# generated expression tree (k arrays of DIM %.9f literals, referenced
# TWICE — argmin + min) crosses from "cheap codegen" into megabyte-scale
# plans and eventually Janino/codegen limits. A real 100-TB IVF store
# wants k in the thousands, so the assignment auto-switches to a
# broadcast-model path above the budget (PLANS.md "k-means training").
ASSIGN_LITERAL_MAX_K = 32


# Centroid-matrix broadcasts, one per model content in a bounded
# session-state kind: repeated serving calls with the same trained model
# reuse ONE broadcast instead of shipping a new one per call, and a
# training loop's per-round models get unpersisted as they age out
# instead of accumulating on driver and executors for the application's
# lifetime. Eviction uses unpersist(), not destroy(): a stale lazy plan
# that re-executes after eviction re-ships the broadcast from the driver
# instead of failing.
CENTROID_BC_KEEP = 4


def _centroid_broadcast(sc, cents, cmat, c2):
    import hashlib

    return state.lookup(
        sc,
        "centroid_broadcast",
        hashlib.md5(repr(cents).encode()).hexdigest(),
        None,
        lambda: sc.broadcast((cmat, c2)),
        bound=CENTROID_BC_KEEP,
        on_evict=lambda bc: bc.unpersist(),
    )


def assign_nearest(
    df: DataFrame,
    cents: list[list[float]],
    vec_col: str = "v",
    out_col: str = "cluster",
    method: str = "auto",
    d2_col: str | None = None,
) -> DataFrame:
    """Nearest-centroid assignment (1-based, first-min tie-break) —
    THE argmin behind k-means training, IVF store routing, and the
    final-assignment report, in two physically different but
    bit-identical forms:

    - "literal" (k <= ASSIGN_LITERAL_MAX_K): centroids inlined as
      %.9f expression literals — map-only, whole-stage-codegen'd, no
      Python in the hot path.
    - "broadcast" (large k): the centroid matrix ships ONCE PER
      EXECUTOR as a SparkContext broadcast and a mapInPandas argmin
      scans it — map-only again (no join, no shuffle, no cartesian),
      model size bounded by the broadcast, not the plan.

    Bit-equality contract (property-tested in tests/test_kmeans_scale
    .py): the broadcast path replays the literal expression's EXACT
    arithmetic — |c|^2 precomputed by the same Python left-to-right
    sum, the v.c dot as a per-dimension sequential fold (numpy
    elementwise ops round to double after every step, same as the
    SQL fold), dist = c2 - 2.0 * dot in that order, first-min argmin.
    Centroids must be exact at KMEANS_ROUND (9) decimals (all trained
    and init centroids are), because the literal path round-trips them
    through %.9f.

    `d2_col` additionally emits the squared distance to the chosen
    centroid (|v|^2 + min surrogate, the _spark_d2min shape)."""
    k = len(cents)
    if method == "auto":
        method = "literal" if k <= ASSIGN_LITERAL_MAX_K else "broadcast"
    if method == "literal":
        out = df.withColumn(
            out_col, F.expr(_spark_nearest(vec_col, cents)).cast("long")
        )
        if d2_col is not None:
            out = out.withColumn(d2_col, F.expr(_spark_d2min(vec_col, cents)))
        return out
    if method != "broadcast":
        raise ValueError(
            f"unknown assignment method {method!r}; "
            "expected 'auto', 'literal' or 'broadcast'"
        )

    import numpy as np

    cmat = np.asarray(cents, dtype=np.float64)  # (k, dim)
    # |c|^2 via the SAME Python left-to-right sum the literal path
    # inlines — not np.sum (pairwise) — so the surrogate distances
    # start from bit-identical constants.
    c2 = np.asarray([float(sum(x * x for x in c)) for c in cents])
    dim = cmat.shape[1]
    sc = df.sparkSession.sparkContext
    model = _centroid_broadcast(sc, cents, cmat, c2)
    want_d2 = d2_col is not None

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    # Fresh StructType — StructType.add MUTATES in place, and df.schema
    # is the DataFrame's cached schema object; extending it would make
    # the input frame claim output columns it doesn't have.
    fields = list(df.schema.fields) + [StructField(out_col, LongType())]
    if want_d2:
        fields.append(StructField(d2_col, DoubleType()))
    schema = StructType(fields)

    def _assign(batches):
        bc_cmat, bc_c2 = model.value
        for pdf in batches:
            n = len(pdf)
            vmat = (
                np.stack(pdf[vec_col].to_numpy())
                if n
                else np.empty((0, dim))
            )
            cluster = np.empty(n, dtype=np.int64)
            d2 = np.empty(n, dtype=np.float64)
            # Row-chunked so the (chunk, k) distance matrix stays a few
            # MB regardless of the arrow batch size and k.
            chunk = max(1, (1 << 21) // max(len(bc_c2), 1))
            for lo in range(0, n, chunk):
                cl, dd = _np_nearest_block(
                    vmat[lo : lo + chunk], bc_cmat, bc_c2, want_d2
                )
                cluster[lo : lo + chunk] = cl
                if want_d2:
                    d2[lo : lo + chunk] = dd
            out = pdf.copy()
            out[out_col] = cluster
            if want_d2:
                out[d2_col] = d2
            yield out

    return df.mapInPandas(_assign, schema=schema)


def _np_nearest_block(vc, cmat, c2, want_d2: bool = False):
    """One (rows, k) block of the broadcast argmin — module-level so the
    hypothesis property test can drive it directly against the
    pure-Python replica of the literal expression (hundreds of examples
    with no Spark job per example).

    Sequential per-dimension fold: each numpy elementwise multiply/add
    rounds to double exactly like the SQL aggregate's (acc + x*y)
    steps, so the dot (and therefore dist and argmin, with numpy's
    first-min tie-break matching array_position) is bit-equal to the
    literal path. NaN/Inf components are outside the contract (both
    engines would already disagree on them)."""
    import numpy as np

    acc = np.zeros((vc.shape[0], len(c2)))
    for d in range(cmat.shape[1]):
        acc = acc + vc[:, d : d + 1] * cmat[:, d]
    dists = c2 - 2.0 * acc
    cluster = np.argmin(dists, axis=1) + 1 if vc.shape[0] else np.empty(0, int)
    if not want_d2:
        return cluster, None
    v2 = np.zeros(vc.shape[0])
    for d in range(cmat.shape[1]):
        v2 = v2 + vc[:, d] * vc[:, d]
    d2 = v2 + dists.min(axis=1) if vc.shape[0] else np.empty(0)
    return cluster, d2


def _data_init_centroids(
    spark: SparkSession, sf_dir: str, k: int
) -> list[list[float]]:
    """Deterministic data init for large k: the k lowest-vec_id
    embeddings, rounded to KMEANS_ROUND decimals (the precision every
    trained centroid already lives at, and what keeps the literal and
    broadcast assignment paths bit-equal). A bounded k-row fetch —
    the same declared pattern as the model collects."""
    rows = (
        embeddings_double(spark, sf_dir)
        .select("vec_id", "v")
        .orderBy("vec_id")
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(
            f"corpus has only {len(rows)} vectors; cannot init k={k}"
        )
    return [
        [round(float(x), KMEANS_ROUND) for x in r["v"]] for r in rows
    ]


def train_kmeans(
    spark: SparkSession,
    sf_dir: str,
    k: int | None = None,
    iters: int = KMEANS_ITERS,
    assign: str = "auto",
) -> list[list[float]]:
    """Lloyd rounds; returns the trained centroid lists (9dp-rounded
    doubles). Empty clusters keep their previous centroid (standard
    Lloyd; mirrored by the oracle's LEFT JOIN COALESCE).

    Default k=None trains the pinned-init coarse quantizer
    (KMEANS_K=8) exactly as before; an explicit k trains at that scale
    from the deterministic data init. The per-round assignment goes
    through assign_nearest, which auto-switches from inlined centroid
    literals to the broadcast-model mapInPandas argmin above
    ASSIGN_LITERAL_MAX_K — so k is bounded by executor memory for one
    (chunk, k) distance block, not by expression-tree size."""
    vecs = embeddings_double(spark, sf_dir).select("vec_id", "v")
    cents = (
        _init_centroids()
        if k is None
        else _data_init_centroids(spark, sf_dir, k)
    )
    return train_kmeans_frame(vecs, cents, iters=iters, assign=assign)


def train_kmeans_frame(
    vecs: DataFrame,
    init: list[list[float]],
    iters: int = KMEANS_ITERS,
    assign: str = "auto",
) -> list[list[float]]:
    """The Lloyd loop over ANY (vec_id, v) frame from an explicit init
    — the core train_kmeans wraps, split out so store maintenance can
    RETRAIN a quantizer from the store's own current vectors
    (compact_vector_store(retrain=True) warm-starts from the persisted
    sidecar)."""
    cents = init
    for _ in range(iters):
        assigned = assign_nearest(
            vecs, cents, out_col="cluster", method=assign
        )
        # Update step as ONE single-sum aggregation over the exploded
        # (cluster, dimension, value) rows instead of 64 separate
        # decimal aggregate columns (r14): DECIMAL(38,12) addition is
        # EXACT, so summing the identical cast values in any grouping
        # order yields the bit-identical sum — the determinism contract
        # above is untouched — while the generated aggregate shrinks
        # from 65 codegen'd columns to 2 (the 64-column form spent
        # ~1.0 s/round in plan/codegen alone at ANY data size; this
        # form ~0.35 s — measured sf0.1, 2 000 vectors). The shuffle
        # carries k*DIM rows per partition after map-side combine
        # (vs k rows x 65 columns — same bytes), and the model fetch
        # is <= k*DIM rows, still the bounded-collect discipline.
        # n rides per-dimension counts: embeddings are fixed-DIM
        # non-null vectors (the corpus contract every consumer and
        # the DuckDB oracle already assume), so count(x) per (cluster,
        # d) equals the cluster's row count.
        stats = (
            assigned.select("cluster", F.posexplode("v").alias("d", "x"))
            .groupBy("cluster", "d")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count("x").alias("nx"),  # non-null elements (guard)
                F.sum(F.col("x").cast(_KM_DEC)).alias("s"),
            )
        )
        new = list(cents)
        upd: dict[int, list] = {}
        seen: dict[int, dict[int, int]] = {}
        for r in stats.collect():  # <= k*DIM rows: the bounded fetch
            if r["cluster"] is None:
                # a short/null vector makes the argmin NULL — the
                # corpus violates the fixed-DIM contract
                raise ValueError(
                    "train_kmeans_frame: NULL cluster assignment — a "
                    "vector shorter than DIM (or null) reached the "
                    "update step; the corpus violates the fixed-DIM "
                    "non-null vector contract"
                )
            cl = int(r["cluster"])
            if r["nx"] != r["n"]:
                raise ValueError(
                    "train_kmeans_frame: NULL vector element in cluster "
                    f"{cl} dim {int(r['d'])} — the corpus violates the "
                    "fixed-DIM non-null vector contract (the exploded "
                    "aggregate would silently skew that dimension's mean)"
                )
            d = int(r["d"])
            if d >= DIM:
                raise ValueError(
                    f"train_kmeans_frame: cluster {cl} has a vector with "
                    f"more than {DIM} dimensions (dim index {d}) — the "
                    "corpus violates the fixed-DIM non-null vector "
                    "contract"
                )
            seen.setdefault(cl, {})[d] = int(r["n"])
            if cl not in upd:
                upd[cl] = list(cents[cl - 1])
            upd[cl][d] = round(
                float(r["s"]) / r["n"], KMEANS_ROUND
            )
        # Fixed-DIM guard (r15, zero extra jobs: validated on the rows
        # the update already fetches): every non-empty cluster must
        # cover every dimension with the SAME row count — a short or
        # ragged vector breaks one of the two, and would otherwise
        # silently shift means where the old 65-column aggregate form
        # nulled the sum.
        for cl, dmap in seen.items():
            if set(dmap) != set(range(DIM)) or len(set(dmap.values())) > 1:
                raise ValueError(
                    f"train_kmeans_frame: cluster {cl} has ragged vector "
                    f"dimensions (covered dims {len(dmap)}/{DIM}, "
                    f"per-dim counts {sorted(set(dmap.values()))}) — the "
                    "corpus violates the fixed-DIM non-null vector "
                    "contract"
                )
        for cl, c in upd.items():
            new[cl - 1] = c
        cents = new
    return cents


def _duck_kmeans_ctes(k: int | None = None, iters: int = KMEANS_ITERS) -> str:
    """Unrolled Lloyd rounds as DuckDB CTEs: cross-join argmin via
    ROW_NUMBER (ties -> lowest cluster, matching array_position), then
    per-dimension DECIMAL(38,12) means reassembled with
    list(mu ORDER BY d). k=None = the pinned k=8 init literals;
    explicit k = the deterministic data init (k lowest-vec_id vectors
    rounded to KMEANS_ROUND dp), mirroring _data_init_centroids."""
    if k is None:
        init = ", ".join(
            f"({j + 1}, {_arrf_duck(c)})"
            for j, c in enumerate(_init_centroids())
        )
        c0 = f"c0(cluster, c) AS (VALUES {init})"
    else:
        c0 = f"""c0(cluster, c) AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS BIGINT),
                   list_transform(v, x -> ROUND(x, {KMEANS_ROUND}))
            FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k}))"""
    parts = [
        f"e AS (SELECT vec_id, v FROM ({DUCK_EMB}))",
        c0,
    ]
    for it in range(iters):
        p, nxt = f"c{it}", f"c{it + 1}"
        parts.append(
            f"""a{it} AS (
            SELECT vec_id, v, cluster FROM (
                SELECT e.vec_id, e.v, {p}.cluster,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                           list_dot_product({p}.c, {p}.c)
                           - 2 * list_dot_product(e.v, {p}.c),
                           {p}.cluster) AS rn
                FROM e CROSS JOIN {p}) WHERE rn = 1)"""
        )
        parts.append(
            f"""m{it} AS (
            SELECT cluster, t.d,
                   ROUND(CAST(SUM(CAST(v[t.d] AS DECIMAL(38,12))) AS DOUBLE)
                         / COUNT(*), {KMEANS_ROUND}) AS mu
            FROM a{it} CROSS JOIN range(1, {DIM + 1}) t(d)
            GROUP BY cluster, t.d)"""
        )
        parts.append(
            f"""{nxt}(cluster, c) AS (
            SELECT p.cluster, COALESCE(m.c, p.c)
            FROM {p} p LEFT JOIN (
                SELECT cluster, list(mu ORDER BY d) AS c
                FROM m{it} GROUP BY cluster) m ON p.cluster = m.cluster)"""
        )
    return ",\n".join(parts)


def _duck_kmeans_oracle(k: int | None = None, iters: int = KMEANS_ITERS) -> str:
    return f"""
    WITH {_duck_kmeans_ctes(k, iters)},
    af AS (
        SELECT vec_id, cluster, d2 FROM (
            SELECT e.vec_id, cf.cluster,
                   list_dot_product(e.v, e.v)
                   + list_dot_product(cf.c, cf.c)
                   - 2 * list_dot_product(e.v, cf.c) AS d2,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                       list_dot_product(cf.c, cf.c)
                       - 2 * list_dot_product(e.v, cf.c),
                       cf.cluster) AS rn
            FROM e CROSS JOIN c{iters} cf) WHERE rn = 1)
    SELECT CAST(af.cluster AS BIGINT) AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(list_dot_product(cf.c, cf.c), 6) AS c_norm,
           ROUND(SUM(af.d2), 4) + 0.0 AS inertia
    FROM af JOIN c{iters} cf ON af.cluster = cf.cluster
    GROUP BY af.cluster, cf.c
"""


DUCK_KMEANS_ORACLE = _duck_kmeans_oracle()


@register(
    "ann_kmeans_train",
    oracle=DUCK_KMEANS_ORACLE,
    tier="llm",
    doc=f"Lloyd's k-means over the embedding table (k={KMEANS_K}, "
    f"{KMEANS_ITERS} rounds, init = the pinned IVF centroids): the "
    "trained coarse quantizer behind the IVF tier. Each round is a "
    "map-only argmin assign (centroid literals inlined, no join) plus "
    "ONE hash aggregation of per-dimension DECIMAL sums (map-side "
    "combine -> the shuffle carries k rows per partition) and a "
    "<= k-row model collect. Exact-decimal means keep Spark and the "
    "unrolled-CTE DuckDB oracle bit-identical. Output: per-cluster "
    "size, centroid norm, and inertia of the final assignment.",
)
def q_ann_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = train_kmeans(spark, sf_dir)
    return _kmeans_report(spark, sf_dir, cents)


def _kmeans_report(
    spark: SparkSession,
    sf_dir: str,
    cents: list[list[float]],
    assign: str = "auto",
) -> DataFrame:
    """Per-cluster (size, centroid norm, inertia) of the FINAL
    assignment under `cents` — the training queries' shared report
    stage; assignment method follows assign_nearest's auto-switch."""
    final = assign_nearest(
        embeddings_double(spark, sf_dir).select("vec_id", "v"),
        cents,
        out_col="cluster_id",
        method=assign,
        d2_col="d2",
    ).select("cluster_id", "d2")
    norms = {
        j + 1: round(sum(x * x for x in c), 6) for j, c in enumerate(cents)
    }
    norm_expr = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in norms]),
            F.array(*[F.lit(v) for v in norms.values()]),
        ),
        F.col("cluster_id").cast("int"),
    )
    return (
        final.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            # + 0.0 normalizes IEEE -0.0 (a singleton cluster's d2 to its
            # own centroid is ~ -1e-16; both engines must hash +0.0)
            (F.round(F.sum("d2"), 4) + F.lit(0.0)).alias("inertia"),
        )
        .select(
            "cluster_id",
            "n_points",
            norm_expr.alias("c_norm"),
            "inertia",
        )
    )


KMEANS_K_LARGE = 64  # > ASSIGN_LITERAL_MAX_K: exercises the broadcast path


@register(
    "ann_kmeans_train_k64",
    oracle=_duck_kmeans_oracle(k=KMEANS_K_LARGE),
    tier="llm",
    doc=f"Lloyd's k-means at k={KMEANS_K_LARGE} (> ASSIGN_LITERAL_MAX_K"
    f"={ASSIGN_LITERAL_MAX_K}), deterministic data init (the k "
    "lowest-vec_id embeddings, 9dp-rounded): the LARGE-K training/"
    "serving path. Assignment runs as a broadcast centroid matrix + "
    "mapInPandas argmin (model ships once per executor; no join, no "
    "extra shuffle — plan-asserted in tests/test_kmeans_scale.py), so "
    "k is bounded by executor memory, not expression-tree size; "
    "everything else (exact-decimal means, k-row model exchange, "
    "bounded collect) is the k=8 plan unchanged. Property-tested "
    "bit-equal against the literal path.",
)
def q_ann_kmeans_train_k64(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = train_kmeans(spark, sf_dir, k=KMEANS_K_LARGE)
    return _kmeans_report(spark, sf_dir, cents)


# ---------------------------------------------------------------------------
# PQ codebook TRAINING: per-subspace Lloyd refinement of the pinned books
# ---------------------------------------------------------------------------
#
# The same train-then-serve story as the coarse quantizer, applied to
# the compression tier: PQ_CODEBOOKS are the deterministic INIT, and
# Lloyd rounds refine each subspace's 16 centroids against the data.
# Physical shape per round: ONE scan computing all PQ_M per-subspace
# argmins as inlined-literal expressions (k=16 per subspace — inside
# the literal budget), a posexplode to (m, code, subvector) rows, one
# hash aggregation of PQ_SUBDIM exact-decimal sums per (m, code) (the
# exchange carries <= PQ_M*PQ_K rows per partition), and a bounded
# <= 128-row model collect. Trained books serve through the SAME
# sidecar machinery as the pinned ones: build_vector_store(pq=True,
# codebooks=trained) persists them in _codebook.json and every later
# append / streaming ingest / topk(serving="pq") encodes against them
# without being told.


def train_pq_codebooks(
    spark: SparkSession, sf_dir: str, iters: int = KMEANS_ITERS
) -> list[list[list[float]]]:
    """Per-subspace k-means over the corpus subvectors; returns
    PQ_M codebooks of PQ_K 9dp-rounded centroids. Empty codes keep
    their previous centroid (standard Lloyd, same as train_kmeans)."""
    return train_pq_codebooks_frame(
        embeddings_double(spark, sf_dir).select("v"),
        PQ_CODEBOOKS,
        iters=iters,
    )


def train_pq_codebooks_frame(
    vecs: DataFrame,
    init: list[list[list[float]]],
    iters: int = KMEANS_ITERS,
) -> list[list[list[float]]]:
    """The per-subspace Lloyd loop over ANY (.., v) frame, warm-started
    from `init` — extracted (train_kmeans_frame's pattern) so
    compact_vector_store(retrain=True) can re-train a drifted store's
    codebooks from its OWN current vectors, warm-started from the
    persisted sidecar."""
    books = [[[float(x) for x in c] for c in b] for b in init]
    for _ in range(iters):
        entries = F.array(
            *[
                F.struct(
                    F.lit(m).alias("m"),
                    F.expr(
                        f"array_position(array({_spark_enc_dists('v', m, books)}), "
                        f"array_min(array({_spark_enc_dists('v', m, books)})))"
                    )
                    .cast("int")
                    .alias("code"),
                    F.expr(_spark_sub("v", m)).alias("sv"),
                )
                for m in range(PQ_M)
            ]
        )
        rows = vecs.select(F.explode(entries).alias("e")).select(
            "e.m", "e.code", "e.sv"
        )
        stats = rows.groupBy("m", "code").agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.col("sv")[d].cast(_KM_DEC)).alias(f"s{d}")
                for d in range(PQ_SUBDIM)
            ],
        )
        new = [list(b) for b in books]
        for r in stats.collect():  # <= PQ_M * PQ_K rows: bounded fetch
            new[int(r["m"])][int(r["code"]) - 1] = [
                round(float(r[f"s{d}"]) / r["n"], KMEANS_ROUND)
                for d in range(PQ_SUBDIM)
            ]
        books = new
    return books


def _duck_pq_train_ctes(iters: int = KMEANS_ITERS) -> str:
    """Unrolled per-subspace Lloyd rounds: one CTE chain where the
    subspace id `m` rides every key (the Spark pass's posexplode as a
    CROSS JOIN range(PQ_M))."""
    init = ", ".join(
        f"({m}, {k + 1}, {_duck_farr(c)})"
        for m, b in enumerate(PQ_CODEBOOKS)
        for k, c in enumerate(b)
    )
    parts = [
        f"e AS (SELECT vec_id, v FROM ({DUCK_EMB}))",
        f"""e2 AS (
            SELECT vec_id, t.m,
                   list_slice(v, t.m * {PQ_SUBDIM} + 1,
                              (t.m + 1) * {PQ_SUBDIM}) AS sv
            FROM e CROSS JOIN range({PQ_M}) t(m))""",
        f"c0(m, code, c) AS (VALUES {init})",
    ]
    for it in range(iters):
        p, nxt = f"c{it}", f"c{it + 1}"
        parts.append(
            f"""a{it} AS (
            SELECT vec_id, m, sv, code FROM (
                SELECT e2.vec_id, e2.m, e2.sv, {p}.code,
                       ROW_NUMBER() OVER (PARTITION BY e2.vec_id, e2.m
                           ORDER BY list_dot_product({p}.c, {p}.c)
                                    - 2 * list_dot_product(e2.sv, {p}.c),
                                    {p}.code) AS rn
                FROM e2 JOIN {p} ON e2.m = {p}.m) WHERE rn = 1)"""
        )
        parts.append(
            f"""m{it} AS (
            SELECT m, code, t.d,
                   ROUND(CAST(SUM(CAST(sv[t.d] AS DECIMAL(38,12))) AS DOUBLE)
                         / COUNT(*), {KMEANS_ROUND}) AS mu
            FROM a{it} CROSS JOIN range(1, {PQ_SUBDIM + 1}) t(d)
            GROUP BY m, code, t.d)"""
        )
        parts.append(
            f"""{nxt}(m, code, c) AS (
            SELECT p.m, p.code, COALESCE(mm.c, p.c)
            FROM {p} p LEFT JOIN (
                SELECT m, code, list(mu ORDER BY d) AS c
                FROM m{it} GROUP BY m, code) mm
              ON p.m = mm.m AND p.code = mm.code)"""
        )
    return ",\n".join(parts)


@register(
    "ann_pq_train",
    oracle=f"""
        WITH {_duck_pq_train_ctes()},
        af AS (
            SELECT vec_id, m, code, d2 FROM (
                SELECT e2.vec_id, e2.m, cf.code,
                       list_dot_product(e2.sv, e2.sv)
                       + list_dot_product(cf.c, cf.c)
                       - 2 * list_dot_product(e2.sv, cf.c) AS d2,
                       ROW_NUMBER() OVER (PARTITION BY e2.vec_id, e2.m
                           ORDER BY list_dot_product(cf.c, cf.c)
                                    - 2 * list_dot_product(e2.sv, cf.c),
                                    cf.code) AS rn
                FROM e2 JOIN c{KMEANS_ITERS} cf ON e2.m = cf.m) WHERE rn = 1)
        SELECT CAST(af.m AS BIGINT) AS m,
               CAST(af.code AS BIGINT) AS code,
               CAST(COUNT(*) AS BIGINT) AS n_points,
               ROUND(list_dot_product(cf.c, cf.c), 6) AS c_norm,
               ROUND(SUM(af.d2), 4) + 0.0 AS inertia
        FROM af JOIN c{KMEANS_ITERS} cf
          ON af.m = cf.m AND af.code = cf.code
        GROUP BY af.m, af.code, cf.c
    """,
    tier="llm",
    doc=f"PQ codebook training: {KMEANS_ITERS} Lloyd rounds refining "
    f"all {PQ_M} sub-quantizers ({PQ_K} centroids each) in ONE pass "
    "per round — inlined per-subspace argmins, posexplode to (m, code, "
    "subvector), one exact-decimal aggregation whose exchange carries "
    "<= 128 rows per partition, bounded model collect. Init = the "
    "pinned deterministic codebooks, so the unrolled-CTE oracle "
    "derives bit-identical books. Output: per (subspace, code) size, "
    "centroid norm, inertia. Trained books feed "
    "build_vector_store(pq=True, codebooks=...) and serve through the "
    "_codebook.json sidecar exactly like the pinned ones "
    "(tests/test_pq_store.py).",
)
def q_ann_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    books = train_pq_codebooks(spark, sf_dir)
    vecs = embeddings_double(spark, sf_dir).select("v")
    entries = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.expr(
                    f"array_position(array({_spark_enc_dists('v', m, books)}), "
                    f"array_min(array({_spark_enc_dists('v', m, books)})))"
                )
                .cast("int")
                .alias("code"),
                F.expr(
                    f"({SPARK_DOT.format(a=_spark_sub('v', m), b=_spark_sub('v', m))}"
                    f" + array_min(array({_spark_enc_dists('v', m, books)})))"
                ).alias("d2"),
            )
            for m in range(PQ_M)
        ]
    )
    final = vecs.select(F.explode(entries).alias("e")).select(
        F.col("e.m").cast("long").alias("m"),
        F.col("e.code").cast("long").alias("code"),
        "e.d2",
    )
    norms = {
        (m, k + 1): round(sum(x * x for x in c), 6)
        for m, b in enumerate(books)
        for k, c in enumerate(b)
    }
    norm_expr = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(f"{m}:{k}") for m, k in norms]),
            F.array(*[F.lit(v) for v in norms.values()]),
        ),
        F.concat_ws(":", F.col("m").cast("string"), F.col("code").cast("string")),
    )
    return (
        final.groupBy("m", "code")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            (F.round(F.sum("d2"), 4) + F.lit(0.0)).alias("inertia"),
        )
        .select("m", "code", "n_points", norm_expr.alias("c_norm"), "inertia")
    )


def trained_quantizer(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """`train_kmeans` once per (application, corpus content) — the
    session-artifact discipline applied to a model small enough to
    live in process memory instead of parquet: serving queries
    (ann_ivf_trained_topk, trained VectorStore builds) read the model,
    they don't retrain it. `ann_kmeans_train` itself calls train_kmeans
    directly — it IS the training benchmark, and memoizing it would
    make the bench measure a dictionary lookup."""
    src = os.path.join(sf_dir, "embeddings.parquet")
    return state.lookup(
        spark.sparkContext,
        "quantizer",
        src,
        state.content_fingerprint(src),
        lambda: train_kmeans(spark, sf_dir),
    )


@register(
    "ann_ivf_trained_topk",
    oracle=f"""
        WITH {_duck_kmeans_ctes()},
        ec AS (
            SELECT vec_id, v, cluster AS cell FROM (
                SELECT e.vec_id, e.v, cf.cluster,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                           list_dot_product(cf.c, cf.c)
                           - 2 * list_dot_product(e.v, cf.c),
                           cf.cluster) AS rn
                FROM e CROSS JOIN c{KMEANS_ITERS} cf) WHERE rn = 1),
        q AS (SELECT v AS qv, cell AS qcell FROM ec
              WHERE vec_id = {QUERY_VEC_ID})
        SELECT vec_id, {duck_cosine('v', 'qv')} AS cosine
        FROM ec CROSS JOIN q
        WHERE ec.cell = q.qcell AND vec_id <> {QUERY_VEC_ID}
        ORDER BY cosine DESC, vec_id LIMIT 10
    """,
    tier="llm",
    doc="IVF top-k against the TRAINED quantizer — the train-then-serve "
    "composition: Lloyd's rounds produce the model (ann_kmeans_train), "
    "the probe's cell is computed driver-side from the trained "
    "centroids (bounded 1-row fetch), and the lookup scans only that "
    "cell's vectors. Same serving shape as ann_ivf_topk with the "
    "learned model swapped in; at scale the assignment column is the "
    "store's partition key (VectorStore layout='ivf' with trained "
    "centroid literals), making this a one-partition pruned scan.",
)
def q_ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = trained_quantizer(spark, sf_dir)  # memoized: serve, don't retrain
    qrow = _probe_row(query_vector(spark, sf_dir))
    qcell = ivf_cell_of([float(x) for x in qrow.qv], cents)
    e = assign_nearest(
        embeddings_double(spark, sf_dir).select("vec_id", "v"),
        cents,
        out_col="cell",
    )
    return (
        e.filter((F.col("cell") == qcell) & (F.col("vec_id") != QUERY_VEC_ID))
        .withColumn("qv", _qv_literal(qrow.qv))
        .select("vec_id", F.expr(spark_cosine("v", "qv")).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Semantic dedup: trained-quantizer cells as the near-dup blocking key
# ---------------------------------------------------------------------------

# Fixture-calibrated: the synthetic embeddings are near-orthogonal (max
# pairwise cosine ~0.5-0.6), so the production SemDeDup cut (~0.95)
# would make the result vacuously empty and the oracle comparison would
# never exercise the cosine arithmetic. 0.35 yields hundreds of real
# pairs at every SF; the operator contract (learned-cell blocking +
# exact verify) is threshold-agnostic.
SEMANTIC_COSINE = 0.35

# Hot-cell sub-bucketing (round 9): the residual skew lever for
# learned-cell blocking. A skewed embedding distribution can make one
# trained cell huge, turning the within-cell verify quadratic in that
# cell. Cells with >= HOT_CELL_MIN rows get a secondary blocking key:
# intervals of the projection onto a DATA-DERIVED unit direction w
# (one power-iteration step of the cell's covariance — the cheap
# approximation of its top principal direction), probed at +-1 bucket.
#
# Losslessness (the multi-probe argument, and it holds PER AXIS for
# ANY unit w — the learned directions only maximize pruning):
# normalized vectors with a.b >= t satisfy ||a-b|| <= r = sqrt(2-2t)
# (law of cosines), so |w.a - w.b| <= ||w|| ||a-b|| <= r
# (Cauchy-Schwarz), hence floor(w.a / r) and floor(w.b / r) differ by
# at most 1 on each axis and the smaller-id vector's 3x3 probe grid
# contains the partner's primary (b1, b2) bucket — exact recall, and
# exactly once (the nine probe cells are distinct, one equals the
# partner's). Two axes because a single projection cannot separate
# directions symmetric about it (cos is even); the second,
# orthogonalized direction breaks the tie. A fixed RANDOM hyperplane
# family would NOT prune here at all: in high dimension |cos(h,v)|
# concentrates near 0, so at t=0.95 the sqrt(2-2t)=0.316 margin band
# swallows nearly every vector — the directions must come from the
# data, which is why (w1, w2) span the cell's dominant-variance
# plane. Honest collapse note (same shape as the prefix-filter
# lesson in dedup.py): at low thresholds r >= 1 covers the whole
# projection range and everything lands in a ~2x2 grid — the lever
# only prunes at production cuts; the fixture's t=0.35 exercises
# correctness, which tests/test_semantic_dedup.py pins both ways
# (equality + a skewed high-threshold fixture where candidates
# provably drop below half the quadratic).
HOT_CELL_MIN = 50_000  # cell rows before the lever engages
_SUBB_POWER_SEEDS = (HYPERPLANES[0], HYPERPLANES[1])  # fixed g1, g2


def _cold_pair_scores(cold: DataFrame, threshold: float) -> DataFrame:
    """Within-cell pair cosines for the cold (non-hot) cells as ONE
    grouped Arrow pass (r14): each cell's vectors cross the Python
    boundary once — not once per pair — and the pair dot products are
    a per-dimension elementwise accumulation, fl(acc + fl(a_d * b_d))
    per step, the SAME 0.0-seeded left-to-right fold as SPARK_DOT;
    cosine = dot / (nrm_a * nrm_b) in that operation order, with the
    nrm column computed by the JVM exactly as before. Every emitted
    cosine is therefore bit-identical to the join+fold form (the
    assign_nearest broadcast-path discipline applied to pair scoring;
    equality pinned in tests/test_semantic_dedup.py). Replaces a
    64-term interpreted aggregate(zip_with(...)) per pair
    (CodegenFallback, measured ~7 us/pair — ~2 s of the query at
    sf0.1) with vectorized numpy, and replaces the self-join's two
    passes over the assigned frame with one. The candidate set
    (within-cell pairs, a.vec_id < b.vec_id) is unchanged; rows are
    pre-filtered at `threshold` (callers re-filter, a no-op here).
    Row-chunked so the (chunk, n) accumulator stays a few MB
    regardless of cell size; genuinely huge cells are the hot-cell
    sub-bucket branch's job, not this one's."""
    import numpy as np
    import pandas as pd

    thr = float(threshold)

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pd.DataFrame(
            {
                "vec_a": np.empty(0, dtype=np.int64),
                "vec_b": np.empty(0, dtype=np.int64),
                "cell": np.empty(0, dtype=np.int64),
                "cosine": np.empty(0, dtype=np.float64),
            }
        )
        if n < 2:
            return empty
        pdf = pdf.sort_values("vec_id", ignore_index=True)
        V = np.stack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)
        cell = int(pdf["cell"].iloc[0])
        dim = V.shape[1]
        outs = []
        chunk = max(1, (1 << 22) // n)  # accumulator cells per block
        for lo in range(0, n - 1, chunk):
            hi = min(lo + chunk, n - 1)
            acc = np.zeros((hi - lo, n), dtype=np.float64)
            for d in range(dim):
                # fl(acc + fl(a_d * b_d)): one rounding per step, the
                # exact SPARK_DOT fold order
                acc += np.outer(V[lo:hi, d], V[:, d])
            cos = acc / np.outer(nrm[lo:hi], nrm)
            ii, jj = np.nonzero(cos >= thr)
            ia = ii + lo
            keep = jj > ia  # upper triangle: vec_a < vec_b by sort order
            ia, jj = ia[keep], jj[keep]
            if len(ia):
                outs.append(
                    pd.DataFrame(
                        {
                            "vec_a": ids[ia],
                            "vec_b": ids[jj],
                            "cell": np.full(len(ia), cell, dtype=np.int64),
                            "cosine": cos[ia - lo, jj],
                        }
                    )
                )
        return pd.concat(outs, ignore_index=True) if outs else empty

    return cold.select("vec_id", "v", "cell", "nrm").groupBy(
        "cell"
    ).applyInPandas(
        score, schema="vec_a long, vec_b long, cell long, cosine double"
    )


def _pair_cosine_select(joined: DataFrame) -> DataFrame:
    return joined.select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.col("a.cell").alias("cell"),
        (
            F.expr(SPARK_DOT.format(a="a.v", b="b.v"))
            / (F.col("a.nrm") * F.col("b.nrm"))
        ).alias("cosine"),
    )


def _unit(v: list[float], fallback: list[float] | None = None) -> list[float]:
    import math

    nrm = math.sqrt(sum(x * x for x in v))
    if nrm < 1e-12:
        v = list(fallback if fallback is not None else v)
        nrm = math.sqrt(sum(x * x for x in v)) or 1.0
    w = [x / nrm for x in v]
    lead = next((x for x in w if abs(x) > 1e-9), 1.0)
    return [-x for x in w] if lead < 0 else w  # sign-canonical


def _hot_cell_directions(
    hot: DataFrame,
) -> dict[int, tuple[list[float], list[float]]]:
    """Per hot cell, one power-iteration step of the covariance from
    each fixed seed g_k: w_k ~ E[vn (vn.g_k)] - mu (mu.g_k) over the
    cell's NORMALIZED vectors vn, with w2 Gram-Schmidt-orthogonalized
    against w1 so the pair spans the dominant-variance plane. ONE
    scan — per-row explode of 64 (component, component*(vn.g1),
    component*(vn.g2)) terms into a map-side-combined (cell, i)
    aggregation — and a driver fetch bounded by 64 rows per hot cell
    (hot cells number at most n / HOT_CELL_MIN). Degenerate cells
    fall back to the seeds; any unit directions keep the lever
    lossless."""
    g1, g2 = _SUBB_POWER_SEEDS
    vg1 = SPARK_DOT.format(a="vn", b=_spark_arr(g1))
    vg2 = SPARK_DOT.format(a="vn", b=_spark_arr(g2))
    stats = (
        hot.withColumn("vn", F.expr("transform(v, x -> x / nrm)"))
        .select(
            "cell",
            F.expr(vg1).alias("vg1"),
            F.expr(vg2).alias("vg2"),
            F.posexplode("vn"),
        )
        .groupBy("cell", "pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("col").alias("sm"),
            F.sum(F.col("col") * F.col("vg1")).alias("sp1"),
            F.sum(F.col("col") * F.col("vg2")).alias("sp2"),
        )
        .collect()
    )
    by_cell: dict[int, dict[int, tuple]] = {}
    for row in stats:
        by_cell.setdefault(row.cell, {})[row.pos] = (
            row.n,
            row.sm,
            row.sp1,
            row.sp2,
        )
    dirs: dict[int, tuple[list[float], list[float]]] = {}
    for cell, comps in by_cell.items():
        dim = len(comps)
        n = comps[0][0]
        mu = [comps[i][1] / n for i in range(dim)]
        mug1 = sum(m * gi for m, gi in zip(mu, g1))
        mug2 = sum(m * gi for m, gi in zip(mu, g2))
        w1 = _unit(
            [comps[i][2] / n - mu[i] * mug1 for i in range(dim)],
            fallback=[float(x) for x in g1],
        )
        raw2 = [comps[i][3] / n - mu[i] * mug2 for i in range(dim)]
        proj = sum(a * b for a, b in zip(raw2, w1))
        w2 = _unit(
            [raw2[i] - proj * w1[i] for i in range(dim)],
            fallback=[float(x) for x in g2],
        )
        dirs[cell] = (w1, w2)
    return dirs


def subbucket_candidates(e: DataFrame, threshold: float) -> DataFrame:
    """Within-cell candidate pairs of an assigned (hot-cell) frame
    (vec_id, v, cell, nrm) via projection-interval sub-buckets with
    +-1 probing (lossless — proof above): bucket = floor((w.v/nrm)/r)
    on the cell's learned direction w; the probe side explodes
    {bucket-1, bucket, bucket+1}, the build side keeps primaries, and
    the equi join on (cell, bucket) + id order yields every
    cosine>=threshold pair exactly once. Returns
    (vec_a, vec_b, cell, cosine) UNFILTERED so callers (and the skew
    test) can count candidates before the verify."""
    import math

    r = math.sqrt(max(1e-9, 2.0 - 2.0 * threshold))
    dirs = _hot_cell_directions(e)
    spark = e.sparkSession
    schema = "cell long, w1 array<double>, w2 array<double>"
    wf = local_rows_df(
        spark,
        [(int(c), w1, w2) for c, (w1, w2) in dirs.items()], schema
    )
    proj = (
        e.join(F.broadcast(wf), "cell")
        .withColumn(
            "b1",
            F.floor(
                F.expr(SPARK_DOT.format(a="v", b="w1")) / F.col("nrm") / r
            ),
        )
        .withColumn(
            "b2",
            F.floor(
                F.expr(SPARK_DOT.format(a="v", b="w2")) / F.col("nrm") / r
            ),
        )
    )
    probe = proj.select(
        "vec_id",
        "v",
        "cell",
        "nrm",
        F.explode(
            F.expr(
                "flatten(transform(array(-1L, 0L, 1L), d1 -> "
                "transform(array(-1L, 0L, 1L), d2 -> "
                "struct(b1 + d1 AS p1, b2 + d2 AS p2))))"
            )
        ).alias("pb"),
    )
    a, b = probe.alias("a"), proj.alias("b")
    return _pair_cosine_select(
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.pb.p1") == F.col("b.b1"))
            & (F.col("a.pb.p2") == F.col("b.b2"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
    )


def semantic_cell_pairs(
    e: DataFrame,
    threshold: float,
    hot_min: int = HOT_CELL_MIN,
    hot_cells: list[int] | None = None,
) -> DataFrame:
    """All within-cell pairs with cosine >= threshold. The per-cell
    count table is a bounded fetch (at most the trained k rows — the
    same discipline as every model fetch here; pass hot_cells to skip
    the counting job when the caller already knows them, as the
    memoized exported query does); cells below hot_min pay the plain
    equi self-join on the cell id, hot cells route through the
    sub-bucketed candidates. With no hot cells the plan is EXACTLY
    the r8 one-join shape (the lever costs nothing when dormant);
    both branches' cosine is the same fold over the same operands, so
    the split is invisible in the output."""
    if hot_cells is None:
        counts = e.groupBy("cell").agg(F.count(F.lit(1)).alias("cell_n"))
        hot_cells = [
            r.cell
            for r in counts.filter(F.col("cell_n") >= hot_min).collect()
        ]
    cold = e.filter(~F.col("cell").isin(hot_cells)) if hot_cells else e
    # One grouped Arrow pass instead of the cell-id self-join: same
    # candidate set, bit-identical cosines (see _cold_pair_scores)
    cold_pairs = _cold_pair_scores(cold, threshold)
    if hot_cells:
        hot = e.filter(F.col("cell").isin(hot_cells))
        cold_pairs = cold_pairs.unionByName(
            subbucket_candidates(hot, threshold)
        )
    return cold_pairs.filter(F.col("cosine") >= threshold)


@register(
    "dedup_semantic_pairs",
    # Both engines restrict candidates to same-trained-cell pairs (the
    # assignment arithmetic is the bit-equality contract proven by the
    # k-means oracles), so this hash-matches exactly; cell-blocking
    # recall vs the exhaustive pair set is measured separately in
    # tests/test_semantic_dedup.py.
    oracle=f"""
        WITH {_duck_kmeans_ctes()},
        ec AS (
            SELECT vec_id, v, cluster AS cell FROM (
                SELECT e.vec_id, e.v, cf.cluster,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                           list_dot_product(cf.c, cf.c)
                           - 2 * list_dot_product(e.v, cf.c),
                           cf.cluster) AS rn
                FROM e CROSS JOIN c{KMEANS_ITERS} cf) WHERE rn = 1),
        en AS (SELECT vec_id, v, cell,
                      sqrt(list_dot_product(v, v)) AS nrm FROM ec)
        SELECT vec_a, vec_b, cell, cosine FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   CAST(a.cell AS BIGINT) AS cell,
                   list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
            FROM en a JOIN en b ON a.cell = b.cell AND a.vec_id < b.vec_id)
        WHERE cosine >= {SEMANTIC_COSINE}
    """,
    tier="llm",
    doc=f"SemDeDup-style semantic dedup (cosine >= {SEMANTIC_COSINE} "
    "within trained k-means cells) — the train-then-dedup composition: "
    "the memoized Lloyd quantizer (trained_quantizer, the same model "
    "ann_ivf_trained_topk serves) assigns every embedding its cell in "
    "one map-only pass, and within-cell candidates are scored by ONE "
    "grouped Arrow pass per cell (r14; each cell's vectors cross the "
    "Python boundary once, and the pair dots replay the exact "
    "SPARK_DOT fold order elementwise — bit-identical cosines, pinned "
    "in tests/test_semantic_dedup.py — where the former cell-id "
    "self-join paid a ~7us interpreted fold per pair) — the "
    "Abbas-et-al SemDeDup recipe (cluster the embedding space, prune "
    "within clusters) as a first-class operator. Distinct from "
    "dedup_embedding_pairs the way SemDeDup differs from random-"
    "hyperplane LSH: the blocking key is LEARNED from the corpus, so "
    "cells track the data's density rather than fixed random cuts. At "
    "100 TB the cell id is the store's partition key (VectorStore "
    "layout='ivf' with trained centroids), making the pairing "
    "partition-local. Candidate-set size is controlled by training k in "
    "PROPORTION to the corpus — cells stay bounded-size, which is what "
    "the large-k broadcast assignment path exists for (swept to k=1024 "
    "in SCALING.md; the fixture's k=8 is coarse-quantizer scale) — "
    "with hot-cell sub-bucketing (semantic_cell_pairs above: cells "
    "over HOT_CELL_MIN rows get a lossless projection-interval "
    "sub-key on the cell's learned dominant-variance direction, "
    "probed at +-1 bucket — proof and collapse note at HOT_CELL_MIN) "
    "as the BUILT residual skew lever, skew-fixture-tested and "
    "equality-pinned in tests/test_semantic_dedup.py.",
)
def q_dedup_semantic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = trained_quantizer(spark, sf_dir)  # memoized: serve, don't retrain
    # Per-vector norm computed ONCE on the assigned frame, not per pair:
    # cosine = dot/(nrm_a*nrm_b) runs one fold per candidate instead of
    # three (dot + both self-dots — measured 3x the wall at sf0.1).
    # Bit-identical: sqrt of the same fold over the same operands.
    e = assign_nearest(
        embeddings_double(spark, sf_dir).select("vec_id", "v"),
        cents,
        out_col="cell",
    ).withColumn("nrm", F.expr(f"sqrt({SPARK_DOT.format(a='v', b='v')})"))
    # The assigned frame feeds the hot-cell count (first call only) and
    # the pair scorer: materialize it once instead of re-running the
    # scan + assignment per consumer (r14; same values, so the oracle
    # hash is untouched). Rotated (r15): repeat calls release older
    # generations instead of pinning one copy per call.
    from ..checkpoints import rotating_local_checkpoint

    e = rotating_local_checkpoint(e, "similarity.semantic_pairs.assigned")
    # Hot cells are a session-state entry per corpus content, like the
    # quantizer itself: the counting job runs once, repeat calls plan
    # the same branches without re-counting.
    src = os.path.join(sf_dir, "embeddings.parquet")

    def count_hot_cells() -> list[int]:
        counts = e.groupBy("cell").agg(F.count(F.lit(1)).alias("cell_n"))
        return [
            r.cell
            for r in counts.filter(
                F.col("cell_n") >= HOT_CELL_MIN
            ).collect()
        ]

    hot_cells = state.lookup(
        spark.sparkContext,
        "hot_cells",
        src,
        state.content_fingerprint(src),
        count_hot_cells,
    )
    return semantic_cell_pairs(
        e, SEMANTIC_COSINE, hot_cells=hot_cells
    )


# ---------------------------------------------------------------------------
# PCA: a data-derived linear encoder trained from exact moments
# ---------------------------------------------------------------------------

PCA_SCALE = 1_000_000.0  # term quantization (the classifier discipline)
PCA_K = 8  # served components


@register(
    "ann_pca_train",
    # range(a, b) is end-exclusive in DuckDB; Spark's sequence(a, b) is
    # end-inclusive — both spell 1..DIM below.
    oracle=f"""
        WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cnt AS (SELECT CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS j,
                       CAST(COUNT(*) AS DOUBLE) AS s FROM e),
        m1 AS (SELECT CAST(i.d AS BIGINT) AS i, CAST(0 AS BIGINT) AS j,
                      CAST(SUM(CAST(floor(v[i.d] * {PCA_SCALE!r}) AS HUGEINT))
                           AS DOUBLE) / {PCA_SCALE!r} AS s
               FROM e CROSS JOIN range(1, {DIM + 1}) i(d) GROUP BY i.d),
        m2 AS (SELECT CAST(i.d AS BIGINT) AS i, CAST(j.d AS BIGINT) AS j,
                      CAST(SUM(CAST(floor(v[i.d] * v[j.d] * {PCA_SCALE!r})
                                    AS HUGEINT)) AS DOUBLE) / {PCA_SCALE!r} AS s
               FROM e CROSS JOIN range(1, {DIM + 1}) i(d)
                      CROSS JOIN range(1, {DIM + 1}) j(d)
               WHERE j.d >= i.d GROUP BY i.d, j.d)
        SELECT i, j, ROUND(s, 6) AS s
        FROM (SELECT * FROM cnt UNION ALL
              SELECT * FROM m1 UNION ALL
              SELECT * FROM m2)
    """,
    tier="llm",
    doc=f"PCA TRAINING, the statistics pass: n, the {DIM} first moments "
    f"and the {DIM}*{DIM + 1}//2 upper-triangle second moments of the "
    "embedding table as integer-quantized exact sums (floor(term*1e6) "
    "summed — the classifier's cross-engine determinism discipline), "
    "from ONE scan: a double sequence-explode generates the (i, j>=i) "
    "moment terms linearly per row and a single groupBy(i, j) "
    "aggregates them (map-side combine; ~2k group keys regardless of "
    "corpus size). The covariance eigendecomposition itself is a "
    "driver-side numpy solve over this BOUNDED model fetch "
    "(pca_components below — the k-means train/serve split applied to "
    "a spectral model); the projection is then a map-only encoder, the "
    "data-derived counterpart to multimodal_embed's pinned projection. "
    "At 100 TB this is one pass + one ~2k-key shuffle.",
)
def q_ann_pca_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Genuinely ONE scan: a union of three separate aggregations would
    # plan three independent reads of the embeddings table (3 corpus
    # passes at scale). Instead one explode chain emits every moment
    # TERM per row — i=0 carries the count term (1.0, whose 1e6
    # quantization is exact, so the merged sum is n exactly), j=i-1
    # encodes the first moment v_i (emitted as j=0), j>=i the second
    # moments — and a single groupBy(i, j) aggregates them all.
    e = embeddings_double(spark, sf_dir).select("v")
    terms = e.select(
        "v", F.explode(F.sequence(F.lit(0), F.lit(DIM))).alias("i")
    ).select(
        "v",
        "i",
        F.explode(
            F.when(F.col("i") == 0, F.array(F.lit(0))).otherwise(
                F.sequence(F.col("i") - 1, F.lit(DIM))
            )
        ).alias("j"),
    )
    vi = F.element_at("v", F.col("i").cast("int"))
    vj = F.element_at("v", F.col("j").cast("int"))
    term = (
        F.when(F.col("i") == 0, F.lit(1.0))
        .when(F.col("j") == F.col("i") - 1, vi)
        .otherwise(vi * vj)
    )
    j_out = F.when(
        (F.col("i") == 0) | (F.col("j") == F.col("i") - 1), F.lit(0)
    ).otherwise(F.col("j"))
    return (
        terms.select(
            F.col("i").cast("long").alias("i"),
            j_out.cast("long").alias("j"),
            term.alias("t"),
        )
        .groupBy("i", "j")
        .agg(
            (
                F.sum(
                    F.floor(F.col("t") * F.lit(PCA_SCALE)).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
                / F.lit(PCA_SCALE)
            ).alias("s")
        )
        .select("i", "j", F.round("s", 6).alias("s"))
    )


def pca_components(spark: SparkSession, sf_dir: str, k: int = PCA_K):
    """(components, eigenvalues, mean): the top-k principal axes of the
    embedding table — numpy eigh over the covariance assembled from the
    ann_pca_train statistics (a bounded ~2k-row model fetch), computed
    once per (application, corpus content, k) like trained_quantizer.
    Signs are canonicalized (largest-|component| coordinate positive)
    so the model is deterministic across LAPACK builds."""
    import numpy as np

    def fit():
        rows = q_ann_pca_train(spark, sf_dir).collect()
        n = None
        s1 = np.zeros(DIM)
        s2 = np.zeros((DIM, DIM))
        for r in rows:
            if r.i == 0 and r.j == 0:
                n = r.s
            elif r.j == 0:
                s1[r.i - 1] = r.s
            else:
                s2[r.i - 1, r.j - 1] = s2[r.j - 1, r.i - 1] = r.s
        mean = s1 / n
        cov = s2 / n - np.outer(mean, mean)
        evals, evecs = np.linalg.eigh(cov)  # ascending
        order = np.argsort(evals)[::-1][:k]
        comps = evecs[:, order].T  # (k, DIM)
        for c in comps:  # deterministic sign
            if c[int(np.argmax(np.abs(c)))] < 0:
                c *= -1.0
        return comps, evals[order], mean

    src = os.path.join(sf_dir, "embeddings.parquet")
    return state.lookup(
        spark.sparkContext,
        "pca",
        src,
        (state.content_fingerprint(src), k),
        fit,
    )


def pca_project(df: DataFrame, comps, mean, vec_col: str = "v", out_col: str = "pv") -> DataFrame:
    """Map-only projection of `vec_col` onto the trained axes: center,
    then one fold dot per component (k folds per row, inlined literal
    model — the assign_nearest literal pattern; a large-k encoder would
    switch to the broadcast mapInPandas path the same way)."""
    centered = ", ".join(
        f"({vec_col}[{d}] - {float(mean[d]):.17g}d)" for d in range(len(mean))
    )
    dots = []
    for c in comps:
        terms = " + ".join(
            f"cv[{d}] * {float(c[d]):.17g}d" for d in range(len(c))
        )
        dots.append(terms)
    return df.withColumn("cv", F.expr(f"array({centered})")).withColumn(
        out_col, F.expr("array(" + ", ".join(dots) + ")")
    ).drop("cv")


# ---------------------------------------------------------------------------
# Filtered ANN (round 10 third wave): predicate + vector search in one scan
# ---------------------------------------------------------------------------

FILTER_LABEL = 3  # the demo's metadata predicate
FILTERED_K = 5


def labeled_ivf_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, label, cell): the IVF store WITH its metadata column
    riding the same cell partitions — the layout filtered ANN wants,
    where the predicate applies during the pruned partition scan
    instead of joining a separate metadata table afterwards."""

    def build(path: str) -> None:
        (
            embeddings_double(spark, sf_dir)
            .select("vec_id", "v", "label")
            .withColumn("cell", F.expr(spark_ivf_cell("v")).cast("long"))
            .repartition("cell")
            .write.partitionBy("cell")
            .parquet(path)
        )

    return session_artifact_df(
        spark, sf_dir, "labeled_emb_store", "embeddings.parquet", build
    )


@register(
    "ann_filtered_topk",
    oracle=f"""
        WITH e AS (SELECT vec_id, v, label, {duck_ivf_cell('v')} AS cell
                   FROM ({DUCK_EMB})),
        q AS (SELECT v AS qv, cell AS qcell FROM e
              WHERE vec_id = {QUERY_VEC_ID})
        SELECT vec_id, label, {duck_cosine('v', 'qv')} AS cosine
        FROM e CROSS JOIN q
        WHERE e.cell = q.qcell AND e.label = {FILTER_LABEL}
          AND vec_id <> {QUERY_VEC_ID}
        ORDER BY cosine DESC, vec_id LIMIT {FILTERED_K}
    """,
    tier="llm",
    doc="FILTERED ANN — 'nearest neighbors among rows matching P' "
    "(the retrieval shape every RAG/curation pipeline runs: similar "
    "docs in the same language / license / domain): the metadata "
    "column rides the cell-partitioned store, so the predicate "
    "applies DURING the one pruned partition scan, before the top-k "
    "cut — no post-join against a metadata table, no second pass. "
    "Also exposed on the maintained-store path as "
    "vector_store_topk(where=...) / VectorStore.topk(where=...), "
    "where the documented recall knob is nprobe (a selective "
    "predicate thins candidates; probing more partitions restores "
    "them). The oracle replicates cell routing + predicate + exact "
    "cosine in SQL, pinning the whole serving plan.",
)
def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    qrow = _probe_row(
        query_vector(spark, sf_dir)
        .withColumn("qcell", F.expr(spark_ivf_cell("qv")).cast("long"))
    )
    return (
        labeled_ivf_store(spark, sf_dir)
        .filter(
            (F.col("cell") == int(qrow.qcell))
            & (F.col("label") == FILTER_LABEL)
            & (F.col("vec_id") != QUERY_VEC_ID)
        )
        .withColumn("qv", _qv_literal(qrow.qv))
        .select(
            "vec_id",
            "label",
            F.expr(spark_cosine("v", "qv")).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(FILTERED_K)
    )
