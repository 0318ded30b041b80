"""Artifact generations: snapshot isolation for the maintained stores.

Every flock-managed artifact (count index, positional index, tokens,
vector stores) is append-then-compact: appends add parquet files,
compaction rewrites the directory behind a staged swap (`staged_rewrite`).
That gives readers atomicity (old or new wholesale) but no way to PIN
a version across a multi-query session — e.g. train on snapshot S
while ingest continues, or run a two-query reconciliation that must
see one consistent file set.

This module adds monotonically versioned generations — the
export_shards manifest pattern applied inward:

- `_generations.json` at the artifact root (underscore-prefixed, so
  Spark directory scans never see it, same as `_quantizer.json`)
  records, per generation, a root (`_gen/g{N}`) and the file list
  under it.
- A generation is IMMUTABLE FROM BIRTH: `publish_generation` (called
  after each append / microbatch through `locked_append` +
  `publish_append`, which also pin the pre-first-mutation state)
  hardlinks the live listing into `_gen/g{N}` and roots the
  manifest entry there — metadata-only on one filesystem, and the
  pinned file PATHS are never the live paths a compaction swap will
  replace. (The first design rooted unrelocated generations at the
  live files and relocated lazily at compaction; a reader's running
  job then raced the swap with FAILED_READ_FILE mid-task. Eager
  hardlinks shrink that race to the two-rename instant of the swap
  itself, which the read path's re-resolve + the artifact's existing
  recover logic already cover.)
- Compaction REPLACES the directory, so `carry_generations` (called
  by `compact_artifact` on the staging dir, before the swap)
  hardlinks the retained generation dirs into staging, publishes
  head+1 = the compacted live files as a new hardlinked generation,
  and stages the manifest — data, snapshots, and manifest swap
  atomically.
- `generation_diff(since, until)` is the incremental consumer: in an
  append-only span it reads ONLY the files added after `since`;
  across a compaction it anti-joins the two snapshots on caller-named
  keys — exact only for row-image-preserving rewrites (see its
  docstring) — or refuses, never silently rescans;
  `generation_changes` is the general row-level feed (insert/delete/
  update images), delta-sized since round 10 (each side scans only
  the span's differing files). The live path is never mutated
  pre-swap: a crash discards staging and leaves the old store (and
  old manifest) intact, exactly the existing crash-safety story.
- Round 10 adds the DML verbs on top of the same machinery:
  `delete_rows` (manifest-pruned copy-on-write predicate DELETE),
  `upsert_rows` (MERGE: key-list/bounds-pruned replace-or-insert),
  `optimize_store` (re-clustering compaction), and the streaming CDC
  apply loop in streaming/events.py — all publishing ordinary
  generations, so snapshots, tags, change feeds, and matview
  refreshes compose with them unchanged.
- `read_generation(spark, path, at=N)` reads exactly generation N's
  files (basePath-anchored so Hive partition columns survive), with
  one re-resolve retry for a reader racing the swap's rename gap.
- `unique_keys` (optional, per generation entry) names columns on
  which the generation's rows are unique. Only `compact_index` sets
  it (`["word", "doc_id"]`, through `carry_generations`'
  `entry_extra`); every other publish builds a fresh entry without
  it. `IndexSession.postings()` skips its re-aggregation when the
  head carries it, has no deletion vector, and lists exactly the live
  files.

Retention: the newest GEN_RETAIN generations survive (enforced at
every publish and at compaction); older ones age out with a helpful
error — their rows live on in the live store, only the historical
snapshot is dropped. Hardlinks share inodes with the live data, so a
retained generation costs real bytes only for files a later
compaction rewrote. At 100 TB this is the Iceberg/Delta snapshot
pattern reduced to its data-plane half: manifests + immutable files +
retention, no metastore required.

Reference parity: the reference's ./index has no versioning at all
(SURVEY.md §2.12 — its appends aren't even locked); this is the
extension tier's answer to "what does a long-lived store need that
the reference never addressed".
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import state
from ..localrel import local_rows_df
from . import commitio
from .commitio import MANIFEST_NAME as GEN_FILE  # noqa: E402 — one name

GEN_DIR = "_gen"  # underscore: invisible to Spark directory scans
# File-skipping stats: per-file column [min, max] harvested from the
# parquet FOOTER at publish time (metadata-only — no data pages read)
# and recorded in the generation manifest. Strings longer than this
# are dropped rather than truncated: a truncated max is not an upper
# bound (Iceberg solves this with increment-last-char; dropping is the
# conservative equivalent).
STATS_MAX_STR = 64
# Point-lookup file skipping: per-file BLOOM FILTERS over caller-named
# columns (publish_generation(bloom_cols=[...])), stored as sidecar
# files under _bloom/ and referenced by name from the manifest — the
# Iceberg puffin shape: min/max bounds cannot prune an equality probe
# on a high-cardinality UNCLUSTERED column (every file's range covers
# every key), a bloom can. Unlike footer stats the build reads the
# named columns' data pages of NEW files once at publish; readers stay
# metadata-only (one small sidecar per candidate file, opened lazily).
# False positives keep a file (conservative); false negatives are
# structurally impossible, so pruning stays lossless.
BLOOM_DIR = "_bloom"
BLOOM_BITS_PER_VALUE = 10  # with k=7: ~0.9% false-positive rate
BLOOM_K = 7
BLOOM_MAX_BITS = 4_000_000  # 500 KB cap per (file, column)
# Retention policy (Iceberg's expire_snapshots shape): the newest
# GEN_RETAIN generations are ALWAYS kept; older ones survive only
# while younger than GEN_TTL_SECONDS — so a pinned reader has a
# guaranteed wall-clock window regardless of how fast writers churn,
# and a hot append loop still can't accumulate snapshots forever.
GEN_RETAIN = 3
GEN_TTL_SECONDS = 3600.0


def _gen_path(path: str) -> str:
    return os.path.join(path, GEN_FILE)


def _data_files(path: str) -> list[str]:
    """Relative paths of the artifact's data files (recursive;
    underscore/dot entries — sidecars, _gen, success markers —
    excluded at every level, mirroring Spark's discovery rules)."""
    out: list[str] = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.startswith(("_", ".")) or f.endswith(".crc"):
                continue
            out.append(os.path.relpath(os.path.join(root, f), path))
    return sorted(out)


def _norm_stat(v):
    """JSON-safe, order-preserving normalization of a footer stat or a
    predicate value. Ints and floats stay numeric (Python compares them
    natively); dates/timestamps become ISO-8601 strings, whose
    lexicographic order matches chronological order at a fixed
    precision; long strings and unsupported types normalize to None
    (= no usable bound, keep the file)."""
    import datetime

    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, datetime.datetime):
        # Normalize to NAIVE UTC before stringifying: Spark-written
        # footers come back tz-aware (+00:00) while callers pass naive
        # session-time values; a mixed compare would see
        # "...00.000000" < "...00.000000+00:00" and wrongly prune a
        # file whose min equals the predicate exactly.
        # CONTRACT: a NAIVE datetime predicate value is interpreted as
        # UTC (this repo's sessions pin spark.sql.session.timeZone to
        # UTC, so naive == session time == UTC). On a session pinned
        # to another zone, pass tz-AWARE values — they convert here —
        # or pruning compares a session-local wall time against
        # UTC-normalized footer stats, shifted by the offset.
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, str):
        return v if len(v) <= STATS_MAX_STR else None
    return None


def file_column_stats(abs_path: str) -> dict:
    """{column: [min, max]} for every top-level primitive column of one
    parquet file with usable footer statistics, folded across its row
    groups. Metadata-only: reads the footer, never a data page. Columns
    with missing/unusable stats in ANY row group are omitted (a partial
    bound is not a bound). Files a writer produced without stats simply
    contribute no entries — readers keep them (conservative)."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(abs_path).metadata
    except Exception:
        return {}
    out: dict[str, list] = {}
    bad: set[str] = set()
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        for j in range(rg.num_columns):
            col = rg.column(j)
            name = col.path_in_schema
            if "." in name or name in bad:  # nested leaves: skip
                continue
            s = col.statistics
            if s is None or not s.has_min_max:
                bad.add(name)
                out.pop(name, None)
                continue
            try:
                mn, mx = _norm_stat(s.min), _norm_stat(s.max)
            except Exception:
                mn = mx = None
            if mn is None or mx is None:
                bad.add(name)
                out.pop(name, None)
                continue
            if name in out:
                out[name] = [min(out[name][0], mn), max(out[name][1], mx)]
            else:
                out[name] = [mn, mx]
    return out


def file_null_counts(abs_path: str) -> dict:
    """{column: total null count} for every top-level primitive column
    whose null statistics are present in EVERY row group (else the
    column is omitted — an unknown null count is not zero). Metadata-
    only, like file_column_stats; recorded per new file at publish so
    full-file predicate proofs (_file_all_match) can require
    null-free columns without touching data."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(abs_path).metadata
    except Exception:
        return {}
    out: dict[str, int] = {}
    bad: set[str] = set()
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        for j in range(rg.num_columns):
            col = rg.column(j)
            name = col.path_in_schema
            if "." in name or name in bad:
                continue
            s = col.statistics
            if s is None or s.null_count is None:
                bad.add(name)
                out.pop(name, None)
                continue
            out[name] = out.get(name, 0) + int(s.null_count)
    return out


def _bloom_key(v) -> str | None:
    """v1 (legacy) canonical key encoding — kept ONLY to probe sidecars
    written before the vectorized v2 format below; v2 stores a type
    salt in the blob and hashes numpy-encoded values instead (the
    per-value Python loop this replaced was the round-9 weak mark)."""
    import datetime

    if isinstance(v, bool):
        return None
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, str):
        return f"s{v}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t" + v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return "d" + v.isoformat()
    return None


def _bloom_hashes(key: str) -> tuple[int, int]:
    import hashlib

    h = hashlib.blake2b(key.encode("utf-8"), digest_size=16).digest()
    h1 = int.from_bytes(h[:8], "little")
    h2 = int.from_bytes(h[8:], "little") | 1  # odd: full cycle mod m
    return h1, h2


def _bloom_contains(blob: bytes, key: str) -> bool:
    """v1 probe (blob layout m(8B LE) + k(8B LE) + bits)."""
    m = int.from_bytes(blob[:8], "little")
    k = int.from_bytes(blob[8:16], "little")
    bits = blob[16:]
    h1, h2 = _bloom_hashes(key)
    for i in range(k):
        idx = (h1 + i * h2) % m
        if not bits[idx >> 3] & (1 << (idx & 7)):
            return False
    return True


# --- v2 bloom format: vectorized build, type-salted blob -------------
#
# Layout: magic(8B) + salt(1B ascii) + pad(7B) + m(8B LE) + k(8B LE)
# + bit array. The magic is distinguishable from v1 because v1 leads
# with m <= BLOOM_MAX_BITS (4e6), whose bytes 4..7 are zero.
#
# Values encode to ONE numpy array per column — int64 for integers
# ("i"), epoch-micros int64 for timestamps ("t", tz-aware normalized
# to UTC, naive interpreted as UTC per the store contract), epoch-days
# int64 for dates ("d"), object-dtype strings ("s") — and hash in one
# vectorized pd.util.hash_array pass (C speed); h2 derives from h1 by
# a splitmix64 finalizer (64-bit h1 collisions ~ n^2/2^64, negligible).
# The salt lives IN the blob: a probe value whose own type-salt
# differs keeps the file (Spark's row filter would coerce cross-type
# equality; pruning on it would be lossy — the v1 format silently had
# that hazard). Floats, booleans, decimals, nested types are refused
# at build: no bloom, readers keep the file.
_BLOOM_MAGIC = b"MRIBLM2\xff"


def _mix64(x):
    """splitmix64 finalizer, elementwise on uint64 ndarray."""
    import numpy as np

    with np.errstate(over="ignore"):
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _bloom_encode_column(arr):
    """(salt, ndarray) for a null-stripped pyarrow ChunkedArray, or
    (None, None) when the type is refused."""
    import numpy as np
    import pyarrow as pa

    t = arr.type
    if pa.types.is_boolean(t) or pa.types.is_floating(t):
        return None, None
    if pa.types.is_integer(t):
        return "i", arr.cast(pa.int64()).to_numpy(zero_copy_only=False)
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "s", np.asarray(arr.to_pylist(), dtype=object)
    if pa.types.is_timestamp(t):
        us = arr.cast(pa.timestamp("us", tz=t.tz) if t.tz else pa.timestamp("us"))
        return "t", us.cast(pa.int64()).to_numpy(zero_copy_only=False)
    if pa.types.is_date(t):
        return "d", (
            arr.cast(pa.date32())
            .cast(pa.int32())
            .cast(pa.int64())
            .to_numpy(zero_copy_only=False)
        )
    return None, None


def _bloom_encode_value(v):
    """The probe-side twin of `_bloom_encode_column`: (salt, 1-element
    ndarray) for one Python predicate value."""
    import datetime

    import numpy as np

    if isinstance(v, bool):
        return None, None
    if isinstance(v, int):
        return "i", np.array([v], dtype=np.int64)
    if isinstance(v, str):
        return "s", np.array([v], dtype=object)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        micros = (v - datetime.datetime(1970, 1, 1)) // datetime.timedelta(
            microseconds=1
        )
        return "t", np.array([micros], dtype=np.int64)
    if isinstance(v, datetime.date):
        days = (v - datetime.date(1970, 1, 1)).days
        return "d", np.array([days], dtype=np.int64)
    return None, None


def _bloom_hash_pair(values):
    """(h1, h2) uint64 arrays for an encoded value array — ONE
    vectorized hash pass; h2 odd for a full double-hash cycle mod m."""
    import numpy as np
    import pandas as pd

    h1 = pd.util.hash_array(values, categorize=False)
    h2 = _mix64(h1) | np.uint64(1)
    return h1, h2


def _bloom_build_v2(salt: str, values) -> bytes:
    """m sized to the value count at BLOOM_BITS_PER_VALUE, capped —
    past the cap the filter degrades toward keep-everything, never
    toward wrong pruning. Bit-setting is vectorized
    (np.bitwise_or.at over all k probe indices at once)."""
    import numpy as np

    n = len(values)
    m = min(BLOOM_MAX_BITS, max(1024, BLOOM_BITS_PER_VALUE * n))
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    if n:
        h1, h2 = _bloom_hash_pair(values)
        um = np.uint64(m)
        with np.errstate(over="ignore"):
            for i in range(BLOOM_K):
                idx = (h1 + np.uint64(i) * h2) % um
                np.bitwise_or.at(
                    bits,
                    (idx >> np.uint64(3)).astype(np.int64),
                    np.left_shift(
                        np.uint8(1), (idx & np.uint64(7)).astype(np.uint8)
                    ),
                )
    return (
        _BLOOM_MAGIC
        + salt.encode("ascii")
        + b"\x00" * 7
        + m.to_bytes(8, "little")
        + BLOOM_K.to_bytes(8, "little")
        + bits.tobytes()
    )


def _bloom_probe(blob: bytes, v) -> bool:
    """True = the file MAY hold `v` (keep); False = provably absent.
    Handles both sidecar formats; any refusal (unsupported probe type,
    v2 type-salt mismatch) keeps the file."""
    if blob[:8] == _BLOOM_MAGIC:
        salt, arr = _bloom_encode_value(v)
        if salt is None or salt != chr(blob[8]):
            return True
        m = int.from_bytes(blob[16:24], "little")
        k = int.from_bytes(blob[24:32], "little")
        bits = blob[32:]
        h1a, h2a = _bloom_hash_pair(arr)
        h1, h2 = int(h1a[0]), int(h2a[0])
        for i in range(k):
            # the builder's index arithmetic wraps mod 2^64 (uint64);
            # Python ints don't — mask to match or the probe diverges
            # on any overflowing h1 + i*h2
            idx = ((h1 + i * h2) & 0xFFFFFFFFFFFFFFFF) % m
            if not bits[idx >> 3] & (1 << (idx & 7)):
                return False
        return True
    key = _bloom_key(v)
    if key is None:
        return True
    return _bloom_contains(blob, key)


def _build_file_blooms(
    abs_path: str, cols: list[str], bloom_root: str, fname_base: str
) -> dict[str, str]:
    """Build and persist one v2 bloom per requested column of one NEW
    data file; returns {col: sidecar filename}. Reads only the named
    columns (column-projected parquet read); encoding and hashing are
    vectorized end-to-end — no per-value Python. A column whose type
    the encoding refuses (floats, nested) gets no bloom — readers
    keep the file, conservative as always."""
    import pyarrow.parquet as pq

    out: dict[str, str] = {}
    if not cols:
        return out
    try:
        pf = pq.ParquetFile(abs_path)
        present = [c for c in cols if c in pf.schema_arrow.names]
        if not present:
            return out
        tbl = pf.read(columns=present)
    except Exception:
        return out
    os.makedirs(bloom_root, exist_ok=True)
    for col in present:
        salt, enc = _bloom_encode_column(tbl.column(col).drop_null())
        if salt is None:
            continue
        fname = f"{fname_base}.{col}"
        tmp = os.path.join(bloom_root, fname + ".tmp")
        with open(tmp, "wb") as fh:
            fh.write(_bloom_build_v2(salt, enc))
        os.replace(tmp, os.path.join(bloom_root, fname))
        out[col] = fname
    return out


def _file_num_rows(abs_path: str):
    """The file's exact row count from its parquet footer (metadata
    only); None when unreadable."""
    import pyarrow.parquet as pq

    try:
        return int(pq.ParquetFile(abs_path).metadata.num_rows)
    except Exception:
        return None


def generation_row_count(path: str, at: int | str | None = None) -> int:
    """Exact COUNT(*) of a generation from METADATA alone — zero Spark
    jobs, zero data pages: per-file row counts are recorded in the
    manifest at publish (parquet footers are exact, and generation
    files are immutable); a file published before this field existed
    falls back to one footer read. The Iceberg move for the most
    common query there is — at 100 TB a dashboard's COUNT(*) should
    not launch a cluster job."""

    commitio.recover_index(path)
    m = load_manifest(path)
    if m is None:
        raise ValueError(f"{path!r} has no generation manifest")
    n = _resolve(m, path, at)
    g = m["gens"].get(str(n))
    if g is None:
        raise ValueError(
            f"generation {n} of {path!r} is not available "
            f"(retained: {sorted(int(k) for k in m['gens'])})"
        )
    root = path if g["root"] == "." else os.path.join(path, g["root"])
    stats = g.get("stats") or {}
    total = 0
    for rel in g["files"]:
        rows = (stats.get(rel) or {}).get("rows")
        if rows is None:
            rows = _file_num_rows(os.path.join(root, rel))
            if rows is None:
                raise ValueError(
                    f"cannot determine row count of {rel!r} in {path!r}"
                )
        # deletion vectors: the manifest records per-file deleted
        # counts, so the metadata-only COUNT(*) stays exact under
        # merge-on-read deletes
        total += int(rows) - _dv_count(g, rel)
    return total


def generation_column_bounds(
    path: str, col: str, at: int | str | None = None
) -> tuple:
    """Exact (min, max) of a column over a generation from METADATA
    alone — zero Spark jobs, zero data pages: the global min is the
    min of the recorded per-file footer minimums (files are immutable,
    footers fold all row groups, NULLs never enter parquet min/max —
    matching SQL MIN/MAX null-skipping). A file whose stats lack the
    column (written pre-stats, or all-NULL there) costs one footer
    re-read; if the footer also has nothing, the file provably holds
    no non-NULL values and contributes nothing. Returns (None, None)
    when no file holds a non-NULL value.

    Exactness caveat (documented, not hidden): parquet writers may
    TRUNCATE binary/string statistics on very long values — the
    recorded bounds stay VALID (writers widen the max when truncating)
    but are not guaranteed to be attained values, so treat string
    bounds as bounds; numeric/temporal stats are exact. The companion
    to generation_row_count: at 100 TB, 'what date range does this
    table cover' should not launch a cluster job."""

    commitio.recover_index(path)
    m = load_manifest(path)
    if m is None:
        raise ValueError(f"{path!r} has no generation manifest")
    n = _resolve(m, path, at)
    g = m["gens"].get(str(n))
    if g is None:
        raise ValueError(
            f"generation {n} of {path!r} is not available "
            f"(retained: {sorted(int(k) for k in m['gens'])})"
        )
    root = path if g["root"] == "." else os.path.join(path, g["root"])
    stats = g.get("stats") or {}
    lo = hi = None
    for rel in g["files"]:
        ent = ((stats.get(rel) or {}).get("cols") or {}).get(col)
        if ent is None:
            pv = _partition_values(rel)
            if col in pv:
                ent = [pv[col], pv[col]]
            else:
                ent = file_column_stats(os.path.join(root, rel)).get(col)
        if ent is None:
            continue  # no non-NULL values of col in this file
        mn, mx = ent[0], ent[1]
        lo = mn if lo is None or _stat_cmp(mn, lo) == -1 else lo
        hi = mx if hi is None or _stat_cmp(mx, hi) == 1 else hi
    return (lo, hi)


def _partition_values(rel: str) -> dict[str, str]:
    """Hive partition key=value segments of a relative file path —
    directory-encoded columns carry no footer stats, so equality
    pruning on them reads the path instead."""
    from urllib.parse import unquote

    out = {}
    for seg in rel.split(os.sep)[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            out[k] = unquote(v)
    return out


def _is_or_branch(term) -> bool:
    """A `where` element is either one (col, op, val) triple — ANDed —
    or a LIST of triples meaning OR of its branches (CNF). Detected
    structurally: a triple's first element is a column name string, a
    branch list's first element is itself a triple."""
    return (
        isinstance(term, (list, tuple))
        and len(term) > 0
        and isinstance(term[0], (list, tuple))
    )


_DATE_SHAPE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
_DATETIME_SHAPE = re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}")


def _stat_cmp(a, b) -> int | None:
    """Order two normalized stat/predicate values; None = not provably
    comparable, so the caller must KEEP the file (Spark's row filter
    would coerce where Python raises TypeError — a planner crash or a
    wrong prune are both worse than one kept file). The one shape
    mismatch normalization CAN fix exactly: a date-only ISO string
    against a datetime-shaped one (date column stats vs datetime
    predicate or vice versa) widens the date to midnight — precisely
    Spark's date→timestamp coercion — so a file whose max date equals
    the predicate's lower bound is no longer wrongly pruned by the
    lexicographic '1996-01-01' < '1996-01-01 00:00:00.000000'.
    Plain strings never widen (a string column may legitimately hold
    date-shaped values; raw comparison is Spark's string semantics)."""
    if isinstance(a, str) and isinstance(b, str):
        if _DATE_SHAPE.match(a) and _DATETIME_SHAPE.match(b):
            a = a + " 00:00:00.000000"
        elif _DATETIME_SHAPE.match(a) and _DATE_SHAPE.match(b):
            b = b + " 00:00:00.000000"
    try:
        if a < b:
            return -1
        if b < a:
            return 1
        return 0
    except TypeError:
        return None


def _lt(a, b) -> bool | None:
    c = _stat_cmp(a, b)
    return None if c is None else c < 0


def _le(a, b) -> bool | None:
    c = _stat_cmp(a, b)
    return None if c is None else c <= 0


def _file_matches(
    rel: str, stats: dict, where, blooms=None, bloom_load=None, renames=None
) -> bool:
    """Conservative containment test: False only when the file's footer
    bounds, partition-dir values, or bloom sidecars PROVE no row can
    satisfy the conjunction. Missing stats keep the file. Comparisons
    are null-rejecting (SQL semantics), so all-null columns — which
    carry no min/max — are never wrongly pruned: their files stay.
    An OR element prunes only when EVERY branch is provably empty.
    `renames` (round 13): a predicate on a RENAMED logical column
    translates to the physical name the file's stats/blooms were
    recorded under (lossless: retired names are never re-added) —
    without it, old files simply keep (conservative)."""
    parts = _partition_values(rel)
    for term in where:
        if _is_or_branch(term):
            if not any(
                _file_matches(rel, stats, [b], blooms, bloom_load, renames)
                for b in term
            ):
                return False
            continue
        col, op, val = term
        if renames and col not in parts and col not in stats:
            have = list(stats) + list(blooms or {}) + list(parts)
            col = _physical_name(col, have, renames) or col
        if col in parts:
            pv = parts[col]
            if op == "=" and str(val) != pv:
                return False
            if op == "in" and pv not in {str(v) for v in val}:
                return False
            continue
        # bloom probe: the only file-level evidence an equality on an
        # unclustered high-cardinality column can act on (every file's
        # min/max range covers every key)
        if op in ("=", "in") and blooms and bloom_load and col in blooms:
            blob = bloom_load(blooms[col])
            if blob is not None:
                probe = [val] if op == "=" else list(val)
                if not any(_bloom_probe(blob, v) for v in probe):
                    return False
        b = stats.get(col)
        if not b:
            continue
        mn, mx = b
        # every branch below prunes only on a PROVEN False — a
        # tri-state None (incomparable types: int stats vs str
        # predicate, which Spark's row filter would coerce but Python
        # cannot order) keeps the file
        if op == "between":
            lo, hi = _norm_stat(val[0]), _norm_stat(val[1])
            if lo is not None and _le(lo, mx) is False:
                return False
            if hi is not None and _le(mn, hi) is False:
                return False
            continue
        if op == "in":
            vs = [x for x in (_norm_stat(v) for v in val) if x is not None]
            if len(vs) == len(val) and all(
                _le(mn, v) is False or _le(v, mx) is False for v in vs
            ):
                return False
            continue
        v = _norm_stat(val)
        if v is None:
            continue
        if op == "=" and (_le(mn, v) is False or _le(v, mx) is False):
            return False
        if op == "<" and _lt(mn, v) is False:
            return False
        if op == "<=" and _le(mn, v) is False:
            return False
        if op == ">" and _lt(v, mx) is False:
            return False
        if op == ">=" and _le(v, mx) is False:
            return False
    return True


def _term_column(term):
    from pyspark.sql import functions as F

    if _is_or_branch(term):
        e = _term_column(term[0])
        for b in term[1:]:
            e = e | _term_column(b)
        return e
    col, op, val = term
    c = F.col(col)
    if op == "=":
        return c == F.lit(val)
    if op == "<":
        return c < F.lit(val)
    if op == "<=":
        return c <= F.lit(val)
    if op == ">":
        return c > F.lit(val)
    if op == ">=":
        return c >= F.lit(val)
    if op == "in":
        return c.isin(list(val))
    if op == "between":
        return (c >= F.lit(val[0])) & (c <= F.lit(val[1]))
    raise ValueError(f"unsupported predicate op {op!r}")


def _where_column(where):
    """The predicate as a pyspark Column — applied to the pruned scan
    so `read_generation(where=...)` is semantically a filtered read
    (pruning drops only provably-empty files; kept files still carry
    non-matching rows). AND of terms; a term that is itself a list of
    triples is the OR of its branches (CNF, mirroring
    `_file_matches`)."""
    from pyspark.sql import functions as F

    expr = F.lit(True)
    for term in where:
        expr = expr & _term_column(term)
    return expr


def load_manifest(path: str) -> dict | None:
    p = _gen_path(path)
    if not os.path.isfile(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def _save_manifest(path: str, manifest: dict) -> None:
    commitio.IO.save_json_atomic(_gen_path(path), manifest)


def generation_head(path: str) -> int:
    """The newest published generation (0 = nothing published yet)."""
    m = load_manifest(path)
    return int(m["head"]) if m else 0


def _resolve(m: dict, path: str, at) -> int:
    """A generation selector to a generation number: int passes
    through, None means head, a string names a TAG (resolved via the
    manifest's refs — Iceberg's `VERSION AS OF 'tag'`)."""
    if at is None:
        return int(m["head"])
    if isinstance(at, str):
        refs = m.get("refs") or {}
        if at not in refs:
            raise ValueError(
                f"no tag {at!r} on {path!r} (tags: {sorted(refs)})"
            )
        return int(refs[at])
    return int(at)


def generation_at_timestamp(path: str, ts: float) -> int:
    """Time travel by WALL CLOCK (Iceberg's `AS OF TIMESTAMP`): the
    newest generation whose publish time is <= `ts` (a POSIX
    timestamp). Raises if every retained generation is newer — the
    moment asked about has aged out of retention (tag what you need
    to keep, or raise GEN_TTL/GEN_RETAIN)."""
    m = load_manifest(path)
    if m is None:
        raise ValueError(f"{path!r} has no generation manifest")
    best = None
    for k, g in m["gens"].items():
        if float(g.get("created", 0.0)) <= ts and (
            best is None or int(k) > best
        ):
            best = int(k)
    if best is None:
        oldest = min(
            (float(g.get("created", 0.0)) for g in m["gens"].values()),
            default=None,
        )
        raise ValueError(
            f"no retained generation of {path!r} is as old as ts={ts} "
            f"(oldest retained was published at {oldest}); the moment "
            "has aged out — tag snapshots you need to keep"
        )
    return best


_TAG_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_.\-]*$")


def tag_generation(path: str, name: str, at: int | None = None) -> int:
    """Pin generation `at` (head when None) under a NAME that (a)
    resolves in every reader (`read_generation(..., at=name)`) and (b)
    BLOCKS retention expiry until dropped — the Iceberg tag/ref rule.
    The TTL policy gives pinned readers a wall-clock guarantee; a tag
    gives an open-ended one (a week-long training run pins its input
    by name, ingest and compaction churn freely). Taken under the
    artifact's writer flock: manifest updates are read-modify-write."""

    if not _TAG_RE.match(name):
        raise ValueError(f"invalid tag name {name!r}")
    with commitio.IO.writer_lock(path):
        m = load_manifest(path)
        if m is None:
            raise ValueError(f"{path!r} has no generation manifest")
        gen = _resolve(m, path, at)
        if str(gen) not in m["gens"]:
            raise ValueError(
                f"generation {gen} of {path!r} is not available "
                f"(retained: {sorted(int(k) for k in m['gens'])})"
            )
        m.setdefault("refs", {})[name] = gen
        _save_manifest(path, m)
    return gen


def drop_tag(path: str, name: str) -> None:
    """Release a tag; its generation re-enters normal TTL retention
    (pruned at the next publish once aged out, not immediately)."""

    with commitio.IO.writer_lock(path):
        m = load_manifest(path)
        if m is not None and name in (m.get("refs") or {}):
            del m["refs"][name]
            _save_manifest(path, m)


def list_tags(path: str) -> dict[str, int]:
    m = load_manifest(path)
    return dict((m or {}).get("refs") or {})


def create_savepoint(paths: list[str], name: str) -> dict[str, int]:
    """A cross-store SAVEPOINT: tag the current head of every store in
    `paths` with one shared name, so a multi-artifact consumer (a
    training job reading tokens + index + vectors) can pin all its
    inputs under a single handle and read each with
    `read_generation(..., at=name)`. Stores are tagged in sorted-path
    order (deterministic; no cross-store lock ordering hazard — each
    tag takes only its own store's flock). The guarantee is per-store
    snapshot isolation under one name, not a cross-store barrier:
    each store pins whatever its head was at tag time, and writers
    that publish AFTER their store is tagged never move the pin."""
    out = {}
    for p in sorted(paths):
        out[p] = tag_generation(p, name)
    return out


def drop_savepoint(paths: list[str], name: str) -> None:
    for p in sorted(paths):
        drop_tag(p, name)


def _link_tree(src_root: str, rels: list[str], dst_root: str) -> None:
    for rel in rels:
        dst = os.path.join(dst_root, rel)
        if os.path.exists(dst):
            # immutable-from-birth files never need re-placing; under
            # optimistic concurrency a competing publish may have
            # already snapshotted a shared rel (same bytes) — an
            # overwrite would race its pinned readers for nothing
            continue
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        commitio.IO.link_or_copy(os.path.join(src_root, rel), dst)


def _expired(gens: dict, refs: dict | None = None) -> list[str]:
    """Keys to drop under the retention policy: never the newest
    GEN_RETAIN, never a generation a named TAG points at (Iceberg's
    refs rule: a tag blocks expiry until dropped); beyond those, only
    generations older than GEN_TTL_SECONDS."""
    import time

    newest = set(sorted((int(k) for k in gens), reverse=True)[:GEN_RETAIN])
    tagged = {int(g) for g in (refs or {}).values()}
    now = time.time()
    return [
        k
        for k in gens
        if int(k) not in newest
        and int(k) not in tagged
        and now - float(gens[k].get("created", 0.0)) > GEN_TTL_SECONDS
    ]


class SchemaEvolutionError(ValueError):
    """A writer's batch schema is incompatible with the store's
    declared schema under the requested schema_mode."""


# Lossless primitive promotions an EVOLVE append may declare for an
# existing column (Iceberg's type-promotion table, the subset that is
# exactly representable): integer chain upward, float->double.
_WIDEN_ORDER = {"byte": 0, "short": 1, "integer": 2, "long": 3}


def _canon_type(t):
    """A field type's canonical comparison form: nullability and
    metadata stripped recursively (two writers of the SAME logical
    schema routinely disagree on nullable flags — createDataFrame says
    nullable, range() says not — and that must not read as drift)."""
    if isinstance(t, dict):
        return {
            k: _canon_type(v)
            for k, v in t.items()
            if k
            not in ("nullable", "metadata", "containsNull", "valueContainsNull")
        }
    if isinstance(t, list):
        return [_canon_type(x) for x in t]
    return t


def _schema_fields(sj: dict) -> dict[str, object]:
    """{name: canonical type} of a recorded schema json."""
    return {f["name"]: _canon_type(f["type"]) for f in sj["fields"]}


def _type_widens(old_t, new_t) -> bool:
    """May a column recorded as `old_t` be served as `new_t`? Only the
    lossless primitive promotions qualify."""
    if not isinstance(old_t, str) or not isinstance(new_t, str):
        return False
    if old_t in _WIDEN_ORDER and new_t in _WIDEN_ORDER:
        return _WIDEN_ORDER[old_t] < _WIDEN_ORDER[new_t]
    return old_t == "float" and new_t == "double"


def retired_names(m: dict | None) -> set[str]:
    """Physical column names RETIRED by a declared rename (the values
    of the manifest's one-step {new: old} rename chain): these names
    can never be re-added to the store — old files' footers still
    carry them meaning the RENAMED column, so a new column reusing one
    would silently alias historical data (the name-reuse hazard
    Iceberg solves with field ids; this repo solves it by refusing)."""
    return set(((m or {}).get("renames") or {}).values())


def check_schema_evolution(
    declared: dict | None,
    new_sj: dict,
    schema_mode: str = "strict",
    retired: set[str] | None = None,
) -> dict:
    """Validate a writer's batch schema against the store's DECLARED
    head schema and return the schema json to record with the publish.

    - declared None (store predates schema tracking, or first write):
      adopt the batch schema as the baseline.
    - identical field mapping (name -> canonical type; column ORDER
      and nullability never matter — parquet is name-addressed):
      return the declared json so the recorded schema id is reused.
    - differs under "strict": raise — the single most common silent
      lakehouse corruption is a producer drifting its schema into a
      shared table unannounced.
    - differs under "evolve": allow ADDED columns (old files serve
      NULL) and WIDENED primitives (byte<short<integer<long,
      float->double; old files' values cast losslessly on read);
      dropped columns and any other type change raise — removals need
      `drop_columns`, renames `rename_columns`, lossy type changes a
      full rewrite, never an append. An added column whose name a past
      RENAME retired is refused too (`retired` — see retired_names)."""
    if schema_mode not in ("strict", "evolve"):
        raise ValueError(
            f"schema_mode must be strict|evolve, got {schema_mode!r}"
        )
    if declared is None:
        return new_sj
    old_f, new_f = _schema_fields(declared), _schema_fields(new_sj)
    if old_f == new_f:
        return declared
    problems = []
    for name, ot in old_f.items():
        if name not in new_f:
            problems.append(
                f"column {name!r} dropped (an explicit rewrite: use "
                "drop_columns to remove it, rename_columns if this is "
                "a rename)"
            )
        elif new_f[name] != ot and not _type_widens(ot, new_f[name]):
            problems.append(
                f"column {name!r} changed {ot!r} -> {new_f[name]!r} "
                "(not a lossless widening)"
            )
    added = sorted(set(new_f) - set(old_f))
    for a in added:
        if a in (retired or set()):
            problems.append(
                f"column {a!r} re-adds a name a past rename retired "
                "(old files' footers still carry it meaning the "
                "renamed column); pick a different name"
            )
    if schema_mode == "strict":
        drift = problems + [
            f"column {a!r} added"
            for a in added
            if a not in (retired or set())
        ]
        raise SchemaEvolutionError(
            "batch schema differs from the store's declared schema "
            f"({'; '.join(drift)}); pass schema_mode='evolve' to accept "
            "additive/widening changes"
        )
    if problems:
        raise SchemaEvolutionError(
            "schema evolution rejected: " + "; ".join(problems)
        )
    return new_sj


def _register_schema(m: dict, sj: dict) -> int:
    """Record `sj` in the manifest's schema table (top-level `schemas`
    — survives retention like the bookmark map) and return its id;
    json-equal schemas reuse their id, so schema-stable stores carry
    exactly one entry forever."""
    schemas = m.setdefault("schemas", {})
    canon = json.dumps(_canon_type(sj), sort_keys=True)
    for k, v in schemas.items():
        if json.dumps(_canon_type(v), sort_keys=True) == canon:
            return int(k)
    sid = 1 + max((int(k) for k in schemas), default=0)
    schemas[str(sid)] = sj
    return sid


def declared_schema(m: dict | None) -> dict | None:
    """The head generation's recorded schema json (None when the store
    predates schema tracking)."""
    if not m:
        return None
    e = m["gens"].get(str(m.get("head", 0)))
    sid = (e or {}).get("schema_id")
    if sid is None:
        return None
    return (m.get("schemas") or {}).get(str(sid))


def schema_history(path: str) -> dict:
    """The store's schema lineage from ONE manifest read:
    {"schemas": {id: {name: typeName}}, "generations": {gen:
    schema_id}} — which schema each retained generation declared and
    what each version looks like. None-valued generations predate
    schema tracking. The describe_generations companion for the
    evolution tier."""
    m = load_manifest(path)
    if m is None:
        raise ValueError(f"{path!r} has no generation manifest")
    schemas = {
        int(k): {f["name"]: f["type"] for f in v["fields"]}
        for k, v in (m.get("schemas") or {}).items()
    }
    gens = {
        int(k): g.get("schema_id") for k, g in m["gens"].items()
    }
    return {"schemas": schemas, "generations": gens}


def drop_columns(spark: SparkSession, path: str, cols: list[str]) -> int:
    """Remove columns from a generations store — the schema change an
    EVOLVE append deliberately refuses (a drop silently changes what
    existing rows mean under append semantics; it must be an explicit
    REWRITE). Copy-on-write: the head listing is read RECONCILED
    (mixed-schema stores fold to one version here, same as OPTIMIZE),
    rewritten without the dropped columns behind the standard staged
    swap, and the NARROWED schema is registered with the publish —
    pinned readers of earlier generations keep the wide snapshots
    (their immutable files and their recorded schemas both survive
    retention). Hive partition columns are refused (dropping one
    means re-laying out the store — use optimize_store with a new
    layout first). Returns the new head generation."""
    if not cols:
        raise ValueError("drop_columns requires at least one column")
    with _locked_head(path, "drop columns from") as (m, head, _live):
        g = m["gens"][str(head)]
        rels = g["files"]
        part_cols = sorted(
            {k for rel in rels for k in _partition_values(rel)}
        )
        bad = [c for c in cols if c in part_cols]
        if bad:
            raise ValueError(
                f"cannot drop partition column(s) {bad} of {path!r}; "
                "re-layout with optimize_store first"
            )
        # the SHARED listing reader (r12 advice, high): schema
        # reconciliation AND deletion-vector filtering — a plain or
        # reconciled-only read here would rewrite the physical rows of
        # DV-bearing files and publish a vector-free head, silently
        # resurrecting every DV-deleted row (all sibling rewrite verbs
        # read through _read_listing; this one was the gap)
        df = _read_listing(spark, path, g, m, rels, path)
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(
                f"columns {missing} not in {path!r}'s schema "
                f"({df.columns})"
            )
        if len(cols) >= len(df.columns):
            raise ValueError("cannot drop every column of a store")
        out = df.drop(*cols)

        def write(staging: str) -> None:
            w = out.write.mode("overwrite")
            if part_cols:
                w = w.partitionBy(*part_cols)
            w.parquet(staging)

        staged_rewrite(
            path,
            write,
            "mri_dropcols_",
            spark=spark,
            schema=out.schema.jsonValue(),
        )
    return generation_head(path)


def rename_columns(spark: SparkSession, path: str, mapping: dict[str, str]) -> int:
    """RENAME columns of a generations store — METADATA-ONLY (round
    13): no file is rewritten. Parquet is name-addressed, so a rename
    spelled as drop+add would make old files silently serve NULL for
    the new name, losing history; instead the manifest records a
    {new: old} step in its rename chain and registers the renamed
    schema with a new metadata-only generation (same listing, same
    deletion vector). Readers resolve a logical column missing from an
    old file group through the chain (`_physical_name` inside
    `_aligned_cols`), so pre-rename files serve their data under the new
    name, cast/projected exactly like any other reconciled read;
    pinned pre-rename generations keep their old shape (their declared
    schemas still carry the old name). File-skipping stays lossless:
    predicate pruning translates a renamed logical column to the
    physical name footer stats were recorded under.

    The soundness invariant the chain rests on: a RETIRED physical
    name can never re-enter the schema — `check_schema_evolution`
    refuses an added column named like one, and this verb refuses a
    `new` name that collides with a live column or a retired name
    (the name-reuse hazard Iceberg solves with field ids). Hive
    partition columns are refused (directory-encoded names are
    physical paths — re-layout with optimize_store first). Returns
    the new head generation.

    Reference basis: none (the reference has no schema at all,
    SURVEY.md §2.12); Iceberg RENAME COLUMN is the public shape
    (field-id indirection), reduced to a name-chain + reuse guard on
    this repo's manifest."""

    if not mapping:
        raise ValueError("rename_columns requires at least one mapping")
    for old, new in mapping.items():
        if not _TAG_RE.match(new or ""):
            raise ValueError(f"invalid column name {new!r}")
        if old == new:
            raise ValueError(f"rename {old!r} -> {new!r} is a no-op")
    with _locked_head(path, "rename") as (m, head, _live):
        declared = declared_schema(m)
        if declared is None:
            # stores predating schema tracking: adopt the current
            # physical schema as the baseline first, then rename
            g = m["gens"][str(head)]
            root = path if g["root"] == "." else os.path.join(path, g["root"])
            declared = (
                spark.read.option("basePath", root)
                .parquet(*[os.path.join(root, r) for r in g["files"]])
                .schema.jsonValue()
            )
        names = [f["name"] for f in declared["fields"]]
        part_cols = {
            k
            for rel in m["gens"][str(head)]["files"]
            for k in _partition_values(rel)
        }
        retired = retired_names(m)
        for old, new in mapping.items():
            if old not in names:
                raise ValueError(
                    f"column {old!r} not in {path!r}'s schema ({names})"
                )
            if old in part_cols:
                raise ValueError(
                    f"cannot rename partition column {old!r}; re-layout "
                    "with optimize_store(partition_by=...) first"
                )
        targets = list(mapping.values())
        if len(set(targets)) != len(targets):
            raise ValueError("rename targets collide with each other")
        surviving = [n for n in names if n not in mapping]
        # every old name retires WITH this verb, so a target colliding
        # with one (the a->b, b->c swap shape) is refused too — a name
        # that is simultaneously retired and live would make physical
        # short-circuiting in the chain serve the wrong column
        now_retired = retired | set(mapping)
        for new in targets:
            if new in surviving:
                raise ValueError(
                    f"column {new!r} already exists in {path!r}"
                )
            if new in now_retired:
                raise ValueError(
                    f"column name {new!r} is retired by a rename (old "
                    "files' footers still carry it); pick another"
                )
        new_sj = json.loads(json.dumps(declared))  # deep copy
        for f in new_sj["fields"]:
            if f["name"] in mapping:
                f["name"] = mapping[f["name"]]
        renames = dict(m.get("renames") or {})
        for old, new in mapping.items():
            renames[new] = old
        return _publish(
            path,
            head + 1,
            m,
            add_files=[],  # metadata-only: same listing, same vector
            schema=new_sj,
            manifest_extra={"renames": renames},
        )


def store_schema(path: str, at: int | str | None = None):
    """The declared schema of generation `at` (head when None) as a
    pyspark StructType — one manifest read, no footer opens. None when
    that generation predates schema tracking."""
    from pyspark.sql.types import StructType

    m = load_manifest(path)
    if m is None:
        return None
    g = m["gens"].get(str(_resolve(m, path, at)))
    sid = (g or {}).get("schema_id")
    if sid is None:
        return None
    sj = (m.get("schemas") or {}).get(str(sid))
    return StructType.fromJson(sj) if sj else None


DV_DIR = "_dv"  # deletion-vector sidecars (underscore: invisible to scans)
# Broadcast guard for the DV read path (round 13): a deletion-vector
# sidecar is broadcast to every task only while it is provably small.
# Above this row count (~50 MB at (file_name, row_index) widths) the
# anti-join degrades to a SHUFFLE hash join instead — at a 100 TB
# store with a few percent of rows deleted, an unconditional broadcast
# of a multi-hundred-million-row sidecar is an executor OOM, not a
# slowdown. The companion policy trigger (set_compaction_policy's
# max_deleted_ratio / max_dv_rows) is what keeps vectors from ever
# GETTING that large on a maintained store; this guard is the backstop
# for the window before the fold fires.
DV_BROADCAST_MAX_ROWS = 1_000_000


def _dv_write_partitions(n_rows: int) -> int:
    """Sidecar file count for an n_rows deletion vector: one file while
    the vector is broadcast-sized, one file per DV_BROADCAST_MAX_ROWS
    above that — so a single huge correction batch does not funnel its
    whole vector through one write task (the reader already reads the
    sidecar directory, so the file count is invisible to queries)."""
    return max(1, -(-n_rows // DV_BROADCAST_MAX_ROWS))


def _dv_refs(gens: dict) -> set[str]:
    """Sidecar directories some retained generation's deletion vector
    references (GC protection, same shape as _bloom_refs)."""
    return {
        g["dv"]["file"] for g in gens.values() if g.get("dv")
    }


def _dv_count(g: dict, rel: str) -> int:
    """Rows deleted from `rel` by generation g's deletion vector (0
    when none) — keyed by BASENAME, which is invariant across snapshot
    relocation (hardlinks/copies keep names)."""
    return int(
        ((g.get("dv") or {}).get("per_file") or {}).get(
            os.path.basename(rel), 0
        )
    )


def _dv_side_hinted(side: DataFrame, dv_rows: int | None) -> DataFrame:
    """The sidecar frame with the join strategy the vector's SIZE
    justifies: broadcast while provably small (deleted-rows-sized, no
    shuffle of the data side), SHUFFLE hash join above
    DV_BROADCAST_MAX_ROWS — a huge vector degrades to an exchange
    instead of an executor OOM. `dv_rows` is the manifest's recorded
    vector row count (metadata-exact); None = unknown = conservative
    shuffle."""
    if dv_rows is not None and 0 <= dv_rows <= DV_BROADCAST_MAX_ROWS:
        return F.broadcast(side)
    return side.hint("shuffle_hash")


def _dv_anti(df: DataFrame, side: DataFrame, dv_rows: int | None = None) -> DataFrame:
    """Drop the rows a deletion-vector sidecar names: anti-join on the
    parquet reader's (file_name, row_index) metadata — positions are
    stable because generation files are immutable. The sidecar is
    broadcast while small (the common case: the filter costs no
    shuffle of the data side) and shuffle-joined above the broadcast
    guard (see _dv_side_hinted)."""
    cols = df.columns
    keyed = df.select(
        "*",
        F.col("_metadata.file_name").alias("__dv_f"),
        F.col("_metadata.row_index").alias("__dv_p"),
    )
    side = _dv_side_hinted(side, dv_rows)
    out = keyed.join(
        side,
        (keyed["__dv_f"] == side["fname"]) & (keyed["__dv_p"] == side["pos"]),
        "left_anti",
    )
    return out.select(*cols)


def _read_listing(
    spark: SparkSession,
    root: str,
    g: dict,
    m: dict,
    rels: list[str],
    store_path: str,
) -> DataFrame:
    """THE generation-listing reader every verb shares: schema-group
    reconciliation composed with deletion-vector filtering
    (merge-on-read DELETE), both through `_read_groups`. Fast path
    preserved: a schema-uniform (or untracked), DV-free listing is one
    plain basePath read — byte-for-byte the pre-evolution plan."""
    dv = g.get("dv")
    if dv and any(_dv_count(g, r) > 0 for r in rels):
        side = spark.read.parquet(os.path.join(store_path, dv["file"]))
        return _read_groups(spark, root, g, m, rels, side=side)
    sid = g.get("schema_id")
    stats = g.get("stats") or {}
    if (
        sid is None
        or str(sid) not in (m.get("schemas") or {})
        or {(stats.get(r) or {}).get("schema_id") for r in rels} <= {sid}
    ):
        return spark.read.option("basePath", root).parquet(
            *[os.path.join(root, r) for r in rels]
        )
    return _read_groups(spark, root, g, m, rels)


def _read_groups(
    spark: SparkSession,
    root: str,
    g: dict,
    m: dict,
    rels: list[str],
    side: DataFrame | None = None,
    positions: bool = False,
) -> DataFrame:
    """The schema-evolution read: group `rels` by the schema each file
    was WRITTEN under (the manifest's per-file schema_id stamps — zero
    footer opens to find out), read each group as its own parquet scan
    under that schema, align it to generation g's DECLARED schema
    (null-fill added columns, cast widened ones, follow renames) and
    union by name. Group count is the number of schema VERSIONS live in
    the listing (tiny by construction: a compaction folds everything
    back to one), so the union adds no per-file planning cost and each
    group's scan prunes/pushes down independently.

    `side` (g's deletion-vector sidecar) drops the vector's rows from
    every group holding deleted positions. `positions=True` instead
    leads each row with its physical (fname, pos) — what the
    deletion-vector verbs match against."""
    from pyspark.sql.types import StructType

    sid = g.get("schema_id")
    schemas = m.get("schemas") or {}
    sj = schemas.get(str(sid)) if sid is not None else None
    target = StructType.fromJson(sj) if sj else None
    stats = g.get("stats") or {}
    groups: dict[object, list[str]] = {}
    for rel in rels:
        fsid = (stats.get(rel) or {}).get("schema_id")
        groups.setdefault(fsid, []).append(rel)
    out = None
    for fsid, fs in sorted(
        groups.items(), key=lambda kv: (kv[0] is None, kv[0] or 0)
    ):
        r = spark.read.option("basePath", root)
        gsj = schemas.get(str(fsid)) if fsid is not None else None
        if gsj is not None:
            # read the group under the schema its files were WRITTEN
            # with (no footer sampling, no first-file ordering hazard)
            r = r.schema(StructType.fromJson(gsj))
        df = r.parquet(*[os.path.join(root, f) for f in fs])
        if side is not None and any(_dv_count(g, f) > 0 for f in fs):
            df = _dv_anti(df, side, int(g["dv"].get("rows") or 0))
        cols = (
            _aligned_cols(df, target, m.get("renames"))
            if target is not None
            else None
        )
        if positions:
            df = df.select(
                F.col("_metadata.file_name").alias("fname"),
                F.col("_metadata.row_index").alias("pos"),
                *(cols or df.columns),
            )
        elif cols is not None:
            df = df.select(*cols)
        out = df if out is None else out.unionByName(df)
    return out


def store_layout(m: dict | None, path: str) -> list[str] | None:
    """The store's CURRENT partition layout: sorted partition-column
    names of the head listing (manifest when present, live scan
    otherwise); None when the store holds no data yet (the first
    append defines the layout)."""
    if m is not None:
        g = m["gens"].get(str(m.get("head", 0)))
        rels = (g or {}).get("files") or []
    else:
        rels = _data_files(path) if os.path.isdir(path) else []
    if not rels:
        return None
    return sorted({k for rel in rels for k in _partition_values(rel)})


def check_layout(
    m: dict | None, path: str, partition_by: list[str] | None
) -> None:
    """Refuse an append whose partition layout differs from the
    store's: Spark cannot plan ONE parquet relation over
    conflicting directory structures, so a mismatched append does not
    just read oddly — it makes every subsequent head read fail with
    'Conflicting directory structures detected'. The guard turns the
    corruption into a loud refusal; changing a store's layout is a
    REWRITE (`optimize_store(partition_by=[...])`, which re-lands the
    data under the new scheme while pinned generations keep their
    old-layout snapshots)."""
    have = store_layout(m, path)
    want = sorted(partition_by or [])
    if have is not None and have != want:
        raise ValueError(
            f"append layout {want or 'unpartitioned'} conflicts with "
            f"{path!r}'s existing layout {have or 'unpartitioned'}; "
            "mixed layouts make the store unreadable — re-layout with "
            "optimize_store(partition_by=[...]) first"
        )


def check_append(
    m: dict | None,
    path: str,
    df: DataFrame,
    schema_mode: str,
    partition_by: list[str] | None,
) -> dict | None:
    """The schema and layout guard of an append of `df` over manifest
    `m`: schema_mode "strict" rejects schema drift; "evolve" accepts
    added columns and lossless widenings and returns the schema to
    record with the publish (readers reconcile mixed listings — see
    _read_groups). A mismatched partition_by would make every later
    read fail on conflicting directory structures."""
    sj = check_schema_evolution(
        declared_schema(m), df.schema.jsonValue(), schema_mode, retired_names(m)
    )
    check_layout(m, path, partition_by)
    return sj


def check_batch_layout(
    path: str, flat: tuple[str, ...], checkpointed: bool, batch_id=None
) -> None:
    """The layout guard of the checkpointed streaming sinks and the raw
    appends beside them. A checkpointed ingest writes
    `batch=<id>/<flat>=*`, a raw append and a compaction write flat
    `<flat>=*` partitions (`flat` names the partition prefixes), and
    the two mixed on one path make every later read — compaction's
    included — fail with 'Conflicting directory structures'. Sinks run
    it once before the stream starts and again per batch under the
    writer lock (`batch_id` set): the lock admits a compaction between
    microbatches, which folds the batched layout flat."""
    entries = os.listdir(path) if os.path.isdir(path) else []
    names = "/".join(f"{p}*" for p in flat)
    if checkpointed and any(e.startswith(flat) for e in entries):
        if batch_id is not None:
            raise ValueError(
                f"{path!r} was compacted to the flat {names} layout while "
                "this checkpointed ingest was running; writing "
                f"batch={batch_id} beside it would corrupt partition "
                "discovery. Restart the ingest with a fresh checkpoint "
                "against the compacted store."
            )
        raise ValueError(
            f"{path!r} holds a flat {names} store (raw-append or "
            "compacted layout); resuming it checkpointed would write the "
            "incompatible batch=<id> layout beside it. Use a fresh path."
        )
    if not checkpointed and any(e.startswith("batch=") for e in entries):
        raise ValueError(
            f"{path!r} holds a checkpointed batch=<id> store; a raw "
            "append would corrupt its partition discovery. Compact it "
            "first (compaction folds the batched layout flat), or keep "
            "appending through the checkpointed streaming ingest."
        )


def reachable_files(m: dict | None) -> set[str]:
    """Every top-level data file some RETAINED generation's listing
    references: the head's files, plus the files of any generation
    pinned at root "." (legacy manifests where the top-level files ARE
    the snapshot — no `_gen/` copy exists, so deleting them breaks
    that generation's pinned/time-travel readers). live-minus-THIS set
    is crash residue; live-minus-head alone is not (r11 advice: the
    pipeline orphan sweep and the gated-idempotency redo cleanup both
    used the narrower set)."""
    if m is None:
        return set()
    head_entry = m["gens"].get(str(m.get("head", 0)))
    out = set(head_entry["files"]) if head_entry else set()
    for g in m["gens"].values():
        if g["root"] == ".":
            out |= set(g["files"])
    return out


def _bloom_refs(gens: dict) -> set[str]:
    return {
        f
        for g in gens.values()
        for e in (g.get("stats") or {}).values()
        for f in (e.get("bloom") or {}).values()
    }


def _prune_entries(m: dict) -> list[str]:
    """Drop expired generations from the manifest DICT only; return
    the snapshot roots no surviving generation references. Physical
    deletion is the caller's SECOND step, taken only after the
    manifest save commits — under a CAS backend the save can lose
    (CommitConflict), and a loser that had already rmtree'd snapshot
    roots would have destroyed state the WINNER's committed manifest
    may still reference (r11 advice: a TTL-boundary divergence between
    racing writers)."""
    drop_roots = []
    for k in _expired(m["gens"], m.get("refs")):
        root = m["gens"][k]["root"]
        del m["gens"][k]
        if root not in {g["root"] for g in m["gens"].values()}:
            drop_roots.append(root)
    return drop_roots


def _prune_physical(path: str, m: dict, drop_roots: list[str]) -> None:
    """Remove the snapshot dirs `_prune_entries` unreferenced (and any
    bloom sidecars no surviving generation references). Called only
    AFTER the manifest recording the drops has committed. Hardlinks
    mean live data is untouched."""
    for root in drop_roots:
        shutil.rmtree(os.path.join(path, root), ignore_errors=True)
    bdir = os.path.join(path, BLOOM_DIR)
    if drop_roots and os.path.isdir(bdir):
        live = _bloom_refs(m["gens"])
        for f in os.listdir(bdir):
            if f not in live and not f.endswith(".tmp"):
                try:
                    os.remove(os.path.join(bdir, f))
                except OSError:
                    pass
    dvdir = os.path.join(path, DV_DIR)
    if drop_roots and os.path.isdir(dvdir):
        live_dv = {os.path.basename(r) for r in _dv_refs(m["gens"])}
        for d in os.listdir(dvdir):
            if d not in live_dv:
                shutil.rmtree(os.path.join(dvdir, d), ignore_errors=True)


# Publish-side stats build fan-out thresholds: below THREAD_MIN files
# the loop runs inline (pool setup isn't free); at or above SPARK_MIN
# files — a bulk load — and with a session supplied, the build runs
# as ONE Spark job over the new-file list, so footer stats and bloom
# sidecars are computed by executor tasks instead of the writer
# process (the round-9 weak mark: a thousand-file publish serialized
# through one process, with a per-row Python hash loop on top).
STATS_THREAD_MIN_FILES = 4
STATS_SPARK_MIN_FILES = 256  # measured crossover: at 128 files the
# job-submission overhead still loses to the thread pool (1.7 s vs
# 0.8 s); at 1024 files the job wins 7x (0.63 s vs 4.6 s) —
# tools/bloom_scale.py, re-recorded round 10


def _stats_entry(
    data_root: str,
    rel: str,
    size: int,
    bloom_cols: list[str] | None,
    bloom_root: str | None,
) -> dict:
    """The per-NEW-file unit of publish-side stats work: footer
    min/max + exact row count (metadata-only) plus, when bloom columns
    are configured, the projected column read and vectorized sidecar
    build. Module-level and self-contained so it runs identically
    inline, on a thread pool, or inside a Spark task (the sidecar
    write is tmp+rename on storage shared with the writer — same-host
    local FS here, shared object storage on a real cluster)."""
    import hashlib

    p = os.path.join(data_root, rel)
    entry = {
        "size": size,
        "rows": _file_num_rows(p),
        "cols": file_column_stats(p),
        "nulls": file_null_counts(p),
    }
    if bloom_cols and bloom_root is not None:
        base = hashlib.md5(f"{rel}::{size}".encode("utf-8")).hexdigest()[:20]
        b = _build_file_blooms(p, list(bloom_cols), bloom_root, base)
        if b:
            entry["bloom"] = b
    return entry


def _collect_stats(
    data_root: str,
    rels: list[str],
    prior: dict,
    bloom_cols: list[str] | None = None,
    bloom_root: str | None = None,
    spark: SparkSession | None = None,
) -> dict:
    """{rel: {"size": bytes, "rows": n, "cols": {col: [min, max]},
    "bloom": {col: sidecar}}} for a file listing. Files are immutable
    once written, so stats (and bloom references) already recorded for
    the same rel (size-verified) carry forward without touching the
    file — per publish, only the NEW files cost a footer read plus, if
    bloom columns are configured, one projected read of those columns.
    NEW files fan out: thread pool by default (pyarrow parquet reads
    release the GIL), one Spark job over the file list for bulk
    publishes when a session is supplied (tools/bloom_scale.py records
    the scaling)."""
    out = {}
    new: list[tuple[str, int]] = []
    for rel in rels:
        p = os.path.join(data_root, rel)
        try:
            size = os.stat(p).st_size
        except OSError:
            continue
        prev = prior.get(rel)
        if prev is not None and prev.get("size") == size:
            out[rel] = prev
        else:
            new.append((rel, size))
    if not new:
        return out
    bc = list(bloom_cols) if bloom_cols else None
    if spark is not None and len(new) >= STATS_SPARK_MIN_FILES:
        n_slices = min(len(new), 64)
        computed = (
            spark.sparkContext.parallelize(new, n_slices)
            .map(
                lambda t: (
                    t[0],
                    _stats_entry(data_root, t[0], t[1], bc, bloom_root),
                )
            )
            .collect()
        )
        out.update(dict(computed))
    elif len(new) >= STATS_THREAD_MIN_FILES:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(new))) as ex:
            entries = list(
                ex.map(
                    lambda t: _stats_entry(
                        data_root, t[0], t[1], bc, bloom_root
                    ),
                    new,
                )
            )
        for (rel, _size), entry in zip(new, entries):
            out[rel] = entry
    else:
        for rel, size in new:
            out[rel] = _stats_entry(data_root, rel, size, bc, bloom_root)
    return out


def _prior_stats(gens: dict) -> dict:
    prior: dict = {}
    for k in sorted(gens, key=int):
        prior.update(gens[k].get("stats") or {})
    return prior


def _publish(
    path: str,
    head: int,
    m: dict,
    spark: SparkSession | None = None,
    entry_extra: dict | None = None,
    manifest_extra: dict | None = None,
    add_files: list[str] | None = None,
    schema: dict | None = None,
) -> int:
    """Hardlink the live listing into `_gen/g{head}` and record it —
    the generation's file paths are immutable from this moment on.
    `entry_extra` merges caller metadata (an expectations audit, a
    pipeline's consumed-span bookmark) into the generation entry
    INSIDE the same manifest save — one atomic record, so a crash can
    never leave a published generation separated from its metadata.
    `manifest_extra` merges top-level keys the same way — for state
    that must OUTLIVE retention (generation entries expire with their
    generations; e.g. the pipeline bookmark map).

    `add_files` switches the listing from the DIRECTORY SCAN (the
    locked verbs' semantic: a generation is a snapshot of the live
    state, which the flock guarantees is exactly head + this verb's
    writes) to the PRECISE form `head files + add_files` — required by
    optimistic appends, where the directory may also hold another
    writer's in-flight placements or a crashed writer's residue, and
    folding either into the listing would publish rows whose writer
    never committed (phantoms that duplicate on its retry)."""
    import time

    if add_files is not None:
        prev = m["gens"].get(str(m.get("head", 0)))
        rels = sorted(set(prev["files"] if prev else []) | set(add_files))
    else:
        rels = _data_files(path)
    root = os.path.join(GEN_DIR, f"g{head}")
    _link_tree(path, rels, os.path.join(path, root))
    prev_entry = m["gens"].get(str(m.get("head", 0)))
    prev_sid = (prev_entry or {}).get("schema_id")
    stats = _collect_stats(
        path,
        rels,
        _prior_stats(m["gens"]),
        m.get("bloom_cols"),
        os.path.join(path, BLOOM_DIR),
        spark=spark,
    )
    m["head"] = head
    entry = {
        "root": root,
        "files": rels,
        "created": time.time(),
        "stats": stats,
        **(entry_extra or {}),
    }
    if (
        prev_entry is not None
        and prev_entry.get("dv")
        and "dv" not in entry
    ):
        # deletion vectors CARRY across appends: the old files (and
        # their deleted positions) are still in the new listing — a
        # publish that dropped the vector would resurrect the rows.
        # Rewrites (carry_generations) fold vectors away instead.
        entry["dv"] = prev_entry["dv"]
    prev_files = set(prev_entry["files"]) if prev_entry else set()
    new_rels = (
        set(add_files) if add_files is not None else set(rels) - prev_files
    )
    if schema is not None:
        # SCHEMA EVOLUTION (round 12): record the declared schema per
        # generation (top-level `schemas` table + entry `schema_id`)
        # and stamp each file's stats entry with the schema it was
        # WRITTEN under — files NEW in this publish get this publish's
        # id, carried entries keep theirs, and legacy carried entries
        # (published before tracking, or by schema-less internal
        # publishes) are stamped with the PREVIOUS head's id, the
        # schema current when they landed. Readers group files by this
        # stamp to reconcile mixed-schema listings without a single
        # footer open.
        sid = _register_schema(m, schema)
        entry["schema_id"] = sid
        legacy_sid = prev_sid if prev_sid is not None else sid
        for rel, ent in stats.items():
            if "schema_id" not in ent:
                ent["schema_id"] = sid if rel in new_rels else legacy_sid
    elif prev_sid is not None:
        # a schema-less publish (directory snapshot, internal verbs) on
        # a tracked store carries the declared schema forward — its new
        # files are presumed written under it (the locked verbs read
        # and rewrite the store's own rows)
        entry["schema_id"] = prev_sid
        for ent in stats.values():
            if "schema_id" not in ent:
                ent["schema_id"] = prev_sid
    m["gens"][str(head)] = entry
    m.update(manifest_extra or {})
    # retention: drop expired entries from the dict BEFORE the save so
    # the committed manifest records them gone, but delete the bytes
    # only AFTER it commits — a losing optimistic publish (CAS
    # CommitConflict) must not have performed destructive deletions
    # for a manifest state that never landed
    drop_roots = _prune_entries(m)
    _save_manifest(path, m)
    _prune_physical(path, m, drop_roots)
    return head


@contextlib.contextmanager
def locked_append(path: str, settle: str | None = "keep", adopt: bool = True):
    """The one way into a store for every verb that adds to it in
    place. Takes the writer lock, heals crash residue
    (`commitio.IO.recover`), adopts a manifest-less store that holds
    data as its base generation, then settles the live data files no
    retained generation lists (`reachable_files`) by the caller's rule:

    - "keep" publishes them as a generation of their own, so the verb's
      span is exactly its own writes;
    - "sweep" deletes them: in a store whose writer records its
      progress in the manifest (pipeline, change feed, idempotent
      gate) they are a crashed run's output, which this run redoes;
    - None leaves them to the caller (a precise-listing publish never
      lists them).

    `adopt=False` leaves a manifest-less store's data files unpublished,
    so "sweep" deletes them too. Yields the settled manifest (None when
    the store still has none) with the lock held; appends then go
    through `publish_append`."""
    with commitio.IO.writer_lock(path):
        commitio.IO.recover(path)
        m = load_manifest(path)
        live = _data_files(path)
        if m is None and live and adopt:
            _publish(path, 1, {"head": 0, "gens": {}})
            m = load_manifest(path)
        unpublished = set(live) - reachable_files(m)
        if unpublished and settle == "keep" and m is not None:
            _publish(path, int(m["head"]) + 1, m)
            m = load_manifest(path)
        elif unpublished and settle == "sweep":
            for rel in unpublished:
                with contextlib.suppress(OSError):
                    os.remove(os.path.join(path, rel))
        yield m


def ensure_base_generation(path: str) -> int:
    """Publish the CURRENT live state as generation 1 iff no manifest
    exists, so the pre-mutation state is pinnable. Callers hold the
    artifact's writer flock; the package's own appends get this from
    `locked_append`."""
    if not os.path.isdir(path):
        return 0  # store not created yet: nothing to pin before the write
    m = load_manifest(path)
    if m is not None:
        return int(m["head"])
    return _publish(path, 1, {"head": 0, "gens": {}})


def publish_append(path: str, write=None, **publish) -> int:
    """The append step under `locked_append`: `write(path)` adds data
    files to the live store (None publishes without writing), Spark's
    markers are stripped, and `publish_generation(path, **publish)`
    records the new head, which is returned."""
    if write is not None:
        write(path)
        strip_markers(path)
    return publish_generation(path, **publish)


@contextlib.contextmanager
def _locked_head(path: str, verb: str):
    """The head a locked row-level verb edits: `locked_append` with
    unpublished appends kept, so the verb's span is exactly one
    generation and the change feed's "before" image is well-defined.
    Yields (manifest, head, live data files) with the lock held."""
    with locked_append(path) as m:
        if m is None:
            raise ValueError(f"{path!r} has no data to {verb}")
        yield m, int(m["head"]), _data_files(path)


def publish_generation(
    path: str,
    bloom_cols: list[str] | None = None,
    spark: SparkSession | None = None,
    entry_extra: dict | None = None,
    manifest_extra: dict | None = None,
    add_files: list[str] | None = None,
    schema: dict | None = None,
) -> int:
    """Snapshot the live state as a new head generation (immutable
    hardlinked copy under `_gen/`). Callers hold the artifact's
    writer flock.

    `bloom_cols` configures point-lookup bloom sidecars for the named
    columns — STICKY: recorded in the manifest, so every later publish
    and every compaction rebuild keeps building them for new files
    without the caller repeating itself. Only this publish's NEW files
    pay the projected column read (carried files keep their blooms by
    rel+size, same as footer stats). Files published BEFORE a column
    was added stay bloom-less — readers keep them, conservative — and
    gain blooms at the next compaction, which rebuilds stats for every
    rewritten file (the retrofit path).

    `spark` (optional) distributes a BULK publish's stats/bloom build
    as one Spark job over the new-file list (>= STATS_SPARK_MIN_FILES
    new files); smaller publishes fan out on a thread pool.

    `add_files` publishes the PRECISE listing `head + add_files`
    instead of snapshotting the directory — the optimistic-append form
    (see _publish)."""
    m = load_manifest(path) or {"head": 0, "gens": {}}
    if bloom_cols:
        m["bloom_cols"] = sorted(set(m.get("bloom_cols") or []) | set(bloom_cols))
    return _publish(
        path,
        int(m["head"]) + 1,
        m,
        spark=spark,
        entry_extra=entry_extra,
        manifest_extra=manifest_extra,
        add_files=add_files,
        schema=schema,
    )


def append_rows(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    partition_by: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    max_retries: int = 8,
    expectations: dict | None = None,
    expect_mode: str = "quarantine",
    pin_batch="auto",
    schema_mode: str = "strict",
) -> int:
    """APPEND `df` to the store and publish it as a new generation —
    with OPTIMISTIC concurrency under a CAS-capable commit backend
    (commitio.CASStoreIO): two writers appending to one store run
    LOCK-FREE and both land, Iceberg's optimistic-commit shape reduced
    to this repo's manifest.

    Protocol: write the batch to a private staging dir, relocate the
    (collision-free: Spark part names carry task UUIDs) files into the
    store, then publish. The publish's conditional manifest put
    detects a concurrent head move (commitio.CommitConflict); the
    retry re-reads the head and republishes — appends compose because
    each writer's files are NEW objects nobody else references, so
    the merged listing is simply the union. The staging copy is kept
    until the publish lands, so a concurrent REWRITE's swap clobbering
    our not-yet-published files is healed by re-placing them from
    staging on the retry.

    Conflict matrix (documented contract, pinned in
    tests/test_concurrent_append.py):
    - append/append: both land, LOCK-FREE under CAS — appenders
      co-hold the SHARED lease and compose through the conditional
      manifest put (loser retries; each writer's files are new
      objects nobody else references, so the merged listing is the
      union). Listings are PRECISE (`head + this writer's files`,
      never a directory scan): another writer's in-flight placements
      — or a crashed writer's residue — can never be folded into a
      generation they didn't commit (phantom rows that would
      duplicate on that writer's retry). Crashed-placement residue
      is invisible to every read and is reclaimed by `vacuum_store`.
    - append/rewrite: the rewrite's EXCLUSIVE lease drains in-flight
      shared leases before reading its input and blocks new appenders
      until the swap lands; the CAS-validated swap
      (commitio.CASStoreIO.publish_swap) additionally refuses to
      erase a publish that slipped in anyway.
    - rewrite/rewrite: serialize on the exclusive lease, unchanged.

    Under the POSIX backend (no CAS — flock is the exclusion story)
    the verb degrades to the classic locked append: same result,
    writers queue. Returns the published generation number.

    Placement is per-file atomic (copy to a dot-prefixed temp sibling,
    rename over the final name): listings and readers never see a
    half-copied object — the emulation of an object PUT's atomicity.
    A failed attempt may leave extra hardlinks in the competing
    publish's `_gen/g{n}` snapshot dir; snapshot reads are LIST-driven
    (plan_generation_scan), so unreferenced files there are inert and
    are collected when the generation's root is pruned.

    `expectations` gates the batch through `expectations.gate` BEFORE
    the optimistic append — the concurrent form of publish-time
    admission: fail raises with
    nothing written, drop discards violations, quarantine routes them
    (tagged) to the store's `.quarantine` sibling via a nested
    optimistic append, so N independent GATED writers still compose
    lock-free; the audit rides the generation entry. Crash semantics
    without an idempotency key are the plain verb's: a caller retry
    re-appends its batch (residue is invisible — precise listings —
    and vacuumable); replay-safe streams should keep using
    `append_with_expectations(idempotency=...)`.

    `schema_mode`: "strict" (default) refuses a batch whose
    schema drifts from the store's declared schema; "evolve" accepts
    added columns and lossless widenings, recording the new schema
    with the publish (see check_schema_evolution / _read_groups).
    `pin_batch` controls the gated path's single-evaluation pin (see
    expectations.pin_once)."""
    import uuid

    from .commitio import CommitConflict

    entry_extra = None
    rejects = None
    if expectations:
        from .expectations import gate

        df, rejects, audit = gate(df, expectations, expect_mode, pin_batch)
        entry_extra = {"expectations": audit}
        if not audit.get("rows_quarantined"):
            rejects = None

    def guard(m: dict | None) -> dict | None:
        return check_append(m, path, df, schema_mode, partition_by)

    # checked before anything is written, and again against the
    # manifest each publish attempt reads: a writer that landed since
    # may have changed the layout or evolved the schema. Concurrent
    # conflicting evolutions are a user error (last publish wins the
    # declared schema; files stay stamped with what they were written
    # under, so no read breaks).
    guard(load_manifest(path))
    os.makedirs(path, exist_ok=True)
    staging = tempfile.mkdtemp(
        prefix="mri_append_", dir=os.path.dirname(path) or "."
    )
    commitio.chmod_staging(staging)
    try:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(staging)
        rels = _data_files(staging)

        def _place() -> None:
            for rel in rels:
                dst = os.path.join(path, rel)
                if os.path.exists(dst):
                    continue
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                tmp = os.path.join(
                    os.path.dirname(dst),
                    f".{os.path.basename(dst)}.{uuid.uuid4().hex}.place",
                )
                commitio.IO.link_or_copy(os.path.join(staging, rel), tmp)
                os.replace(tmp, dst)

        def _route_rejects(head: int) -> int:
            # gated quarantine split: a NESTED append (optimistic
            # under CAS, locked under POSIX) on the sibling store, so
            # concurrent gated writers' reject batches compose the
            # same way their admitted batches do
            if rejects is not None:
                from .expectations import quarantine_path

                append_rows(
                    spark,
                    quarantine_path(path),
                    rejects.withColumn("_src_generation", F.lit(head)),
                    # rejects inherit the main store's (possibly
                    # evolving) shape plus the tag columns; the
                    # quarantine must follow, not reject the reject
                    schema_mode="evolve",
                )
            return head

        # precise listings (`add_files`) never fold in another writer's
        # placements, so the head is taken without settling
        if not getattr(commitio.IO, "supports_cas", False):
            with locked_append(path, settle=None) as m_now:
                schema_sj = guard(m_now)
                _place()
                head = publish_generation(
                    path,
                    bloom_cols=bloom_cols,
                    spark=spark,
                    add_files=rels,
                    entry_extra=entry_extra,
                    schema=schema_sj,
                )
            return _route_rejects(head)
        if commitio.IO.needs_recovery(path) or (
            load_manifest(path) is None and _data_files(path)
        ):
            # a rewriter crashed mid-swap, or the store holds data but
            # no manifest (its first precise publish would list only
            # this batch, and vacuum_store would later delete the rest):
            # heal and adopt under the exclusive lease, which also
            # drains the other appenders, before joining them
            with locked_append(path, settle=None):
                pass
        with commitio.IO.append_lease(path):
            _place()
            last: Exception = CommitConflict("unreached")
            head = None
            for _ in range(max_retries):
                # the guard against the manifest this attempt publishes
                # over: a loser whose layout or schema now conflicts
                # raises (its placed files are invisible residue for
                # vacuum); a writer landing after this check makes our
                # save conflict and re-enter here
                schema_sj = guard(load_manifest(path))
                try:
                    head = publish_generation(
                        path,
                        bloom_cols=bloom_cols,
                        spark=spark,
                        add_files=rels,
                        entry_extra=entry_extra,
                        schema=schema_sj,
                    )
                except CommitConflict as e:
                    last = e
                    continue
                # verify OUR files are listed (an interleaving this
                # protocol doesn't model would surface here, loudly,
                # instead of silently dropping the batch)
                entry = load_manifest(path)["gens"][str(head)]
                missing = set(rels) - set(entry["files"])
                if not missing:
                    break
                last = CommitConflict(
                    f"published generation {head} lost {len(missing)} "
                    "placed files"
                )
                head = None
                _place()
            if head is None:
                raise last
        return _route_rejects(head)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def carry_generations(
    path: str,
    staging: str,
    spark: SparkSession | None = None,
    entry_extra: dict | None = None,
    manifest_extra: dict | None = None,
    schema: dict | None = None,
) -> None:
    """Compaction support, called on the STAGING directory after the
    rewrite and before the swap (the live path is never touched):
    hardlink the newest GEN_RETAIN-1 generation snapshot dirs into
    staging, publish head+1 = the compacted staging files as a new
    snapshot, and stage the manifest — all of it swaps atomically
    with the data. No-op when the artifact has no manifest
    (generations never requested for this store)."""
    import time

    m = load_manifest(path)
    if m is None:
        return
    head = int(m["head"])
    rels = _data_files(staging)
    root = os.path.join(GEN_DIR, f"g{head + 1}")
    gens = dict(m["gens"])
    new_entry = {
        "root": root,
        "files": rels,
        "created": time.time(),
        # prior stats carry by rel+size: a compaction's rewritten
        # files have fresh part names (never match — recomputed), but
        # a SELECTIVE rewrite (delete_rows) hardlinks untouched files
        # at their same rel paths, and those keep their stats and
        # bloom sidecars without a footer re-read
        "stats": _collect_stats(
            staging,
            rels,
            _prior_stats(m["gens"]),
            m.get("bloom_cols"),
            os.path.join(staging, BLOOM_DIR),
            spark=spark,
        ),
        **(entry_extra or {}),
    }
    prev_sid = (m["gens"].get(str(head)) or {}).get("schema_id")
    if schema is not None:
        # the caller declares the rewrite's output schema (a pipeline
        # rebuild whose transform output evolved): register it and
        # stamp this rewrite's fresh files with it
        sid = _register_schema(m, schema)
        new_entry["schema_id"] = sid
        for ent in new_entry["stats"].values():
            if "schema_id" not in ent:
                ent["schema_id"] = sid
    elif prev_sid is not None:
        # a rewrite preserves the declared schema: its input is the
        # (reconciled) store read, so rewritten files are written
        # under the head schema; selectively-carried files keep their
        # own stamps via the stats carry above
        new_entry["schema_id"] = prev_sid
        for ent in new_entry["stats"].values():
            if "schema_id" not in ent:
                ent["schema_id"] = prev_sid
    gens[str(head + 1)] = new_entry
    refs = dict(m.get("refs") or {})
    for k in _expired(gens, refs):
        del gens[k]  # dropped = simply not carried; live path untouched
    for k, g in gens.items():
        if int(k) == head + 1:
            _link_tree(staging, rels, os.path.join(staging, root))
        else:
            _link_tree(
                os.path.join(path, g["root"]),
                g["files"],
                os.path.join(staging, g["root"]),
            )
    # carried generations — and any head stats entries that carried by
    # rel+size — keep referencing bloom sidecars by name: hardlink
    # those into staging's _bloom so the swap carries them with the
    # data (blooms built fresh for rewritten files are already there)
    sb = os.path.join(staging, BLOOM_DIR)
    have = set(os.listdir(sb)) if os.path.isdir(sb) else set()
    carried = _bloom_refs(gens) - have
    if carried:
        _link_tree(os.path.join(path, BLOOM_DIR), sorted(carried), sb)
    # retained generations' DELETION-VECTOR sidecars travel with the
    # swap the same way blooms do; the new head entry has no vector —
    # the rewrite's input was DV-filtered, so its files are clean
    for ref in _dv_refs(gens):
        src = os.path.join(path, ref)
        if os.path.isdir(src):
            dv_rels = [
                os.path.relpath(os.path.join(r2, f2), src)
                for r2, _d2, fs2 in os.walk(src)
                for f2 in fs2
            ]
            _link_tree(src, dv_rels, os.path.join(staging, ref))
    staged = {"head": head + 1, "gens": gens, "refs": refs}
    if m.get("bloom_cols"):
        staged["bloom_cols"] = m["bloom_cols"]
    for k, v in m.items():
        if k not in ("head", "gens", "refs", "bloom_cols"):
            staged[k] = v  # caller-recorded top-level state carries
    staged.update(manifest_extra or {})
    _save_manifest(staging, staged)


def strip_markers(path: str) -> None:
    """Remove the `_SUCCESS`-style marker files a Spark write leaves at
    the top of `path`. Data reads ignore underscore files either way;
    the store keeps its listing clean. `_*.json` sidecars (the
    manifest, `_sources.json`, `_matview.json`, model sidecars) stay,
    so this is safe on a live store as well as on a staging dir."""
    for f in os.listdir(path):
        p = os.path.join(path, f)
        if f.startswith("_") and not f.endswith(".json") and os.path.isfile(p):
            try:
                os.remove(p)
            except OSError:
                pass


def staged_rewrite(
    path: str,
    write,
    prefix: str,
    spark: SparkSession | None = None,
    keep=(),
    **carry,
) -> None:
    """The one staged rewrite behind every verb that replaces a store
    directory (callers hold `path`'s writer lock): `write(staging)`
    fills a fresh sibling staging dir (after `commitio.IO.recover` heals
    a crashed swap), Spark markers are stripped, the
    `keep` files (live data the rewrite leaves untouched) hardlink in,
    `carry_generations` stages the manifest (`carry` passes through to
    it), and `commitio.IO.publish_swap` publishes data, snapshots and
    manifest together. The live path is never touched before the swap.

    If anything raises, the staging dir is removed, so a failed rewrite
    leaves the store and its parent directory as they were — unless the
    backend already owns it: a CAS swap that wrote its journal
    (`needs_recovery`) replays from staging on the next `recover`."""
    # a live path still renamed aside by a crashed swap comes back
    # first: the swap would delete that `.old` copy, and the carry
    # below would find no manifest to carry
    commitio.IO.recover(path)
    staging = tempfile.mkdtemp(prefix=prefix, dir=os.path.dirname(path) or ".")
    try:
        commitio.chmod_staging(staging)
        write(staging)
        strip_markers(staging)
        _link_tree(path, keep, staging)
        carry_generations(path, staging, spark=spark, **carry)
        commitio.IO.publish_swap(path, staging)
    except BaseException:
        if not commitio.IO.needs_recovery(path):
            shutil.rmtree(staging, ignore_errors=True)
        raise


def _bloom_loader(path: str):
    """`_file_matches`' bloom reader for one planning pass over `path`:
    each sidecar is read at most once; a missing one reads as None
    (the file is kept)."""
    cache: dict[str, bytes | None] = {}

    def load(fname: str):
        if fname not in cache:
            try:
                with open(os.path.join(path, BLOOM_DIR, fname), "rb") as fh:
                    cache[fname] = fh.read()
            except OSError:
                cache[fname] = None
        return cache[fname]

    return load


def plan_generation_scan(
    path: str, at: int | str | None = None, where=None
) -> tuple[str, list[str], int]:
    """The planner-side half of a generation read: resolve generation
    `at` (head when None) and prune its file list against `where`
    using the MANIFEST's footer stats — one JSON read, zero file
    listings, zero footer opens at query time. Returns (snapshot root,
    kept absolute file paths, total file count). At 100 TB this is the
    point of recording stats in the manifest: the alternative is the
    scan planner listing and footer-reading a million immutable files
    per query (Iceberg's manifest-level min/max pruning, reduced to
    its data-plane half)."""

    commitio.recover_index(path)
    m = load_manifest(path)
    if m is None:
        raise ValueError(
            f"{path!r} has no generation manifest; use the live read "
            "or publish a generation first"
        )
    n = _resolve(m, path, at)
    g = m["gens"].get(str(n))
    if g is None:
        raise ValueError(
            f"generation {n} of {path!r} is not available "
            f"(retained: {sorted(int(k) for k in m['gens'])}); "
            f"raise GEN_RETAIN, tag the snapshot, or pin a newer one"
        )
    root = path if g["root"] == "." else os.path.join(path, g["root"])
    stats = g.get("stats") or {}
    rels = g["files"]
    if where:
        bloom_load = _bloom_loader(path)
        rels = [
            r
            for r in rels
            if _file_matches(
                r,
                (stats.get(r) or {}).get("cols") or {},
                where,
                (stats.get(r) or {}).get("bloom"),
                bloom_load,
                m.get("renames"),
            )
        ]
    return root, [os.path.join(root, f) for f in rels], len(g["files"])


def _physical_name(logical: str, have: list[str], renames: dict) -> str | None:
    """Resolve a LOGICAL column name to the physical name present in
    `have` (a file group's columns), walking the rename chain
    (manifest `renames`: one {new: old} step per declared rename;
    chains stay linear because retired physical names can never be
    re-added — check_schema_evolution's guard). None = the column
    genuinely does not exist in this group (added later: NULL-fill)."""
    cur = logical
    seen = set()
    while cur not in have:
        nxt = renames.get(cur)
        if nxt is None or nxt in seen:
            return None
        seen.add(nxt)
        cur = nxt
    return cur


def _aligned_cols(df: DataFrame, target, renames: dict | None = None) -> list:
    """`df`'s columns projected onto the target StructType: missing
    columns become typed NULLs (added-column evolution), present
    columns cast to the target type (a no-op unless widened —
    byte/short/int->long, float->double — which is lossless by the
    evolution rules), and a column RENAMED since the file was written
    is served from its physical (old) name via the manifest's rename
    chain (round 13 — parquet is name-addressed, so without the
    projection old files would silently serve NULL for the new name,
    losing history). Columns `df` has beyond the target are dropped
    (they belong to a NEWER schema than the generation being served —
    pinned reads stay byte-stable)."""
    cols = []
    for f in target.fields:
        phys = _physical_name(f.name, df.columns, renames or {})
        if phys is not None:
            cols.append(F.col(phys).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return cols


PLAN_MEMO_KEEP = 256  # resolved read plans kept per application


def _plan_memo(spark: SparkSession, path: str, args: tuple, resolve):
    """The resolved LAZY DataFrame of one read of `path` (`args` name
    it), as a session-state entry versioned by the manifest file's
    identity: any commit saves a new manifest inode and re-resolves."""
    # Only driver-side resolution is reused (manifest parse, stats
    # pruning, per-file reader construction — the snapshot state
    # Delta/Iceberg clients cache per version); the plan still scans its
    # inputs on every execution. The DV broadcast threshold is part of
    # the version: a changed threshold is a different plan shape. Stores
    # without a manifest mutate without a commit, so they are not kept.
    ident = _manifest_identity(path)
    if ident is None:
        return resolve()
    return state.lookup(
        spark.sparkContext,
        "plan",
        (os.path.abspath(path),) + args,
        (ident, DV_BROADCAST_MAX_ROWS),
        resolve,
        bound=PLAN_MEMO_KEEP,
    )


def _manifest_identity(path: str):
    """(inode, size, mtime_ns) of the manifest file, or None when the
    store has no manifest (no caching then — live directories mutate
    without a manifest commit)."""
    try:
        st = os.stat(_gen_path(path))
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def read_generation(
    spark: SparkSession,
    path: str,
    at: int | str | None = None,
    where=None,
    merge_schema: bool = False,
) -> DataFrame:
    """A DataFrame over exactly generation `at`'s files (head when None),
    resolved once per manifest state (`_plan_memo`); the semantics are
    `_read_generation_impl`'s."""
    return _plan_memo(
        spark,
        path,
        ("read", repr(at), repr(where), bool(merge_schema)),
        lambda: _read_generation_impl(spark, path, at, where, merge_schema),
    )


def _read_generation_impl(
    spark: SparkSession,
    path: str,
    at: int | str | None = None,
    where=None,
    merge_schema: bool = False,
) -> DataFrame:
    """A DataFrame over exactly generation `at`'s files (head when
    None). basePath anchors partition-column discovery to the
    generation's snapshot root, so `letter=`/`bucket=`/`cell=`
    columns survive. Snapshot paths are immutable hardlinks, so a
    running job never loses its files to a compaction swap; the
    re-resolve retry covers only the swap's two-rename instant (the
    whole directory briefly absent, healed by recover_index).

    `where` — an AND-list of `(column, op, value)` with op in
    `= < <= > >= in between` — prunes files via the manifest's footer
    stats (`plan_generation_scan`) and then applies the same predicate
    to the surviving rows, so the result is EXACTLY
    `read_generation(...).filter(pred)`: dropped files provably hold
    no matching rows; kept files still filter row-level. Datetime
    predicate values: tz-aware values convert to UTC; NAIVE values are
    interpreted AS UTC (this repo's sessions pin the session timezone
    to UTC — on a differently-pinned session pass tz-aware values).

    `merge_schema=True` unions the schemas of the generation's files
    (SCHEMA EVOLUTION across appends: a later writer added a column,
    earlier files serve NULL for it) — without it Spark takes one
    file's footer as the schema and silently drops columns that file
    lacks. Costs one footer read per file at planning; leave it off
    for schema-stable stores."""

    def _entry():
        m = load_manifest(path)
        return m, m["gens"][str(_resolve(m, path, at))]

    def _read(the_root, the_files):
        # the shared listing reader: schema-group reconciliation +
        # deletion-vector filtering, each a no-op (plain single scan)
        # on stores that use neither
        m, g = _entry()
        rels = [os.path.relpath(f, the_root) for f in the_files]
        if merge_schema and not g.get("dv") and g.get("schema_id") is None:
            r = spark.read.option("basePath", the_root).option(
                "mergeSchema", "true"
            )
            return r.parquet(*the_files)
        return _read_listing(spark, the_root, g, m, rels, path)

    root, files, total = plan_generation_scan(path, at, where)
    if not all(os.path.exists(f) for f in files):
        # raced a swap: re-resolve once
        root, files, total = plan_generation_scan(path, at, where)
    if not files:
        if total:  # every file pruned: an empty frame with the schema
            root2, all_files, _ = plan_generation_scan(path, at)
            df = _read(root2, all_files)
            return df.filter(_where_column(where)).limit(0)
        raise ValueError(f"generation has no data files in {path!r}")
    df = _read(root, files)
    if where:
        df = df.filter(_where_column(where))
    return df


def diff_plan(
    path: str, since: int | str, until: int | str | None = None
) -> tuple[str, list[str] | None]:
    """Planner-side classification of a generation span:
    `("append", delta_rels)` when every `since` file is still in
    `until`'s listing (the span is provably append-only and the diff
    is exactly the new files AND the deletion vector is unchanged —
    a DV delete changes rows without touching files), else
    `("antijoin", None)` (a compaction rewrote the listing, or a
    vector landed; only a row-key anti-join is exact). Pure
    manifest read — callers (generation_diff, matview refresh) use it
    to know the scan cost before running anything."""
    m = load_manifest(path)
    if m is None:
        raise ValueError(f"{path!r} has no generation manifest")
    since = _resolve(m, path, since)
    u = _resolve(m, path, until)
    ga, gb = m["gens"].get(str(since)), m["gens"].get(str(u))
    if ga is None or gb is None:
        missing = since if ga is None else u
        raise ValueError(
            f"generation {missing} of {path!r} is not available "
            f"(retained: {sorted(int(k) for k in m['gens'])})"
        )
    old_files, new_files = set(ga["files"]), list(gb["files"])
    same_dv = (ga.get("dv") or {}).get("file") == (gb.get("dv") or {}).get(
        "file"
    )
    if old_files <= set(new_files) and same_dv:
        return "append", [f for f in new_files if f not in old_files]
    return "antijoin", None


def generation_diff(
    spark: SparkSession,
    path: str,
    since: int | str,
    until: int | str | None = None,
    key_cols: tuple[str, ...] = (),
    where=None,
) -> DataFrame:
    """Rows added between two generations, resolved once per manifest
    state (`_plan_memo`): repeat calls (the nightly incremental-dedup
    span, a pipeline's resume span) reuse the lazy frame. Semantics:
    `_generation_diff_impl`."""
    return _plan_memo(
        spark,
        path,
        ("diff", repr(since), repr(until), tuple(key_cols), repr(where)),
        lambda: _generation_diff_impl(
            spark, path, since, until, key_cols, where
        ),
    )


def _generation_diff_impl(
    spark: SparkSession,
    path: str,
    since: int | str,
    until: int | str | None = None,
    key_cols: tuple[str, ...] = (),
    where=None,
) -> DataFrame:
    """Rows ADDED between generations `since` (exclusive) and `until`
    (inclusive; head when None) — incremental consumption from
    snapshots: "give me only the documents that arrived after the
    snapshot I trained on".

    Fast path: within an append-only span (every `since` file is still
    in `until`'s listing — always true between compactions), the diff
    is exactly the NEW files, so the scan reads only the delta and
    never touches the rows the consumer already has. Across a
    compaction boundary the file sets are incomparable (the rewrite
    renames everything); with `key_cols` the diff falls back to a
    LEFT ANTI join of the two snapshots on those keys — i.e. the
    KEY-ADDED rows. That equals the row diff ONLY when the rewrite
    preserved the row images of retained keys (a pure re-layout:
    sort, cluster, file-merge without folding). A FOLDING rewrite —
    compact_index sums duplicate (word, doc_id) partials into one
    row — changes values on keys that already existed at `since`,
    which no key-level anti-join can see; consumers that maintain
    value aggregates across such spans must retract the span's signed
    change feed (`generation_changes`) or rebuild from `until`
    instead (matview refresh does one or the other —
    operators/matview.py:_refresh_locked). Without `key_cols` this
    raises rather than silently rescanning."""
    mode, _delta = diff_plan(path, since, until)
    m = load_manifest(path)
    since = _resolve(m, path, since)
    u = _resolve(m, path, until)
    ga, gb = m["gens"][str(since)], m["gens"][str(u)]
    old_files, new_files = set(ga["files"]), list(gb["files"])
    if mode == "append":
        delta = [f for f in new_files if f not in old_files]
        root = os.path.join(path, gb["root"])
        if not delta:
            return read_generation(spark, path, at=u).limit(0)
        if where:
            # the delta files' stats live in `until`'s manifest entry:
            # a predicate (e.g. a filtered matview's) prunes the delta
            # scan the same way it prunes a full generation read
            stats = gb.get("stats") or {}
            delta = [
                f
                for f in delta
                if _file_matches(
                    f,
                    (stats.get(f) or {}).get("cols") or {},
                    where,
                    renames=m.get("renames"),
                )
            ]
            if not delta:
                return read_generation(spark, path, at=u).limit(0).filter(
                    _where_column(where)
                )
        df = _read_listing(spark, root, gb, m, delta, path)
        return df.filter(_where_column(where)) if where else df
    if not key_cols:
        raise ValueError(
            f"generations {since}..{u} of {path!r} span a compaction "
            "(file sets incomparable); pass key_cols= for an exact "
            "anti-join diff"
        )
    newer = read_generation(spark, path, at=u, where=where)
    older = read_generation(spark, path, at=since).select(*key_cols)
    return newer.join(older, list(key_cols), "left_anti")


def _changed_sides(
    spark: SparkSession, path: str, since, until
) -> tuple[DataFrame, DataFrame]:
    """(new-side, old-side) frames for a change feed, each restricted
    to the files NOT shared with the other snapshot (shared = same rel
    path and same recorded size — immutable files, so identical
    content). Either side may legitimately be empty (pure append, pure
    delete): an empty restriction reads the full generation limit(0)
    so the schema survives."""
    m = load_manifest(path)
    if m is None:
        raise ValueError(f"{path!r} has no generation manifest")
    a, b = _resolve(m, path, since), _resolve(m, path, until)
    ga, gb = m["gens"].get(str(a)), m["gens"].get(str(b))
    if ga is None or gb is None:
        missing = a if ga is None else b
        raise ValueError(
            f"generation {missing} of {path!r} is not available "
            f"(retained: {sorted(int(k) for k in m['gens'])})"
        )

    def size_of(g, rel):
        return ((g.get("stats") or {}).get(rel) or {}).get("size")

    shared = {
        rel
        for rel in set(ga["files"]) & set(gb["files"])
        # a missing recorded size is treated as changed (conservative);
        # a file whose DELETION-VECTOR count differs between the
        # snapshots changed logically even though its bytes did not
        # (vectors only accumulate per file, so equal counts = equal
        # deleted sets within a file's lifetime)
        if size_of(ga, rel) is not None
        and size_of(ga, rel) == size_of(gb, rel)
        and _dv_count(ga, rel) == _dv_count(gb, rel)
    }

    # change feeds across an EVOLVED span align both sides to the
    # NEWER generation's declared schema (the consumer's shape): old
    # images serve NULL for added columns and cast through widenings,
    # so the downstream image-compare always sees one schema
    from pyspark.sql.types import StructType

    tgt_sj = (
        (m.get("schemas") or {}).get(str(gb.get("schema_id")))
        if gb.get("schema_id") is not None
        else None
    )
    tgt = StructType.fromJson(tgt_sj) if tgt_sj else None

    def side(g, gen_no):
        rels = [r for r in g["files"] if r not in shared]
        if not rels:
            df = read_generation(spark, path, at=gen_no).limit(0)
        else:
            root = (
                path if g["root"] == "." else os.path.join(path, g["root"])
            )
            # DV-aware: each side serves ITS generation's logical rows
            # (a DV'd-out row appears only on the old side, so the
            # image compare classifies it as a delete)
            df = _read_listing(spark, root, g, m, rels, path)
        if tgt is None:
            return df
        return df.select(*_aligned_cols(df, tgt, m.get("renames")))

    return side(gb, b), side(ga, a)


def generation_changes(
    spark: SparkSession,
    path: str,
    since: int | str,
    until: int | str | None = None,
    key_cols: tuple[str, ...] = (),
    compare_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Row-level change feed between two generations, resolved once per
    manifest state (`_plan_memo`): repeat calls reuse the lazy frame
    instead of re-walking the manifest and rebuilding the two restricted
    readers and the full-outer join. Semantics:
    `_generation_changes_impl`."""
    return _plan_memo(
        spark,
        path,
        (
            "changes",
            repr(since),
            repr(until),
            tuple(key_cols),
            tuple(compare_cols),
        ),
        lambda: _generation_changes_impl(
            spark, path, since, until, key_cols, compare_cols
        ),
    )


def _generation_changes_impl(
    spark: SparkSession,
    path: str,
    since: int | str,
    until: int | str | None = None,
    key_cols: tuple[str, ...] = (),
    compare_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Row-level CHANGE FEED between two snapshots (the Delta CDF
    shape): classify every row as insert / delete / update between
    generations `since` and `until` (head when None) by a single
    full-outer join on `key_cols`, value changes detected null-safely
    on `compare_cols` (default: every shared non-key column). Emits
    the NEW image for inserts, the OLD image for deletes, and BOTH
    images for updates (`update_preimage` / `update_postimage`),
    tagged in a `change_type` column — one exchange total, the four
    branches reuse it.

    Where `generation_diff` answers the append-only question with a
    files-only scan, this answers the general one — including spans
    where a rewrite UPDATED or DELETED rows. Use the diff when the
    span is append-only (the planner tells you via `diff_plan`); use
    changes to reconcile across a rewriting maintenance job. Keys are
    assumed unique per snapshot (the stores' row-identity contract);
    null keys match null keys (eqNullSafe).

    Cost (round 10): DELTA-SIZED, not both-snapshot-sized. Files are
    immutable, so a file present in BOTH snapshots (same rel path,
    same recorded size) holds byte-identical rows in both — those rows
    cannot be changes, and under per-snapshot key uniqueness their
    keys cannot have a second image hiding in a changed file on the
    side where the shared file exists. The scan therefore restricts
    each side to its DIFFERING files (old-only on the old side,
    new-only on the new side) before the full-outer join: a delete or
    upsert that rewrote 2 of 1000 files joins those 2 files' two
    versions, never the store (tests/test_changes.py pins equality
    with the unrestricted form)."""
    from pyspark.sql import functions as F

    if not key_cols:
        raise ValueError("generation_changes requires key_cols")
    new, old = _changed_sides(spark, path, since, until)
    shared = [c for c in new.columns if c in set(old.columns)]
    keys = list(key_cols)
    cmp_cols = list(compare_cols) or [c for c in shared if c not in keys]
    out_cols = [c for c in shared]

    o = old.select(*shared).withColumn("__o_present", F.lit(True))
    for c in shared:
        o = o.withColumnRenamed(c, f"{c}__o")
    n = new.select(*shared).withColumn("__n_present", F.lit(True))

    cond = None
    for k in keys:
        e = n[k].eqNullSafe(o[f"{k}__o"])
        cond = e if cond is None else (cond & e)
    j = n.join(o, cond, "full_outer")

    changed = None
    for c in cmp_cols:
        e = ~F.col(c).eqNullSafe(F.col(f"{c}__o"))
        changed = e if changed is None else (changed | e)
    if changed is None:
        changed = F.lit(False)  # key-only rows: nothing to update

    def img(frame, suffix: str, tag: str):
        cols = [
            F.col(c + suffix).alias(c) if suffix else F.col(c) for c in out_cols
        ]
        return frame.select(*cols, F.lit(tag).alias("change_type"))

    n_present = F.col("__n_present").isNotNull()
    o_present = F.col("__o_present").isNotNull()
    inserts = img(j.filter(n_present & ~o_present), "", "insert")
    deletes = img(j.filter(o_present & ~n_present), "__o", "delete")
    upd = j.filter(n_present & o_present & changed)
    return (
        inserts.unionByName(img(upd, "__o", "update_preimage"))
        .unionByName(img(upd, "", "update_postimage"))
        .unionByName(deletes)
    )


def _logical_rows(path: str, g: dict, rels: list[str]) -> int:
    """Rows `rels` serve in generation g, from metadata: the manifest's
    per-file row counts (a footer read where one is missing) minus each
    file's deletion-vector entries."""
    total = 0
    for r in rels:
        n = ((g.get("stats") or {}).get(r) or {}).get("rows")
        if n is None:
            n = _file_num_rows(os.path.join(path, r))
        total += int(n or 0) - _dv_count(g, r)
    return total


def delete_rows(spark: SparkSession, path: str, where) -> dict:
    """Row-level predicate DELETE as a STORE operation (retention /
    GDPR erasure): remove every row matching `where` (the
    read_generation predicate language — AND-list of (col, op, val),
    OR via nested lists) and publish the result as a new generation.

    Scale shape — the Delta/Iceberg copy-on-write DELETE reduced to
    its data-plane half:
    - The manifest's footer stats + partition values prune the live
      listing to the files that MAY hold matching rows; every other
      file is HARDLINKED into staging untouched (metadata-only) and
      keeps its recorded stats and bloom sidecars without a re-read.
      A delete of one tenant/day rewrites that slice, never the store.
    - Affected files are re-read and their NON-matching rows
      rewritten (null predicate = not matched = kept, SQL semantics).
    - The whole thing is one `staged_rewrite` under the writer
      flock: a crash leaves the old store (and old manifest)
      intact; readers pinned to prior generations are untouched
      (their snapshots are immutable hardlinks).
    - Downstream: `diff_plan` classifies the span as a rewrite, so
      matview refresh rebuilds (exact under removal — min/max are not
      monoids under deletion) and `generation_changes` emits the
      deleted rows as `change_type='delete'` (tests/test_delete.py).

    Returns {"generation": new head, "rewritten_files": k,
    "kept_files": m, "deleted_rows": n} — `deleted_rows` is exact and
    metadata-derived (affected-file row counts from the manifest
    minus rewritten-output row counts from the staged footers; both
    sides are parquet-exact), so the report costs no extra scan."""
    if not where:
        raise ValueError("delete_rows requires a non-empty predicate")
    with _locked_head(path, "delete from") as (m, head, live):
        g = m["gens"][str(head)]
        stats = g.get("stats") or {}
        affected = [
            r
            for r in live
            if _file_matches(
                r,
                (stats.get(r) or {}).get("cols") or {},
                where,
                renames=m.get("renames"),
            )
        ]
        if not affected:
            return {
                "generation": head,
                "rewritten_files": 0,
                "kept_files": len(live),
                "deleted_rows": 0,
            }
        # a rewrite FOLDS deletion vectors away (the new head drops
        # the vector), so every DV-bearing file must be rewritten too
        # — hardlinking one would resurrect its deleted rows
        affected = sorted(
            set(affected) | {r for r in live if _dv_count(g, r) > 0}
        )
        kept = [r for r in live if r not in set(affected)]
        # rows of the affected files that do NOT match the predicate
        # survive; a NULL predicate is not-matched (SQL DELETE
        # semantics), hence the coalesce. The shared listing reader
        # reconciles mixed schemas to the declared one and applies
        # any deletion vector, so the rewrite emits clean head-schema
        # files
        df = _read_listing(spark, path, g, m, affected, path)
        keep_pred = ~F.coalesce(_where_column(where), F.lit(False))
        part_cols = sorted(
            {k for r in affected for k in _partition_values(r)}
        )
        out_rows = 0

        def write(staging: str) -> None:
            nonlocal out_rows
            writer = df.filter(keep_pred).write.mode("append")
            if part_cols:
                writer = writer.partitionBy(*part_cols)
            writer.parquet(staging)
            out_rows = sum(
                int(_file_num_rows(os.path.join(staging, r)) or 0)
                for r in _data_files(staging)
            )

        staged_rewrite(path, write, "mri_delete_", spark=spark, keep=kept)
        return {
            "generation": head + 1,
            "rewritten_files": len(affected),
            "kept_files": len(kept),
            "deleted_rows": _logical_rows(path, g, affected) - out_rows,
        }


def delete_rows_dv(spark: SparkSession, path: str, where) -> dict:
    """MERGE-ON-READ row-level DELETE — deletion vectors (round 12):
    publish a new generation with the SAME file listing plus a
    sidecar naming the deleted rows by (file_name, row_index), the
    Delta/Iceberg DV shape. Where copy-on-write `delete_rows` rewrites
    every possibly-matching file, this writes only the deleted
    positions — at 100 TB, erasing 3 rows from a 1 GB file costs a
    sidecar row, not a gigabyte rewrite. The trade: every read of a
    DV-bearing generation pays one BROADCAST anti-join (sidecar is
    deleted-rows-sized; the data side never shuffles), and the next
    compaction folds the vector away physically (`optimize_store`
    reads DV-filtered, so its rewrite lands clean files — schedule it
    via the store's compaction policy when vectors accumulate).

    Semantics are exactly `delete_rows`': rows PROVING the predicate
    (the store grammar; NULL = not matched = kept) disappear from the
    new head; pinned earlier generations keep serving them; the span
    reads as a REWRITE downstream (diff_plan refuses the append fast
    path when the vector changed, so matviews rebuild and
    generation_changes emits the deletes); counts stay metadata-exact
    (manifest row counts minus per-file vector counts). Vectors
    ACCUMULATE: a second DV delete unions new positions into a fresh
    self-contained sidecar (old generations keep referencing theirs;
    unreferenced sidecars are vacuumed). Positions are stable because
    generation files are immutable; file identity is the BASENAME
    (invariant across snapshot hardlinks/copies). Returns
    {"generation", "rewritten_files": 0, "kept_files", "deleted_rows"}.
    """
    if not where:
        raise ValueError("delete_rows_dv requires a non-empty predicate")
    with _locked_head(path, "delete from") as (m, head, _live):
        g = m["gens"][str(head)]
        stats = g.get("stats") or {}
        affected = [
            r
            for r in g["files"]
            if _file_matches(
                r,
                (stats.get(r) or {}).get("cols") or {},
                where,
                renames=m.get("renames"),
            )
        ]
        report = {
            "generation": head,
            "rewritten_files": 0,
            "kept_files": len(g["files"]),
            "deleted_rows": 0,
        }
        if not affected:
            return report
        # matched positions, read per schema group and aligned so the
        # predicate sees the declared types (a group lacking a
        # predicate column serves typed NULLs there — NULL never
        # proves, rows kept)
        pred = F.coalesce(_where_column(where), F.lit(False))
        matches = (
            _read_groups(spark, path, g, m, affected, positions=True)
            .filter(pred)
            .select("fname", "pos")
        )
        n_new, dv = _write_dv(path, g, head, matches)
        if dv is None:
            return report
        new_head = _publish(
            path,
            head + 1,
            m,
            add_files=[],  # precise: same listing as head
            entry_extra={"dv": dv},
        )
        return {
            "generation": new_head,
            "rewritten_files": 0,
            "kept_files": len(g["files"]),
            "deleted_rows": n_new,
        }


def _write_dv(
    path: str, g: dict, head: int, matches: DataFrame
) -> tuple[int, dict | None]:
    """The one deletion-vector writer: fold newly matched (fname, pos)
    positions into a fresh self-contained sidecar for generation
    head+1 — anti-join generation g's vector (a position deleted
    before is not new), union it, pin and count, write, then tally the
    per-file counts the manifest records. Old generations keep
    referencing their own sidecars; orphans vacuum. The files land
    before the caller's manifest publish, the object-store publish
    order. Returns (new positions, the generation entry's `dv` value),
    the entry None when nothing new matched (the caller's publish then
    carries g's vector forward unchanged)."""
    import uuid

    prev_dv = g.get("dv")
    if prev_dv is not None:
        prev_side = matches.sparkSession.read.parquet(
            os.path.join(path, prev_dv["file"])
        )
        matches = matches.join(
            _dv_side_hinted(prev_side, int(prev_dv.get("rows") or 0)),
            ["fname", "pos"],
            "left_anti",
        )
        combined = matches.unionByName(prev_side).localCheckpoint(eager=True)
        n_total = combined.count()
        n_new = n_total - int(prev_dv["rows"])
    else:
        combined = matches.localCheckpoint(eager=True)
        n_total = n_new = combined.count()
    if n_new == 0:
        return 0, None
    dv_rel = os.path.join(DV_DIR, f"g{head + 1}_{uuid.uuid4().hex[:8]}")
    dv_abs = os.path.join(path, dv_rel)
    combined.coalesce(_dv_write_partitions(n_total)).write.parquet(dv_abs)
    strip_markers(dv_abs)
    per_file = {
        r["fname"]: int(r["n"])
        for r in combined.groupBy("fname")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return n_new, {
        "file": dv_rel,
        "rows": sum(per_file.values()),
        "per_file": per_file,
    }


# Upsert key-probing bound: when a key column has at most this many
# distinct values in the updates frame, its value LIST becomes an
# `in` predicate so bloom sidecars can prune files the key-range
# bounds cannot (an unclustered key's range covers every file).
UPSERT_PROBE_KEYS = 10_000


def key_prune_where(
    delta: DataFrame, key_cols: list[str], bounds=None
) -> list:
    """The read_generation predicate that bounds which store files MAY
    hold rows whose keys appear in `delta`: per key column, the
    distinct value list when small (bloom-probable — the only lever
    on an unclustered key; per-column lists are a conservative
    cross-product superset of the composite keys, which is what
    lossless pruning needs), min/max bounds otherwise. Shared by
    `upsert_rows` (prune the rewrite) and the streaming CDC apply
    (prune the stale-version check) — both would otherwise scan the
    store per merge."""
    from pyspark.sql import functions as _F

    if bounds is None:
        bounds = delta.agg(
            *[_F.min(k).alias(f"mn_{i}") for i, k in enumerate(key_cols)],
            *[_F.max(k).alias(f"mx_{i}") for i, k in enumerate(key_cols)],
            _F.count(_F.lit(1)).alias("n"),
        ).first()
    where = []
    for i, k in enumerate(key_cols):
        key_rows = (
            delta.select(k).distinct().limit(UPSERT_PROBE_KEYS + 1).collect()
        )
        if len(key_rows) <= UPSERT_PROBE_KEYS:
            where.append((k, "in", tuple(r[0] for r in key_rows)))
        else:
            where.append(
                (k, "between", (bounds[f"mn_{i}"], bounds[f"mx_{i}"]))
            )
    return where


def _upsert_dv(
    spark: SparkSession,
    path: str,
    m: dict,
    g: dict,
    head: int,
    live: list[str],
    upd: DataFrame,
    key_cols: list[str],
    affected: list[str],
    n_upd: int,
) -> dict:
    """upsert_rows(mode='dv') body — MERGE-ON-READ MERGE (round 13),
    called under the writer lock with validation done: matched rows'
    OLD images disappear by deletion-vector positions (accumulated
    into a fresh self-contained sidecar, exactly delete_rows_dv's
    shape) and EVERY update row appends as new files — zero data
    rewritten. At 100 TB, correcting one day's rows against a
    petabyte store costs the new rows plus a positions sidecar, not a
    slice rewrite. Matched positions are found only among the
    key-pruned candidate files, read per schema group with key
    columns aligned through widening casts and the rename chain, and
    LIVE-filtered against the previous vector (an already-deleted key
    re-appearing in the updates is an INSERT, not an update).
    Downstream semantics are the cow verb's: the span classifies as a
    rewrite (vector changed), the CDF emits update pre/post images,
    pinned readers keep the pre-merge snapshot, and the next
    policy-fired fold lands everything clean."""
    n_matched, dv = 0, None
    if affected:
        matches = (
            _read_groups(spark, path, g, m, affected, positions=True)
            .select("fname", "pos", *key_cols)
            .join(upd.select(*key_cols), list(key_cols), "left_semi")
            .select("fname", "pos")
        )
        n_matched, dv = _write_dv(path, g, head, matches)
    # land the update rows as NEW files (per-file placement is the
    # parquet writer's task-UUID names; the precise add_files listing
    # below is what publishes them — crash residue stays invisible)
    before = set(_data_files(path))
    part_cols = sorted({k for r in live for k in _partition_values(r)})
    w = upd.write.mode("append")
    if part_cols:
        w = w.partitionBy(*part_cols)
    w.parquet(path)
    strip_markers(path)
    new_rels = [r for r in _data_files(path) if r not in before]
    # no new matches: _publish carries any previous vector forward
    new_head = _publish(
        path,
        head + 1,
        m,
        spark=spark,
        add_files=new_rels,
        entry_extra={"dv": dv} if dv is not None else None,
    )
    return {
        "generation": new_head,
        "rewritten_files": 0,
        "kept_files": len(live),
        "updated_rows": n_matched,
        "inserted_rows": n_upd - n_matched,
    }


def upsert_rows(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    mode: str = "cow",
) -> dict:
    """MERGE (upsert) as a STORE operation: for every row of `updates`
    whose key matches an existing row, REPLACE that row wholesale; the
    rest INSERT — and publish the result as a new generation. With
    delete_rows this completes the DML triad on generations stores.

    Scale shape — copy-on-write MERGE bounded by the manifest:
    - The updates' key BOUNDS (one tiny aggregate) plus, for small
      single-column key sets, the key list itself (bloom-probed via
      the ordinary `in` predicate machinery) prune the live listing
      to the files that MAY hold a matching key; survivors hardlink
      with their stats and sidecars carried. An upsert of one day's
      corrections against a key-clustered store rewrites that slice.
    - Affected files are re-read once and their NON-matching rows kept
      (LEFT ANTI join on the keys — delta side broadcast under AQE);
      the updates land as fresh files. Nothing else is touched.
    - Same staged swap, same crash story, same downstream semantics:
      diff_plan classifies the span as a rewrite → matviews rebuild;
      generation_changes emits update_preimage/update_postimage for
      replaced rows and insert for new keys; pinned readers keep the
      pre-merge snapshot (tests/test_upsert.py).

    Contract: `updates` must carry the store's full schema (selected
    by name), be key-UNIQUE, and have no NULL keys — the store tier's
    row-identity rules. Returns {"generation", "rewritten_files",
    "kept_files", "updated_rows", "inserted_rows"} with the row
    counts metadata-exact (manifest + staged footers, no extra scan).

    `mode="dv"` (round 13) is the MERGE-ON-READ form: matched rows'
    old images disappear by deletion-vector positions and the update
    rows append as new files — ZERO data rewritten (see _upsert_dv),
    the complement of delete_rows_dv that completes the
    merge-on-read DML pair. Same results, same downstream semantics;
    the next rewrite (or the policy's DV triggers) folds the vector
    away."""
    if not key_cols:
        raise ValueError("upsert_rows requires key_cols")
    if mode not in ("cow", "dv"):
        raise ValueError(f"mode must be cow|dv, got {mode!r}")
    with _locked_head(path, "merge into") as (m, head, live):
        sj = declared_schema(m)
        if sj is not None:
            from pyspark.sql.types import StructType

            store_struct = StructType.fromJson(sj)
        else:
            store_struct = spark.read.parquet(path).schema
        store_cols = store_struct.names
        missing = [c for c in store_cols if c not in updates.columns]
        if missing:
            raise ValueError(
                f"updates lack store columns {missing} of {path!r}"
            )
        upd = updates.select(*store_cols)
        # types must MATCH, not merely be castable: mixed physical
        # parquet types within one generation (e.g. a decimal widened
        # by arithmetic) fail at read time with
        # PARQUET_COLUMN_DATA_TYPE_MISMATCH — refuse loudly instead
        drift = [
            f"{a.name}: store {a.dataType.simpleString()} "
            f"vs updates {b.dataType.simpleString()}"
            for a, b in zip(store_struct.fields, upd.schema.fields)
            if a.dataType != b.dataType
        ]
        if drift:
            raise ValueError(
                f"updates' column types drift from {path!r}'s schema "
                f"({'; '.join(drift)}); cast them to the store's types"
            )
        # keys: bounds always; the exact list too when small and
        # single-column (unlocks bloom pruning on unclustered keys)
        bounds = upd.agg(
            *[F.min(k).alias(f"mn_{i}") for i, k in enumerate(key_cols)],
            *[F.max(k).alias(f"mx_{i}") for i, k in enumerate(key_cols)],
            F.count(F.lit(1)).alias("n"),
        ).first()
        if bounds["n"] == 0:
            return {
                "generation": head,
                "rewritten_files": 0,
                "kept_files": len(live),
                "updated_rows": 0,
                "inserted_rows": 0,
            }
        where = key_prune_where(upd, key_cols, bounds)
        g = m["gens"][str(head)]
        stats = g.get("stats") or {}
        bloom_load = _bloom_loader(path)
        affected = [
            r
            for r in live
            if _file_matches(
                r,
                (stats.get(r) or {}).get("cols") or {},
                where,
                (stats.get(r) or {}).get("bloom"),
                bloom_load,
                m.get("renames"),
            )
        ]
        if mode == "dv":
            return _upsert_dv(
                spark, path, m, g, head, live, upd, key_cols, affected,
                int(bounds["n"]),
            )
        # DV-bearing files must rewrite too: the merged head drops the
        # vector, and hardlinking one would resurrect its deleted rows
        affected = sorted(
            set(affected) | {r for r in live if _dv_count(g, r) > 0}
        )
        kept = [r for r in live if r not in set(affected)]
        part_cols = sorted({k for r in live for k in _partition_values(r)})
        remaining = n_updates = 0

        def write(staging: str) -> None:
            nonlocal remaining, n_updates

            def rows_written(df: DataFrame) -> int:
                before = set(_data_files(staging))
                w = df.write.mode("append")
                if part_cols:
                    w = w.partitionBy(*part_cols)
                w.parquet(staging)
                return sum(
                    int(_file_num_rows(os.path.join(staging, r)) or 0)
                    for r in _data_files(staging)
                    if r not in before
                )

            if affected:
                # the shared listing reader: evolved stores reconcile
                # to the declared schema, deletion vectors apply — the
                # merged head lands clean files
                df = _read_listing(spark, path, g, m, affected, path)
                remaining = rows_written(
                    df.join(upd.select(*key_cols), list(key_cols), "left_anti")
                )
            n_updates = rows_written(upd)

        staged_rewrite(path, write, "mri_upsert_", spark=spark, keep=kept)
        updated = _logical_rows(path, g, affected) - remaining
        return {
            "generation": head + 1,
            "rewritten_files": len(affected),
            "kept_files": len(kept),
            "updated_rows": updated,
            "inserted_rows": n_updates - updated,
        }


def optimize_store(
    spark: SparkSession,
    path: str,
    cluster_by: list[str] | None,
    n_files: int = 16,
    partition_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> int:
    """OPTIMIZE ... CLUSTER BY as a store operation: rewrite the live
    data range-clustered on `cluster_by` (repartitionByRange + sort
    within files, the layout that makes footer min/max an effective
    coarse index) behind the standard compact_artifact staged swap —
    retained generations carry, stats/blooms rebuild for the new
    files (executor-parallel via the publish fan-out), pinned readers
    keep their snapshots, and downstream consumers see an ordinary
    rewrite span (matviews retract or rebuild per their spec). Row
    images are PRESERVED exactly (a pure re-layout — no fold, no
    dedup), so even `generation_diff`'s key-level fallback stays
    sound across this span. Returns the new head generation.

    `cluster_by=None` skips the clustering: a pure small-file fold
    into `n_files` (the auto-compaction default for stores with no
    declared sort key — bin-packing, Delta's OPTIMIZE without
    ZORDER).

    Hive-partitioned stores (the bucketed vector/fact layouts) keep
    their partition directories: the rewrite repartitions ON the
    partition columns and writes `partitionBy` them, folding each
    directory's small files without flattening the layout the store's
    pruned reads depend on.

    `partition_by` (round 12) OVERRIDES the layout — PARTITION
    EVOLUTION as an explicit rewrite: pass a new column list to
    re-land the store under that directory scheme (or `[]` to
    flatten). Directory-encoded values are restored into the data by
    the read, so nothing is lost; pinned generations keep their
    old-layout snapshots (each generation reads against its own
    immutable root, so layouts never mix in one scan); and the
    appender layout guard (`check_layout`) starts enforcing the new
    scheme — the verb a mismatched append's error message points at.

    `zorder_by` (round 13) is OPTIMIZE ZORDER: the rewrite clusters on
    the bit-interleaved space-filling curve over the named columns
    (sources/layout.py:zorder_value — pure JVM bitwise expressions,
    one range exchange), so footer min/max stay tight on EVERY listed
    dimension and the manifest's file skipping prunes selective
    predicates on any of them — where `cluster_by` makes one column's
    bounds tight and leaves the others blind. Mutually exclusive with
    `cluster_by`; needs >= 2 columns (one column IS cluster_by). On a
    Hive-partitioned store the curve clusters within the partition
    scheme (range-partitioned on (dirs..., curve)).

    Input is the HEAD GENERATION'S LISTING when the store has a
    manifest (precise — a crashed optimistic placement on the live
    listing is residue for vacuum_store, never input to the rewrite);
    manifest-less artifacts keep the live directory scan."""
    from .artifacts import compact_artifact  # artifacts imports this module

    if zorder_by is not None:
        if cluster_by:
            raise ValueError("pass cluster_by OR zorder_by, not both")
        if len(zorder_by) < 2:
            raise ValueError(
                "zorder_by needs >= 2 columns (one column is cluster_by)"
            )

    m0 = load_manifest(path)
    head_rels = (
        (m0["gens"].get(str(m0["head"])) or {}).get("files")
        if m0 is not None
        else None
    )
    # `partition_by` (round 12) OVERRIDES the layout: PARTITION
    # EVOLUTION as a rewrite — the store re-lands under the new
    # directory scheme (or flat, partition_by=[]), pinned generations
    # keep their old-layout snapshots (each generation's read is
    # anchored to its own root, so layouts never mix within one scan),
    # and the appender layout guard starts enforcing the new scheme.
    # Directory-encoded columns are restored into the data by the
    # reconciled/basePath read, so re-layout loses nothing.
    if partition_by is not None:
        part_cols = sorted(partition_by)
    else:
        part_cols = sorted(
            {
                k
                for rel in (head_rels or _data_files(path))
                for k in _partition_values(rel)
            }
        )

    def df_source(spark_: SparkSession) -> DataFrame:
        # called UNDER the writer lock: re-resolve the head there so
        # a publish landing between our plan and the lock is included
        m = load_manifest(path)
        g = m["gens"].get(str(m["head"])) if m is not None else None
        rels = (g or {}).get("files")
        if rels:
            # the shared listing reader: an evolved store's listing
            # reconciles to the declared schema and any deletion
            # vector applies — the compaction folds BOTH back to one
            # clean schema version with no vector (the retrofit path,
            # same as it is for blooms)
            return _read_listing(spark_, path, g, m, rels, path)
        return spark_.read.parquet(path)

    def _with_curve(df: DataFrame) -> DataFrame:
        # the z-curve column: mins/maxes from one tiny broadcast
        # aggregate (layout.write_zorder_clustered's shape), the curve
        # itself pure JVM bitwise expressions in whole-stage codegen
        from .layout import _scaled, zorder_value

        # Adapt the per-column bit width so the interleaved key always
        # fits a signed long (zorder_value asserts bits*ncols <= 63):
        # 16 bits up to 3 columns, narrower beyond — locality, not
        # uniformity, is what the curve needs, so fewer bits per
        # column is the right degradation for wide zorder_by lists.
        bits = min(16, 63 // len(zorder_by))
        aggs = []
        for c in zorder_by:
            aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
        bounds = df.agg(*aggs)
        return df.crossJoin(F.broadcast(bounds)).withColumn(
            "_z",
            zorder_value(
                [
                    _scaled(
                        F.col(c), F.col(f"_min_{c}"), F.col(f"_max_{c}"), bits
                    )
                    for c in zorder_by
                ],
                bits,
            ),
        )

    def rewrite(df: DataFrame, staging: str) -> None:
        cols = df.columns
        if part_cols:
            if zorder_by:
                out = (
                    _with_curve(df)
                    .repartitionByRange(n_files, *part_cols, "_z")
                    .sortWithinPartitions(*part_cols, "_z")
                    .select(*cols)
                )
            else:
                out = df.repartition(n_files, *part_cols)
                if cluster_by:
                    out = out.sortWithinPartitions(*cluster_by)
            w = out.write.partitionBy(*part_cols)
        elif zorder_by:
            out = (
                _with_curve(df)
                .repartitionByRange(n_files, "_z")
                .sortWithinPartitions("_z")
                .select(*cols)
            )
            w = out.write
        elif cluster_by:
            out = df.repartitionByRange(
                n_files, *cluster_by
            ).sortWithinPartitions(*cluster_by)
            w = out.write
        else:
            w = df.repartition(n_files).write
        w.mode("overwrite").parquet(staging)

    compact_artifact(spark, path, rewrite, df_source=df_source)
    return generation_head(path)


def set_compaction_policy(
    path: str,
    max_files: int,
    n_files: int = 16,
    cluster_by: list[str] | None = None,
    min_file_bytes: int | None = None,
    max_deleted_ratio: float | None = None,
    max_dv_rows: int | None = None,
) -> None:
    """Record a SMALL-FILE POLICY in the store manifest: when the head
    generation holds more than `max_files` data files — or, if
    `min_file_bytes` is set, when the median file is smaller than it —
    `maybe_autocompact` folds the store to `n_files` files (clustered
    on `cluster_by` when given). The policy is manifest state, so it
    survives retention, publishes, and compaction carries, and every
    publisher of the store sees the same trigger — the missing glue
    between per-microbatch gated ingest (one generation per batch,
    file counts growing without bound) and `optimize_store` (which
    only ever fired when someone remembered to call it).

    `max_deleted_ratio` / `max_dv_rows` bound DELETION-
    VECTOR growth — the trigger a merge-on-read workload needs: DV
    deletes add no data files, so a store whose file count stays
    within bounds would otherwise NEVER fire the fold while its vector
    (and every read's anti-join side) grows without limit. Both are
    computed from manifest metadata alone (the vector's recorded row
    count; physical rows from the per-file footer counts): the fold
    fires when deleted/physical exceeds the ratio, or when the vector
    exceeds the absolute row count — whichever is set, either
    triggers. Pair with the read-path broadcast guard
    (DV_BROADCAST_MAX_ROWS): the policy keeps vectors small on a
    maintained store, the guard keeps an unmaintained one from
    OOMing."""

    if max_files < 1 or n_files < 1:
        raise ValueError("max_files and n_files must be >= 1")
    if max_deleted_ratio is not None and not (0.0 < max_deleted_ratio < 1.0):
        raise ValueError("max_deleted_ratio must be in (0, 1)")
    if max_dv_rows is not None and max_dv_rows < 1:
        raise ValueError("max_dv_rows must be >= 1")
    with locked_append(path, settle=None) as m:
        if m is None:
            raise ValueError(
                f"{path!r} has no published data; set the policy after "
                "the first publish (or pass it to the ingest runner)"
            )
        m["compact_policy"] = {
            "max_files": int(max_files),
            "n_files": int(n_files),
            "cluster_by": list(cluster_by) if cluster_by else None,
            "min_file_bytes": (
                int(min_file_bytes) if min_file_bytes is not None else None
            ),
            "max_deleted_ratio": (
                float(max_deleted_ratio)
                if max_deleted_ratio is not None
                else None
            ),
            "max_dv_rows": (
                int(max_dv_rows) if max_dv_rows is not None else None
            ),
        }
        _save_manifest(path, m)


def maybe_autocompact(spark: SparkSession, path: str) -> int | None:
    """Fire the store's recorded compaction policy if its trigger
    holds: returns the new head generation after an optimize, None
    when no policy is set or the store is within bounds. Publishers
    call this AFTER their publish (gated ingest per microbatch,
    pipelines per run); the check is one manifest read, the optimize
    is the standard staged swap — pinned readers and matview
    consumers see an ordinary rewrite span."""

    m = load_manifest(path)
    pol = (m or {}).get("compact_policy")
    if not pol:
        return None
    if int(pol.get("last_fired_gen", 0)) >= int(m["head"]):
        # nothing published since the last fold: firing again cannot
        # shrink anything (and a layout whose partition-dir count
        # exceeds max_files would otherwise re-fold on every call)
        return None
    g = m["gens"].get(str(m["head"]))
    if g is None:
        return None
    files = g["files"]
    trigger = len(files) > int(pol["max_files"])
    if not trigger and pol.get("min_file_bytes"):
        stats = g.get("stats") or {}
        sizes = sorted(
            int((stats.get(r) or {}).get("size") or 0) for r in files
        )
        if sizes and sizes[len(sizes) // 2] < int(pol["min_file_bytes"]):
            trigger = len(files) > int(pol["n_files"])
    # deletion-vector triggers (round 13): a DV-only workload adds no
    # files, so the file-count/size triggers never see it — the fold
    # must also fire on the VECTOR's metadata (recorded row count vs
    # the listing's physical footer rows). The optimize reads
    # DV-filtered, so firing folds the vector away physically.
    dv = g.get("dv")
    if not trigger and dv:
        dv_rows = int(dv.get("rows") or 0)
        if pol.get("max_dv_rows") is not None:
            trigger = dv_rows > int(pol["max_dv_rows"])
        if not trigger and pol.get("max_deleted_ratio") is not None:
            stats = g.get("stats") or {}
            phys = sum(
                int((stats.get(r) or {}).get("rows") or 0) for r in files
            )
            trigger = (
                phys > 0 and dv_rows / phys > float(pol["max_deleted_ratio"])
            )
    if not trigger:
        return None
    new_head = optimize_store(
        spark, path, pol.get("cluster_by"), n_files=int(pol["n_files"])
    )
    with commitio.IO.writer_lock(path):
        commitio.IO.recover(path)
        m2 = load_manifest(path)
        if m2 is not None and m2.get("compact_policy"):
            p2 = dict(m2["compact_policy"])
            p2["last_fired_gen"] = int(generation_head(path))
            m2["compact_policy"] = p2
            _save_manifest(path, m2)
    return new_head


def vacuum_store(path: str, grace_seconds: float = 3600.0) -> dict:
    """GC by MANIFEST REACHABILITY — the object-store answer to crash
    residue (a failed optimistic commit leaves only orphan files; the
    manifest never references them, so reads are already correct and
    the only cost is storage). Deletes, under the exclusive writer
    lease (which drains in-flight appenders, so nothing mid-placement
    can be mistaken for garbage):

    - live data files not in the HEAD generation's listing (a crashed
      appender's placed-but-never-published batch);
    - `_gen/` snapshot roots no retained generation claims (failed
      optimistic attempts' link trees; expired roots are normally
      pruned at publish, this catches strays);
    - `_bloom/` sidecars nothing references;
    - dot-prefixed `.place`/`.swap` placement temps.

    Everything must also be OLDER than `grace_seconds` (defense in
    depth against clock-adjacent writers; the lease already excludes
    live ones). Returns {"data_files", "snapshot_dirs",
    "bloom_sidecars", "temp_files"} removal counts. Pinned readers
    are untouched by construction: they read retained generations'
    listings, which are exactly what vacuum keeps."""
    import time

    removed = {
        "data_files": 0,
        "snapshot_dirs": 0,
        "bloom_sidecars": 0,
        "dv_sidecars": 0,
        "temp_files": 0,
    }
    with commitio.IO.writer_lock(path):
        commitio.IO.recover(path)
        m = load_manifest(path)
        if m is None:
            raise ValueError(
                f"{path!r} has no generation manifest; vacuum reasons "
                "from manifest reachability and cannot run without one"
            )
        now = time.time()

        def expendable(p: str) -> bool:
            try:
                return now - os.path.getmtime(p) > grace_seconds
            except OSError:
                return False

        head_files = reachable_files(m)
        for rel in _data_files(path):
            p = os.path.join(path, rel)
            if rel not in head_files and expendable(p):
                try:
                    os.remove(p)
                    removed["data_files"] += 1
                except OSError:
                    pass
        keep_roots = {g["root"] for g in m["gens"].values()}
        gen_dir = os.path.join(path, GEN_DIR)
        if os.path.isdir(gen_dir):
            for d in os.listdir(gen_dir):
                rel = os.path.join(GEN_DIR, d)
                p = os.path.join(path, rel)
                if rel not in keep_roots and expendable(p):
                    shutil.rmtree(p, ignore_errors=True)
                    removed["snapshot_dirs"] += 1
        refs = _bloom_refs(m["gens"])
        bdir = os.path.join(path, BLOOM_DIR)
        if os.path.isdir(bdir):
            for f in os.listdir(bdir):
                p = os.path.join(bdir, f)
                if f not in refs and expendable(p):
                    try:
                        os.remove(p)
                        removed["bloom_sidecars"] += 1
                    except OSError:
                        pass
        # deletion-vector sidecar dirs nothing references (a crashed
        # delete_rows_dv that landed its sidecar but never published,
        # or vectors of expired generations)
        dv_live = {os.path.basename(r) for r in _dv_refs(m["gens"])}
        dvdir = os.path.join(path, DV_DIR)
        if os.path.isdir(dvdir):
            for d in os.listdir(dvdir):
                p = os.path.join(dvdir, d)
                if d not in dv_live and expendable(p):
                    shutil.rmtree(p, ignore_errors=True)
                    removed["dv_sidecars"] += 1
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.startswith(".") and (
                    f.endswith(".place") or f.endswith(".swap")
                ):
                    p = os.path.join(root, f)
                    if expendable(p):
                        try:
                            os.remove(p)
                            removed["temp_files"] += 1
                        except OSError:
                            pass
    return removed


def describe_generations(spark: SparkSession, path: str) -> DataFrame:
    """The store's snapshot history as a DataFrame — Iceberg's
    `.snapshots` metadata table: one row per retained generation
    (number, publish time, file count, exact row count, total bytes,
    tags pointing at it, whether it is head). Built from the manifest
    alone — no file listing, no data pages — so it is the cheap first
    query of any investigation ("what changed, when, how big")."""
    import datetime

    m = load_manifest(path)
    if m is None:
        raise ValueError(f"{path!r} has no generation manifest")
    refs = m.get("refs") or {}
    by_gen: dict[int, list[str]] = {}
    for name, g in refs.items():
        by_gen.setdefault(int(g), []).append(name)
    head = int(m["head"])
    rows = []
    for k in sorted(m["gens"], key=int):
        g = m["gens"][k]
        stats = g.get("stats") or {}
        n_rows = 0
        rows_known = True
        total_bytes = 0
        for rel in g["files"]:
            e = stats.get(rel) or {}
            total_bytes += int(e.get("size") or 0)
            r = e.get("rows")
            if r is None:
                rows_known = False
            else:
                n_rows += int(r) - _dv_count(g, rel)
        dv = g.get("dv")
        rows.append(
            (
                int(k),
                datetime.datetime.fromtimestamp(
                    float(g.get("created", 0.0)), datetime.timezone.utc
                ).replace(tzinfo=None),
                len(g["files"]),
                n_rows if rows_known else None,
                total_bytes,
                int(dv["rows"]) if dv else 0,
                g.get("schema_id"),
                ",".join(sorted(by_gen.get(int(k), []))) or None,
                int(k) == head,
            )
        )
    return local_rows_df(
        spark,
        rows,
        "generation int, published timestamp_ntz, n_files int, "
        "n_rows long, bytes long, n_deleted long, schema_id int, "
        "tags string, is_head boolean",
    )


def _file_all_match(rel: str, entry: dict, where) -> bool:
    """Prove every row of a file satisfies the conjunction — the dual
    of `_file_matches` (which proves no row can). True only on definite
    evidence: partition-dir equality, or footer bounds strictly inside
    the predicate AND a recorded zero null count for the column (a
    NULL row fails a SQL predicate, so an unknown null count blocks
    the proof). Anything unprovable returns False — the file then
    takes the ordinary scan path, never a wrong count. String-stat
    truncation only weakens proofs (parquet widens a truncated max and
    lowers a truncated min), so a True here is always sound."""
    stats = (entry or {}).get("cols") or {}
    nulls = (entry or {}).get("nulls") or {}
    parts = _partition_values(rel)

    def term_proven(term) -> bool:
        if _is_or_branch(term):
            return any(term_proven(b) for b in term)
        col, op, val = term
        if col in parts:
            if op == "=":
                return str(val) == parts[col]
            if op == "in":
                return parts[col] in {str(v) for v in val}
            return False
        b = stats.get(col)
        if not b or nulls.get(col) != 0:
            return False
        mn, mx = b
        if op == "between":
            lo, hi = _norm_stat(val[0]), _norm_stat(val[1])
            return (
                lo is not None
                and hi is not None
                and _le(lo, mn) is True
                and _le(mx, hi) is True
            )
        v = _norm_stat(val)
        if v is None:
            return False
        if op == "=":
            return _stat_cmp(mn, v) == 0 and _stat_cmp(mx, v) == 0
        if op == "in":
            vs = [_norm_stat(x) for x in val]
            return _stat_cmp(mn, mx) == 0 and any(
                x is not None and _stat_cmp(mn, x) == 0 for x in vs
            )
        if op == "<":
            return _lt(mx, v) is True
        if op == "<=":
            return _le(mx, v) is True
        if op == ">":
            return _lt(v, mn) is True
        if op == ">=":
            return _le(v, mn) is True
        return False

    return all(term_proven(t) for t in where)


def generation_predicate_count(
    spark: SparkSession, path: str, where, at: int | str | None = None
) -> dict:
    """COUNT(*) under a predicate, served from metadata wherever the
    manifest can PROVE it: files whose footer bounds place every row
    inside the predicate (and whose recorded null counts are zero for
    the predicate columns) contribute their exact manifest row counts
    without being opened; only the BOUNDARY files — kept by pruning
    but not fully covered — are scanned and filtered. On a clustered
    store a range predicate reduces to interior-files-by-metadata plus
    two boundary-file scans, at ANY store size — the aggregate-
    pushdown half of the Iceberg-manifest move (generation_row_count
    is the unpredicated case). Returns {"count", "files_total",
    "files_pruned", "files_metadata", "files_scanned"}."""

    commitio.recover_index(path)
    m = load_manifest(path)
    if m is None:
        raise ValueError(f"{path!r} has no generation manifest")
    n = _resolve(m, path, at)
    g = m["gens"][str(n)]
    root = path if g["root"] == "." else os.path.join(path, g["root"])
    stats = g.get("stats") or {}
    kept = [
        r
        for r in g["files"]
        if _file_matches(
            r,
            (stats.get(r) or {}).get("cols") or {},
            where,
            renames=m.get("renames"),
        )
    ]
    full, boundary = [], []
    for r in kept:
        # a file with DELETION-VECTOR entries is never fully-covered
        # by its footer stats (the vector may have removed matching
        # rows) — scan it DV-filtered like a boundary file
        if _dv_count(g, r) == 0 and _file_all_match(
            r, stats.get(r) or {}, where
        ):
            full.append(r)
        else:
            boundary.append(r)
    total = 0
    for r in full:
        rows = (stats.get(r) or {}).get("rows")
        if rows is None:
            rows = _file_num_rows(os.path.join(root, r))
        total += int(rows or 0)
    if boundary:
        df = _read_listing(spark, root, g, m, boundary, path)
        total += df.filter(_where_column(where)).count()
    return {
        "count": total,
        "files_total": len(g["files"]),
        "files_pruned": len(g["files"]) - len(kept),
        "files_metadata": len(full),
        "files_scanned": len(boundary),
    }
