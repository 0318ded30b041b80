"""Correctness oracles, run outside the timed regions.

- `shell_postings`: the reference's own shell pipeline, the map command
  of helper_map.c:166 per document and the reduce command of
  helper_reduce.c:153, run with LC_ALL=C.
- `PostingsModel`: an in-memory (word -> doc -> count) model that applies
  the same appends and deletes as the engine and answers every query
  the benchmark issues.
- `frame_digest`: row count plus an order-insensitive hash of a
  (word, doc_id, cnt) table, so two indexes compare in one number each.
"""

from __future__ import annotations

import os
import subprocess
import time
from collections import Counter, defaultdict

import pandas as pd

# str.translate table deleting every byte except a-z, space and newline.
# Deleting non-separators first and splitting after is exactly the
# reference's split-then-strip (deletion cannot create or remove a
# space/newline boundary), and it is what functions/text.py does.
_STRIP = {i: None for i in range(128) if chr(i) not in "abcdefghijklmnopqrstuvwxyz \n"}

# helper_map.c:166, then the alphabetic partitioner's first-letter filter
# (helper_map.c:357-360), which drops the empty-token line, then
# helper_reduce.c:153 for the one document.
_SHELL = r"""set -eu
export LC_ALL=C
while IFS=$'\t' read -r doc src; do
  (tr ' ' '\n' | tr '[:upper:]' '[:lower:]' | sed -e 's/[^a-z]//g' | sort | uniq -c | awk '{print $2" "$1}') < "$src" > "$OUT/$doc.count"
  grep '^[a-z]' "$OUT/$doc.count" > "$OUT/$doc.sep" || true
  cat "$OUT/$doc.sep" | awk '{arr[$1]+=$2} END {for (i in arr) print i, "'"$doc"'", arr[i]}' | sort > "$OUT/$doc.post"
done < "$OUT/docs.tsv"
"""


def tokens(text: str) -> list[str]:
    """The normalized non-empty tokens of one document (SURVEY.md §0.1)."""
    return [w for w in text.lower().translate(_STRIP).replace("\n", " ").split(" ") if w]


def frame_digest(df: pd.DataFrame) -> tuple[int, int]:
    """(rows, order-insensitive 64-bit hash) of a (word, doc_id, cnt) frame."""
    df = df[["word", "doc_id", "cnt"]].astype({"word": object, "doc_id": object, "cnt": "int64"})
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype="uint64")
    return len(df), int(h.sum(dtype="uint64"))


def index_digest(index_path: str) -> tuple[int, int]:
    """Digest of a letter-partitioned index directory, read with pyarrow."""
    import pyarrow.dataset as ds

    table = ds.dataset(index_path, format="parquet", partitioning="hive").to_table(
        columns=["word", "doc_id", "cnt"]
    )
    return frame_digest(table.to_pandas())


def shell_postings(docs: list[tuple[str, str]], workdir: str) -> tuple[pd.DataFrame, float]:
    """Run the reference's shell map and reduce over (doc_id, file) pairs.
    Returns the postings and the wall time of the shell run."""
    os.makedirs(workdir, exist_ok=True)
    with open(os.path.join(workdir, "docs.tsv"), "w") as fh:
        fh.writelines(f"{doc}\t{os.path.abspath(src)}\n" for doc, src in docs)
    t0 = time.perf_counter()
    subprocess.run(
        ["bash", "-c", _SHELL], check=True, env={**os.environ, "OUT": workdir}, timeout=170
    )
    elapsed = time.perf_counter() - t0
    rows = []
    for doc, _ in docs:
        with open(os.path.join(workdir, f"{doc}.post")) as fh:
            rows.extend(line.split() for line in fh)
    df = pd.DataFrame(rows, columns=["word", "doc_id", "cnt"]).astype({"cnt": "int64"})
    return df, elapsed


class PostingsModel:
    """word -> {doc_id: cnt}, maintained alongside the engine's index."""

    def __init__(self) -> None:
        self.postings: dict[str, dict[str, int]] = defaultdict(dict)

    def add(self, doc_id: str, text: str) -> None:
        for w, n in Counter(tokens(text)).items():
            docs = self.postings[w]
            docs[doc_id] = docs.get(doc_id, 0) + n

    def delete(self, doc_ids: list[str]) -> None:
        gone = set(doc_ids)
        for w in list(self.postings):
            docs = self.postings[w]
            for d in gone.intersection(docs):
                del docs[d]
            if not docs:
                del self.postings[w]

    def doc_ids(self) -> set[str]:
        return {d for docs in self.postings.values() for d in docs}

    def n_postings(self) -> int:
        return sum(len(docs) for docs in self.postings.values())

    def _docs(self, term: str) -> dict[str, int]:
        return self.postings.get(tokens(term)[0], {})

    def expect(self, op: str, terms: list[str]):
        """The expected answer of one query, in the form `answer` gives."""
        if op == "lookup":
            return sorted(self._docs(terms[0]).items())
        if op == "top_docs":
            return sorted(self._docs(terms[0]).items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        sets = [set(self._docs(t)) for t in terms]
        if op == "and":
            return sorted(set.intersection(*sets))
        if op == "or":
            return sorted(set.union(*sets))
        if op == "not":
            return sorted(sets[0] - sets[1])
        raise ValueError(f"unknown op {op!r}")

    def letter_stats(self) -> list[tuple[str, int, int, int]]:
        """(letter, total_cnt, n_words, n_docs), sorted by letter."""
        total: Counter = Counter()
        words: Counter = Counter()
        docs: dict[str, set] = defaultdict(set)
        for w, ds in self.postings.items():
            total[w[0]] += sum(ds.values())
            words[w[0]] += 1
            docs[w[0]].update(ds)
        return [(c, total[c], words[c], len(docs[c])) for c in sorted(total)]


def answer(op: str, rows) -> list:
    """Collected engine rows in the form `PostingsModel.expect` gives."""
    if op == "lookup":
        return sorted((r["doc_id"], int(r["cnt"])) for r in rows)
    if op == "top_docs":
        return [(r["doc_id"], int(r["cnt"])) for r in rows]
    return sorted(r["doc_id"] for r in rows)
