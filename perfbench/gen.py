"""Seeded input generators: the Zipf text corpus, the query stream and
the append/delete stream.

Everything is ASCII and is a pure function of the seed: the same seed
writes byte-identical files. A corpus is a `<collection>/<doc>.txt` tree,
the reference's input layout. Its text carries the tokenizer's edge cases
(SURVEY.md §0.1): tabs that do not split tokens, capitals, punctuation and
digits inside and around words, digit-only and punctuation-only tokens,
doubled spaces and blank lines (empty tokens).
"""

from __future__ import annotations

import functools
import hashlib
import os
import random
from dataclasses import dataclass

import numpy as np

LETTERS = "abcdefghijklmnopqrstuvwxyz"
# The probe line of SURVEY.md §0.1, planted once in every fifth document.
PROBE_LINE = "Don'T stop! 42 times\tcat-dog cat\n"
ZIPF_S = 1.1
# mean rendered bytes per token for this vocabulary and form mix
BYTES_PER_TOKEN = 4.3

# Surface forms of a word, with the separator that follows it. The
# weights keep plain lowercase words dominant, as in prose.
_FORMS = (
    ("{w} ", 0.800),
    ("{w}\n", 0.070),
    ("{W} ", 0.040),  # Capitalized
    ("{U} ", 0.010),  # ALL CAPS
    ("{w}, ", 0.025),
    ("{w}. ", 0.015),
    ("{w}!\n", 0.005),
    ("{a}'{b} ", 0.008),  # apostrophe inside: don't -> dont
    ("{a}-{b} ", 0.005),  # hyphen inside: cat-dog -> catdog
    ("{a}4{b} ", 0.002),  # digit inside
    ("{w}\t", 0.005),  # tab joins this token to the next
    ("{w}  ", 0.005),  # doubled space: an empty token
    ("{w}\n\n", 0.004),  # blank line: an empty token
    ("42 ", 0.003),  # digit-only token: normalizes to nothing
    ("-- ", 0.003),  # punctuation-only token
)
_FORM_P = np.array([p for _, p in _FORMS]) / sum(p for _, p in _FORMS)


def _render(form: str, word: str) -> str:
    cut = max(1, len(word) // 2)
    return form.format(
        w=word, W=word.capitalize(), U=word.upper(), a=word[:cut], b=word[cut:]
    )


def vocabulary(seed: int, n_words: int) -> list[str]:
    """`n_words` distinct lowercase words, most frequent first. Shorter
    words get the low (hot) ranks, as in natural text."""
    rng = np.random.default_rng([seed, 0])
    words: dict[str, None] = {}
    while len(words) < n_words:
        m = 2 * (n_words - len(words)) + 16
        lengths = np.minimum(16, 3 + rng.exponential(3.0, size=m).astype(int))
        blob = bytes((rng.integers(0, 26, size=int(lengths.sum())) + ord("a")).astype(np.uint8)).decode("ascii")
        ends = np.cumsum(lengths).tolist()
        for start, end in zip([0] + ends[:-1], ends):
            words.setdefault(blob[start:end])
            if len(words) == n_words:
                break
    return sorted(words, key=len)


@functools.lru_cache(maxsize=4)
def _zipf_cdf(n_vocab: int) -> np.ndarray:
    cdf = np.cumsum(1.0 / np.arange(1, n_vocab + 1) ** ZIPF_S)
    return cdf / cdf[-1]


def zipf_ranks(rng: np.random.Generator, n_vocab: int, size: int) -> np.ndarray:
    """`size` word ranks drawn from a Zipf law over `n_vocab` words."""
    return np.minimum(np.searchsorted(_zipf_cdf(n_vocab), rng.random(size)), n_vocab - 1)


def render_tokens(rng: np.random.Generator, words: list[str], ranks: np.ndarray) -> np.ndarray:
    """Each drawn word in a seeded surface form (with its separator)."""
    forms = rng.choice(len(_FORMS), size=len(ranks), p=_FORM_P)
    codes = ranks.astype(np.int64) * len(_FORMS) + forms
    uniq, inv = np.unique(codes, return_inverse=True)
    table = np.array(
        [_render(_FORMS[c % len(_FORMS)][0], words[c // len(_FORMS)]) for c in uniq.tolist()],
        dtype=object,
    )
    return table[inv]


@dataclass(frozen=True)
class Doc:
    collection: str
    doc_id: str
    text: str


@dataclass(frozen=True)
class Corpus:
    root: str
    docs: list[Doc]
    words: list[str]

    @property
    def glob(self) -> str:
        return os.path.join(self.root, "*", "*")

    @property
    def n_bytes(self) -> int:
        return sum(len(d.text) for d in self.docs)

    def digest(self) -> str:
        """sha256 over every (relative path, content), in path order."""
        h = hashlib.sha256()
        for d in sorted(self.docs, key=lambda d: (d.collection, d.doc_id)):
            h.update(f"{d.collection}/{d.doc_id}.txt\0".encode())
            h.update(d.text.encode())
        return h.hexdigest()


def make_docs(
    rng: np.random.Generator,
    words: list[str],
    n_docs: int,
    n_bytes: int,
    prefix: str = "d",
    n_collections: int = 8,
    new_words: list[str] | None = None,
    new_share: float = 0.0,
) -> list[Doc]:
    """`n_docs` documents of about `n_bytes` in total. Document sizes
    vary by a seeded factor of up to 4; a `new_share` of the tokens come
    from `new_words` instead of the Zipf vocabulary."""
    weights = rng.uniform(1.0, 4.0, size=n_docs)
    tokens = np.maximum(16, (weights / weights.sum() * n_bytes / BYTES_PER_TOKEN).astype(int))
    rendered = render_tokens(rng, words, zipf_ranks(rng, len(words), int(tokens.sum())))
    ends = np.cumsum(tokens).tolist()
    docs = []
    for i, (start, end) in enumerate(zip([0] + ends[:-1], ends)):
        text = "".join(rendered[start:end].tolist())
        if new_words and new_share > 0:
            extra = rng.choice(len(new_words), size=max(1, int((end - start) * new_share)))
            text += " ".join(new_words[j] for j in extra.tolist()) + "\n"
        if i % 5 == 0:
            text = PROBE_LINE + text
        docs.append(Doc(f"c{i % n_collections}", f"{prefix}{i:05d}", text))
    return docs


def write_tree(root: str, docs: list[Doc]) -> None:
    for d in docs:
        os.makedirs(os.path.join(root, d.collection), exist_ok=True)
        with open(os.path.join(root, d.collection, d.doc_id + ".txt"), "w", encoding="ascii", newline="") as fh:
            fh.write(d.text)


def make_corpus(seed: int, root: str, n_bytes: int, n_docs: int, n_vocab: int) -> Corpus:
    """Generate and write the seeded corpus tree under `root`."""
    words = vocabulary(seed, n_vocab)
    docs = make_docs(np.random.default_rng(seed), words, n_docs, n_bytes)
    write_tree(root, docs)
    return Corpus(root, docs, words)


# -- query stream ------------------------------------------------------------

# op -> queries per round of 20. lookup and top_docs are single-term
# ops; and/or/not are boolean ops.
QUERY_MIX = {"lookup": 6, "top_docs": 4, "and": 4, "or": 3, "not": 3}
SINGLE_OPS = ("lookup", "top_docs")
BOOLEAN_OPS = ("and", "or", "not")
ROUND = sum(QUERY_MIX.values())


def query_stream(seed: int, words: list[str], rounds: int) -> list[tuple[str, list[str]]]:
    """(op, terms) pairs: one query of each op type, then `rounds` rounds,
    each holding QUERY_MIX's counts in a seeded order. Terms follow the
    corpus's Zipf law, so hot terms repeat and rare ones land in cold
    letter partitions. One query term in ten is capitalized, which the
    API must normalize."""
    rng = np.random.default_rng([seed, 1])
    kinds = list(QUERY_MIX)
    for _ in range(rounds):
        kinds += rng.permutation([op for op, n in QUERY_MIX.items() for _ in range(n)]).tolist()
    out = []
    for op in kinds:
        k = {"and": int(rng.integers(2, 4)), "or": int(rng.integers(2, 4)), "not": 2}.get(op, 1)
        terms = [words[r] for r in zipf_ranks(rng, len(words), k).tolist()]
        terms = [t.capitalize() if rng.random() < 0.1 else t for t in terms]
        out.append((op, terms))
    return out


def lookup_terms(seed: int, words: list[str], n: int) -> list[str]:
    """`n` single lookup terms from the Zipf law."""
    rng = np.random.default_rng([seed, 2])
    return [words[r] for r in zipf_ranks(rng, len(words), n).tolist()]


# -- append / delete stream ----------------------------------------------------


def append_batch(seed: int, words: list[str], batch: int, n_docs: int, n_bytes: int) -> list[Doc]:
    """Append batch `batch`: fresh documents (ids never reused) whose words
    are the corpus's Zipf law plus a share of words the index has not seen."""
    rng = np.random.default_rng([seed, 3, batch])
    fresh = ["".join(LETTERS[i] for i in rng.integers(0, 26, size=9).tolist()) for _ in range(50)]
    return make_docs(rng, words, n_docs, n_bytes, prefix=f"a{batch:03d}x", new_words=fresh, new_share=0.05)


def delete_pick(seed: int, live_doc_ids: list[str], step: int, k: int) -> list[str]:
    """`k` live doc ids to delete at delete step `step`."""
    rng = random.Random(f"{seed}/delete/{step}")
    return rng.sample(sorted(live_doc_ids), k)
