"""Seeded synthetic review corpus in the reference's JSONL format.

One review per line with the two consumed fields (`reviewText`,
`category`) plus an ignored `overall` field, as in the public review dumps
the reference was written for. The properties the χ² job depends on are
explicit parameters:

* a Zipf vocabulary of `vocab` distinct terms (letters only, so every term
  survives tokenization);
* `categories` categories with a skewed share of documents;
* category-skewed term frequencies: a `topical` share of each document's
  tokens is drawn from a category-specific ranking of the vocabulary, so the
  top-k per category really selects;
* a known number of malformed lines (`malformed`), which the JSONL source
  must drop, and of well-formed records with empty or missing fields
  (`unadmitted`), which tokenization must skip.
"""
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATEGORIES = [
    "Books", "Electronics", "Home and Kitchen", "Clothing", "Sports", "Toys",
    "Beauty", "Automotive", "Grocery", "Health", "Garden", "Music", "Movies",
    "Office", "Pet Supplies", "Tools", "Video Games", "Baby", "Jewelry",
    "Software", "Apps", "Kindle", "Industrial", "Handmade",
]
STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "for", "this"]
MALFORMED = ["this is not json", "42", '{"reviewText": "unterminated', "[1, 2"]
_SYLLABLES = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]


def unadmitted(kind: int, c: str) -> tuple:
    """A well-formed record that tokenization must skip, as (line, parsed
    (reviewText, category)); four kinds."""
    return [('{"reviewText": "", "category": "%s"}' % c, ("", c)),
            ('{"category": "%s"}' % c, (None, c)),
            ('{"reviewText": "orphan review text", "category": null}', ("orphan review text", None)),
            ('{"reviewText": "blank category", "category": ""}', ("blank category", ""))][kind % 4]


@dataclass(frozen=True)
class Spec:
    docs: int
    vocab: int = 30000
    categories: int = 20
    zipf_s: float = 1.07
    category_skew: float = 0.8
    topical: float = 0.35
    min_len: int = 12
    max_len: int = 60
    stop_share: float = 0.12
    malformed: int = 0
    unadmitted: int = 0


def vocabulary(n: int) -> np.ndarray:
    """n distinct lowercase terms of three syllables (no digits, no stopwords)."""
    k = len(_SYLLABLES)
    if n > k ** 3:
        raise ValueError(f"vocabulary of {n} exceeds {k ** 3} terms")
    i = np.arange(n)
    s = np.array(_SYLLABLES)
    return np.char.add(np.char.add(s[i % k], s[(i // k) % k]), s[(i // (k * k)) % k])


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return np.cumsum(w) / w.sum()


@dataclass
class Corpus:
    lines: list          # every JSONL line, in file order
    records: list        # per line: (reviewText, category) as parsed, None if malformed
    admitted: int        # records with non-empty text and category
    malformed: int
    categories: list     # category name per admitted document
    term_ids: np.ndarray  # token term ids of admitted documents (stopwords excluded)
    doc_of_token: np.ndarray  # admitted-document index of each of those tokens


def generate(seed: int, spec: Spec) -> Corpus:
    rng = np.random.default_rng(seed)
    if spec.categories > len(CATEGORIES):
        raise ValueError(f"at most {len(CATEGORIES)} categories")
    cats = CATEGORIES[:spec.categories]
    cat_w = 1.0 / np.arange(1, spec.categories + 1) ** spec.category_skew
    doc_cat = rng.choice(spec.categories, size=spec.docs, p=cat_w / cat_w.sum())
    lens = rng.integers(spec.min_len, spec.max_len + 1, size=spec.docs)
    total = int(lens.sum())
    doc_of_token = np.repeat(np.arange(spec.docs), lens)

    cdf = _zipf_cdf(spec.vocab, spec.zipf_s)
    ranks = np.minimum(np.searchsorted(cdf, rng.random(total)), spec.vocab - 1)
    # Each category ranks the vocabulary its own way; topical tokens follow
    # that ranking, the rest follow the global one.
    perms = np.stack([rng.permutation(spec.vocab) for _ in range(spec.categories)])
    topical = rng.random(total) < spec.topical
    term_ids = np.where(topical, perms[doc_cat[doc_of_token], ranks], ranks)

    vocab = vocabulary(spec.vocab)
    words = vocab[term_ids].astype(object)
    stop = rng.random(total) < spec.stop_share
    words[stop] = np.array(STOPWORDS, dtype=object)[rng.integers(0, len(STOPWORDS), int(stop.sum()))]
    ends = np.cumsum(lens)
    starts = ends - lens
    # Sentence case on the first token: tokenization lowercases before it
    # splits, so this must not change the answer.
    words[starts] = [w.capitalize() for w in words[starts]]
    word_list = words.tolist()
    overall = rng.integers(1, 6, size=spec.docs)

    doc_lines, texts, categories = [], [], []
    for d in range(spec.docs):
        text = " ".join(word_list[starts[d]:ends[d]]) + "."
        c = cats[doc_cat[d]]
        texts.append(text)
        categories.append(c)
        doc_lines.append('{"reviewText": "%s", "category": "%s", "overall": %d.0}'
                         % (text, c, overall[d]))

    records = list(zip(texts, categories))
    extra = []
    for j in range(spec.unadmitted):
        line, rec = unadmitted(j, cats[j % len(cats)])
        extra.append(line)
        records.append(rec)
    bad = [MALFORMED[j % len(MALFORMED)] for j in range(spec.malformed)]
    records += [None] * len(bad)
    # Malformed and unadmitted lines land at seeded positions in the file.
    lines = doc_lines + extra + bad
    order = rng.permutation(len(lines))
    return Corpus(lines=[lines[i] for i in order], records=[records[i] for i in order],
                  admitted=spec.docs, malformed=spec.malformed, categories=categories,
                  term_ids=term_ids[~stop], doc_of_token=doc_of_token[~stop])


def write_jsonl(path: Path, lines: list) -> int:
    data = ("\n".join(lines) + "\n").encode()
    path.write_bytes(data)
    return len(data)


def write_truth(path: Path, records: list, first_id: int = 0) -> int:
    """Well-formed records as a `documents`-shaped parquet table (doc_id,
    text, lang) for the DuckDB recomputation; returns the record count."""
    recs = [r for r in records if r is not None]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + len(recs)), pa.int64()),
        "text": pa.array([r[0] for r in recs], pa.string()),
        "lang": pa.array([r[1] for r in recs], pa.string()),
    }), path)
    return len(recs)
