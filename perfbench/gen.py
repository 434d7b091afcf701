"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the run seed: the same seed gives
byte-identical inputs.  Nothing in this module calls the extraction
engine, so the curation reference it returns is independent of the code
under test.

* Pages: slices of the repo's fixture corpus (``fixtures.page_row``).
  Slice ``k`` of a run holds page indices ``[k*n, (k+1)*n)`` generated
  with the run seed.  ``n`` is a multiple of 1490 (the period of the
  fixture's 2 MB mega pages), so every slice carries the same page-kind
  mix and costs about the same to extract.
* Documents: a planted corpus for ``jobs/curate.py``.  Every default gate
  keeps or drops a fixed share, and each doc's expected decision is known
  by construction (see :func:`documents`).
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("source", pa.string()),
    ("n_chars", pa.int64()),
])


def page_rows(seed: int, start: int, stop: int) -> list[dict]:
    from ukrainian_ocr_pipeline_spark.fixtures import page_row
    return [page_row(i, seed) for i in range(start, stop)]


def write_pages(rows: list[dict], path: str, files: int) -> None:
    """Write ``rows`` as ``files`` parquet files under ``path``: many
    more input splits than cores, so no straggler wave is left over."""
    os.makedirs(path, exist_ok=True)
    per = -(-len(rows) // files)
    for f in range(files):
        part = rows[f * per:(f + 1) * per]
        if not part:
            break
        cols = {name: [r[name] for r in part] for name in PAGES_SCHEMA.names}
        table = pa.Table.from_pydict(cols, schema=PAGES_SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))


# --------------------------------------------------------------------------
# documents for the curation job

_STOP = ["the", "a", "of", "and", "in", "to", "is"]
_LANGS = ["en", "de", "fr", "es", "uk"]
_SOURCES = [f"src{i}" for i in range(12)]


def _vocab() -> list[str]:
    """~4k pronounceable latin words of 4-9 letters (fixed, not seeded)."""
    rng = random.Random(1234)
    cons, vows = "bcdfghjklmnprstvz", "aeiou"
    seen: set[str] = set()
    while len(seen) < 4000:
        w = "".join(rng.choice(cons) + rng.choice(vows)
                    for _ in range(rng.randint(2, 4)))
        if len(w) <= 9:
            seen.add(w)
    return sorted(seen)


_CYR = "бвгджзклмнпрстфхцчш"
_CYR_V = "аеиоуяюії"
VOCAB = _vocab()


def _sentence(rng: random.Random, n: int) -> list[str]:
    """n latin words with a stopword every ~6 words (passes the gate)."""
    out = [rng.choice(VOCAB) for _ in range(n)]
    for j in range(0, n, 6):
        out[j] = rng.choice(_STOP)
    return out


def _cyrillic(rng: random.Random, n: int) -> list[str]:
    return ["".join(rng.choice(_CYR) + rng.choice(_CYR_V)
                    for _ in range(rng.randint(2, 4))) for _ in range(n)]


def _bad_doc(rng: random.Random, reason: str) -> str | None:
    """A doc failing exactly the named quality rule (and none before it
    in the gate's first-fail order)."""
    if reason == "null_text":
        return None
    if reason == "too_short":
        return " ".join(["the"] + [rng.choice(VOCAB) for _ in range(2)])
    if reason == "short_words":
        return " ".join(rng.choice("bcdfghk") for _ in range(rng.randint(12, 30)))
    if reason == "long_words":
        return " ".join(rng.choice(VOCAB) + rng.choice(VOCAB) + rng.choice(VOCAB)
                        for _ in range(rng.randint(8, 20)))
    if reason == "symbol_ratio":
        return " ".join(f"{w} %%%%%" for w in _sentence(rng, rng.randint(10, 30)))
    if reason == "few_stopwords":
        return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(20, 50)))
    raise ValueError(reason)


BAD_REASONS = ["null_text", "too_short", "short_words", "long_words",
               "symbol_ratio", "few_stopwords"]

# of n docs: n/10 fail a quality rule, n/10 exact groups (base + 2
# copies: 20% dropped as exact dups), n/10 near groups (base + 3
# variants: 30% dropped as near dups), and the rest (20%) unique
N_PER_QUALITY = 10
EXACT_COPIES = 2
NEAR_VARIANTS = 3


def _plan(n: int) -> tuple[int, int, int, int]:
    """(quality, exact groups, near groups, unique) counts summing to n."""
    n_bad = n // N_PER_QUALITY
    n_exact = n // 10            # groups of 1 + EXACT_COPIES docs
    n_near = n // 10             # groups of 1 + NEAR_VARIANTS docs
    used = (n_bad + n_exact * (1 + EXACT_COPIES)
            + n_near * (1 + NEAR_VARIANTS))
    return n_bad, n_exact, n_near, n - used


def documents(seed: int, n: int, id_base: int = 0):
    """Planted documents table plus its expected curation decisions.

    Returns ``(table, expected)`` where ``expected`` maps doc_id to
    ``(status, keeper_doc_id)`` under the job's default gates:

    * quality drops: one doc per failing rule, status ``quality:<rule>``;
    * exact dups: copies of a clean base differing only in whitespace
      (equal after the digest's canonicalisation), status
      ``dup_exact`` keyed to the group's smallest doc_id;
    * near dups: a clean phrase of m distinct words repeated cyclically;
      variants start at another rotation or repeat it more often, so
      every variant has exactly the base's word set and word-3-shingle
      set (Jaccard 1.0, identical MinHash) yet a different digest —
      detection is certain, not probabilistic.  Status ``dup_near``
      keyed to the group's smallest doc_id;
    * everything else: unique clean docs (latin with stopwords, or
      Cyrillic, which the stopword rule exempts), status ``kept``.
    """
    rng = random.Random(f"docs:{seed}:{id_base}")
    n_bad, n_exact, n_near, n_unique = _plan(n)
    ids = list(range(id_base, id_base + n))
    rng.shuffle(ids)
    it = iter(ids)
    rows: list[tuple[int, str | None]] = []
    expected: dict[int, tuple[str, int | None]] = {}

    for j in range(n_bad):
        reason = BAD_REASONS[j % len(BAD_REASONS)]
        d = next(it)
        rows.append((d, _bad_doc(rng, reason)))
        expected[d] = (f"quality:{reason}", None)

    for _ in range(n_exact):
        words = _sentence(rng, rng.randint(20, 60))
        group = [next(it) for _ in range(1 + EXACT_COPIES)]
        keeper = min(group)
        for k, d in enumerate(group):
            if k == 0:
                text = " ".join(words)
            elif k == 1:
                text = "  ".join(words)
            else:
                text = "  " + " ".join(words) + "   "
            rows.append((d, text))
            expected[d] = (("kept", None) if d == keeper
                           else ("dup_exact", keeper))

    for _ in range(n_near):
        m = rng.randint(8, 20)
        phrase = _sentence(rng, m)
        while len(set(phrase)) < m:
            phrase = _sentence(rng, m)
        group = [next(it) for _ in range(1 + NEAR_VARIANTS)]
        keeper = min(group)
        for k, d in enumerate(group):
            rot = (k * 3) % m
            reps = 2 + k // 2
            cyc = phrase[rot:] + phrase[:rot]
            rows.append((d, " ".join(cyc * reps)))
            expected[d] = (("kept", None) if d == keeper
                           else ("dup_near", keeper))

    for j in range(n_unique):
        d = next(it)
        n_words = rng.randint(25, 80)
        words = _cyrillic(rng, n_words) if j % 5 == 0 else _sentence(rng, n_words)
        rows.append((d, " ".join(words)))
        expected[d] = ("kept", None)

    rows.sort()
    texts = [t for _, t in rows]
    table = pa.Table.from_pydict({
        "doc_id": [d for d, _ in rows],
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in rows],
        "source": [rng.choice(_SOURCES) for _ in rows],
        "n_chars": [None if t is None else len(t) for t in texts],
    }, schema=DOCS_SCHEMA)
    return table, expected


def write_documents(table: pa.Table, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    per = -(-table.num_rows // files)
    for f in range(files):
        part = table.slice(f * per, per)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{f:03d}.parquet"))
