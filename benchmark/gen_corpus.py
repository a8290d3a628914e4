"""Seeded training corpus with planted rejects at counts the generator knows.

Documents follow the shape of the repository's ``documents`` test tables
(doc_id, text, lang, source): space-separated prose over a fixed vocabulary
with English stop words. Every curation funnel stage has planted rows to
drop:

- quality gate: docs of five tokens (the gate wants at least ten);
- exact dedup: copies of base docs with space and tab noise that
  normalization removes;
- near-dup dedup: base docs with their last token replaced (one 3-shingle of
  ~100 differs, far above the 0.7 Jaccard threshold);
- decontamination: the ten benchmark docs themselves (doc_id < 10) and docs
  that carry a 12-token span of a benchmark doc (five shared 8-grams).

Planted copies always get higher ids than their originals, so the kept
canonical of every duplicate group is a base doc, and the curated output is
exactly the base docs.
"""

from __future__ import annotations

import random

BENCHMARK_DOCS = 10  # curate_and_write's default benchmark_max_id
STOPWORDS = ("the of and to in is that for it with as was on be by this are "
             "from at or an not but have").split()
_SYL = ("ka lo mi ter san vu dor pel ri gon fa zu ben cho nix tal "
        "bro que wen sil").split()
VOCAB = [a + b for a in _SYL for b in _SYL] + [a + b + c for a in _SYL[:6]
                                                for b in _SYL[6:12] for c in _SYL[12:]]


def _text(rng: random.Random, n: int) -> list[str]:
    """n tokens opening with "the", so the language filter (which counts
    five English stop words) never reads a doc as undetermined."""
    return ["the"] + [rng.choice(STOPWORDS) if rng.random() < 0.3 else rng.choice(VOCAB)
                      for _ in range(n - 1)]


def make_corpus(seed: int, n_base: int = 800, n_lowq: int = 40, n_exact: int = 50,
                n_near: int = 50, n_overlap: int = 40) -> tuple[list[tuple], dict]:
    """Rows (doc_id, text, lang, source) in seeded order, and the expected
    funnel plus the ids the curated shards must hold."""
    rng = random.Random(seed)
    docs: list[tuple[int, list[str]]] = []
    bench = [_text(rng, rng.randint(90, 130)) for _ in range(BENCHMARK_DOCS)]
    docs += list(enumerate(bench))
    base_ids = list(range(BENCHMARK_DOCS, BENCHMARK_DOCS + n_base))
    base = {i: _text(rng, rng.randint(90, 130)) for i in base_ids}
    docs += base.items()
    next_id = BENCHMARK_DOCS + n_base
    texts: dict[int, str] = {i: " ".join(t) for i, t in docs}
    for _ in range(n_lowq):
        texts[next_id] = " ".join(_text(rng, 5))
        next_id += 1
    for src in rng.sample(base_ids, n_exact):
        texts[next_id] = "  " + texts[src].replace(" ", " \t ", 3) + "  "
        next_id += 1
    for src in rng.sample(base_ids, n_near):
        toks = list(base[src])
        toks[-1] = next(w for w in rng.sample(VOCAB, 4) if w != toks[-1])
        texts[next_id] = " ".join(toks)
        next_id += 1
    for _ in range(n_overlap):
        b = rng.choice(bench)
        at = rng.randrange(len(b) - 12)
        toks = _text(rng, rng.randint(60, 90))
        cut = rng.randrange(len(toks))
        texts[next_id] = " ".join(toks[:cut] + b[at:at + 12] + toks[cut:])
        next_id += 1
    ids = sorted(texts)
    rng.shuffle(ids)
    rows = [(i, texts[i], "en", f"src{i % 3}") for i in ids]
    ingested = len(rows)
    after_q = ingested - n_lowq
    after_exact = after_q - n_exact
    after_near = after_exact - n_near
    expect = {
        "funnel": {
            "ingested": ingested,
            "after_quality_gate": after_q,
            "after_exact_dedup": after_exact,
            "after_near_dedup": after_near,
            "after_decontamination": after_near - BENCHMARK_DOCS - n_overlap,
        },
        "kept_ids": set(base_ids),
    }
    return rows, expect


def write_parquet(rows: list[tuple], path: str) -> None:
    """Write the corpus as one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()),
        "source": pa.array(cols[3], pa.string()),
    })
    pq.write_table(table, path)
