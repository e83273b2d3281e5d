"""Seeded inputs for the three benchmark workloads.

Everything here is a pure function of ``seed``: the same seed gives
byte-identical parquet inputs and the same ground truth.  The package
under test receives only the generated tables.

- transcripts (uniform or skewed) and the as-of spine come from
  ``featherstore_spark.datagen``;
- documents are built here with numpy: five languages, declared shares of
  exact duplicates, near duplicates and shared boilerplate lines, plus
  the list of injected near-duplicate pairs (the recall ground truth);
- embeddings are clustered 64-d vectors with injected near-copies, kept
  inside the k-means quantize range (-1, 103.858].
"""

from __future__ import annotations

import numpy as np
import pandas as pd

LANGS = ("en", "de", "fr", "es", "it")
#: Function words per language; the first four match the package's
#: ``lang_id`` stopword lists, Italian has none there and reads as 'und'.
_FUNCTION_WORDS = {
    "en": "the and of to a in is it that for".split(),
    "de": "der die das und ist nicht ein mit auf zu".split(),
    "fr": "le la les et est un une dans pour que".split(),
    "es": "el la los las y es un una en por".split(),
    "it": "il lo gli e di che un una per non".split(),
}
_SYLLABLES = "ka ro mi ta ne su li po va de lu ri sa to me ga fu ni be zo".split()

# Declared document shares (of all documents).
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.10
BOILERPLATE_SHARE = 0.20
EMAIL_SHARE = 0.05

EMBED_DIM = 64
EMBED_CLUSTERS = 32
EMBED_DUP_SHARE = 0.08


def _vocab(rng: np.random.Generator, lang: str, size: int = 400) -> list[str]:
    words = set()
    while len(words) < size:
        n = int(rng.integers(2, 5))
        words.add("".join(rng.choice(_SYLLABLES, n)) + lang[0])
    return _FUNCTION_WORDS[lang] * 6 + sorted(words)


def _sentence(rng: np.random.Generator, vocab: list[str]) -> list[str]:
    return list(rng.choice(vocab, int(rng.integers(8, 15))))


def _render(lines: list[list[str]]) -> str:
    return "\n".join(" ".join(ws).capitalize() + "." for ws in lines)


def _mutate(rng: np.random.Generator, lines: list[list[str]], vocab: list[str], n_edits: int):
    out = [list(ws) for ws in lines]
    for _ in range(n_edits):
        li = int(rng.integers(len(out)))
        out[li][int(rng.integers(len(out[li])))] = str(rng.choice(vocab))
    return out


def make_documents(n_docs: int, seed: int) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """``(docs, near_pairs)``: docs has (doc_id, lang, text); near_pairs
    lists every injected (original_id, near_copy_id), original < copy.

    Ids are a seeded permutation, so duplicates are not adjacent to
    their originals and the min-id representative is not always the
    original."""
    rng = np.random.default_rng(seed)
    vocabs = {lang: _vocab(rng, lang) for lang in LANGS}
    boiler = {
        lang: [_sentence(rng, vocabs[lang]) + ["ref", str(i)] for i in range(3)] for lang in LANGS
    }
    n_exact = int(n_docs * EXACT_DUP_SHARE)
    n_near = int(n_docs * NEAR_DUP_SHARE)
    n_base = n_docs - n_exact - n_near
    langs, bodies = [], []
    for _ in range(n_base):
        lang = LANGS[int(rng.integers(len(LANGS)))]
        lines = [_sentence(rng, vocabs[lang]) for _ in range(int(rng.integers(4, 7)))]
        if rng.random() < BOILERPLATE_SHARE:
            lines.insert(int(rng.integers(len(lines) + 1)), boiler[lang][int(rng.integers(3))])
        if rng.random() < EMAIL_SHARE:
            lines.append(["contact", f"user{int(rng.integers(1000))}@example.org", "for", "details"])
        langs.append(lang)
        bodies.append(lines)
    origin = list(range(n_base))
    for src in rng.integers(n_base, size=n_exact):
        langs.append(langs[src])
        bodies.append(bodies[src])
        origin.append(int(src))
    near_src = rng.integers(n_base, size=n_near)
    for j, src in enumerate(near_src):
        # half light edits (also caught by the word-level MinHash stage at
        # 0.9), half heavier ones that only the char-n-gram kernel sees
        n_edits = 1 if j % 2 == 0 else 4
        langs.append(langs[src])
        bodies.append(_mutate(rng, bodies[src], vocabs[langs[src]], n_edits))
        origin.append(int(src))
    ids = rng.permutation(n_docs).astype(np.int64)
    docs = pd.DataFrame({
        "doc_id": ids,
        "lang": langs,
        "text": [_render(b) for b in bodies],
    })
    near_pairs = []
    for row in range(n_base + n_exact, n_docs):
        a, b = int(ids[origin[row]]), int(ids[row])
        near_pairs.append((min(a, b), max(a, b)))
    return docs, near_pairs


def make_embeddings(n_vecs: int, seed: int) -> pd.DataFrame:
    """(vec_id, embedding) with ``EMBED_CLUSTERS`` Gaussian clusters and
    ``EMBED_DUP_SHARE`` near-copies (cosine ≈ 1 to their source).
    Every element lies in [-0.95, 4], inside the quantize range."""
    rng = np.random.default_rng(seed + 1)
    centers = rng.normal(0.0, 1.0, size=(EMBED_CLUSTERS, EMBED_DIM))
    n_dup = int(n_vecs * EMBED_DUP_SHARE)
    n_base = n_vecs - n_dup
    which = rng.integers(EMBED_CLUSTERS, size=n_base)
    base = centers[which] + rng.normal(0.0, 0.6, size=(n_base, EMBED_DIM))
    src = rng.integers(n_base, size=n_dup)
    dups = base[src] + rng.normal(0.0, 0.01, size=(n_dup, EMBED_DIM))
    vecs = np.clip(np.vstack([base, dups]), -0.95, 4.0)
    ids = rng.permutation(n_vecs).astype(np.int64)
    return pd.DataFrame({"vec_id": ids, "embedding": [v.tolist() for v in vecs]})
