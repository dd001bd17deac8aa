"""Seeded corpus generator, cached on disk by seed.

``corpus`` writes a ``documents.parquet`` corpus in the fixture schema
over a Zipf vocabulary, with planted exact duplicates and planted
near-duplicates, plus the ground-truth near-duplicate pairs. (The
stream's events come from ``gen_events``; analytics_mix reads the
fixture tables in ``fixture/sf0.1``.)

The generator is a pure function of its seed. Outputs are cached
under ``.perfbench/inputs/<kind>-<seed>-<code hash>`` so a changed
generator never reuses stale files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import INPUTS

_CODE_HASH = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:10]

LANGS = ("en", "es", "fr", "de", "zh")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)


def _cached(kind: str, seed: int, build) -> Path:
    out = INPUTS / f"{kind}-{seed}-{_CODE_HASH}"
    if (out / "_DONE").exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp, np.random.default_rng(seed))
    (tmp / "_DONE").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def _write(d: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), d / f"{name}.parquet")


# ------------------------------------------------------------------ corpus

#: Corpus shape. Each share is of the documents generated.
CORPUS_DOCS = 4_000
CORPUS_VOCAB = 3_000
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.10
#: Words replaced in a near-duplicate copy.
NEAR_DUP_EDIT_SHARE = 0.04
#: Planted pairs whose 3-shingle Jaccard is at least this count as
#: ground truth for ``dedup_minhash`` (whose cut is 0.6).
TRUE_PAIR_JACCARD = 0.7

_STOP = "the of and to in a is that it for was on are as with at be this".split()


def _vocab(rng, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, k)))
    return sorted(words)


def shingles(text: str, n: int = 3) -> set[str]:
    """Word 3-shingles as ``operators.dedup._doc_shingles`` forms them."""
    w = text.split(" ")
    return {" ".join(w[i : i + n]) for i in range(max(len(w) - n + 1, 1))}


def _jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def _build_corpus(d: Path, rng) -> None:
    vocab = _vocab(rng, CORPUS_VOCAB)
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    p /= p.sum()
    words = np.asarray(vocab)
    texts: list[str] = []
    pairs: list[tuple[int, int]] = []
    n = CORPUS_DOCS
    kinds = rng.random(n)
    for i in range(n):
        if i >= 50 and kinds[i] < EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i >= 50 and kinds[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            src = int(rng.integers(0, i))
            toks = texts[src].split(" ")
            k = max(1, int(round(len(toks) * NEAR_DUP_EDIT_SHARE)))
            for j in rng.choice(len(toks), k, replace=False):
                toks[j] = words[rng.choice(len(words), p=p)]
            text = " ".join(toks)
            texts.append(text)
            if text != texts[src] and _jaccard(text, texts[src]) >= TRUE_PAIR_JACCARD:
                pairs.append((src, i))
            continue
        k = int(rng.integers(20, 60))
        toks = words[rng.choice(len(words), k, p=p)]
        stops = rng.random(k) < 0.2
        toks = np.where(stops, np.asarray(_STOP)[rng.integers(0, len(_STOP), k)], toks)
        texts.append(" ".join(toks))
    _write(d, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    (d / "near_pairs.json").write_text(json.dumps(pairs))


def corpus(seed: int) -> Path:
    return _cached("corpus", seed, _build_corpus)


def near_pairs(corpus_dir: Path) -> set[tuple[int, int]]:
    return {tuple(p) for p in json.loads((corpus_dir / "near_pairs.json").read_text())}
