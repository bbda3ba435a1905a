"""Seeded crawl-like inputs for the benchmark, with planted truth.

The engine only ever sees the parquet files written here; the truth
tables stay with the benchmark and feed ``checks.py``.

Corpus (``pages``): the FIXTURES.md §1.1 class mix per 100 base docs --
55 unique, 15 exact-dup groups (2-8 copies), 15 near-dup balls (1-4
mutants with <= 3 token edits), 8 template families (5-40 pages on an
80% shared frame), 5 long-verbatim-overlap pairs (a 512-token shared
block), 2 frequency-skew clusters (10-50 copies plus 3-8 mutants) --
at web-like sizes: urls ~95 B, texts ~2 KB (100-520 tokens of a
2,000-word vocabulary, ~6 B per token).  Group sizes and text lengths
walk their ranges rather than being drawn independently, so the amount
of duplicate work differs little between seeds.  Row order is shuffled so that
copies are not adjacent, and ``warc_ts`` is drawn independently of the
url so that the earliest-page merge rule is exercised.

Snapshots (``snap-K``): new crawl pages whose urls never occur in the
corpus or in another snapshot.  Each page is an exact recrawl of a
corpus page X, an edited recrawl of X (1-3 token edits, as the near-dup
class), or fresh content drawn from the same class mix.

Everything is a pure function of ``(seed, sizes)``; the vocabulary is
fixed and independent of the seed.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

_VOCAB_RNG = np.random.default_rng(20251)
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
VOCAB = sorted(
    {
        "".join(_LETTERS[_VOCAB_RNG.integers(0, 26, int(n))])
        for n in _VOCAB_RNG.integers(2, 10, 2400)
    }
)[:2000]
_EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)
_TS_SPAN_S = 90 * 86400
LANGS = ["en", "de", "fr", "zh"]
SECTIONS = ["world", "business", "tech", "sport", "culture", "science", "health", "travel"]

# snapshot make-up: share of exact recrawls, then edited recrawls; the
# rest is fresh content
SNAP_EXACT = 0.30
SNAP_EDITED = 0.20
MAX_EDITS = 3

CORPUS_VERSION = 3  # bump when the generated content changes (cache key)


def _tokens(rng: np.random.Generator, n: int) -> list[str]:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]


def mutate(tokens: list[str], rng: np.random.Generator, max_edits: int = MAX_EDITS) -> list[str]:
    """1..max_edits single-token drops or substitutions."""
    out = list(tokens)
    for _ in range(int(rng.integers(1, max_edits + 1))):
        pos = int(rng.integers(0, len(out)))
        if rng.random() < 0.5 and len(out) > 4:
            out.pop(pos)
        else:
            out[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return out


def _size(j: int, offset: float, lo: int, hi: int) -> int:
    """Group size for the ``j``-th group of a class: a seed-shifted
    golden-ratio walk over lo..hi, so every corpus holds nearly the same
    multiset of group sizes and the work per page varies little from
    seed to seed."""
    return lo + int(((offset + j * 0.6180339887498949) % 1.0) * (hi - lo + 1))


def _class_docs(rng: np.random.Generator, base_id: int, offset: float) -> tuple[str, list[str]]:
    """One base doc of the FIXTURES §1.1 mix -> (class, texts)."""
    cls, j = base_id % 100, base_id // 100
    n = _size(base_id, offset, 100, 520)  # tokens in the base text
    if cls < 55:
        return "unique", [" ".join(_tokens(rng, n))]
    if cls < 70:
        text = " ".join(_tokens(rng, n))
        return "exact", [text] * _size(j * 15 + cls - 55, offset, 2, 8)
    if cls < 85:
        base = _tokens(rng, n)
        m = _size(j * 15 + cls - 70, offset, 1, 4)
        return "near", [" ".join(base)] + [" ".join(mutate(base, rng)) for _ in range(m)]
    if cls < 93:
        frame = _tokens(rng, n)
        cut = max(1, int(len(frame) * 0.8))
        fam = []
        for _ in range(_size(j * 8 + cls - 85, offset, 5, 40)):
            mid = [VOCAB[i] for i in rng.integers(0, len(VOCAB), max(1, len(frame) - cut))]
            fam.append(" ".join(frame[: cut // 2] + mid + frame[cut // 2 : cut]))
        return "template", fam
    if cls < 98:
        block = _tokens(rng, 512)
        return "overlap", [
            " ".join(_tokens(rng, 120) + block + _tokens(rng, 80)),
            " ".join(_tokens(rng, 60) + block + _tokens(rng, 140)),
        ]
    hub = _tokens(rng, n)
    texts = [" ".join(hub)] * _size(j * 2 + cls - 98, offset, 10, 50)
    texts += [" ".join(mutate(hub, rng)) for _ in range(_size(j * 2 + cls - 98, offset, 3, 8))]
    return "skew", texts


def _url(rng: np.random.Generator, tag: str) -> str:
    """~100-byte news-site url; ``tag`` makes it unique."""
    site = int(rng.integers(0, 5000))
    day = _EPOCH + timedelta(days=int(rng.integers(0, 365)))
    slug = "-".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), 4))
    return (
        f"https://www.site{site:04d}.example-news.com/{SECTIONS[site % len(SECTIONS)]}/"
        f"{day:%Y/%m/%d}/{slug}-{tag}.html"
    )


def _frame(texts: list[str], urls: list[str], rng: np.random.Generator) -> pd.DataFrame:
    n = len(texts)
    ts = rng.integers(0, _TS_SPAN_S, n)
    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": [_EPOCH + timedelta(seconds=int(s)) for s in ts],
            "html": [f"<html><body>{t}</body></html>".encode() for t in texts],
            "text": texts,
            "lang": [LANGS[int(i)] for i in rng.integers(0, len(LANGS), n)],
        }
    )


def _mixed_texts(rng: np.random.Generator, n: int, group_prefix: str) -> tuple[list[str], list[str], list[str]]:
    """n texts of the class mix -> (texts, classes, group ids)."""
    texts: list[str] = []
    classes: list[str] = []
    groups: list[str] = []
    base_id = 0
    offset = float(rng.random())
    while len(texts) < n:
        cls, docs = _class_docs(rng, base_id, offset)
        texts += docs
        classes += [cls] * len(docs)
        groups += [f"{group_prefix}{base_id}" if cls != "unique" else ""] * len(docs)
        base_id += 1
    return texts[:n], classes[:n], groups[:n]


def generate_corpus(seed: int, n_pages: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """-> (pages, truth); truth = (url, cls, group) with group '' for
    pages planted with no duplicate."""
    rng = np.random.default_rng([seed, 0])
    texts, classes, groups = _mixed_texts(rng, n_pages, "g")
    order = rng.permutation(n_pages)
    texts = [texts[i] for i in order]
    classes = [classes[i] for i in order]
    groups = [groups[i] for i in order]
    urls = [_url(rng, f"c{i:07d}") for i in range(n_pages)]
    pages = _frame(texts, urls, rng)
    truth = pd.DataFrame({"url": urls, "cls": classes, "group": groups})
    return pages, truth


def generate_snapshot(
    seed: int, k: int, n_pages: int, corpus: pd.DataFrame
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Snapshot ``k`` -> (pages, provenance); provenance = (url, kind,
    source_url) with kind in {exact, edited, fresh}."""
    rng = np.random.default_rng([seed, 1, k])
    n_exact = int(round(n_pages * SNAP_EXACT))
    n_edited = int(round(n_pages * SNAP_EDITED))
    n_fresh = n_pages - n_exact - n_edited
    src = rng.integers(0, len(corpus), n_exact + n_edited)
    src_urls = corpus.url.to_numpy()[src]
    src_texts = corpus.text.to_numpy()[src]
    texts = list(src_texts[:n_exact])
    texts += [" ".join(mutate(t.split(" "), rng)) for t in src_texts[n_exact:]]
    fresh, _, _ = _mixed_texts(rng, n_fresh, f"s{k}g")
    texts += fresh
    kinds = ["exact"] * n_exact + ["edited"] * n_edited + ["fresh"] * n_fresh
    sources = list(src_urls) + [None] * n_fresh
    order = rng.permutation(n_pages)
    texts = [texts[i] for i in order]
    kinds = [kinds[i] for i in order]
    sources = [sources[i] for i in order]
    urls = [_url(rng, f"s{k:03d}p{i:06d}") for i in range(n_pages)]
    pages = _frame(texts, urls, rng)
    prov = pd.DataFrame({"url": urls, "kind": kinds, "source_url": sources})
    return pages, prov


def _write_parquet(df: pd.DataFrame, path: str) -> None:
    # small row groups so that the scan splits across every task slot
    df.to_parquet(
        path,
        index=False,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
        row_group_size=2048,
    )


def paths(root: str, seed: int, n_pages: int, n_snapshots: int, snap_pages: int, warm_pages: int) -> dict:
    """Where :func:`materialize` puts the seed's inputs; the directory
    name holds every argument plus CORPUS_VERSION."""
    d = os.path.join(
        root, f"v{CORPUS_VERSION}-s{seed}-n{n_pages}-k{n_snapshots}x{snap_pages}-w{warm_pages}"
    )
    return {
        "dir": d,
        "done": os.path.join(d, "_DONE"),
        "pages": os.path.join(d, "pages.parquet"),
        "warm": os.path.join(d, "warm.parquet"),
        "truth": os.path.join(d, "truth.parquet"),
        "snapshots": [os.path.join(d, f"snap-{k:03d}.parquet") for k in range(n_snapshots)],
        "provenance": [os.path.join(d, f"prov-{k:03d}.parquet") for k in range(n_snapshots)],
    }


def materialize(
    root: str, seed: int, n_pages: int, n_snapshots: int = 0, snap_pages: int = 0, warm_pages: int = 0
) -> dict:
    """Write (or reuse) the seed's inputs under ``root``; returns their
    paths.  The warm-up input has ``warm_pages`` pages: snapshot 0 when
    there are snapshots, else ``warm.parquet``, the corpus's first rows
    (a random sample, rows being shuffled).  The ``_DONE`` marker is
    written last, so a half-written directory is regenerated."""
    p = paths(root, seed, n_pages, n_snapshots, snap_pages, warm_pages)
    if os.path.exists(p["done"]):
        return p
    os.makedirs(p["dir"], exist_ok=True)
    pages, truth = generate_corpus(seed, n_pages)
    _write_parquet(pages, p["pages"])
    truth.to_parquet(p["truth"], index=False)
    if warm_pages and not n_snapshots:
        _write_parquet(pages.iloc[:warm_pages], p["warm"])
    for k in range(n_snapshots):
        snap, prov = generate_snapshot(seed, k, warm_pages if k == 0 else snap_pages, pages)
        _write_parquet(snap, p["snapshots"][k])
        prov.to_parquet(p["provenance"][k], index=False)
    with open(p["done"], "w") as f:
        json.dump({"seed": seed, "n_pages": n_pages, "n_snapshots": n_snapshots}, f)
    return p


if __name__ == "__main__":
    import sys

    _root, *_sizes = sys.argv[1:7]
    materialize(_root, *(int(x) for x in _sizes))
