"""Seeded corpus generator for the benchmark workloads.

Single process, numpy-vectorized. Each workload's corpus is written as
multi-file parquet (so a scan splits across every core) next to a
`truth.json` holding the ground truth the program under test never sees:
exact distinct shingles, length quantiles, top tokens and the match set
of every query in the pool (sketch_motif), and the planted near-duplicate
clusters (neardup_dedup).

All text is already in the library's normalized form (lowercase ASCII,
single spaces), so the truth computed here on the raw strings is the
truth for the normalized text the library indexes and verifies.

Usage:
  python perfbench/gen.py --workload sketch_motif --seed 7 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 8  # parquet files per table: 2 splits per core on 4 cores
LANGS = ("en", "de", "fr", "es", "ja")
LANG_P = (0.5, 0.2, 0.15, 0.1, 0.05)
# vocabulary words are consonant-vowel syllables; planted motifs use only
# letters the vocabulary never contains, so their k-grams occur nowhere else
_CONS = np.array(list("bcdfghklmnprstvw"))
_VOWS = np.array(list("aeiou"))
_RARE = np.array(list("qxzjy"))

SKETCH_N_BINS = 64
MOTIF_N_BINS = 32
MOTIF_K = 5
MOTIF_MAX_GAP = 3
NEARDUP_MAX_BUCKET = 512


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def make_words(rng: np.random.Generator, n: int) -> np.ndarray:
    """`n` distinct consonant-vowel words of 2-4 syllables, in a seeded
    order (position = frequency rank when sampled with zipf_p)."""
    out: dict[str, None] = {}
    while len(out) < n:
        m = 2 * (n - len(out)) + 16
        nsyl = rng.integers(2, 5, size=m)
        cons = _CONS[rng.integers(0, len(_CONS), size=(m, 4))]
        vows = _VOWS[rng.integers(0, len(_VOWS), size=(m, 4))]
        for i in range(m):
            w = "".join(c + v for c, v in zip(cons[i, : nsyl[i]], vows[i, : nsyl[i]]))
            out.setdefault(w, None)
            if len(out) == n:
                break
    return np.array(list(out), dtype=object)


def rare_word(rng: np.random.Generator, length: int) -> str:
    return "".join(_RARE[rng.integers(0, len(_RARE), size=length)]) + "".join(
        _CONS[rng.integers(0, len(_CONS), size=2)]
    )


def doc_lengths(rng: np.random.Generator, n: int, mean: float, lo: int, hi: int) -> np.ndarray:
    raw = rng.lognormal(np.log(mean), 0.5, size=n)
    return np.clip(raw.astype(np.int64), lo, hi)


def join_docs(words: np.ndarray, ids: np.ndarray, lengths: np.ndarray) -> list[str]:
    toks = words[ids]
    ends = np.cumsum(lengths)
    return [" ".join(toks[e - n : e]) for e, n in zip(ends, lengths)]


def write_table(out_dir: str, cols: dict[str, list | np.ndarray], n_files: int = N_FILES) -> None:
    """Write `cols` as `n_files` parquet files of contiguous row ranges."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table(cols)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"))


def _urls(hosts: np.ndarray, doc_ids: np.ndarray) -> list[str]:
    return [f"http://h{h}.example/doc/{d}" for h, d in zip(hosts, doc_ids)]


# -- sketch_motif ----------------------------------------------------------------

DOCS = 6000
HOSTS = 128
TOPICS = 32
COMMON_VOCAB = 200
TOPIC_VOCAB = 250
P_COMMON = 0.5
APPEND_BATCHES = 8
APPEND_DOCS = 300
TOP_K = 20
HH_PHI_DEN = 1000
QUANTILES = [0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99]
POOL_PER_CLASS = 8
QUERY_CLASSES = ("literal", "alternation", "gap", "unselective")


class _Pages:
    """Topical web pages: each host has one of TOPICS sub-vocabularies and
    a language; every token is a Zipf draw from the shared common
    vocabulary (probability P_COMMON) or from the host's topic."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.words = make_words(rng, COMMON_VOCAB + TOPICS * TOPIC_VOCAB)
        self.host_topic = rng.permutation(HOSTS) % TOPICS
        self.host_lang = np.array(LANGS)[rng.choice(len(LANGS), HOSTS, p=LANG_P)]
        self.host_p = zipf_p(HOSTS, 0.8)

    def draw(self, n_docs: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(hosts, token ids, lengths) of `n_docs` new pages."""
        rng = self.rng
        hosts = rng.choice(HOSTS, n_docs, p=self.host_p)
        lengths = doc_lengths(rng, n_docs, 70, 8, 300)
        total = int(lengths.sum())
        common = rng.choice(COMMON_VOCAB, size=total, p=zipf_p(COMMON_VOCAB, 1.0))
        topic = rng.choice(TOPIC_VOCAB, size=total, p=zipf_p(TOPIC_VOCAB, 1.0))
        topic += COMMON_VOCAB + TOPIC_VOCAB * np.repeat(self.host_topic[hosts], lengths)
        ids = np.where(rng.random(total) < P_COMMON, common, topic)
        return hosts, ids, lengths

    def topic_word(self, t: int, rank: int) -> str:
        return self.words[COMMON_VOCAB + TOPIC_VOCAB * t + rank]


def _query_pool(rng, pages: _Pages, planted, gapped) -> dict[str, list[str]]:
    """POOL_PER_CLASS patterns per class. Selective literals and
    alternations are planted motifs or mid-rank topic words of at least
    MOTIF_K + 3 letters; unselective ones join common words, which every
    bin holds."""
    pool: dict[str, list[str]] = {c: [] for c in QUERY_CLASSES}
    long_ranks = lambda t: [r for r in range(20, 120) if len(pages.topic_word(t, r)) >= MOTIF_K + 3]
    for i in range(POOL_PER_CLASS):
        if i % 2:
            w = planted[i]
            pool["literal"].append(w)
            pool["alternation"].append(w[:2] + "[" + w[2] + "aeiou]" + w[3:])
        else:
            t = int(rng.integers(0, TOPICS))
            a, b = rng.choice(long_ranks(t), 2, replace=False)
            pool["literal"].append(pages.topic_word(t, a))
            pool["alternation"].append(f"({pages.topic_word(t, a)}|{pages.topic_word(t, b)})")
        left, right = gapped[i]
        pool["gap"].append(f"{left}.{{0,{MOTIF_MAX_GAP}}}{right}")
        c1, c2, c3 = rng.choice(np.arange(3, 30), 3, replace=False)
        w = pages.words
        pool["unselective"].append(f"({w[c1]}|{w[c2]}) {w[c3]}")
    return pool


def _match_truth(texts: list[str], urls: list[str], patterns) -> dict[str, list]:
    """Every match of every pattern, via one pass per pattern over the
    newline-joined corpus (no pool pattern can match a newline). Texts and
    patterns are lowercase, so this case-sensitive search finds what the
    library's case-insensitive verify finds."""
    blob = "\n".join(texts)
    doc_start = np.cumsum([0] + [len(t) + 1 for t in texts[:-1]])
    out = {}
    for pat in patterns:
        got = []
        for m in re.finditer(pat, blob):
            d = int(np.searchsorted(doc_start, m.start(), side="right") - 1)
            got.append([urls[d], m.start() - int(doc_start[d]), m.end() - int(doc_start[d])])
        out[pat] = got
    return out


def sketch_motif(seed: int, out: str) -> dict:
    rng = _rng(seed, 1)
    pages = _Pages(rng)
    hosts, ids, lengths = pages.draw(DOCS)
    ends = np.cumsum(lengths)
    rows = [ids[e - n : e].tolist() for e, n in zip(ends, lengths)]
    # planted motifs get token ids after the vocabulary's
    extra: list[str] = []

    def plant(docs: np.ndarray, word: str, n: int) -> None:
        extra.append(word)
        tid = len(pages.words) + len(extra) - 1
        for d in rng.choice(docs, size=n, replace=False):
            row = rows[int(d)]
            row.insert(int(rng.integers(0, len(row) + 1)), tid)

    planted, gapped = [], []
    for _ in range(POOL_PER_CLASS):
        w = rare_word(rng, 5)
        planted.append(w)
        plant(np.flatnonzero(np.isin(hosts, rng.choice(HOSTS, 2, replace=False))), w, 6)
    for _ in range(POOL_PER_CLASS):
        left, right = rare_word(rng, 3), rare_word(rng, 3)
        docs = np.flatnonzero(np.isin(hosts, rng.choice(HOSTS, 2, replace=False)))
        for _ in range(5):
            n_fill = int(rng.integers(0, MOTIF_MAX_GAP + 1))
            fill = "".join(_CONS[rng.integers(0, len(_CONS), size=n_fill)])
            plant(docs, left + fill + right, 1)
        gapped.append((left, right))
    vocab = np.concatenate([pages.words, np.array(extra, dtype=object)])
    n_tok = np.array([len(r) for r in rows], dtype=np.int64)
    flat = np.fromiter((t for r in rows for t in r), dtype=np.int64, count=int(n_tok.sum()))
    texts = join_docs(vocab, flat, n_tok)
    doc_ids = np.arange(DOCS, dtype=np.int64)
    urls = _urls(hosts, doc_ids)
    write_table(
        os.path.join(out, "corpus"),
        {"doc_id": doc_ids, "url": urls, "text": texts,
         "lang": pages.host_lang[hosts].tolist()},
    )
    # exact token statistics
    starts = np.cumsum(n_tok) - n_tok
    pos = np.arange(flat.size) - np.repeat(starts, n_tok)
    ok = np.flatnonzero(pos <= np.repeat(n_tok, n_tok) - 3)
    V = np.int64(vocab.size)
    shingles = (flat[ok] * V + flat[ok + 1]) * V + flat[ok + 2]
    counts = np.bincount(flat, minlength=vocab.size)
    cand = np.flatnonzero(counts >= np.sort(counts)[-10 * TOP_K])
    top = sorted(cand, key=lambda i: (-counts[i], vocab[i]))[: 10 * TOP_K]
    chars = np.array([len(t) for t in texts], dtype=np.int64)
    append_tokens = []
    for b in range(APPEND_BATCHES):
        bh, bids, blen = pages.draw(APPEND_DOCS)
        bdoc = np.arange(APPEND_DOCS, dtype=np.int64) + DOCS + b * APPEND_DOCS
        write_table(
            os.path.join(out, f"append_{b}"),
            {"doc_id": bdoc, "url": _urls(bh, bdoc), "text": join_docs(pages.words, bids, blen),
             "lang": pages.host_lang[bh].tolist()},
            n_files=1,
        )
        append_tokens.append(int(blen.sum()))
    pool = _query_pool(rng, pages, planted, gapped)
    return {
        "n_docs": DOCS,
        "n_tokens": int(flat.size),
        "distinct_shingles": int(np.unique(shingles).size),
        "top_tokens": [[vocab[i], int(counts[i])] for i in top],
        "top_k": TOP_K,
        "hh_phi_den": HH_PHI_DEN,
        "doc_len_tokens": np.sort(n_tok).tolist(),
        "doc_len_chars": np.sort(chars).tolist(),
        "append_tokens": append_tokens,
        "append_docs": APPEND_DOCS,
        "n_bins": MOTIF_N_BINS,
        "k": MOTIF_K,
        "max_gap": MOTIF_MAX_GAP,
        "pool": pool,
        "matches": _match_truth(texts, urls, [p for c in QUERY_CLASSES for p in pool[c]]),
    }


# -- neardup_dedup ---------------------------------------------------------------

NEARDUP_DOCS = 3000
NEARDUP_VOCAB = 20000
BOILERPLATE_COPIES = NEARDUP_MAX_BUCKET + 88
NEAR_CLUSTERS = 100
EXACT_CLUSTERS = 40


def neardup_dedup(seed: int, out: str) -> dict:
    rng = _rng(seed, 3)
    words = make_words(rng, NEARDUP_VOCAB)
    p = zipf_p(NEARDUP_VOCAB, 0.9)
    # cluster sizes: skewed (zipf-like), 2..40; near clusters differ by one
    # token substitution per member (pairwise jaccard ~0.9 at >=120 tokens)
    near_sizes = np.minimum(rng.zipf(1.8, NEAR_CLUSTERS) + 1, 40)
    exact_sizes = np.minimum(rng.zipf(1.8, EXACT_CLUSTERS) + 1, 40)
    n_single = NEARDUP_DOCS - int(near_sizes.sum() + exact_sizes.sum() + BOILERPLATE_COPIES)
    if n_single < 0:
        raise ValueError(f"seed {seed}: planted clusters exceed {NEARDUP_DOCS} docs")
    texts: list[str] = []
    clusters: list[list[int]] = []

    def new_doc(lo, hi, mean):
        n = int(doc_lengths(rng, 1, mean, lo, hi)[0])
        return list(words[rng.choice(NEARDUP_VOCAB, size=n, p=p)])

    for size in near_sizes:
        base = new_doc(120, 300, 160)
        members = [base]
        for _ in range(int(size) - 1):
            m = list(base)
            m[int(rng.integers(0, len(m)))] = words[int(rng.integers(0, NEARDUP_VOCAB))]
            members.append(m)
        clusters.append(list(range(len(texts), len(texts) + len(members))))
        texts.extend(" ".join(m) for m in members)
    for size in exact_sizes:
        t = " ".join(new_doc(20, 300, 100))
        clusters.append(list(range(len(texts), len(texts) + int(size))))
        texts.extend([t] * int(size))
    boiler = " ".join(new_doc(40, 41, 40))
    clusters.append(list(range(len(texts), len(texts) + BOILERPLATE_COPIES)))
    texts.extend([boiler] * BOILERPLATE_COPIES)
    for _ in range(n_single):
        texts.append(" ".join(new_doc(20, 300, 100)))
    # doc i of the build order gets id doc_ids[i], a seeded permutation, so
    # clusters straddle the frozen half
    doc_ids = rng.permutation(NEARDUP_DOCS).astype(np.int64)
    order = np.argsort(doc_ids)
    hosts = rng.integers(0, 64, NEARDUP_DOCS)
    write_table(
        os.path.join(out, "corpus"),
        {"doc_id": doc_ids[order], "url": _urls(hosts[order], doc_ids[order]),
         "text": [texts[i] for i in order], "lang": ["en"] * NEARDUP_DOCS},
    )
    id_clusters = [sorted(int(doc_ids[i]) for i in c) for c in clusters]
    half = NEARDUP_DOCS // 2
    return {
        "n_docs": NEARDUP_DOCS,
        "clusters": id_clusters,
        "frozen_below": half,
        "distinct_texts": len(set(texts)),
        "max_bucket": NEARDUP_MAX_BUCKET,
    }


GENERATORS = {
    "sketch_motif": sketch_motif,
    "neardup_dedup": neardup_dedup,
}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the workload's corpus under `out` and its truth to
    `out/truth.json`; return the truth."""
    truth = GENERATORS[workload](seed, out)
    truth["workload"], truth["seed"] = workload, seed
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(GENERATORS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
