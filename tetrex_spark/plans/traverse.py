"""NFA x BloomMatrix traversal -> candidate-bin bitvector — driver-side
query planner, stage 3. Semantic port of the reference's OTFCollector
(/root/reference/include/otf_collector.h:341-393):

  - seed the START state with an all-ones path over B bins;
  - sweep nodes in topological order (single pass — the DAG property);
  - CHARS node: consume one char per member, roll the k-char window;
    when a window fills, probe the Bloom matrix and AND the path with the
    returned bin vector (:263-266 `path &= hits`), dropping dead paths
    (:383 `path_.none()`);
  - absorption (:162-213): states at the same node with the same consumed
    tail are merged by OR-ing their path vectors — the tail is all that
    can influence future probes, so this is lossless and is what keeps
    the state count polynomial;
  - probe memoization (kmer_cache_, :54,260-276);
  - GAP: reset the window; if the gap's length set is bounded AND a
    d-gram index is attached, remember the 3 chars before the gap and —
    once 3 chars have been consumed after it — probe the gapped-gram
    Blooms and AND the OR-over-gap-lengths hit vector into the path
    (update_gapped, :216-245). Otherwise the gap is unconstrained;
  - MATCH: OR the path into the result (:361-362).

A path that reaches MATCH having never filled a window contributes an
unconstrained (all-ones) vector — this implements for real the fallback
the reference left dead in validate_regex (src/query.cpp:159-164): motifs
with < k anchored literals degrade to a full scan instead of silently
losing recall.

The gram probe comes from the source `collect` is given, through one
method, `probe_gram(gram, live) -> (hit, known)`: `hit` is the gram's
membership vector over the source's B "bins", exact on the mask `known`,
which covers `live` (the bins still live on the probing path). Two
sources exist:
  - a BloomMatrix (sources.sketch_store): bins are index bins; the gram is
    hashed and probed in every bin at once (`known` is every bin);
  - DocGrams: the "bins" are documents of normalized text, and a probe is
    `gram in text`, evaluated for the live documents only. Run over the
    candidate bins' documents, the traversal is TetRex's NFA x filter
    product at document level with exact gram sets — the AND/OR gram
    query of R. Cox, "Regular Expression Matching with a Trigram Index"
    (2012) — and the planner uses it to prune an unselective pattern's
    verify to the few documents that can match.
Either way a gram is memoized per traversal with the mask it is known on,
and probed again only for live bins outside that mask.
"""

from __future__ import annotations

import numpy as np

from ..functions.text import hash_char_kgram
from .dgram import PAD
from .nfa import NFA, Kind


class TraversalResult:
    def __init__(self, bins: np.ndarray, n_probes: int, n_cached: int, full_scan: bool):
        self.bins = bins  # (B,) bool — candidate bins
        self.n_probes = n_probes
        self.n_cached = n_cached
        self.full_scan = full_scan  # True when some accepting path was unconstrained

    def bin_ids(self) -> list[int]:
        return [int(i) for i in np.nonzero(self.bins)[0]]


MAX_STATES_PER_NODE = 4096


def collect(nfa: NFA, grams, k: int, dgram=None) -> TraversalResult:
    """grams: the gram probe source, with n_bins and probe_gram(gram, live)
    (a BloomMatrix, DocGrams, or the test oracle ExactBinIndex); dgram:
    optional plans.dgram.DGramIndex (or any probe_gap(l3, gaps, r3)
    provider), None at document level, where dropping the gap terms keeps
    the filter sound. Both duck-typed so tests can swap exact inverted
    indexes."""
    B = grams.n_bins
    tail_len = max(k - 1, PAD)
    ones = np.ones(B, dtype=bool)
    result = np.zeros(B, dtype=bool)
    cache: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    gap_cache: dict[tuple, np.ndarray] = {}
    stats = {"probes": 0, "cached": 0}
    full_scan = False

    def probe(gram: str, live: np.ndarray) -> np.ndarray:
        memo = cache.get(gram)
        todo = live if memo is None else live & ~memo[1]
        if memo is not None and not todo.any():
            stats["cached"] += 1
            return memo[0]
        stats["probes"] += 1
        hit, known = grams.probe_gram(gram, todo)
        if memo is not None:
            hit, known = np.where(known, hit, memo[0]), known | memo[1]
        cache[gram] = (hit, known)
        return hit

    def probe_gap(left3: str, gaps: frozenset, right3: str) -> np.ndarray:
        key = (left3, gaps, right3)
        hit = gap_cache.get(key)
        if hit is None:
            stats["probes"] += 1
            hit = dgram.probe_gap(left3, sorted(gaps), right3)
            gap_cache[key] = hit
        else:
            stats["cached"] += 1
        return hit

    # state key = (tail, pending); value = (path bool[B], probed_any)
    # tail: last <= max(k-1, 3) consumed chars since the last reset
    # pending: None | (left3, gaps) — an un-resolved d-gram constraint
    states: list[dict[tuple, tuple[np.ndarray, bool]]] = [dict() for _ in nfa.nodes]

    def absorb(node: int, key: tuple, path: np.ndarray, probed: bool) -> None:
        cur = states[node].get(key)
        if cur is None:
            states[node][key] = (path, probed)
        else:
            states[node][key] = (cur[0] | path, cur[1] and probed)

    order = nfa.topo_order()
    start = next(i for i in order if nfa.nodes[i].kind == Kind.START)
    states[start][("", None)] = (ones.copy(), False)

    for u in order:
        node_states = states[u]
        if not node_states:
            continue
        if len(node_states) > MAX_STATES_PER_NODE:
            # safety valve: collapse to one unconstrained-window state
            merged = np.zeros(B, dtype=bool)
            any_probed = True
            for p, pr in node_states.values():
                merged |= p
                any_probed = any_probed and pr
            node_states = {("", None): (merged, any_probed)}
            states[u] = node_states
        for (tail, pending), (path, probed) in node_states.items():
            for v in nfa.succ[u]:
                nd = nfa.nodes[v]
                if nd.kind == Kind.CHARS:
                    for c in nd.chars:
                        seq = tail + c
                        new_path = path
                        new_probed = probed
                        new_pending = pending
                        if len(seq) >= k:
                            hit = probe(seq[-k:], path)
                            new_path = new_path & hit
                            if not new_path.any():
                                continue  # dead path short-circuit
                            new_probed = True
                        if pending is not None and len(seq) >= PAD:
                            left3, gaps = pending
                            hit = probe_gap(left3, gaps, seq[:PAD])
                            new_path = new_path & hit
                            if not new_path.any():
                                continue
                            new_probed = True
                            new_pending = None
                        if new_path is path:
                            new_path = path.copy()
                        absorb(v, (seq[-tail_len:], new_pending), new_path, new_probed)
                elif nd.kind == Kind.GAP:
                    new_pending = None
                    if dgram is not None and nd.gaps is not None and len(tail) >= PAD:
                        new_pending = (tail[-PAD:], nd.gaps)
                    absorb(v, ("", new_pending), path.copy(), probed)
                else:  # GHOST / SPLIT / MATCH — epsilon forward
                    if nd.kind == Kind.MATCH:
                        result |= path
                        if not probed:
                            full_scan = True
                    else:
                        absorb(v, (tail, pending), path.copy(), probed)
        states[u] = {}  # free
    if full_scan:
        result = ones
    return TraversalResult(result, stats["probes"], stats["cached"], full_scan)


class DocGrams:
    """Exact gram membership over documents: "bin" i is document i of
    `texts` (normalized text, as the verify kernel searches it). A probe
    tests `gram in text` for the live documents only, so after the first
    grams of a pattern it touches the few documents still on the path."""

    def __init__(self, texts: list[str]):
        self.texts = texts
        self.n_bins = len(texts)

    def probe_gram(self, gram: str, live: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        docs = np.flatnonzero(live)
        hit = np.zeros(self.n_bins, dtype=bool)
        hit[docs] = [gram in self.texts[i] for i in docs]
        return hit, live


class ExactBinIndex:
    """Test oracle: exact per-bin k-gram sets with the BloomMatrix probe
    interface — lets property tests separate traversal errors from Bloom
    false positives."""

    def __init__(self, n_bins: int):
        self.n_bins = n_bins
        self.sets: list[set[int]] = [set() for _ in range(n_bins)]

    def add_doc(self, bin_id: int, keys: np.ndarray) -> None:
        self.sets[bin_id].update(int(x) for x in keys)

    def probe_gram(self, gram: str, live: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        key = hash_char_kgram(gram)
        return np.array([key in s for s in self.sets], dtype=bool), np.ones(self.n_bins, dtype=bool)
