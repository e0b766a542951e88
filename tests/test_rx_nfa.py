"""Query-compiler tests: lexer/postfix goldens, trim goldens, and the
candidate-superset property (no false negatives) of NFA x index traversal
against a brute-force `re` oracle — all Spark-free."""

import re

import numpy as np
import pytest

from tetrex_spark.kernel.hashing import hash_char_kgrams
from tetrex_spark.plans.nfa import Kind, compile_nfa, postfix_to_ast
from tetrex_spark.plans.rx import Tok, to_postfix, tokenize, trim_regex
from tetrex_spark.plans.traverse import ExactBinIndex, collect

ALPHA = frozenset("acgt")


def _postfix_str(pattern):
    out = []
    for t in to_postfix(pattern):
        if t.type == Tok.CHAR:
            out.append(t.char)
        elif t.type == Tok.CONCAT:
            out.append("-")
        elif t.type == Tok.PIPE:
            out.append("|")
        elif t.type == Tok.STAR:
            out.append("*")
        elif t.type == Tok.PLUS:
            out.append("+")
        elif t.type == Tok.QUESTION:
            out.append("?")
        elif t.type == Tok.DOT:
            out.append(".")
        elif t.type == Tok.CLASS:
            out.append("[" + "".join(sorted(t.chars)) + "]")
        elif t.type == Tok.REPEAT:
            out.append("{%d,%d}" % (t.min_count, t.max_count))
    return "".join(out)


def test_postfix_goldens():
    assert _postfix_str("ab") == "ab-"
    assert _postfix_str("a|b") == "ab|"
    assert _postfix_str("ac+g") == "ac+-g-"
    assert _postfix_str("a(c|g)t") == "acg|-t-"
    assert _postfix_str("ab*") == "ab*-"
    assert _postfix_str("a{2,3}b") == "a{2,3}b-"


def test_lexer_rejects_open_ended_quantifier():
    with pytest.raises(ValueError, match="not supported"):
        tokenize("a{2,}")


def test_lexer_rejects_bad_class():
    with pytest.raises(ValueError):
        tokenize("[abc")
    with pytest.raises(ValueError):
        tokenize("[]")


def test_lexer_escapes():
    toks = tokenize(r"a\.b")
    assert [t.type for t in toks] == [Tok.CHAR, Tok.CHAR, Tok.CHAR]
    assert toks[1].char == "."


def test_class_membership_no_ranges():
    # the reference's range support is commented out: 'a-z' is 3 members
    toks = tokenize("[a-z]")
    assert toks[0].chars == frozenset("a-z")


def test_trim_goldens():
    assert trim_regex("^acg$") == "acg"
    assert trim_regex(".*acg.*") == "acg"
    assert trim_regex(".+acg") == "acg"
    assert trim_regex(".{2,5}acg") == "acg"
    assert trim_regex("[^x]acg") == "acg"
    assert trim_regex("[a-z]acg") == "acg"
    assert trim_regex("acg") == "acg"
    assert trim_regex("a.g") == "a.g"  # interior dot untouched
    # a stripped leading atom takes its quantifier along: '{6}', '+hello'
    # or '?hello' left behind quantify nothing and broke the NFA build
    assert trim_regex("[a-z]{6}") == ""
    assert trim_regex("[^x]{3}hello") == "hello"
    assert trim_regex("[a-z]+hello") == "hello"
    assert trim_regex(".?hello") == "hello"
    assert trim_regex(".{2}[^x]*hello") == "hello"
    assert trim_regex("hello[a-z]{2,4}") == "hello"


def test_negated_class_expands_against_alphabet():
    ast = postfix_to_ast(to_postfix("[^a]"), ALPHA)
    assert ast.chars == frozenset("cgt")


def test_nfa_is_dag_with_match():
    nfa = compile_nfa("ac+g", 3, ALPHA)
    kinds = [n.kind for n in nfa.nodes]
    assert Kind.MATCH in kinds and Kind.START in kinds
    nfa.topo_order()  # raises if cyclic


def test_dot_to_dot():
    assert "digraph" in compile_nfa("a.g", 3, ALPHA).to_dot()


def _mk_index(docs, n_bins, k):
    idx = ExactBinIndex(n_bins)
    for i, d in enumerate(docs):
        idx.add_doc(i % n_bins, hash_char_kgrams(d, k))
    return idx


def _true_bins(docs, n_bins, pattern):
    bins = set()
    rx = re.compile(pattern)
    for i, d in enumerate(docs):
        if rx.search(d):
            bins.add(i % n_bins)
    return bins


PATTERNS = [
    "acg",
    "ac+g",
    "a(c|g)t",
    "a(c+|g+)t",
    "ac?gt",
    "a.gt",
    "acg{2}t",
    "ac{1,3}t",
    "a[cg]t",
    "a[^c]gt",
    "gatt",
    "ta*cc",
    "c.{2}a",
]


@pytest.mark.parametrize("seed", range(8))
def test_candidate_superset_property(seed):
    """No false negatives: every bin containing a true regex match must be
    in the candidate set (the motif-query recall=1.0 target metric)."""
    rng = np.random.default_rng(seed)
    n_bins, k = 8, 3
    docs = [
        "".join(rng.choice(list("acgt"), size=int(rng.integers(8, 60))))
        for _ in range(40)
    ]
    idx = _mk_index(docs, n_bins, k)
    for pattern in PATTERNS:
        res = collect(compile_nfa(pattern, k, ALPHA), idx, k)
        cand = set(res.bin_ids())
        truth = _true_bins(docs, n_bins, pattern)
        assert truth <= cand, f"pattern {pattern}: missed bins {truth - cand}"


def test_exact_index_candidates_are_tight_for_literals():
    """With an exact index (no Bloom FPs), a pure literal's candidate set
    equals the set of bins containing every k-gram of the literal."""
    docs = ["aaccgg", "aacgg", "aacctt", "ttccaa"]
    idx = _mk_index(docs, 4, 3)
    res = collect(compile_nfa("aacc", 3, ALPHA), idx, 3)
    # bins 0 (aacc...) and 2 (aacct) contain both grams 'aac' and 'acc'
    assert set(res.bin_ids()) == {0, 2}
    assert not res.full_scan


def test_short_pattern_falls_back_to_full_scan():
    docs = ["aaccgg", "aacgg"]
    idx = _mk_index(docs, 2, 3)
    res = collect(compile_nfa("ac", 3, ALPHA), idx, 3)
    assert res.full_scan and set(res.bin_ids()) == {0, 1}


def test_alternation_with_short_arm_is_full_scan():
    # 'a|gatt': the 'a' arm never fills a window -> unconstrained
    docs = ["cccc", "gatt"]
    idx = _mk_index(docs, 2, 3)
    res = collect(compile_nfa("a|gatt", 3, ALPHA), idx, 3)
    assert res.full_scan


def test_gap_collapse_keeps_soundness():
    # big repeat triggers the complexity gap; superset must still hold
    docs = ["axxxxxxxxxxg" + "acg", "tttt"]
    idx = _mk_index(docs, 2, 3)
    alpha = frozenset("acgtx")
    res = collect(compile_nfa("acg.{0,10}", 3, alpha), idx, 3)
    assert 0 in set(res.bin_ids())


def test_reference_golden_mini():
    """The reference CLI golden (kbioreg_test.cpp:71-79): query AC+G over
    {file1: AACCGG, AACGG | file2: AACCTT, TTCCAA}, k=3 — candidates must
    include bin1 and exclude bin2 (exact index)."""
    docs_bin = [("aaccgg", 0), ("aacgg", 0), ("aacctt", 1), ("ttccaa", 1)]
    idx = ExactBinIndex(2)
    for d, b in docs_bin:
        idx.add_doc(b, hash_char_kgrams(d, 3))
    res = collect(compile_nfa("ac+g", 3, ALPHA), idx, 3)
    assert set(res.bin_ids()) == {0}


def test_doc_grams_memo_keeps_docs_known_from_another_path():
    """'bcd' is probed on two paths whose live documents overlap: the
    second probe evaluates only the documents the first did not, and the
    memo must answer the rest. Each A-type doc dies on one branch and
    survives only on the other, whichever branch probes 'bcd' first."""
    from tetrex_spark.plans.traverse import DocGrams

    docs = ["zbcdw xbc", "zbcdw", "xbcdy zbc", "xbcdy"]
    res = collect(compile_nfa("xbcdy|zbcdw", 3, frozenset("bcdwxyz ")), DocGrams(docs), 3)
    assert res.bins.tolist() == [True] * 4 and not res.full_scan
    assert res.n_cached == 0 and res.n_probes == 6  # 'bcd' probed twice


def test_prosite_to_posix_goldens():
    from tetrex_spark.plans.rx import prosite_to_posix

    # PROSITE documentation examples
    assert prosite_to_posix("[AC]-x-V-x(4)-{ED}.") == "[AC].V.{4}[^ED]"
    assert prosite_to_posix("<A-x-[ST](2)-x(0,1)-V") == "^A.[ST]{2}.{0,1}V"
    assert prosite_to_posix("C-x(2)-[DE]") == "C.{2}[DE]"
    assert prosite_to_posix("W-x(9,11)-[VFY]-[FYW]>") == "W.{9,11}[VFY][FYW]$"
    import pytest
    with pytest.raises(ValueError):
        prosite_to_posix("A-(3")
