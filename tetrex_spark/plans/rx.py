"""Regex lexer + postfix conversion + trim — driver-side query compiler,
stage 1. Semantic port of the reference's POSIX subset:

  - lexer: /root/reference/include/utils.h:96-310 — literals, escapes,
    '.', '* + ?', '|', '()', '[...]' / '[^...]' (NO ranges — the
    reference's range support is commented out at utils.h:156-168; class
    members are individual chars), '{m}' / '{m,n}', and '{m,}' is
    rejected (utils.h:219-222).
  - explicit concat insertion + shunting-yard with precedence
    union(1) < concat(2) < quantifiers(3): utils.h:312-468.
  - trimRegEx: /root/reference/src/query.cpp:78-141 — strip uninformative
    affixes: anchors, '.', '.*', '.+', '.{m,n}', and classes that are
    negated or contain '-'.

Divergence (documented): the reference's postfix is a *string* where '.'
and classes are pre-expanded into '|' alternation chains over the 20-AA
alphabet (utils.h:365-381). We keep CLASS tokens symbolic and resolve the
alphabet at NFA-build time from the corpus manifest — same semantics,
no 20x token blowup, web-text alphabets supported.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum


class Tok(Enum):
    CHAR = "char"
    DOT = "dot"
    CLASS = "class"
    STAR = "star"
    PLUS = "plus"
    QUESTION = "question"
    PIPE = "pipe"
    LPAREN = "lparen"
    RPAREN = "rparen"
    CONCAT = "concat"
    REPEAT = "repeat"  # {m} / {m,n}


@dataclass(frozen=True)
class Token:
    type: Tok
    char: str = ""
    chars: frozenset = field(default_factory=frozenset)
    negated: bool = False
    min_count: int = 0
    max_count: int = 0


_ESCAPES = {"n": "\n", "t": "\t", "r": "\r"}


def tokenize(pattern: str) -> list[Token]:
    toks: list[Token] = []
    i, n = 0, len(pattern)
    while i < n:
        c = pattern[i]
        if c == ".":
            toks.append(Token(Tok.DOT))
            i += 1
        elif c in "*+?|()":
            toks.append(
                Token(
                    {
                        "*": Tok.STAR,
                        "+": Tok.PLUS,
                        "?": Tok.QUESTION,
                        "|": Tok.PIPE,
                        "(": Tok.LPAREN,
                        ")": Tok.RPAREN,
                    }[c]
                )
            )
            i += 1
        elif c == "[":
            i += 1
            if i >= n:
                raise ValueError("character class: unexpected end of input")
            negated = False
            if pattern[i] == "^":
                negated = True
                i += 1
            members: set[str] = set()
            while i < n and pattern[i] != "]":
                if pattern[i] == "\\":
                    i += 1
                    if i >= n:
                        raise ValueError("invalid escape in character class")
                    members.add(_ESCAPES.get(pattern[i], pattern[i]))
                else:
                    members.add(pattern[i])
                i += 1
            if i >= n:
                raise ValueError("character class: missing closing ']'")
            if not members:
                raise ValueError("empty character class")
            i += 1
            toks.append(Token(Tok.CLASS, chars=frozenset(members), negated=negated))
        elif c == "{":
            j = pattern.find("}", i)
            if j < 0:
                raise ValueError("quantifier: missing '}'")
            body = pattern[i + 1 : j]
            if "," in body:
                lo, hi = body.split(",", 1)
                if not lo.strip().isdigit():
                    raise ValueError("quantifier: expected number after '{'")
                if hi.strip() == "":
                    raise ValueError("open-ended quantifiers {m,} not supported")
                if not hi.strip().isdigit():
                    raise ValueError("quantifier: expected number after ','")
                mn, mx = int(lo), int(hi)
                if mn > mx:
                    raise ValueError("quantifier: min > max")
            else:
                if not body.strip().isdigit():
                    raise ValueError("quantifier: expected number after '{'")
                mn = mx = int(body)
            toks.append(Token(Tok.REPEAT, min_count=mn, max_count=mx))
            i = j + 1
        elif c == "\\":
            i += 1
            if i >= n:
                raise ValueError("invalid escape: end of input after '\\'")
            toks.append(Token(Tok.CHAR, char=pattern[i]))
            i += 1
        else:
            toks.append(Token(Tok.CHAR, char=c))
            i += 1
    return toks


_OPERAND = (Tok.CHAR, Tok.DOT, Tok.CLASS)
_QUANT = (Tok.STAR, Tok.PLUS, Tok.QUESTION, Tok.REPEAT)
_PRECEDENCE = {Tok.PIPE: 1, Tok.CONCAT: 2, **{q: 3 for q in _QUANT}}


def insert_concat(tokens: list[Token]) -> list[Token]:
    out: list[Token] = []
    for i, t in enumerate(tokens):
        if i > 0:
            prev = tokens[i - 1]
            after = prev.type in _OPERAND + _QUANT or prev.type == Tok.RPAREN
            before = t.type in _OPERAND or t.type == Tok.LPAREN
            if after and before:
                out.append(Token(Tok.CONCAT))
        out.append(t)
    return out


def to_postfix(pattern: str) -> list[Token]:
    """Shunting-yard to a postfix token list (the reference emits a postfix
    *string*; tokens carry the same information without expansion)."""
    tokens = insert_concat(tokenize(pattern))
    out: list[Token] = []
    ops: list[Token] = []
    for t in tokens:
        if t.type in _OPERAND:
            out.append(t)
        elif t.type == Tok.LPAREN:
            ops.append(t)
        elif t.type == Tok.RPAREN:
            while ops and ops[-1].type != Tok.LPAREN:
                out.append(ops.pop())
            if ops:
                ops.pop()
        else:  # operator
            while (
                ops
                and ops[-1].type != Tok.LPAREN
                and _PRECEDENCE[ops[-1].type] >= _PRECEDENCE[t.type]
            ):
                out.append(ops.pop())
            ops.append(t)
    while ops:
        out.append(ops.pop())
    return out


# -- trim (P7) ---------------------------------------------------------------


def _quantifier_span(s: str, pos: int) -> int:
    """Length of a quantifier ('*', '+', '?', '{m}' or '{m,n}') starting at
    pos, else 0."""
    if pos < len(s) and s[pos] in "*+?":
        return 1
    if pos < len(s) and s[pos] == "{":
        end = s.find("}", pos + 1)
        if end != -1:
            return end - pos + 1
    return 0


def _uninformative_span(s: str, pos: int) -> int:
    """Length of an uninformative token starting at pos, with the
    quantifier that follows it, else 0 — port of matchUninformative
    (TetRex src/query.cpp:78-119). The quantifier goes with its
    atom: stripping '[a-z]' from '[a-z]{6}' alone would leave '{6}',
    which quantifies nothing."""
    c = s[pos]
    if c in "^$":
        return 1
    if c == ".":
        return 1 + _quantifier_span(s, pos + 1)
    if c == "[":
        end = s.find("]", pos + 1)
        if end != -1:
            inside = s[pos + 1 : end]
            if inside and (inside[0] == "^" or inside == "." or "-" in inside):
                return end - pos + 1 + _quantifier_span(s, end + 1)
    return 0


def trim_regex(pattern: str) -> str:
    """Strip uninformative leading/trailing tokens before NFA build —
    port of trimRegEx (/root/reference/src/query.cpp:121-141). Only the
    index/candidate side uses the trimmed form; verification always runs
    the original pattern."""
    start, end = 0, len(pattern)
    while start < end:
        ln = _uninformative_span(pattern, start)
        if ln == 0:
            break
        start += ln
    while end > start:
        # scan backwards: find the longest uninformative token ENDING at end
        ln = 0
        for back in range(1, min(16, end - start) + 1):
            cand = end - back
            if _uninformative_span(pattern, cand) == end - cand:
                ln = end - cand
                break
        if ln == 0:
            break
        end -= ln
    return pattern[start:end]


def prosite_to_posix(pattern: str) -> str:
    """PROSITE pattern notation -> POSIX regex (the `tetrex_tools convert
    -s prosite` analog, /root/reference/utils/tetrex_tools:130-153;
    written from the published PROSITE PA-line grammar, not the script).

    Elements are '-'-separated; 'x' is any residue; [ABC] a class; {ABC}
    a negated class; e(n) / e(n,m) repeats; '<' / '>' anchor N/C termini;
    a trailing '.' ends the pattern.
    """
    p = pattern.strip().rstrip(".")
    anchored_start = p.startswith("<")
    anchored_end = p.endswith(">")
    p = p.removeprefix("<").removesuffix(">")
    out = []
    for elem in p.split("-"):
        if not elem:
            continue
        rep = ""
        if "(" in elem:
            if not elem.endswith(")"):
                raise ValueError(f"bad PROSITE repeat in {elem!r}")
            elem, n = elem[:-1].split("(", 1)
            rep = "{%s}" % n.replace(",", ",")
        if elem == "x":
            out.append("." + rep)
        elif elem.startswith("[") and elem.endswith("]"):
            out.append(elem + rep)
        elif elem.startswith("{") and elem.endswith("}"):
            out.append("[^" + elem[1:-1] + "]" + rep)
        elif len(elem) == 1 and elem.isalpha():
            out.append(elem.upper() + rep)
        else:
            raise ValueError(f"bad PROSITE element {elem!r}")
    rx = "".join(out)
    if anchored_start:
        rx = "^" + rx
    if anchored_end:
        rx = rx + "$"
    return rx
