"""Lucene-style query-string parser: one string in, a full boolean/wildcard/
phrase search out, compiled onto the engine's existing primitives.

The reference exposes its retrieval as a programmatic API (a query string
tokenized and scored wholesale, ``awutils/search_utils.py``); production
full-text engines accept a *query language* (Lucene classic syntax, ES
`query_string`). This module closes that surface gap with a deliberately
flat, documented subset of Lucene classic syntax:

  hash join            free terms — scored disjunction (SHOULD)
  +join -loop          required / prohibited terms (MUST / MUST_NOT)
  merge AND sort       AND marks both operands required; OR is a no-op
  NOT loop             ≡ -loop
  str*  te?t           wildcard terms (expand against the term dictionary)
  term~  term~1        fuzzy terms (Lucene FuzzyQuery): expand against the
                       dictionary by Levenshtein distance ≤ N (default 2,
                       Lucene's LevenshteinAutomata.MAXIMUM_SUPPORTED_DISTANCE;
                       `~0` is the plain term); boost follows fuzz (`term~1^3`)
  [merge TO sort]      inclusive dictionary range (expands like wildcard)
  title:hash           fielded term (single-index BM25F builds key postings
                       as "field\\x1fterm", index/build.py:FIELD_SEP)
  term^3               integer boost — BM25's qtf weighting (the query-side
                       term repetition Lucene's qtf models)
  "hash join"          phrase — standalone phrase queries score as phrase
  "hash join"~2        BM25 (positions); in MIXED queries a phrase clause
                       acts as an exact-match FILTER (the Elasticsearch
                       bool-`filter` context: matches constrain, score comes
                       from the scored clauses)

Grammar is a flat clause list (no parentheses) — exactly the fragment whose
semantics Lucene's classic parser itself keeps flat. Everything compiles to
the searcher's native channels: SHOULD terms → the `question` string (qtf =
repetition), MUST units → the `require` column (conjunction of OR-groups,
commas separating alternatives inside a group — a required wildcard is one
group of its expansions), MUST_NOT → the `exclude` column, phrases → a
positional match-set filter (`search_filtered`) or the scored phrase path.
No new kernel, no new exchange: parsing is driver-side string work, and a
parsed batch runs the same single-scan plans as any other query batch.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

FIELD_SEP = "\x1f"  # keep in sync with index/build.py (fielded postings)

# clause lexer: phrases first (greedy inside quotes, optional ~slop), then
# ranges, then bare units (field:, +/- signs and ^boost handled around them)
_LEX = re.compile(
    r"""
    (?P<phrase>(?P<psign>[+\-])?"(?P<ptext>[^"]*)"(?:~(?P<slop>\d+))?)
  | (?P<range>(?P<rsign>[+\-])?\[(?P<lo>[^\s\]]+)\s+TO\s+(?P<hi>[^\s\]]+)\])
  | (?P<word>[^\s]+)
    """,
    re.VERBOSE,
)

_BOOST = re.compile(r"\^(\d+)$")
_FUZZ = re.compile(r"~(\d*)$")


@dataclass
class Clause:
    """One parsed clause. kind ∈ {term, wildcard, range, phrase};
    occur ∈ {should, must, must_not}. `field` is None or the field name
    (fielded indexes key postings as f"{field}\\x1f{term}")."""

    kind: str
    occur: str
    text: str = ""  # term or wildcard pattern or phrase text
    lo: str = ""
    hi: str = ""
    slop: int = 0
    boost: int = 1
    field: str | None = None
    fuzz: int = 0  # kind == "fuzzy": max Levenshtein edits (1 or 2)

    def dict_pattern(self) -> str:
        """SQL LIKE pattern for wildcard expansion (* → %, ? → _)."""
        pat = self.text.replace("%", r"\%").replace("_", r"\_")
        pat = pat.replace("*", "%").replace("?", "_")
        if self.field:
            pat = self.field + FIELD_SEP + pat
        return pat


@dataclass
class ParsedQuery:
    clauses: list[Clause] = field(default_factory=list)

    @property
    def phrases(self) -> list[Clause]:
        return [c for c in self.clauses if c.kind == "phrase"]

    @property
    def scored(self) -> list[Clause]:
        """Clauses contributing to BM25 (should + must term-likes)."""
        return [
            c
            for c in self.clauses
            if c.kind != "phrase" and c.occur in ("should", "must")
        ]

    @property
    def required(self) -> list[Clause]:
        return [
            c for c in self.clauses if c.kind != "phrase" and c.occur == "must"
        ]

    @property
    def prohibited(self) -> list[Clause]:
        return [
            c
            for c in self.clauses
            if c.kind != "phrase" and c.occur == "must_not"
        ]


def parse_query(q: str) -> ParsedQuery:
    """Parse one query string. Raises ValueError on syntax this subset does
    not define (a prohibited phrase, a fielded phrase, a fielded range) — a
    query service should surface that to the caller, not guess."""
    clauses: list[Clause] = []
    pending_occur: str | None = None  # from a leading +/-/NOT/AND
    for m in _LEX.finditer(q or ""):
        if m.group("phrase") is not None:
            sign = m.group("psign")
            occ = (
                {"+": "must", "-": "must_not"}[sign]
                if sign
                else (pending_occur or "should")
            )
            pending_occur = None
            if occ == "must_not":
                raise ValueError(
                    "prohibited phrase (-\"...\") is not in the supported "
                    "subset; rewrite as -term clauses"
                )
            clauses.append(
                Clause(
                    kind="phrase",
                    occur=occ,
                    text=m.group("ptext"),
                    slop=int(m.group("slop") or 0),
                )
            )
            continue
        if m.group("range") is not None:
            sign = m.group("rsign")
            clauses.append(
                Clause(
                    kind="range",
                    occur=(
                        {"+": "must", "-": "must_not"}[sign]
                        if sign
                        else (pending_occur or "should")
                    ),
                    lo=m.group("lo"),
                    hi=m.group("hi"),
                )
            )
            pending_occur = None
            continue
        w = m.group("word")
        if w == "AND":
            # AND promotes BOTH operands to required (Lucene classic)
            if clauses and clauses[-1].occur == "should":
                clauses[-1].occur = "must"
            pending_occur = "must"
            continue
        if w == "OR":
            pending_occur = None
            continue
        if w == "NOT":
            pending_occur = "must_not"
            continue
        occ = pending_occur or "should"
        pending_occur = None
        if w.startswith("+"):
            occ, w = "must", w[1:]
        elif w.startswith("-"):
            occ, w = "must_not", w[1:]
        if not w:
            continue
        boost = 1
        bm = _BOOST.search(w)
        if bm:
            boost, w = int(bm.group(1)), w[: bm.start()]
        fuzz = 0
        fm = _FUZZ.search(w)
        if fm:
            # Lucene classic: `term~` (default 2), `term~N` with N ≤ 2
            # (LevenshteinAutomata's max); `~0` degrades to the plain term
            fuzz = int(fm.group(1)) if fm.group(1) else 2
            w = w[: fm.start()]
            if fuzz > 2:
                raise ValueError(
                    f"fuzzy distance {fuzz} exceeds the supported maximum "
                    "of 2 edits (Lucene LevenshteinAutomata)"
                )
        fld = None
        if ":" in w:
            fld, w = w.split(":", 1)
            if not fld or not w:
                raise ValueError(f"malformed fielded clause: {w!r}")
            if "[" in w or "]" in w:
                raise ValueError(
                    "fielded range (field:[lo TO hi]) is not in the "
                    "supported subset"
                )
            if '"' in w:
                raise ValueError(
                    'fielded phrase (field:"...") is not in the supported '
                    "subset; rewrite as fielded term clauses"
                )
        if not w:
            continue
        kind = "wildcard" if ("*" in w or "?" in w) else "term"
        if fuzz:
            if kind == "wildcard":
                raise ValueError(
                    f"{w!r}: a clause cannot be both wildcard and fuzzy"
                )
            kind = "fuzzy"
        clauses.append(
            Clause(
                kind=kind, occur=occ, text=w, boost=boost, field=fld,
                fuzz=fuzz,
            )
        )
    return ParsedQuery(clauses)
