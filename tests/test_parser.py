"""Query-language parser: pure string→clauses tests (no Spark), then the
compiled search paths against brute-force oracles (Spark, see the fixtures
in conftest)."""

import pytest

from colbert_spark.query.parser import parse_query


def _one(q):
    p = parse_query(q)
    assert len(p.clauses) == 1
    return p.clauses[0]


def test_free_terms_are_should():
    p = parse_query("hash join")
    assert [(c.kind, c.occur, c.text) for c in p.clauses] == [
        ("term", "should", "hash"),
        ("term", "should", "join"),
    ]


def test_plus_minus_signs():
    p = parse_query("hash +join -loop")
    assert [(c.occur, c.text) for c in p.clauses] == [
        ("should", "hash"),
        ("must", "join"),
        ("must_not", "loop"),
    ]


def test_and_promotes_both_operands():
    p = parse_query("merge AND sort")
    assert [(c.occur, c.text) for c in p.clauses] == [
        ("must", "merge"),
        ("must", "sort"),
    ]


def test_or_and_not_keywords():
    p = parse_query("quick OR brown NOT fox")
    assert [(c.occur, c.text) for c in p.clauses] == [
        ("should", "quick"),
        ("should", "brown"),
        ("must_not", "fox"),
    ]


def test_mixed_and_or_matches_lucene_flat_semantics():
    # Lucene classic: "a AND b OR c" → +a +b c
    p = parse_query("a AND b OR c")
    assert [(c.occur, c.text) for c in p.clauses] == [
        ("must", "a"),
        ("must", "b"),
        ("should", "c"),
    ]


def test_boost_is_integer_qtf():
    c = _one("fox^3")
    assert (c.text, c.boost) == ("fox", 3)


def test_wildcard_patterns():
    c = _one("str*")
    assert (c.kind, c.dict_pattern()) == ("wildcard", "str%")
    c = _one("te?t")
    assert (c.kind, c.dict_pattern()) == ("wildcard", "te_t")


def test_wildcard_escapes_like_metachars():
    c = _one("50%*")
    assert c.dict_pattern() == r"50\%%"


def test_required_wildcard():
    c = _one("+miss*")
    assert (c.kind, c.occur) == ("wildcard", "must")


def test_range_clause():
    c = _one("[merge TO sort]")
    assert (c.kind, c.lo, c.hi) == ("range", "merge", "sort")


def test_fielded_term_and_pattern():
    c = _one("title:hash")
    assert (c.field, c.text) == ("title", "hash")
    c = _one("title:ha*")
    assert c.dict_pattern() == "title\x1fha%"


def test_phrase_and_slop():
    c = _one('"hash join"')
    assert (c.kind, c.text, c.slop) == ("phrase", "hash join", 0)
    c = _one('"hash join"~2')
    assert c.slop == 2


def test_must_phrase():
    p = parse_query('+"hash join" index')
    assert [(c.kind, c.occur) for c in p.clauses] == [
        ("phrase", "must"),
        ("term", "should"),
    ]


def test_prohibited_phrase_rejected():
    with pytest.raises(ValueError):
        parse_query('-"hash join"')


def test_fielded_range_rejected():
    with pytest.raises(ValueError):
        parse_query("title:[a TO b]")


def test_fielded_phrase_rejected():
    # the lexer would otherwise split it into the term clauses `"hash`, `join"`
    for q in ('title:"hash join"', 'title:"hash"', '+title:"hash join"~2'):
        with pytest.raises(ValueError):
            parse_query(q)


def test_empty_and_whitespace():
    assert parse_query("").clauses == []
    assert parse_query("   ").clauses == []


def test_properties_partition_clauses():
    p = parse_query('+a b -c +str* "p q"')
    assert [c.text for c in p.required] == ["a", "str*"]
    assert [c.text for c in p.prohibited] == ["c"]
    assert [c.text for c in p.scored] == ["a", "b", "str*"]
    assert [c.text for c in p.phrases] == ["p q"]


def test_fuzzy_suffix():
    p = parse_query("hsah~ joni~1 data~1^2 exact~0")
    assert [(c.kind, c.text, c.fuzz, c.boost) for c in p.clauses] == [
        ("fuzzy", "hsah", 2, 1),
        ("fuzzy", "joni", 1, 1),
        ("fuzzy", "data", 1, 2),
        ("term", "exact", 0, 1),
    ]


def test_fuzzy_occur_signs():
    p = parse_query("+merg~1 -sorrt~1 NOT worng~")
    assert [(c.occur, c.fuzz) for c in p.clauses] == [
        ("must", 1), ("must_not", 1), ("must_not", 2),
    ]


def test_fuzzy_distance_cap_and_wildcard_conflict():
    with pytest.raises(ValueError):
        parse_query("term~3")
    with pytest.raises(ValueError):
        parse_query("te*t~1")
