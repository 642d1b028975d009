"""ES multi-field retrieval — ``multi_match`` (types best_fields,
most_fields and cross_fields) and ``match_phrase_prefix``, the
high-traffic search-box query types (SURVEY.md §2H; the reference's
implied search UI — utils.py:93-103's Flask vestige — is exactly a
search box, and every ES search box issues these).

Both are ONE function over either term source of
operators/termsource.py: a corpus DataFrame (scan) or loaded text
indexes (``read_text_index`` / ``load_text``; multi_match takes one
index per field — a field is its own index, as in ES).

multi_match best_fields semantics (the ES contract): the query
compiles to a dis_max over per-FIELD match queries. Each field f
scores sum-over-terms of its own BM25 (per-field dl, avgdl, df — a
field is its own corpus in ES) times the field's boost; the doc's
score is max over fields + tie_breaker * (sum - max); a doc matches
when >= 1 term matches in >= 1 field. Per-field sums and the
cross-field total use fixed declaration order, so the scores
value-hash against the SQL twin. ``most_fields`` replaces the dis_max
combine with the plain sum (ES compiles it to a bool should over the
per-field match queries).

``cross_fields`` (round 13) is TERM-centric: ES treats the field
group as one logical field for term statistics (the structured
first-name/last-name deployment — 'Will Smith' should not reward
'Will' being rare in last_name). Each term's df BLENDS to the max
over fields (ES's BlendedTermQuery), the term scores in every field
with that shared df (own dl/avgdl norm and boost), fields combine per
term as max + tie_breaker * (sum - max) (tie_breaker defaults to 0.0
= pure best-of), and the TERMS sum in declaration order. A single
field degenerates all three types to the same score.

The ``operator`` knob (round 13): ``and`` under the field-centric
types requires one field to contain ALL terms (that field's match
query is an AND; a non-matching field contributes exactly 0.0), and
under cross_fields requires every term somewhere in the group. Gate
and expression changes only.

match_phrase_prefix semantics: a phrase whose LAST position is a
prefix — "quick brown f" matches docs containing "quick brown <token
starting with f>". ES expands the prefix against the term dictionary
in TERM ORDER, capped at ``max_expansions`` (default 50), and only
expanded terms count. Result rows carry the phrase-prefix occurrence
count (every matching start, overlaps included). The expansion is the
shared dictionary walk (a bounded driver-side collect); the phrase
step is the source's own algorithm — an in-row start search over the
scan, position intersection over the index.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from irclogbot_spark.operators.boolquery import check_no_duplicate_terms
from irclogbot_spark.operators.termsource import (
    all_of,
    any_of,
    expand_terms,
    fixed_sum,
    hit,
    per_term_score,
    source,
    top_k,
)

#: the supported multi_match types (ES's analyzer-compatible group)
MM_TYPES = ("best_fields", "most_fields", "cross_fields")


def _norm_fields(fields) -> list[tuple[str, float]]:
    """Accept [(field, boost), ...] or {field: boost} (dict order is
    declaration order); validate non-empty, unique, positive."""
    pairs = list(fields.items()) if isinstance(fields, dict) else list(fields)
    if not pairs:
        raise ValueError("multi_match needs at least one field")
    names = [f for f, _ in pairs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate fields: {names}")
    for f, b in pairs:
        if float(b) <= 0.0:
            raise ValueError(f"field boost must be > 0, got {f}={b}")
    return [(f, float(b)) for f, b in pairs]


def _dis_max(scores: list[Column], tie_breaker: float) -> Column:
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    return best + F.lit(float(tie_breaker)) * (fixed_sum(scores) - best)


def multi_match(
    src,
    terms: list[str],
    fields,
    tie_breaker: float = 0.0,
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    mm_type: str = "best_fields",
    operator: str = "or",
) -> DataFrame:
    """multi_match: top-k (id_col, score) ordered (score desc, id
    asc). ``fields`` maps field -> boost ([(name, boost), ...] or a
    dict, in declaration order). ``src`` is a DataFrame carrying one
    text column per field, or a {field: TextIndex} mapping. A doc
    absent from a field's index hits has tf=0 there, so its per-term
    BM25 is exactly the 0.0 the scan's tf=0 expression yields.
    ``mm_type`` and ``operator`` per the module docstring;
    tie_breaker applies to best_fields and cross_fields only."""
    if mm_type not in MM_TYPES:
        raise ValueError(f"unknown multi_match type {mm_type!r}")
    if operator not in ("or", "and"):
        raise ValueError(f"unknown multi_match operator {operator!r}")
    if mm_type == "most_fields" and tie_breaker != 0.0:
        raise ValueError("tie_breaker only applies to best_fields")
    terms = list(terms)
    if not terms:
        raise ValueError("multi_match needs at least one term")
    check_no_duplicate_terms(terms)
    pairs = _norm_fields(fields)
    names, nt = [f for f, _ in pairs], len(terms)
    j = source(src, names).term_frame(terms, id_col)
    full = {f: all_of(hit(f, i) for i in range(nt)) for f in names}
    if operator == "or":
        gate = any_of(hit(f, i) for f in names for i in range(nt))
    elif mm_type == "cross_fields":
        # term-centric AND: every term in >= 1 field
        gate = all_of(any_of(hit(f, i) for f in names) for i in range(nt))
    else:
        # field-centric AND: some field contains ALL terms
        gate = any_of(full.values())
    if mm_type == "cross_fields":
        per_term = []
        for i in range(nt):
            dfs = [F.col(f"df_{f}_{i}") for f in names]
            blend = F.greatest(*dfs) if len(dfs) > 1 else dfs[0]
            in_fields = [
                F.lit(bo) * per_term_score(f, i, k1, b, blend) for f, bo in pairs
            ]
            per_term.append(_dis_max(in_fields, tie_breaker))
        score = fixed_sum(per_term)
    else:
        scores = [
            F.lit(bo) * fixed_sum(per_term_score(f, i, k1, b) for i in range(nt))
            for f, bo in pairs
        ]
        if operator == "and":
            # a field missing a term does not match: it contributes 0.0
            scores = [
                F.when(full[f], s).otherwise(F.lit(0.0))
                for f, s in zip(names, scores)
            ]
        score = (
            _dis_max(scores, tie_breaker)
            if mm_type == "best_fields"
            else fixed_sum(scores)
        )
    return top_k(j.filter(gate), score, id_col, k)


def match_phrase_prefix(
    src,
    terms: list[str],
    prefix: str,
    max_expansions: int | None = 50,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """match_phrase_prefix: top-k (id_col, phrase_count) of docs
    containing the fixed ``terms`` followed by a token starting with
    ``prefix``, counting only the first ``max_expansions`` prefix
    expansions in term order (ES's dictionary-order expansion cap;
    None expands every match). ``terms`` may be empty — the pure
    prefix query, ES's single-partial-term search box."""
    if not prefix:
        raise ValueError("match_phrase_prefix needs a non-empty prefix")
    terms = list(terms or [])
    s = source(src, [text_col])
    expanded = expand_terms(s.vocab(), [prefix], max_expansions)
    if not expanded:
        return s.docs.select(
            F.col(id_col), F.lit(0).cast("long").alias("phrase_count")
        ).limit(0)
    return (
        s.phrase_prefix(terms, expanded, id_col)
        .filter(F.col("phrase_count") > 0)
        .orderBy(F.desc("phrase_count"), F.asc(id_col))
        .limit(k)
    )
