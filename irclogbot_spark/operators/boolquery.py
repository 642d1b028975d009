"""ES compound queries — ``bool`` (must/should/filter/must_not),
``dis_max``, ``boosting``, ``constant_score``, ``terms_set``,
``function_score`` and bool with fuzzy clauses (SURVEY.md §2H; every
Kibana search bar compiles to a bool query, every multi_match
best_fields to a dis_max).

Each query type is ONE function over either term source of
operators/termsource.py: a corpus DataFrame (scan; ``text_col`` names
its text column) or a loaded
:class:`~irclogbot_spark.operators.textindex.TextIndex` (one-shot
``read_text_index`` or streamed ``load_text``). The single-field
term frame is the multi_match frame over one field; every gate and
score below is written once against it, so both sources return
identical rows.

bool semantics (the ES contract, reproduced exactly):

- ``must``: every term must match; each contributes its BM25
  per-term score.
- ``should``: optional matches; each MATCHING term adds its BM25
  per-term score, and the doc must match at least
  ``minimum_should_match`` of them. Default: 0 when a must clause
  exists, 1 otherwise. DELIBERATE DEVIATION from ES: real ES also
  defaults msm to 0 when only a filter clause accompanies should,
  admitting zero-scoring filter-only hits. This engine's compound
  contract is that every returned doc has >= 1 scoring hit (the
  index source only materializes docs with a postings hit), so with
  an empty ``must`` the msm floor is 1 regardless of ``dl_between``,
  and an explicit ``minimum_should_match <= 0`` with empty must
  raises ValueError. ES's filter-only-match shape is served by
  :func:`constant_score_search` instead.
- ``filter``: non-scoring gate, modeled as a token-length range over
  the same dl the BM25 norm uses (the one numeric field both the
  corpus scan AND the index doclens table carry).
- ``must_not``: the doc must contain none of these terms; no score
  (the index source READS their postings, bucket-pruned, as an
  in-pivot exclusion — the corpus text is never touched).
- score = the per-term BM25 contributions of must + should terms
  added IN DECLARATION ORDER (a tf=0 term contributes exactly 0.0,
  so the gates and the score stay independent expressions — the
  fixed-order double assembly bm25_rank uses keeps both sources and
  the DuckDB oracle bit-identical).

dis_max: a doc matches when >= 1 clause term matches; score =
max(per-term scores) + tie_breaker * (sum - max) (ES's exact
formula; GREATEST + the fixed-order sum in the DuckDB twin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from irclogbot_spark.operators.termsource import (
    all_of,
    any_of,
    expand_terms,
    fixed_sum,
    hit,
    per_term_score,
    source,
    tf,
    top_k,
)


def parse_minimum_should_match(spec, n_should: int) -> int | None:
    """ES's minimum_should_match value syntax (round 13): an int (or
    int-string) passes through; ``"N%"`` resolves to N percent of
    the optional clause count ROUNDED DOWN (ES: 'percent of total
    optional clauses, rounded down'); ``"-N%"`` is the
    maximum-missing form — n_should minus floor(N% of n_should)
    ('indicates the max number of optional clauses that may be
    missing'). The combination syntax ('3<90%') is not supported —
    reject loudly rather than mis-resolve."""
    if spec is None or isinstance(spec, int):
        return spec
    s = str(spec).strip()
    if "<" in s:
        raise ValueError(
            f"minimum_should_match combination syntax is not supported: {s!r}"
        )
    if s.endswith("%"):
        try:
            pct = int(s[:-1])
        except ValueError:
            raise ValueError(f"bad minimum_should_match percentage: {s!r}")
        missing_or_needed = (abs(pct) * n_should) // 100
        return (
            n_should - missing_or_needed if pct < 0 else missing_or_needed
        )
    try:
        return int(s)
    except ValueError:
        raise ValueError(f"bad minimum_should_match value: {s!r}")


def _resolve_msm(
    minimum_should_match, must: list[str], should: list[str]
) -> int:
    """Resolve minimum_should_match per the module contract: with
    empty ``must`` the floor is 1 (explicit msm <= 0 there is
    rejected — the deliberate ES deviation; use constant_score for
    filter-only matching). Accepts ES's value syntax
    (:func:`parse_minimum_should_match`)."""
    minimum_should_match = parse_minimum_should_match(
        minimum_should_match, len(should)
    )
    if minimum_should_match is not None:
        if not must and should and minimum_should_match <= 0:
            raise ValueError(
                "minimum_should_match <= 0 with no must clause would "
                "admit zero-scoring hits, which the index source "
                "cannot serve (scan/index bit-identity); use "
                "constant_score_search for filter-only matching"
            )
        return minimum_should_match
    return 0 if must else (1 if should else 0)


def check_no_duplicate_terms(ref: list[str]) -> None:
    """A term referenced twice would be one index pivot column for
    two clauses; reject duplicates at every entry point so both
    sources agree on the accepted input space."""
    seen: set[str] = set()
    dups: set[str] = set()
    for t in ref:
        (dups if t in seen else seen).add(t)
    if dups:
        raise ValueError(
            f"duplicate terms across clauses are not allowed: {sorted(dups)}"
        )


def _scored_frame(src, terms, n_scoring, id_col, text_col, k1, b, stored=()):
    """(frame, per-term scores of the first n_scoring terms) over the
    single-field term frame — the shared start of every scorer."""
    check_no_duplicate_terms(terms)
    j = source(src, [text_col]).term_frame(terms, id_col, stored)
    return j, [per_term_score(text_col, i, k1, b) for i in range(n_scoring)]


def bool_search(
    src,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    minimum_should_match: int | str | None = None,
    dl_between: tuple[int, int] | None = None,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Scored bool query. Returns top-k (id_col, score, n_should)
    ordered (score desc, id asc)."""
    must, should, must_not = list(must or []), list(should or []), list(must_not or [])
    if not must and not should:
        raise ValueError("bool query needs at least one must or should term")
    msm = _resolve_msm(minimum_should_match, must, should)
    n_m, n_s = len(must), len(must) + len(should)
    f = text_col
    j, scores = _scored_frame(src, must + should + must_not, n_s, id_col, f, k1, b)
    n_should = F.lit(0)
    for i in range(n_m, n_s):
        n_should = n_should + F.when(hit(f, i), 1).otherwise(0)
    gate = [hit(f, i) for i in range(n_m)]
    gate += [tf(f, i) == 0 for i in range(n_s, n_s + len(must_not))]
    if dl_between is not None:
        lo, hi = dl_between
        gate.append(F.col(f"dl_{f}").between(F.lit(int(lo)), F.lit(int(hi))))
    gate.append(n_should >= F.lit(msm))
    return top_k(
        j.filter(all_of(gate)), fixed_sum(scores), id_col, k,
        n_should.cast("long").alias("n_should"),
    )


def dis_max_search(
    src,
    terms: list[str],
    tie_breaker: float = 0.3,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """dis_max: top-k (id_col, score) where score = max(per-term
    BM25) + tie_breaker * (sum - max); a doc matches when >= 1 term
    matches."""
    terms = list(terms)
    if not terms:
        raise ValueError("dis_max needs at least one term")
    j, scores = _scored_frame(src, terms, len(terms), id_col, text_col, k1, b)
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    score = best + F.lit(float(tie_breaker)) * (fixed_sum(scores) - best)
    gate = any_of(hit(text_col, i) for i in range(len(terms)))
    return top_k(j.filter(gate), score, id_col, k)


def boosting_search(
    src,
    positive: list[str],
    negative: list[str],
    negative_boost: float = 0.5,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """ES ``boosting`` query: docs matching >= 1 positive term,
    scored by the positive terms' fixed-order BM25 sum, DEMOTED (not
    excluded — the difference from bool must_not) by
    ``negative_boost`` when any negative term also matches. The
    demotion is one multiplication on the same expression tree both
    engines evaluate, so scores value-hash."""
    if not positive:
        raise ValueError("boosting needs at least one positive term")
    positive, negative = list(positive), list(negative or [])
    f, n_pos = text_col, len(positive)
    j, scores = _scored_frame(src, positive + negative, n_pos, id_col, f, k1, b)
    score = fixed_sum(scores)
    if negative:
        neg_match = any_of(hit(f, i) for i in range(n_pos, n_pos + len(negative)))
        score = score * F.when(
            neg_match, F.lit(float(negative_boost))
        ).otherwise(F.lit(1.0))
    return top_k(j.filter(any_of(hit(f, i) for i in range(n_pos))), score, id_col, k)


def constant_score_search(
    src,
    filter_terms: list[str],
    boost: float = 1.0,
    dl_between: tuple[int, int] | None = None,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES ``constant_score`` query: a pure filter-context match
    (every filter term present + the optional dl range) scoring
    every hit exactly ``boost`` — the cacheable no-relevance wrapper
    ES deployments put around term/range filters. Deterministic page:
    first k hits by id (scores are all equal, so id IS the sort
    key). The term frame is built without statistics: the scan form
    is map-only."""
    if not filter_terms:
        raise ValueError("constant_score needs at least one filter term")
    terms, f = list(dict.fromkeys(filter_terms)), text_col
    j = source(src, [f]).term_frame(terms, id_col, stats=False)
    gate = all_of(hit(f, i) for i in range(len(terms)))
    if dl_between is not None:
        lo, hi = dl_between
        gate = gate & F.col(f"dl_{f}").between(F.lit(int(lo)), F.lit(int(hi)))
    return (
        j.filter(gate)
        .select(F.col(id_col), F.lit(float(boost)).alias("score"))
        .orderBy(F.asc(id_col))
        .limit(k)
    )


def terms_set_search(
    src,
    terms: list[str],
    msm_col: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """ES ``terms_set`` query (round 12 — §2H): match the ``terms``
    where the REQUIRED count comes from a per-document field
    (``minimum_should_match_field`` — the classic skills/tags
    deployment). A doc matches when its number of matching terms >=
    its own msm field, clamped to >= 1 (the >= 1-scoring-hit
    contract); score = the fixed-order BM25 sum of the matching
    terms. Returns top-k (id, score, n_matched). The msm field is a
    stored-field fetch: in-row on the scan source, a co-keyed join of
    the index's ``stored`` frame on the index source."""
    terms = list(terms)
    if not terms:
        raise ValueError("terms_set needs at least one term")
    f = text_col
    j, scores = _scored_frame(src, terms, len(terms), id_col, f, k1, b, [msm_col])
    n_matched = fixed_sum(
        F.when(hit(f, i), 1).otherwise(0) for i in range(len(terms))
    ).cast("long")
    req = F.greatest(F.col(msm_col).cast("long"), F.lit(1).cast("long"))
    return top_k(
        j.filter(n_matched >= req), fixed_sum(scores), id_col, k,
        n_matched.alias("n_matched"),
    )


def _function_factor(spec: dict):
    """One ES score function as a Column factor. Supported kinds —
    all pure rational arithmetic, so the factors value-hash against
    the SQL twin (the gauss/exp decays need exp(), which differs
    across libms in the last ulp; the linear decay is the one ES
    decay shape with exact cross-engine semantics):

    - field_value_factor: factor * field (ES modifier 'none';
      missing -> the ``missing`` default, ES's own knob)
    - weight: a constant
    - linear_decay: max(0, (s - max(0, |v - origin| - offset)) / s)
      with s = scale / (1 - decay) — ES's exact linear decay
      (factor = decay at distance offset+scale, 1.0 inside offset)
    """
    kind = spec["kind"]
    if kind == "field_value_factor":
        v = F.coalesce(
            F.col(spec["field"]).cast("double"),
            F.lit(float(spec.get("missing", 1.0))),
        )
        return F.lit(float(spec.get("factor", 1.0))) * v
    if kind == "weight":
        return F.lit(float(spec["weight"]))
    if kind == "linear_decay":
        decay = float(spec.get("decay", 0.5))
        scale = float(spec["scale"])
        # decay=1.0 would divide by zero at plan-build; ES itself
        # requires 0 < decay < 1 and a positive scale
        if not (0.0 < decay < 1.0):
            raise ValueError(f"linear_decay requires 0 < decay < 1, got {decay}")
        if scale <= 0.0:
            raise ValueError(f"linear_decay requires scale > 0, got {scale}")
        s = scale / (1.0 - decay)
        dist = F.abs(F.col(spec["field"]) - F.lit(spec["origin"]))
        offset = float(spec.get("offset", 0.0))
        if offset:
            dist = F.greatest(F.lit(0.0), dist - F.lit(offset))
        return F.greatest(F.lit(0.0), (F.lit(s) - dist) / F.lit(s))
    raise ValueError(f"unknown score function kind {kind!r}")


def function_score_search(
    src,
    terms: list[str],
    functions: list[dict],
    score_mode: str = "multiply",
    boost_mode: str = "multiply",
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """ES function_score query: the match's fixed-order BM25 sum
    reshaped by document-level score functions (field boosts,
    constant weights, linear decay — the recency/popularity-boost
    deployment). Factors combine per ``score_mode`` in declaration
    order, then fold into the query score per ``boost_mode`` —
    identical expression trees in the SQL twin. The function fields
    are a stored-field fetch (see :func:`terms_set_search`)."""
    # validate modes up front — with <= 1 function the combine
    # branches never run, so a typo'd mode would otherwise silently
    # behave like the default
    if score_mode not in ("multiply", "sum"):
        raise ValueError(f"unknown score_mode {score_mode!r}")
    if boost_mode not in ("multiply", "sum"):
        raise ValueError(f"unknown boost_mode {boost_mode!r}")
    terms = list(terms)
    if not terms:
        raise ValueError("function_score needs at least one term")
    factors = [_function_factor(spec) for spec in functions]
    fields = sorted({s["field"] for s in functions if "field" in s})
    j, scores = _scored_frame(src, terms, len(terms), id_col, text_col, k1, b, fields)
    score = fixed_sum(scores)
    if factors:
        combined = factors[0]
        for fac in factors[1:]:
            combined = combined * fac if score_mode == "multiply" else combined + fac
        score = score * combined if boost_mode == "multiply" else score + combined
    gate = any_of(hit(text_col, i) for i in range(len(terms)))
    return top_k(j.filter(gate), score, id_col, k)


def bool_fuzzy_search(
    src,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    fuzzy: list[str] | None = None,
    max_dist: int = 1,
    max_expansions: int = 50,
    minimum_should_match: int | str | None = None,
    dl_between: tuple[int, int] | None = None,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """ES bool query with FUZZY clauses (round 13 — ES ``match``
    accepts ``fuzziness`` inside compound queries; a search bar with
    a typo compiles to exactly this). Each ``fuzzy`` stem expands
    against the source's term dictionary (banded Levenshtein <=
    max_dist, ES's top-frequency rewrite order, capped at
    max_expansions per stem — termsource.expand_terms; the index
    dictionary's df equals the scan's per-type document count, so
    both sources pick identical expansions) and the expansions join
    the SHOULD list — ES relaxes a multi-expansion fuzzy clause to a
    should group the same way. The compiled query IS
    :func:`bool_search`.

    Raises when no positive clause survives (the programmer-facing
    bool contract); route raw search-box input through
    simple_query_string for the never-throws behavior."""
    must, should, must_not = list(must or []), list(should or []), list(must_not or [])
    s = source(src, [text_col])
    if fuzzy:
        should = should + expand_terms(
            s.vocab(), list(fuzzy), max_expansions,
            exclude=set(must + should + must_not), max_dist=max_dist,
        )
    return bool_search(
        s, must, should, must_not, minimum_should_match, dl_between,
        k, id_col, text_col, k1, b,
    )
