"""ES ``simple_query_string`` — the user-facing search-box syntax
(SURVEY.md §2H; the reference's implied search UI, utils.py:93-103's
Flask vestige, is a text box whose raw input ES deployments route
through exactly this never-throws parser).

Supported syntax (the high-traffic subset, parsed with ES's
never-raise contract — malformed input degrades to plain terms):

- ``term``    -> a should clause (optional, scores when it matches)
- ``+term``   -> a must clause (required, scores)
- ``-term``   -> a must_not clause (excluded, never scores)
- ``term*``   -> prefix expansion: the trailing ``*`` expands against
  the corpus/index term dictionary in TERM ORDER, capped at
  ``max_expansions`` (ES default 50 — the engine-wide enforced-bound
  convention); each expansion lands in the SHOULD list (a must prefix
  with several expansions relaxes to should-group semantics in real
  ES too, so this matches the common case). ``+term*`` / ``-term*``
  DEGRADE to the plain should prefix (round 13, per ADVICE r12: ES
  never throws on raw search-box input — a deployment routing user
  input must not crash on an unsupported polarity marker; the
  documented deviation is that the must/must_not polarity is dropped,
  not honored)
- a bare ``+`` / ``-`` / ``*`` or duplicate term collapses or drops
  per the never-throws rule (documented per case in
  :func:`parse_simple_query`)
- a query whose positive clauses all vanish (only ``-term`` clauses,
  or a prefix expanding to zero dictionary terms — a user typing
  ``zzz*``) returns the EMPTY (id, score, n_should) frame, exactly
  ES's empty-hits response (round 13, per ADVICE r12; the underlying
  programmer-facing :func:`~irclogbot_spark.operators.boolquery.
  bool_search` still raises on an empty positive clause list — the
  never-throws contract belongs to the search-box entry points)

The compiled query IS a :mod:`irclogbot_spark.operators.boolquery`
bool query — the parser produces (must, should, must_not), prefixes
expand against the source's term dictionary, and bool_search runs
over the same term source (operators/termsource.py), so the scan and
index sources stay bit-identical and every scale property is
inherited, not reimplemented.

Reference parity note: the reference bot has no query parser (it is
an ingest bot; irclogbot.py:50-51 only writes to ES) — this is the
§2H implied-search-surface completion, same as the rest of the ES
query family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from irclogbot_spark.operators.boolquery import bool_search
from irclogbot_spark.operators.termsource import expand_terms, source


def parse_simple_query(query: str) -> dict:
    """Parse the simple_query_string syntax into clause lists:
    ``{"must": [...], "should": [...], "must_not": [...],
    "prefixes": [...]}`` where prefixes are the bare/should
    ``term*`` stems awaiting dictionary expansion.

    Never raises on user input (the ES contract): empty tokens after
    stripping operators are dropped; a term repeated across clauses
    keeps its FIRST occurrence only (the engine's compound queries
    reject duplicate terms, so the parser dedupes rather than
    forwarding the error to a search box); ``+term*`` / ``-term*``
    degrade to the plain should prefix ``term*`` (round 13 — the
    polarity marker is dropped, the module-docstring deviation; ES
    itself relaxes a multi-expansion must prefix to a should group,
    and a raising parser would break the never-throws contract for
    raw search-box input)."""
    must: list[str] = []
    should: list[str] = []
    must_not: list[str] = []
    prefixes: list[str] = []
    seen: set[str] = set()
    for raw in (query or "").split():
        tok = raw
        polarity = "should"
        if tok[0] == "+":
            polarity, tok = "must", tok[1:]
        elif tok[0] == "-":
            polarity, tok = "must_not", tok[1:]
        prefix = tok.endswith("*")
        if prefix:
            tok = tok[:-1]
        if not tok or tok in seen:
            continue
        seen.add(tok)
        if prefix:
            # polarity dropped for prefixes — +term*/-term* degrade
            # to the should prefix (never-throws; docstring deviation)
            prefixes.append(tok)
        elif polarity == "must":
            must.append(tok)
        elif polarity == "must_not":
            must_not.append(tok)
        else:
            should.append(tok)
    return {
        "must": must,
        "should": should,
        "must_not": must_not,
        "prefixes": prefixes,
    }


def simple_query_string_search(
    src,
    query: str,
    max_expansions: int = 50,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """simple_query_string over either term source: parse, expand
    prefixes against the source's term dictionary (term order, capped
    per prefix, already-referenced terms excluded before the cap —
    termsource.expand_terms), and run the compiled bool query.
    Output/ordering contract = bool_search's (id, score, n_should). A
    query with no surviving positive clause (only must_not terms, or
    prefixes expanding to nothing) returns the empty frame — ES's
    empty-hits response, never an error (round 13, per ADVICE r12)."""
    clauses = parse_simple_query(query)
    must, should, must_not = clauses["must"], clauses["should"], clauses["must_not"]
    s = source(src, [text_col])
    if clauses["prefixes"]:
        should = should + expand_terms(
            s.vocab(), clauses["prefixes"], max_expansions,
            exclude=set(must + should + must_not),
        )
    if not must and not should:
        return s.docs.select(
            F.col(id_col),
            F.lit(0.0).alias("score"),
            F.lit(0).cast("long").alias("n_should"),
        ).limit(0)
    return bool_search(
        s, must, should, must_not, k=k, id_col=id_col, text_col=text_col, k1=k1, b=b
    )
