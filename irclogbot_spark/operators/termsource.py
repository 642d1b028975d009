"""The two term sources every ES query type reads (SURVEY.md §2H;
boolquery.py, multimatch.py, querystring.py).

A query type is written ONCE — gates, scores, msm resolution and
validation — against a source that supplies:

- the per-field TERM FRAME: ``id``, ``n`` and per field ``f``
  ``dl_<f>``, ``avgdl_<f>``, then per query term ``i`` ``tf_<f>_<i>``
  and ``df_<f>_<i>`` (plus any requested stored-field columns);
- the TERM DICTIONARY, a (term, df) frame that fuzzy / prefix
  clauses expand against (:func:`expand_terms`);
- the STORED-FIELD fetch terms_set and function_score need;
- the PHRASE-PREFIX step of match_phrase_prefix.

The sources:

- :class:`Scan` — a corpus DataFrame plus its text column(s). One
  in-row projection tokenizes each field once and computes dl + one
  tf per term; ONE global aggregate produces the stats row (n,
  avgdl, df) and broadcasts back; stored fields ride the same
  projection. Zero corpus shuffles.
- :class:`Index` — one loaded
  :class:`~irclogbot_spark.operators.textindex.TextIndex` per field
  (``read_text_index`` for the one-shot artifact,
  ``streaming/textindex.load_text`` for a streamed one; a field is
  its own index, as in ES). Per field ONE bucket-pruned postings
  probe (literal crc32 buckets -> PartitionFilters; the corpus text
  is never read); the probe hits union into ONE doc-keyed pivot; dl
  left-joins from each field's doclens (coalesced to 0 — a doc
  absent from a field's hits has tf=0 there); stats and per-term df
  broadcast as 1-row frames. df from the probed postings equals the
  scan's tf>0 count because a postings row exists iff tf > 0. Docs
  with no hit are absent, which every scoring gate agrees with (the
  >= 1-scoring-hit contract, boolquery.py).

Both sources tokenize with WORD_RE and read a NULL field as '' (dl=0,
tf=0 — write_text_index writes the same doclens), so the two frames
hold identical values and the shared scorers return identical rows.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from irclogbot_spark.functions.text import WORD_RE
from irclogbot_spark.operators.textindex import (
    TextIndex,
    postings_tf,
    probe_postings,
)


def tf(f: str, i: int) -> Column:
    return F.col(f"tf_{f}_{i}")


def hit(f: str, i: int) -> Column:
    return tf(f, i) > 0


def any_of(cols) -> Column:
    return reduce(lambda a, c: a | c, cols)


def all_of(cols) -> Column:
    return reduce(lambda a, c: a & c, cols)


def fixed_sum(cols) -> Column:
    """Left fold in declaration order — the summation order the SQL
    twins use, so the doubles value-hash."""
    return reduce(lambda a, c: a + c, cols)


def per_term_score(f: str, i: int, k1: float, b: float, dfreq=None) -> Column:
    """The repo-wide BM25 per-term expression (rational idf — see
    bm25_rank's determinism note) for term ``i`` in field ``f``;
    ``dfreq`` overrides the field's own df (cross_fields' blend). A
    tf=0 term contributes a literal 0.0 and never divides: at k1=0,
    or b=1 with dl=0, the tf=0 quotient would be 0/0 (ANSI
    DIVIDE_BY_ZERO). At default k1/b the guard changes no value: the
    tf=0 quotient there is exactly +0.0."""
    dl, avgdl = F.col(f"dl_{f}"), F.col(f"avgdl_{f}")
    dfreq = F.col(f"df_{f}_{i}") if dfreq is None else dfreq
    denom_norm = F.lit(1.0) - F.lit(b) + F.lit(b) * dl / avgdl
    idf = (F.col("n") - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5))
    tfc = (tf(f, i) * (F.lit(k1) + F.lit(1.0))) / (
        tf(f, i) + F.lit(k1) * denom_norm
    )
    return F.when(hit(f, i), idf * tfc).otherwise(F.lit(0.0))


def top_k(frame: DataFrame, score: Column, id_col: str, k: int, *extra) -> DataFrame:
    """(id, score, *extra) ordered (score desc, id asc), cut to k — a
    partial TakeOrdered, never a global sort."""
    return (
        frame.select(F.col(id_col), score.alias("score"), *extra)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def _equals(t: str):
    return lambda x: x == F.lit(t)


def _tokens(col: Column) -> Column:
    return F.regexp_extract_all(F.coalesce(col, F.lit("")), F.lit(WORD_RE), F.lit(0))


class Scan:
    """Corpus-scan source: ``docs`` and the text column of each field.
    Both sources expose ``docs``, a frame with one row per document
    (the empty results take their id column from it)."""

    def __init__(self, docs: DataFrame, fields: list[str]):
        self.docs, self.fields = docs, list(fields)

    def term_frame(self, terms, id_col, stored=(), stats=True) -> DataFrame:
        cols = [F.col(id_col), *[F.col(c) for c in stored]]
        for f in self.fields:
            toks = _tokens(F.col(f))
            cols.append(F.size(toks).alias(f"dl_{f}"))
            cols.extend(
                F.size(F.filter(toks, _equals(t))).alias(f"tf_{f}_{i}")
                for i, t in enumerate(terms)
            )
        base = self.docs.select(*cols)
        if not stats:
            return base
        aggs = [F.count(F.lit(1)).alias("n")]
        for f in self.fields:
            aggs.append(
                (F.sum(f"dl_{f}").cast("double") / F.count(F.lit(1))).alias(
                    f"avgdl_{f}"
                )
            )
            aggs.extend(
                F.sum(F.when(hit(f, i), 1).otherwise(0)).alias(f"df_{f}_{i}")
                for i in range(len(terms))
            )
        return base.join(F.broadcast(base.agg(*aggs)))

    def vocab(self) -> DataFrame:
        toks = _tokens(F.col(self.fields[0]))
        return (
            self.docs.select(F.explode(F.array_distinct(toks)).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
        )

    def phrase_prefix(self, terms, expanded, id_col) -> DataFrame:
        """In-row start search: the starts i where toks[i..i+m-2]
        equals ``terms`` and toks[i+m-1] is an expansion, counted per
        row — document text never leaves the row. sequence() runs
        DESCENDING for n < 1, so short docs guard to empty."""
        toks = _tokens(F.col(self.fields[0]))
        m = len(terms) + 1
        starts = F.when(
            F.size(toks) >= m, F.sequence(F.lit(1), F.size(toks) - m + 1)
        ).otherwise(F.array().cast("array<int>"))

        def cand(i):
            c = F.element_at(toks, i + m - 1).isin(expanded)
            if terms:
                target = F.array(*[F.lit(t) for t in terms])
                c = (F.slice(toks, i, m - 1) == target) & c
            return c

        return self.docs.select(
            F.col(id_col),
            F.size(F.filter(starts, cand)).cast("long").alias("phrase_count"),
        )


class Index:
    """Text-index source: one :class:`TextIndex` per field."""

    def __init__(self, indexes: dict[str, TextIndex]):
        self.indexes = dict(indexes)
        self.first = next(iter(self.indexes.values()))
        self.docs = self.first.doclens

    def term_frame(self, terms, id_col, stored=(), stats=True) -> DataFrame:
        hits, one_rows = [], []
        for fi, (f, ix) in enumerate(self.indexes.items()):
            p = postings_tf(probe_postings(ix.postings, terms, ix.n_buckets), id_col)
            hits.append(p.select(F.col(id_col), F.lit(fi).alias("_f"), "term", "tf"))
            if stats:
                # every field's doclens covers the same corpus: n once
                s = [
                    (F.sum("dl").cast("double") / F.count(F.lit(1))).alias(
                        f"avgdl_{f}"
                    )
                ]
                if fi == 0:
                    s.append(F.count(F.lit(1)).alias("n"))
                one_rows.append(ix.doclens.agg(*s))
                one_rows.append(
                    p.agg(
                        *[
                            F.count(F.when(F.col("term") == t, 1)).alias(
                                f"df_{f}_{i}"
                            )
                            for i, t in enumerate(terms)
                        ]
                    )
                )
        frame = reduce(DataFrame.unionByName, hits).groupBy(id_col).agg(
            *[
                F.coalesce(
                    F.max(
                        F.when(
                            (F.col("_f") == fi) & (F.col("term") == t), F.col("tf")
                        )
                    ),
                    F.lit(0),
                ).alias(f"tf_{f}_{i}")
                for fi, f in enumerate(self.indexes)
                for i, t in enumerate(terms)
            ]
        )
        for f, ix in self.indexes.items():
            dl = ix.doclens.select(F.col(id_col), F.col("dl").alias(f"dl_{f}"))
            frame = frame.join(dl, id_col, "left").withColumn(
                f"dl_{f}", F.coalesce(F.col(f"dl_{f}"), F.lit(0))
            )
        if stored:
            if self.first.stored is None:
                raise ValueError(
                    f"fields {list(stored)} need the index's stored fields: "
                    "pass TextIndex(..., stored=<id + field columns>)"
                )
            frame = frame.join(self.first.stored.select(id_col, *stored), id_col)
        for row in one_rows:
            frame = frame.join(F.broadcast(row))
        return frame

    def vocab(self) -> DataFrame:
        return self.first.vocab

    def phrase_prefix(self, terms, expanded, id_col) -> DataFrame:
        """Position intersection (the phrase_search_indexed algorithm)
        over the fixed terms' + expansions' bucket-pruned postings,
        the last offset tested against the union of the expansions'
        position lists."""
        m = len(terms) + 1
        probe = list(dict.fromkeys(terms + expanded))
        p = probe_postings(self.first.postings, probe, self.first.n_buckets)
        aggs = [
            F.max(F.when(F.col("term") == t, F.col("positions"))).alias(f"ps{j}")
            for j, t in enumerate(terms)
        ]
        aggs.append(
            F.flatten(
                F.collect_list(F.when(F.col("term").isin(expanded), F.col("positions")))
            ).alias("exp_pos")
        )
        per_doc = p.groupBy(id_col).agg(*aggs).filter(F.size("exp_pos") > 0)
        for j in range(len(terms)):
            per_doc = per_doc.filter(F.col(f"ps{j}").isNotNull())
        if terms:

            def start_ok(pos):
                c = F.array_contains(F.col("exp_pos"), pos + m - 1)
                for j in range(1, len(terms)):
                    c = F.array_contains(F.col(f"ps{j}"), pos + j) & c
                return c

            count = F.size(F.filter(F.col("ps0"), start_ok))
        else:
            count = F.size("exp_pos")
        return per_doc.select(F.col(id_col), count.cast("long").alias("phrase_count"))


def source(src, fields: list[str]):
    """The term source for ``src``: a DataFrame scans its ``fields``
    columns; a TextIndex serves the single field; a {field:
    TextIndex} mapping serves one index per field. Built sources
    pass through."""
    if isinstance(src, (Scan, Index)):
        return src
    if isinstance(src, DataFrame):
        return Scan(src, fields)
    if isinstance(src, TextIndex):
        return Index({fields[0]: src})
    missing = [f for f in fields if f not in src]
    if missing:
        raise ValueError(f"no index for fields {missing}")
    return Index({f: src[f] for f in fields})


def expand_terms(
    vocab: DataFrame,
    stems: list[str],
    max_expansions: int | None,
    exclude=(),
    max_dist: int | None = None,
) -> list[str]:
    """Expand each stem against a (term, df) dictionary: PREFIX
    expansion in term order (``max_dist=None``), or FUZZY expansion
    to the types within banded Levenshtein <= max_dist in ES's
    top-frequency rewrite order (df desc, term asc). Capped PER STEM
    at max_expansions (``None`` opts out of the cap). Terms in
    ``exclude`` or produced by an earlier stem are dropped BEFORE the
    cap (round 13, per ADVICE r12), so a stem yields the full
    max_expansions new terms when the dictionary has them; the
    excluded duplicate loses the extra clause score real ES would
    add — the engine's no-duplicate-terms contract. The driver-side
    collect is bounded by len(stems) * max_expansions."""
    if max_dist is not None and max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if max_expansions is not None and max_expansions <= 0:
        raise ValueError(f"max_expansions must be > 0, got {max_expansions}")
    out: list[str] = []
    for s in stems:
        if max_dist is None:
            cand = vocab.filter(F.col("term").startswith(s))
            order = [F.asc("term")]
        else:
            dist = F.levenshtein(F.col("term"), F.lit(s), max_dist)
            cand = vocab.filter(
                (F.abs(F.length("term") - F.lit(len(s))) <= F.lit(max_dist))
                & (dist >= 0)
                & (dist <= max_dist)
            )
            order = [F.desc("df"), F.asc("term")]
        skip = set(exclude) | set(out)
        if skip:
            cand = cand.filter(~F.col("term").isin(sorted(skip)))
        cand = cand.orderBy(*order)
        if max_expansions is not None:
            cand = cand.limit(int(max_expansions))
        out.extend(r["term"] for r in cand.select("term").collect())
    return out
