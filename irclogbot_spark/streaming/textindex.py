"""Continuous TEXT-index maintenance: the at-rest positional
postings (operators/textindex.py — the one artifact serving BM25,
match_phrase, span_near, fuzzy, more_like_this, prefix_suggest)
kept fresh from a document stream, on the shared bucketed-posting
machinery (streaming/postingindex.py — layout, replay idempotence,
crash-safe generation compaction identical to the trigram index):

    <index_dir>/index/batch_id=N/          live per-batch appends
    <index_dir>/buckets/gen=G/term_bkt=K/  compacted generations
    <index_dir>/doclens/batch_id=N/        per-batch doclens rows

Per-batch work is MAP-ONLY (the in-row positional posting explode +
a crc32 term bucket — no shuffle, no state). Doclens rows (one per
doc) ride their own batch partitions under the same overwrite-own-
partition idempotence; BM25's integer dl-sum re-aggregates them at
probe time, so the stream needs no running aggregate state.
``load_text`` returns the same TextIndex as the one-shot reader and
serves exactly what the one-shot write_text_index artifact serves
(pinned by test across compaction and crash replay). The one-shot artifact's ``vocab`` term
dictionary (round 10) is NOT maintained here — a streamed index
derives a vocabulary on the fly from its postings when a fuzzy/MLT
probe needs one; the at-rest dictionary is a compaction-time
artifact by nature (ES builds its term dict per segment the same
way)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irclogbot_spark.functions.text import WORD_RE, build_positional_index
from irclogbot_spark.operators.textindex import TextIndex, term_bucket_col
from irclogbot_spark.streaming import postingindex as _pi

_POSTING_SCHEMA = "doc_id long, term string, positions array<int>, term_bkt int"
_COLS = ["doc_id", "term", "positions", "term_bkt"]
_DOCLEN_SCHEMA = "doc_id long, dl int"
_META = "_text_index_meta.json"


def text_ingest_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """foreachBatch body: positional postings + doclens for the
    arriving docs (both map-only), each overwriting its own batch
    partition — idempotent on replay; a different n_buckets against
    an existing index raises (frozen bucket function). ``id_col`` /
    ``text_col`` pick the indexed field — a FIELD is its own index
    (the multi_match per-field convention, round 12). The artifact
    stores (doc_id, ...) on disk so the fixed posting schema stays
    field-agnostic, and the meta sidecar records the caller's
    ``id_col`` so :func:`load_text` renames it BACK on read (round
    13, per ADVICE r12: the one-shot write_text_index keeps the
    caller's id_col, so readers of both artifact kinds now pass the
    same id_col regardless of how the index was built; id_col is
    frozen per index like n_buckets)."""
    postings = build_positional_index(batch, id_col, text_col)
    if id_col != "doc_id":
        postings = postings.withColumnRenamed(id_col, "doc_id")
    postings = postings.withColumn(
        "term_bkt", term_bucket_col("term", n_buckets).cast("int")
    )
    _pi.ingest_batch(
        postings,
        batch_id,
        index_dir,
        {"n_buckets": n_buckets, "id_col": id_col},
        _META,
    )
    # NULL text -> dl=0, the write_text_index convention (round 13)
    toks = F.regexp_extract_all(
        F.coalesce(F.col(text_col), F.lit("")), F.lit(WORD_RE), F.lit(0)
    )
    batch.select(
        F.col(id_col).alias("doc_id"), F.size(toks).alias("dl")
    ).write.mode("overwrite").parquet(
        f"{index_dir}/doclens/batch_id={batch_id}"
    )


def continuous_text_index(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Wire a (id, text-field) stream into the text index. Returns
    the started StreamingQuery (caller manages lifecycle)."""
    return (
        stream.writeStream.foreachBatch(
            lambda b, i: text_ingest_batch(
                b, i, index_dir, n_buckets, id_col, text_col
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact(spark: SparkSession, index_dir: str, upto_batch_id: int) -> None:
    """Fold batch posting partitions into ``buckets/gen = upto + 1``
    laid out partitionBy("term_bkt") — literal probe-term bucket
    filters land as PartitionFilters on the generation dirs.
    Doclens partitions stay as written (a narrow two-column table;
    nothing probes it by term).

    Round 10: compaction also builds the TERM DICTIONARY for the new
    generation (``vocab/gen=G`` — the ES shape: the term dict is a
    segment-merge artifact). ``load_vocab`` serves it plus an
    on-the-fly aggregate of any batches the generation doesn't
    cover, so the dictionary is always current; a crash between the
    generation write and the vocab write falls back to deriving the
    dictionary from the generation postings (max-gen rule)."""
    _pi.compact(
        spark, index_dir, upto_batch_id, _POSTING_SCHEMA, _COLS, "term_bkt"
    )
    gen = upto_batch_id + 1
    vpath = f"{index_dir}/vocab/gen={gen}"
    _vocab_of(
        spark.read.schema(_POSTING_SCHEMA)
        .parquet(f"{index_dir}/buckets/gen={gen}")
        .select(*_COLS)
    ).write.mode("overwrite").parquet(vpath)
    path_cls = spark._jvm.org.apache.hadoop.fs.Path
    p = path_cls(f"{index_dir}/vocab")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    for g in _pi.part_ids(spark, f"{index_dir}/vocab", "gen"):
        if g != gen:
            fs.delete(path_cls(f"{index_dir}/vocab/gen={g}"), True)


_VOCAB_SCHEMA = "term string, df long, freq long"


def _vocab_of(postings: DataFrame) -> DataFrame:
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum(F.size("positions")).cast("long").alias("freq"),
    )


def load_vocab(spark: SparkSession, index_dir: str) -> DataFrame:
    """(term, df, freq) dictionary over everything ingested so far:
    the compacted generation's persisted vocab (or, after a crash
    between the generation and vocab writes, a derivation from the
    generation postings) merged with an on-the-fly aggregate of the
    uncovered batch dirs. Disjoint sources (a batch is either folded
    into the generation and deleted, or not), so the merge is a
    per-term sum."""
    gens_b = _pi.part_ids(spark, f"{index_dir}/buckets", "gen")
    gen = max(gens_b) if gens_b else 0
    gens_v = _pi.part_ids(spark, f"{index_dir}/vocab", "gen")
    frames = []
    if gen:
        if gen in gens_v:
            frames.append(
                spark.read.schema(_VOCAB_SCHEMA).parquet(
                    f"{index_dir}/vocab/gen={gen}"
                )
            )
        else:
            frames.append(
                _vocab_of(
                    spark.read.schema(_POSTING_SCHEMA)
                    .parquet(f"{index_dir}/buckets/gen={gen}")
                    .select(*_COLS)
                )
            )
    for b in _pi.part_ids(spark, f"{index_dir}/index", "batch_id"):
        if b >= gen:
            frames.append(
                _vocab_of(
                    spark.read.schema(_POSTING_SCHEMA)
                    .parquet(f"{index_dir}/index/batch_id={b}")
                    .select(*_COLS)
                )
            )
    if not frames:
        return spark.createDataFrame([], _VOCAB_SCHEMA)
    data = frames[0]
    for fr in frames[1:]:
        data = data.unionByName(fr)
    return data.groupBy("term").agg(
        F.sum("df").cast("long").alias("df"),
        F.sum("freq").cast("long").alias("freq"),
    )


def load_text(spark: SparkSession, index_dir: str) -> TextIndex:
    """The :class:`TextIndex` over everything ingested so far — what
    operators/textindex.py's read_text_index returns for the one-shot
    artifact, INCLUDING the id-column name: the on-disk doc_id
    renames back to the meta-recorded ingest id_col (round 13, per
    ADVICE r12), so a reader passes the same id_col whether the
    logical index was built one-shot or streamed. Indexes written
    before the meta carried id_col keep 'doc_id' (the old observable
    behavior). The (term, df) dictionary derives from the live
    postings (lazily — only an expanding query reads it)."""
    postings, meta = _pi.load(spark, index_dir, _POSTING_SCHEMA, _COLS, _META)
    lens = spark.read.schema(_DOCLEN_SCHEMA).parquet(f"{index_dir}/doclens")
    id_col = meta.get("id_col", "doc_id")
    if id_col != "doc_id":
        postings = postings.withColumnRenamed("doc_id", id_col)
        lens = lens.withColumnRenamed("doc_id", id_col)
    vocab = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return TextIndex(postings, lens, int(meta["n_buckets"]), vocab)
