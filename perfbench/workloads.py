"""The benchmark's workloads. Each is a closed loop with one client:
a cold pass, then measured passes until the
run's seconds are spent and a fixed minimum is done.

* ``stream_ingest`` replays raw IRC line files through the program's
  Structured Streaming ingest (``read_raw_lines_stream`` ->
  ``streaming_irclog`` -> ``foreachBatch(keyed_upsert_batch)``) under
  ``availableNow``, one file per micro-batch. One pass is one drain of
  a few new files; one operation is one micro-batch.
* ``search`` issues a seeded-order mix of the registered oracle-paired
  at-rest search queries; one operation is one request (builder call
  plus ``collect``). The cold pass writes every at-rest index.
* ``ingest_replay`` runs one bulk job a pass: the IRC line files
  through ``parse_pipeline(deduplicate=True)`` into ``write_irclog``.
* ``batch`` runs three dedup/decontamination jobs over the documents
  corpus, each written to parquet.

Operations are timed by wrapping the calls into the program's public
functions. Outputs are checked after the timed window.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import gen
from tracing import Rest, job_metrics, progress_listener, stream_batch_of

SEARCH_MIX = [
    "docs_bm25_atrest",
    "docs_bool_search_atrest",
    "docs_dis_max_search_atrest",
    "docs_multi_match_atrest",
    "docs_simple_query_string_atrest",
    "docs_function_score_atrest",
    "docs_terms_set_atrest",
    "docs_phrase_search_atrest",
    "docs_span_near_atrest",
    "docs_fuzzy_term_search_atrest",
    "docs_more_like_this_atrest",
    "docs_wildcard_search_indexed",
]
BATCH_DOC_JOBS = {
    "prefix_filter": "docs_prefix_filter_join",
    "decontaminate": "docs_decontaminate",
    "editdist": "docs_editdist_dedup",
}

#: input sizes. Documents: the driver corpus schema at 30% of sf0.1's
#: document count (a ten-fold corpus does not fit the run-time budget
#: of a 4-core host).
N_DOCS = 1500
#: stream: one file per micro-batch. At 10k lines per-line work is
#: most of a data micro-batch (about 3 s against about 1 s for a
#: no-data batch on a 4-core host); at 1.5k lines it is about half.
STREAM_FILES_PER_PASS = 1
STREAM_LINES_PER_FILE = 10_000
#: files generated for the stream: enough for every pass of a run
STREAM_MAX_PASSES = 8
#: bulk replay: from 200k to 600k lines the job's time grows in step
#: with the lines (about 3.1 s to 8.3 s on a 4-core host), so per-line
#: work dominates at the smallest size, which fits the run budget.
REPLAY_FILES = 2
REPLAY_LINES_PER_FILE = 100_000


@dataclass
class Op:
    """One operation: a micro-batch, a request or a job."""

    kind: str
    name: str
    pass_no: int
    seconds: float
    records: int = 0
    error: str | None = None
    layers: dict[str, float] = field(default_factory=dict)
    #: a micro-batch's (run id, batch id): the key of its progress record
    stream_key: tuple[str, int] | None = None


@dataclass
class Result:
    ops: list[Op] = field(default_factory=list)
    passes: list[float] = field(default_factory=list)  # wall per pass; [0] is cold
    pass_records: list[int] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)


class Workload:
    name = ""
    #: measured passes a run makes even when its seconds are spent, so
    #: the number of samples does not depend on how fast the host is
    min_passes = 1
    max_passes = 1000

    def __init__(self, ctx):
        self.ctx = ctx  # run.Context: spark, work dir, seed, tracer, cores

    def generate(self, out_dir: str) -> None:
        raise NotImplementedError

    def attach_layers(self, res: Result) -> None:
        """Fill each operation's layer metrics after a traced run, from
        Spark's REST API: query operations by their job groups."""
        attach_query_job_metrics(self.ctx, res)

    def passes(self, seconds: float, one_pass) -> Result:
        """Cold pass (pass 0), then measured passes (1, 2, ...) until
        ``seconds`` are spent and at least ``min_passes`` are done."""
        res = Result()
        t0 = time.perf_counter()
        res.pass_records.append(one_pass(0, res))
        res.passes.append(time.perf_counter() - t0)
        start = time.perf_counter()
        n = 1
        while n <= self.min_passes or (time.perf_counter() - start < seconds and n <= self.max_passes):
            t0 = time.perf_counter()
            records = one_pass(n, res)
            res.passes.append(time.perf_counter() - t0)
            res.pass_records.append(records)
            n += 1
        return res


# ------------------------------------------------------------ query ops


def run_query_op(ctx, res: Result, kind: str, name: str, pass_no: int, build, execute) -> None:
    """Time one builder call plus its action; in a traced run split it
    into build / plan / exec spans, each phase in its own job group."""
    op_no = len(res.ops)
    tr = ctx.tracer
    sc = ctx.spark.sparkContext
    t0 = time.perf_counter()
    op = Op(kind, name, pass_no, 0.0)
    try:
        if tr is None:
            df = build()
            op.records = execute(df)
        else:
            with tr.span(f"{kind}:{name}", op_no):
                calls0 = tr.py4j_calls
                sc.setJobGroup(f"op{op_no}.build", name)
                with tr.span("build", op_no) as b:
                    df = build()
                build_calls = tr.py4j_calls - calls0
                with tr.span("plan", op_no) as p:
                    plan = df._jdf.queryExecution().executedPlan().toString()
                sc.setJobGroup(f"op{op_no}.exec", name)
                with tr.span("exec", op_no):
                    op.records = execute(df)
                sc.setLocalProperty("spark.jobGroup.id", None)
            op.layers.update(
                {
                    "queries.build_s": b.end - b.start,
                    "queries.py4j_calls": float(build_calls),
                    "py4j_calls": float(tr.py4j_calls - calls0),
                    "catalyst.plan_s": p.end - p.start,
                    "catalyst.exchanges": float(plan.count("Exchange")),
                }
            )
    except Exception as e:  # an operation that fails counts as failed, the loop goes on
        op.error = f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
        res.failures.append(op.error)
    op.seconds = time.perf_counter() - t0
    res.ops.append(op)


def attach_query_job_metrics(ctx, res: Result) -> None:
    """Fill exec.* / barrier layer metrics of traced query ops from
    their job groups (read once, after the timed window)."""
    rest = Rest(ctx.spark)
    jobs = rest.settled_jobs()
    stages = rest.stages()
    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        by_group.setdefault(j.get("jobGroup") or "", []).append(j)
    for i, op in enumerate(res.ops):
        build_jobs = by_group.get(f"op{i}.build", [])
        exec_jobs = by_group.get(f"op{i}.exec", [])
        barrier = job_metrics(build_jobs, stages, ctx.cores)
        op.layers["queries.barrier_jobs"] = barrier["exec.jobs"]
        op.layers["queries.barrier_s"] = barrier["exec.s"]
        op.layers["queries.build_py_s"] = op.layers.get("queries.build_s", 0.0) - barrier["exec.s"]
        ex = job_metrics(exec_jobs, stages, ctx.cores)
        op.layers.update(ex)
        op.layers["driver.self_s"] = op.seconds - barrier["exec.s"] - ex["exec.s"]


# --------------------------------------------------------------- search


class Search(Workload):
    name = "search"

    def generate(self, out_dir: str) -> None:
        gen.write_documents(self.ctx.seed, N_DOCS, os.path.join(out_dir, "corpus"))

    def run(self, seconds: float) -> Result:
        from irclogbot_spark.queries import queries

        qs = queries()
        corpus = os.path.join(self.ctx.inputs, "corpus")
        rng = random.Random(self.ctx.seed)
        self.rows: list[tuple[str, list[str], list]] = []

        def one_pass(pass_no: int, res: Result) -> int:
            order = list(SEARCH_MIX)
            rng.shuffle(order)
            for name in order:
                def execute(df, name=name):
                    rows = df.collect()
                    self.rows.append((name, df.columns, rows))
                    return 1

                run_query_op(self.ctx, res, "request", name, pass_no, lambda name=name: qs[name](self.ctx.spark, corpus), execute)
            return len(order)

        return self.passes(seconds, one_pass)

    def check(self, res: Result, oracle) -> list[str]:
        bad = []
        for name, cols, rows in self.rows:
            why = oracle.check_rows(name, cols, [r.asDict() for r in rows])
            if why:
                bad.append(why)
        return bad


# ---------------------------------------------------------------- batch


class Batch(Workload):
    name = "batch"

    def generate(self, out_dir: str) -> None:
        gen.write_documents(self.ctx.seed, N_DOCS, os.path.join(out_dir, "corpus"))

    def run(self, seconds: float) -> Result:
        from irclogbot_spark.queries import queries

        qs = queries()
        spark = self.ctx.spark
        corpus = os.path.join(self.ctx.inputs, "corpus")
        self.outputs: list[tuple[str, str]] = []

        def one_pass(pass_no: int, res: Result) -> int:
            for job, query in BATCH_DOC_JOBS.items():
                out = os.path.join(self.ctx.work, "out", f"{job}-{pass_no}")
                self.outputs.append((query, out))

                def execute(df, out=out):
                    df.write.mode("overwrite").parquet(out)
                    return N_DOCS

                run_query_op(self.ctx, res, "job", job, pass_no, lambda query=query: qs[query](spark, corpus), execute)
            return N_DOCS * len(BATCH_DOC_JOBS)

        return self.passes(seconds, one_pass)

    def check(self, res: Result, oracle) -> list[str]:
        bad = []
        for query, out in self.outputs:
            if not os.path.isdir(out):
                continue  # the job failed; counted already
            why = oracle.check_parquet(query, out)
            if why:
                bad.append(why)
            shutil.rmtree(out, ignore_errors=True)
        return bad


# -------------------------------------------------------- ingest_replay


class IngestReplay(Workload):
    name = "ingest_replay"
    min_passes = 4

    def generate(self, out_dir: str) -> None:
        self.irc = gen.irc_corpus(self.ctx.seed, REPLAY_FILES, REPLAY_LINES_PER_FILE)
        self.irc.write(os.path.join(out_dir, "irc"), 0, REPLAY_FILES)

    def run(self, seconds: float) -> Result:
        from irclogbot_spark.ingest import parse_pipeline
        from irclogbot_spark.sources.files import read_raw_lines, write_irclog

        spark = self.ctx.spark
        irc_dir = os.path.join(self.ctx.inputs, "irc")
        self.outputs: list[str] = []

        def one_pass(pass_no: int, res: Result) -> int:
            out = os.path.join(self.ctx.work, "out", f"ingest_replay-{pass_no}")
            self.outputs.append(out)

            def execute(df):
                write_irclog(df, out)
                return self.irc.lines

            build = lambda: parse_pipeline(read_raw_lines(spark, irc_dir), deduplicate=True)  # noqa: E731
            run_query_op(self.ctx, res, "job", "ingest_replay", pass_no, build, execute)
            return self.irc.lines

        return self.passes(seconds, one_pass)

    def check(self, res: Result, oracle) -> list[str]:
        bad = []
        expected = self.irc.expected(REPLAY_FILES)
        for out in self.outputs:
            if not os.path.isdir(out):
                continue  # the job failed; counted already
            why = oracle.check_irclog(out, expected, "*.parquet")
            if why:
                bad.append(why)
            shutil.rmtree(out, ignore_errors=True)
        return bad


# --------------------------------------------------------- stream_ingest


class StreamIngest(Workload):
    name = "stream_ingest"
    min_passes = 4
    max_passes = STREAM_MAX_PASSES - 1

    def generate(self, out_dir: str) -> None:
        n_files = STREAM_FILES_PER_PASS * STREAM_MAX_PASSES
        self.irc = gen.irc_corpus(self.ctx.seed, n_files, STREAM_LINES_PER_FILE)

    def run(self, seconds: float) -> Result:
        from irclogbot_spark.streaming.pipeline import (
            keyed_upsert_batch,
            read_raw_lines_stream,
            streaming_irclog,
        )

        spark = self.ctx.spark
        base = os.path.join(self.ctx.work, "stream")
        src, ck, self.target = (os.path.join(base, d) for d in ("src", "checkpoint", "target"))
        os.makedirs(src, exist_ok=True)
        tr = self.ctx.tracer
        self.files_fed = 0
        self.sink_calls: dict[int, dict[str, float]] = {}
        self.file_bytes: list[int] = []
        self.progress: list[dict] = []
        listener = progress_listener(spark, self.progress) if tr is not None else None

        def sink(batch_df, batch_id: int) -> None:
            if tr is None:
                keyed_upsert_batch(batch_df, batch_id, self.target)
                return
            before = _bucket_files(self.target)
            calls0 = tr.py4j_calls
            with tr.span("sink_upsert", batch_id):
                t0 = time.perf_counter()
                keyed_upsert_batch(batch_df, batch_id, self.target)
                took = time.perf_counter() - t0
            after = _bucket_files(self.target)
            new = {p: s for p, s in after.items() if p not in before}
            self.sink_calls[batch_id] = {
                "py4j_calls": float(tr.py4j_calls - calls0),
                "stream.sink_upsert_s": took,
                "stream.buckets_rewritten": float(len({os.path.dirname(p) for p in new})),
                "written_bytes": float(sum(new.values())),
            }

        def one_pass(pass_no: int, res: Result) -> int:
            n = STREAM_FILES_PER_PASS
            self.file_bytes.extend(len(self.irc.files[i]) for i in range(self.files_fed, self.files_fed + n))
            self.irc.write(src, self.files_fed, n)
            self.files_fed += n
            log = streaming_irclog(read_raw_lines_stream(spark, path=src, max_files_per_trigger=1))
            q = (
                log.writeStream.outputMode("append")
                .option("checkpointLocation", ck)
                .foreachBatch(sink)
                .trigger(availableNow=True)
                .start()
            )
            t0 = time.perf_counter()
            try:
                q.awaitTermination()
            except Exception as e:  # a failed micro-batch stops the query: one failed op, the loop goes on
                msg = f"stream pass {pass_no}: {type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
                res.failures.append(msg)
                res.ops.append(Op("micro-batch", "micro-batch", pass_no, time.perf_counter() - t0, error=msg))
            for p in q.recentProgress:
                rows = int(p["numInputRows"])
                dur = p["durationMs"]
                op = Op("micro-batch", "micro-batch", pass_no, dur.get("triggerExecution", 0) / 1000.0, rows)
                op.stream_key = (p["runId"], p["batchId"])
                res.ops.append(op)
            return n * STREAM_LINES_PER_FILE

        res = self.passes(seconds, one_pass)
        if listener is not None:
            spark.streams.removeListener(listener)
        return res

    def attach_layers(self, res: Result) -> None:
        """Micro-batches: progress records from the listener, jobs by
        the engine's run-id job group and 'batch = N' description."""
        rest = Rest(self.ctx.spark)
        jobs = rest.settled_jobs()
        stages = rest.stages()
        by_batch: dict[tuple[str, int], list[dict]] = {}
        for j in jobs:
            b = stream_batch_of(j)
            if b is not None:
                by_batch.setdefault((j.get("jobGroup") or "", b), []).append(j)
        prog = {(p["runId"], p["batchId"]): p for p in self.progress}
        data_batches = iter(range(len(self.file_bytes)))
        for op in res.ops:
            key = op.stream_key
            if key is None:
                continue  # a failed drain: no progress record
            p = prog.get(key, {})
            dur = p.get("durationMs", {})
            state = (p.get("stateOperators") or [{}])[0]
            ex = job_metrics(by_batch.get(key, []), stages, self.ctx.cores)
            sink = self.sink_calls.get(key[1], {})
            in_bytes = self.file_bytes[next(data_batches)] if op.records else 0
            op.layers.update(ex)
            op.layers.update(
                {
                    "stream.add_batch_ms": float(dur.get("addBatch", 0)),
                    "stream.query_planning_ms": float(dur.get("queryPlanning", 0)),
                    "stream.get_batch_ms": float(dur.get("getBatch", 0)),
                    "stream.wal_commit_ms": float(dur.get("walCommit", 0)),
                    "stream.commit_offsets_ms": float(dur.get("commitOffsets", 0)),
                    "py4j_calls": sink.get("py4j_calls", 0.0),
                    "stream.sink_upsert_s": sink.get("stream.sink_upsert_s", 0.0),
                    "stream.buckets_rewritten": sink.get("stream.buckets_rewritten", 0.0),
                    "stream.write_amp": sink.get("written_bytes", 0.0) / in_bytes if in_bytes else 0.0,
                    "stream.state_rows": float(state.get("numRowsTotal", 0)),
                    "stream.state_mb": float(state.get("memoryUsedBytes", 0)) / (1024.0 * 1024.0),
                    "catalyst.plan_s": float(dur.get("queryPlanning", 0)) / 1000.0,
                    "driver.self_s": op.seconds - ex["exec.s"],
                }
            )

    def check(self, res: Result, oracle) -> list[str]:
        why = oracle.check_irclog(self.target, self.irc.expected(self.files_fed), "id_bucket=*/*.parquet")
        return [why] if why else []


def _bucket_files(target: str) -> dict[str, int]:
    out = {}
    if os.path.isdir(target):
        for d in os.listdir(target):
            if d.startswith("id_bucket="):
                for f in os.listdir(os.path.join(target, d)):
                    if f.endswith(".parquet"):
                        p = os.path.join(target, d, f)
                        out[p] = os.path.getsize(p)
    return out


WORKLOADS = {w.name: w for w in (StreamIngest, IngestReplay, Batch, Search)}
