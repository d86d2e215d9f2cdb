"""The benchmark workloads (bulk, serve) and their correctness gates.

Each workload function takes a ``Ctx`` and returns a ``Result``. Set-up
runs ``SETUP_REPS`` times from scratch and reports the median; an
untimed warm-up follows; the timed part runs a fixed number of
operations derived from ``ctx.seconds``; the correctness gate runs
untimed, with span recording paused, and every wrong answer counts as
a failed operation.
"""

from __future__ import annotations

import contextlib
import itertools
import math
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable, Dict, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.trace import Recorder

SETUP_REPS = 3
# Untimed operations before the timed part: JIT compilation and Spark's
# code generation keep speeding operations up over the first few, and
# the timed operations should start past that (serve counts blocks)
WARMUP_OPS = {"serve": 3, "bulk": 2}
N_BULK, Q_BULK = 800, 16
N_SERVE = 8000
N_PREP = 700
N_RESULTS = 10
CHECK_READS = 4
MAX_TIE_ORDERS = 4096
# The timed part runs a fixed number of operations: one per this many
# seconds of --seconds, and at least MIN_OPS. Every run and every
# commit then measures the same operations, so medians and tail
# percentiles stay comparable. A bulk cycle takes about 6.5 s on a
# 4-core host. A serve read block takes about 1 s; the DML phase after
# the read phase has a fixed size. At run_seconds 22 the read phase
# has 39 reads, so the tail percentile (p74) has ten reads beyond it
# and lands among the hot reads, the slowest third.
OP_SECONDS = {"serve": 1.7, "bulk": 7.0}
MIN_OPS = 3
# the DML generation count at which serve's facade folds generations
# back into the base (its default is 16; see README for why the
# benchmark compacts sooner)
DML_COMPACT_AFTER = 2
_MID_SET = frozenset(inputs.MID)


class Ctx:
    """What a workload runs with. The Spark session starts on first use
    of ``spark``, so set-up that needs no Spark runs before the JVM
    does and does not share the cores with its start-up."""

    def __init__(self, work: Path, seed: int, seconds: float, nproc: int,
                 rec: Recorder, start_spark: Callable[[], object]):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.nproc, self.rec = nproc, rec
        self._start_spark = start_spark
        self.session = None

    @property
    def spark(self):
        if self.session is None:
            self.session = self._start_spark()
            self.rec.spark = self.session
            self.rec.install()
        return self.session


@dataclass
class Result:
    setup_s: float
    op_ms: List[float]            # latency of each timed operation
    work_per_s: float
    bytes_per_doc: float
    attempted: int = 0
    failed: int = 0
    detail: Dict = field(default_factory=dict)
    digests: Dict = field(default_factory=dict)
    phase_s: Dict = field(default_factory=dict)


def tail(xs: List[float]) -> Tuple[float, float, int]:
    """-> (value, percentile, n): the highest whole percentile with at
    least ten samples beyond it (nearest rank); with ten or fewer
    samples, the maximum (reported as percentile 100)."""
    n = len(xs)
    s = sorted(xs)
    if n == 0:
        return math.nan, math.nan, 0
    if n <= 10:
        return s[-1], 100.0, n
    p = math.floor(100.0 * (1.0 - 10.0 / n))
    return s[max(math.ceil(p / 100.0 * n) - 1, 0)], float(p), n


def _median_setup(fn: Callable[[int], object]):
    times, out = [], None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        out = fn(rep)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def _write_parquet(path: Path, columns: Dict[str, list], n_files: int) -> None:
    """Corpus files written without Spark, split so a scan gets one
    input partition per core."""
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    n = len(next(iter(columns.values())))
    step = max(1, math.ceil(n / n_files))
    for i, lo in enumerate(range(0, n, step)):
        pq.write_table(
            pa.table({k: v[lo:lo + step] for k, v in columns.items()}),
            path / f"part-{i:04d}.parquet",
        )


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _retriever(ctx: Ctx, state: Path, **kw):
    from bm25_chroma_spark.plans.retriever import (
        SparkHybridRetriever,
        hashed_bow_embedder,
    )

    shutil.rmtree(state, ignore_errors=True)
    return SparkHybridRetriever(
        ctx.spark, str(state), embedding_function=hashed_bow_embedder, **kw
    )


def _check(ok: bool, what: str, res: Result) -> None:
    res.attempted += 1
    if not ok:
        res.failed += 1
        print(f"perfbench: WRONG ANSWER: {what}", file=sys.stderr)


# ------------------------------------------------------------------ #
# shared: serving state and reads                                    #
# ------------------------------------------------------------------ #

def _timed_loop(ctx: Ctx, res: Result, workload: str):
    """Yields once per timed operation (a serve block of reads or a
    bulk cycle). Span recording stops with the window, so the
    correctness gate is not traced."""
    n = max(MIN_OPS, round(ctx.seconds / OP_SECONDS[workload]))
    t0 = time.perf_counter()
    yield from range(n)
    ctx.rec.active = False
    res.phase_s["timed"] = time.perf_counter() - t0


@contextlib.contextmanager
def _warmup(ctx: Ctx, res: Result):
    """Untimed, untraced first use: Python workers start, generated code
    compiles and driver caches fill before the window opens."""
    t0 = time.perf_counter()
    ctx.rec.active = False
    try:
        yield
    finally:
        ctx.rec.active = True
        res.phase_s["warmup"] = time.perf_counter() - t0


def _serving_state(ctx: Ctx, **kw):
    """Set-up of serve: generate the corpus and build the
    retriever state from it (corpus, vectors, sharded index)."""
    spark = ctx.spark  # started here: session start is not set-up

    def setup(rep: int):
        rows = inputs.make_corpus(ctx.seed, N_SERVE)
        corpus = ctx.work / "corpus"
        _write_parquet(
            corpus,
            {"doc_uid": [u for u, _ in rows], "text": [t for _, t in rows]},
            ctx.nproc,
        )
        r = _retriever(ctx, ctx.work / f"state{rep}", **kw)
        with ctx.rec.span("retriever.write"):
            r.add_documents_df(spark.read.parquet(str(corpus)))
        if rep:
            shutil.rmtree(ctx.work / f"state{rep - 1}", ignore_errors=True)
        return r, rows

    setup_s, (r, rows) = _median_setup(setup)
    return setup_s, r, rows


def _read(ctx: Ctx, r, text: str):
    with ctx.rec.span("retriever.query", generation=ctx.rec.generation):
        t0 = time.perf_counter()
        out = r.query([text], n_results=N_RESULTS)
        return 1000.0 * (time.perf_counter() - t0), out


def _tie_orders(leg: List[Tuple[str, float]], k: int) -> List[List]:
    """Every top-k order of a reference leg under round-before-rank:
    scores within a relative 1e-9 of their neighbour rank as ties, and
    a tie may come in any order. Two engines that sum a score's terms
    in different orders can differ in its last bit, and ``query()``
    ranks raw floats, so either side of such a tie is a correct
    answer. Past MAX_TIE_ORDERS orders only the engine's own order is
    kept, which can only make the check stricter."""
    groups: List[List] = []
    for i, x in enumerate(leg):
        if i and math.isclose(x[1], leg[i - 1][1], rel_tol=1e-9):
            groups[-1].append(x)
        else:
            groups.append([x])
    n, start = 1, 0
    for g in groups:
        if start < k:
            n *= math.factorial(len(g))
        start += len(g)
    if n > MAX_TIE_ORDERS:
        return [leg[:k]]
    choices, start = [], 0
    for g in groups:
        choices.append(itertools.permutations(g) if start < k else [g])
        start += len(g)
    return [[x for g in combo for x in g][:k]
            for combo in itertools.product(*choices)]


def _reference_answers(ctx: Ctx, r, texts: List[str]):
    """query()'s answers re-derived through independent engines: the
    exhaustive BM25 engine over a fresh index handle, distributed
    brute-force KNN over the vectors table, and RRF over both (the
    single leg that answered, when only one did). Each leg is fetched
    twice as deep as query() fetches it, so a tie across its cut-off
    is seen whole. -> per text, every (ids, distances) answer that a
    tie order (``_tie_orders``) allows."""
    from pyspark.sql import functions as F

    from bm25_chroma_spark.index.shards import ShardedIndex
    from bm25_chroma_spark.index.wand import search_sharded
    from bm25_chroma_spark.operators.fusion import rrf_fuse_py
    from bm25_chroma_spark.operators.knn import knn_bruteforce

    k = 2 * N_RESULTS
    index = ShardedIndex(ctx.spark, str(Path(r.state) / "index"))
    bm = search_sharded(index, list(enumerate(texts)), top_k=2 * k,
                        strategy="exhaustive").collect()
    vecs = r.vectors_df().withColumn("vec_id", F.xxhash64("doc_uid"))
    uid_of = {
        row["vec_id"]: row["doc_uid"]
        for row in vecs.select("vec_id", "doc_uid").collect()
    }
    vn = knn_bruteforce(vecs, r.embed(texts), k=2 * k).collect()
    out = []
    for qi in range(len(texts)):
        orders = [
            _tie_orders([(uid_of[x[key]], x[score]) for x in
                         sorted((x for x in rows if x["query_id"] == qi),
                                key=lambda x: x["rank"])], k)
            for rows, key, score in ((bm, "doc_id", "score"),
                                     (vn, "vec_id", "sim"))
        ]
        if len(orders[0]) * len(orders[1]) > MAX_TIE_ORDERS:
            orders = [o[:1] for o in orders]
        answers = []
        for legs in itertools.product(*orders):
            if legs[0] and legs[1]:
                fused = rrf_fuse_py(list(legs), bm25_ratio=0.5, k=60,
                                    top_k=N_RESULTS)
            else:
                fused = (legs[0] or legs[1])[:N_RESULTS]
            answers.append(([u for u, _ in fused],
                            [1.0 - s for _, s in fused]))
        out.append(answers)
    return out


def _same_ranking(ids, dists, want_ids, want_dists) -> bool:
    """Rank identity of uids; distances equal to float tolerance."""
    return list(ids) == list(want_ids) and all(
        math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
        for a, b in zip(dists, want_dists)
    )


def median(xs: List[float]) -> float:
    """Median, or NaN when every operation it would cover failed (the
    result line then leaves the metric out and reports correct:false)."""
    return statistics.median(xs) if xs else math.nan


def _read_detail(res: Result, kinds: List[str]) -> None:
    """Per-kind figures of the read phase for the detail line."""
    for kind in sorted(set(kinds)):
        xs = [ms for ms, k in zip(res.op_ms, kinds) if k == kind]
        res.detail[f"share_{kind}"] = len(xs) / len(kinds)
        res.detail[f"p50_ms_{kind}"] = median(xs)


def _failed(res: Result, what: str, exc: Exception) -> None:
    """A failed operation is counted, reported and skipped."""
    res.failed += 1
    print(f"perfbench: {what} failed: {exc!r}", file=sys.stderr)


# ------------------------------------------------------------------ #
# workloads                                                          #
# ------------------------------------------------------------------ #

def serve(ctx: Ctx) -> Result:
    """Interactive reads over a built state (read phase), then writes
    interleaved with reads (DML phase)."""
    setup_s, r, rows = _serving_state(
        ctx, auto_compact_after=DML_COMPACT_AFTER)
    text_of = dict(rows)
    stream = inputs.ReadStream(ctx.seed)
    writes = inputs.WriteStream(ctx.seed, [u for u, _ in rows])
    res = Result(setup_s, [], 0.0, 0.0,
                 digests={"corpus": inputs.corpus_digest(rows),
                          "reads": stream.digest(),
                          "writes": writes.digest()})
    res.bytes_per_doc = _dir_bytes(Path(r.state) / "index") / N_SERVE
    blocks = iter(stream.blocks)
    with _warmup(ctx, res):
        for _, text in stream.warmup + [
                op for _ in range(WARMUP_OPS["serve"]) for op in next(blocks)]:
            r.query([text], n_results=N_RESULTS)

    # read phase: whole blocks of the read stream; the timed operation
    # is the read
    kinds: List[str] = []
    issued: List[Tuple[str, Dict]] = []
    t_reads = time.perf_counter()
    for _ in _timed_loop(ctx, res, "serve"):
        for kind, text in next(blocks):
            res.attempted += 1
            try:
                ms, out = _read(ctx, r, text)
            except Exception as exc:  # noqa: BLE001 — counted, run goes on
                _failed(res, "read", exc)
                continue
            res.op_ms.append(ms)
            kinds.append(kind)
            issued.append((text, out))
    t_reads = time.perf_counter() - t_reads
    _read_detail(res, kinds)

    t0 = time.perf_counter()
    pick = inputs.rng_for(ctx.seed, "check").choice(
        len(issued), min(CHECK_READS, len(issued)), replace=False)
    sample = [issued[int(i)] for i in sorted(pick)]
    want = _reference_answers(ctx, r, [text for text, _ in sample])
    for (text, got), answers in zip(sample, want):
        ids, dists = got["ids"][0], got["distances"][0]
        _check(any(_same_ranking(ids, dists, *a) for a in answers),
               f"read {text!r} != reference engines: got {ids} {dists}, "
               f"engines {answers[0]}", res)
    res.phase_s["check"] = time.perf_counter() - t0

    # DML phase: blocks of one write, one probe read that must see it,
    # then one read from the stream; the last write compacts
    ctx.rec.active = True
    deleted: set = set()
    write_ms: List[float] = []
    dml_read_ms: List[float] = []
    read_ops = (op for b in blocks for op in b)
    n_ops = 0
    t_start = time.perf_counter()
    for w in writes.ops:
        res.attempted += 1
        n_ops += 1
        try:
            with ctx.rec.span("retriever.write", kind=w["kind"]):
                t0 = time.perf_counter()
                if w["kind"] == "delete":
                    r.remove_documents_batch(w["uids"])
                else:
                    r.add_documents_batch(w["texts"], w["uids"])
                write_ms.append(1000.0 * (time.perf_counter() - t0))
        except Exception as exc:  # noqa: BLE001
            _failed(res, "write", exc)
            continue
        if w["kind"] == "delete":
            deleted.update(w["uids"])
            expect: set = set()
            probe = " ".join(
                next(t for t in text_of[u].split() if t in _MID_SET)
                for u in w["uids"])
        else:
            # two added and two upserted documents: four BM25 hits
            # always rank inside the fused top 10
            half = inputs.WRITE_DOCS
            idx = [0, 1, half, half + 1]
            expect = {w["uids"][i] for i in idx}
            probe = " ".join(w["tokens"][i] for i in idx)
        for kind, text in [("probe", probe), next(read_ops)]:
            res.attempted += 1
            n_ops += 1
            try:
                ms, out = _read(ctx, r, text)
            except Exception as exc:  # noqa: BLE001
                _failed(res, "read", exc)
                continue
            dml_read_ms.append(ms)
            got = set(out["ids"][0])
            _check(not (got & deleted),
                   f"deleted uid returned by {text!r}", res)
            if kind == "probe" and expect:
                _check(expect <= got,
                       f"written uids not returned by {text!r}", res)
    res.phase_s["dml"] = time.perf_counter() - t_start
    # both phases: the read phase's reads, then the writes and reads of
    # the DML phase, over the time the two phases took
    res.work_per_s = (len(res.op_ms) + n_ops) / (t_reads + res.phase_s["dml"])
    ctx.rec.active = False
    res.detail.update({
        "index_bytes_per_doc": res.bytes_per_doc,
        "dml_ops_per_s": n_ops / res.phase_s["dml"],
        "write_p50_ms": median(write_ms),
        "write_ms": [round(x, 1) for x in write_ms],
        "dml_read_p50_ms": median(dml_read_ms),
        "dml_read_ms": [round(x, 1) for x in dml_read_ms],
    })
    return res


def bulk(ctx: Ctx) -> Result:
    """The offline side. A cycle runs the staged prep pass over a corpus
    with planted boilerplate and near-duplicates, then ingests another
    corpus into an empty state and evaluates a query batch over it."""
    corpus = ctx.work / "corpus"
    prep_corpus = ctx.work / "prep_corpus"

    def setup(rep: int):
        rows = inputs.make_corpus(ctx.seed, N_BULK)
        _write_parquet(
            corpus,
            {"doc_uid": [u for u, _ in rows], "text": [t for _, t in rows]},
            ctx.nproc,
        )
        planted = inputs.make_prep_corpus(ctx.seed, N_PREP)
        _write_parquet(
            prep_corpus,
            {"doc_id": [i for i, _ in planted[0]],
             "text": [t for _, t in planted[0]]},
            ctx.nproc,
        )
        return rows, planted

    setup_s, (rows, planted) = _median_setup(setup)
    prep_rows, span_ids, pairs, boiler = planted
    queries = inputs.make_eval_queries(ctx.seed, Q_BULK)
    res = Result(setup_s, [], 0.0, 0.0,
                 digests={"corpus": inputs.corpus_digest(rows),
                          "queries": inputs.digest(queries),
                          "prep_corpus": inputs.corpus_digest(prep_rows),
                          "planted": inputs.digest(span_ids, pairs)})
    prep_s: List[float] = []
    ingest_s: List[float] = []
    eval_s: List[float] = []

    def cycle(k):
        """-> (retriever, prep output, prep s, ingest s, evaluate s)."""
        out = ctx.work / f"prep{k}"
        t0 = time.perf_counter()
        _prep_pass(ctx, prep_corpus, out)
        r = _retriever(ctx, ctx.work / f"state{k}")
        t1 = time.perf_counter()
        with ctx.rec.span("retriever.write"):
            r.add_documents_df(ctx.spark.read.parquet(str(corpus)))
        t2 = time.perf_counter()
        with ctx.rec.span("retriever.query_df",
                          generation=ctx.rec.generation):
            r.query_df(queries, n_results=N_RESULTS).write.format(
                "noop").mode("overwrite").save()
        return r, out, t1 - t0, t2 - t1, time.perf_counter() - t2

    with _warmup(ctx, res):
        for k in range(WARMUP_OPS["bulk"]):
            r, out, _, _, _ = cycle(f"w{k}")
    for _ in _timed_loop(ctx, res, "bulk"):
        # r and out are from the last cycle that completed; they go once
        # the next cycle has completed, so the gate always has one to
        # check
        res.attempted += 1
        k = res.attempted
        try:
            got = cycle(k)
        except Exception as exc:  # noqa: BLE001 — counted, run goes on
            _failed(res, "bulk cycle", exc)
            for part in (f"prep{k}", f"state{k}"):
                shutil.rmtree(ctx.work / part, ignore_errors=True)
            continue
        shutil.rmtree(r.state, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        r, out, t_prep, t_in, t_ev = got
        prep_s.append(t_prep)
        ingest_s.append(t_in)
        eval_s.append(t_ev)
        res.op_ms.append(1000.0 * (t_prep + t_in + t_ev))
    # documents through the timed cycles (each cycle preps N_PREP and
    # ingests N_BULK) over their whole time, which averages over more
    # time than a median of a few cycles or than the ingests alone
    res.work_per_s = ((N_PREP + N_BULK) * len(res.op_ms)
                      / (sum(res.op_ms) / 1000.0) if res.op_ms else math.nan)
    res.bytes_per_doc = _dir_bytes(Path(r.state) / "index") / N_BULK
    res.detail.update({
        "ingest_docs_per_s": N_BULK / median(ingest_s),
        "eval_queries_per_s": Q_BULK / median(eval_s),
        "prep_docs_per_s": N_PREP / median(prep_s),
        "index_bytes_per_doc": res.bytes_per_doc,
        "prep_bytes_per_doc": _dir_bytes(out) / N_PREP,
        "prep_s": [round(x, 3) for x in prep_s],
        "ingest_s": [round(x, 3) for x in ingest_s],
        "eval_s": [round(x, 3) for x in eval_s],
    })

    from bm25_chroma_spark.index.shards import ShardedIndex

    index = ShardedIndex(ctx.spark, str(Path(r.state) / "index"))
    _check(index.n_docs == N_BULK,
           f"index n_docs {index.n_docs} != {N_BULK}", res)
    pick = inputs.rng_for(ctx.seed, "check").choice(
        Q_BULK, CHECK_READS, replace=False)
    sample = [queries[int(i)] for i in sorted(pick)]
    batch: Dict[int, List] = {}
    for row in r.query_df(sample, n_results=N_RESULTS).collect():
        batch.setdefault(row["query_id"], []).append(row)
    got = r.query(sample, n_results=N_RESULTS)
    for qi, text in enumerate(sample):
        ranked = sorted(batch.get(qi, []), key=lambda x: x["rank"])
        _check(_same_ranking([x["doc_uid"] for x in ranked],
                             [x["distance"] for x in ranked],
                             got["ids"][qi], got["distances"][qi]),
               f"query_df != query() for {text!r}", res)
    _check_prep(ctx, res, out, span_ids, pairs, boiler)
    return res


def _check_prep(ctx: Ctx, res: Result, out: Path, span_ids, pairs,
                boiler: str) -> None:
    """Every planted span is removed and nothing else is; every planted
    near-duplicate pair is reported; every document is scored."""
    from pyspark.sql import functions as F

    planted = set(span_ids)
    first = boiler.split()[0].lower()
    s1 = ctx.spark.read.parquet(str(out / "spans")).select(
        "doc_id", "n_removed",
        F.instr(F.lower("text"), first).alias("left"),
    ).collect()
    _check(len(s1) == N_PREP, f"span stage rows {len(s1)}", res)
    bad = [x["doc_id"] for x in s1
           if (x["doc_id"] in planted) != (x["n_removed"] > 0)
           or x["left"] > 0]
    _check(not bad, f"planted spans not removed exactly: {bad[:5]}", res)
    found = {(x["id_a"], x["id_b"]) for x in
             ctx.spark.read.parquet(str(out / "simhash")).collect()}
    missing = [p for p in pairs if p not in found]
    _check(not missing, f"near-duplicate pairs missed: {missing[:5]}", res)
    n_scored = ctx.spark.read.parquet(str(out / "lm")).count()
    _check(n_scored == N_PREP, f"lm scored {n_scored} docs", res)


def _prep_pass(ctx: Ctx, corpus: Path, out: Path) -> None:
    """One staged pass; each stage reads the previous stage's parquet."""
    from bm25_chroma_spark.operators.dedup import simhash_near_dups
    from bm25_chroma_spark.operators.lm import score_lm, train_word_lm
    from bm25_chroma_spark.operators.span_dedup import remove_repeated_spans
    from bm25_chroma_spark.plans.prep import PrepOptions, annotate_docs

    read = ctx.spark.read.parquet
    rec = ctx.rec
    with rec.span("span_dedup.remove"):
        remove_repeated_spans(
            read(str(corpus)), span_tokens=inputs.SPAN_TOKENS, min_docs=2
        ).write.parquet(str(out / "spans"))
    with rec.span("prep.annotate"):
        annotate_docs(read(str(out / "spans")), PrepOptions()).write.parquet(
            str(out / "annotated"))
    annotated = read(str(out / "annotated"))
    with rec.span("dedup.simhash"):
        simhash_near_dups(annotated).write.parquet(str(out / "simhash"))
    with rec.span("lm.train"):
        lm = train_word_lm(annotated, min_count=2)
    with rec.span("lm.score"):
        score_lm(annotated, lm).write.parquet(str(out / "lm"))


WORKLOADS = {"bulk": bulk, "serve": serve}
