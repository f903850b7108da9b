"""The benchmark's workloads: seeded inputs, set-up, a timed closed loop with
one client thread, and correctness checks after the loop.

Both workloads build the same kind of index from the same corpus size and
run the same operation kinds, so every end-to-end metric is measured on
both; they differ in the state of the index the reads see.

* ``interactive`` -- the loop reads one static snapshot.
* ``ingest`` -- every loop cycle starts with a write round, so each cycle
  reads a new, tombstoned snapshot whose term-stats cache starts cold.

A run is: set-up (session start and the build of the index the loop
reads); a warm-up of one ``search_batch`` of equal parts rare, hot, OR and
AND queries (timed and checked) and an untimed phrase search; then the
timed loop.

One loop cycle is ``SEARCHES_PER_CYCLE`` ``search`` calls, taken in turn
from the groups of the reference query set (rare, hot, multi-OR, AND,
filtered, degenerate), then ``PHRASES_PER_CYCLE`` ``search_phrase`` calls.
On ingest, the cycle's first search is preceded by one ``delete_docs``
call of about 1% of the keys plus that search's current top hits, so it is
the first read of the new snapshot; it is timed apart from the other
searches. Cycles repeat while
another one is expected to end within ``seconds``; the first ``MIN_CYCLES``
always run. The corpus has a fixed number of turns, so seeds change the
content of the inputs but not their size or make-up: every seed shares the
fixture generator's default conversation layout and draws its own text.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from cuvs_lucene_spark.fixtures import SEED as LAYOUT_SEED
from cuvs_lucene_spark.fixtures import build_query_set, generate_transcripts
from cuvs_lucene_spark.oracle import build_oracle_index

from perfbench import checks
from perfbench.tracing import Tracer, scan_metrics

GROUPS = ("rare", "hot", "or", "and", "filt", "degen")
K = 10


@dataclass(frozen=True)
class Size:
    n_turns: int      # turns (documents) in the set-up build
    batch: int        # queries per search_batch call, a multiple of 4
    phrases: int      # distinct phrases drawn


FULL = Size(n_turns=4000, batch=12, phrases=16)
SMOKE = Size(n_turns=1500, batch=4, phrases=4)

DELETE_FRAC = 0.01          # of the keys, per write round
SEARCHES_PER_CYCLE = 3
PHRASES_PER_CYCLE = 2
MIN_CYCLES = 2              # cover every query group; their ops are counted
PHRASE_MAX_DF = 50


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path) for f in files
    )


@dataclass
class Inputs:
    corpus_path: str
    n_turns: int
    text_bytes: int            # UTF-8 bytes of all indexed text
    oracle: object
    phrase_index: checks.PhraseIndex
    key_of: list[tuple[str, int]]   # doc id -> (conv_id, turn_idx)
    groups: dict[str, list[dict]]
    phrases: list[str]
    filt_cut: object
    gen_s: float


def make_inputs(seed: int, work: str, size: Size) -> Inputs:
    """Generate every input from ``seed`` into ``work``; nothing is reused."""
    t0 = time.perf_counter()
    # The conversations -- ids, turns, roles, tools, timestamps -- are the
    # generator's default layout, cut at n_turns; the seed draws the text.
    # How turns fall into conversations sets the engine's partition sizes,
    # so a fixed layout keeps the seed from changing the shape of the work.
    n_convs = size.n_turns // 15
    while min((layout := generate_transcripts(n_convs, seed=LAYOUT_SEED)).num_rows,
              (content := generate_transcripts(n_convs, seed=seed)).num_rows) < size.n_turns:
        n_convs *= 2
    layout = layout.slice(0, size.n_turns)
    tbl = layout.set_column(layout.schema.get_field_index("text"), "text",
                            content["text"].slice(0, size.n_turns))
    corpus_path = os.path.join(work, "corpus.parquet")
    pq.write_table(tbl, corpus_path, row_group_size=50_000)
    # engine and oracle both number docs in (conv_id, turn_idx) order
    pdf = tbl.to_pandas()
    oracle = build_oracle_index(pdf)
    texts = list(
        pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")["text"]
    )
    text_bytes = sum(len(t.encode()) for t in texts if t)
    meta = oracle.meta
    key_of = list(zip(meta["conv_id"], meta["turn_idx"].astype(int)))

    term_df = {t: len(p[0]) for t, p in oracle.postings.items()}
    qs = build_query_set(term_df, oracle.n_docs, seed=seed)
    groups = {g: [q for q in qs if q["qid"].startswith(g + "-")] for g in GROUPS}

    # exact phrases: two adjacent terms of a random doc, each in at most
    # PHRASE_MAX_DF docs, so every phrase costs about the same
    rng = np.random.default_rng(seed + 2)
    pidx = checks.PhraseIndex(oracle, texts)
    phrases: list[str] = []
    while len(phrases) < size.phrases:
        toks = pidx.docs[int(rng.integers(len(texts)))].split()
        pairs = [p for p in zip(toks, toks[1:])
                 if max(term_df[p[0]], term_df[p[1]]) <= PHRASE_MAX_DF]
        if pairs:
            phrases.append(" ".join(pairs[int(rng.integers(len(pairs)))]))
    return Inputs(
        corpus_path=corpus_path,
        n_turns=tbl.num_rows,
        text_bytes=text_bytes,
        oracle=oracle,
        phrase_index=pidx,
        key_of=key_of,
        groups=groups,
        phrases=phrases,
        filt_cut=meta["ts"].quantile(0.5),
        gen_s=time.perf_counter() - t0,
    )


@dataclass
class Runner:
    """Issues the workload's operations, one at a time, and records them."""

    spark: object
    index: str
    inp: Inputs
    tracer: Tracer
    size: Size
    seed: int
    work: str
    samples: dict[str, list[float]] = field(default_factory=dict)
    batch_queries: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    pending: list[tuple] = field(default_factory=list)   # results to check
    deleted: np.ndarray | None = None                    # doc-id mask
    n_ops: int = 0
    n_searches: int = 0                                  # loop searches issued
    counted_ops: set[int] = field(default_factory=set)   # fixed op set for counts
    counting: bool = True

    def __post_init__(self):
        self.deleted = np.zeros(len(self.inp.key_of), dtype=bool)
        self._rng = np.random.default_rng(self.seed + 3)

    # -- bookkeeping ----------------------------------------------------
    def _op(self) -> int:
        self.n_ops += 1
        if self.counting:
            self.counted_ops.add(self.n_ops)
        return self.n_ops

    def _run(self, what: str, fn) -> None:
        """One operation: a raise counts as a failed op; the loop goes on."""
        self.attempted += 1
        try:
            fn()
        except Exception:  # noqa: BLE001 -- a failed op is a measured outcome
            self.failed += 1
            self.errors.append(f"{what}: {traceback.format_exc(limit=3)}")

    def _sample(self, kind: str, seconds: float) -> None:
        self.samples.setdefault(kind, []).append(seconds)

    def _accept(self) -> np.ndarray:
        return ~self.deleted

    def _filter(self, q: dict):
        from pyspark.sql import functions as F

        meta = self.inp.oracle.meta
        if "filter" not in q:
            return None, self._accept()
        if q["filter"] == "role = 'user'":
            return F.col("role") == "user", self._accept() & (meta["role"] == "user").to_numpy()
        cut = self.inp.filt_cut
        return F.col("ts") <= F.lit(cut), self._accept() & (meta["ts"] <= cut).to_numpy()

    # -- operations -----------------------------------------------------
    def search(self, q: dict, first_read: bool = False) -> None:
        from cuvs_lucene_spark.query import search

        def go():
            op, tr = self._op(), self.tracer
            cond, accept = self._filter(q)
            t0 = time.perf_counter()
            with tr.span("search.plan", op):
                df = search(self.spark, self.index, q["text"], k=q["k"],
                            mode=q["mode"], filter_cond=cond)
            with tr.span("search.exec", op) as sp:
                rows = df.collect()
            dt = time.perf_counter() - t0
            tr.add_counts(sp, lambda: {**scan_metrics(df), "hits": len(rows)})
            self._sample("rw_query" if first_read else "query", dt)
            got = [(int(r["doc_id"]), float(r["score"])) for r in rows]
            self.pending.append(("search", q, accept, got))

        self._run(f"search {q['qid']}", go)

    def phrase(self, text: str) -> None:
        from cuvs_lucene_spark.query import search_phrase

        def go():
            op, tr = self._op(), self.tracer
            t0 = time.perf_counter()
            with tr.span("phrase.plan", op):
                df = search_phrase(self.spark, self.index, text, k=K)
            with tr.span("phrase.exec", op) as sp:
                rows = df.collect()
            dt = time.perf_counter() - t0
            tr.add_counts(sp, lambda: scan_metrics(df))
            self._sample("phrase", dt)
            self.pending.append(("phrase", text, self._accept(), [int(r["doc_id"]) for r in rows]))

        self._run(f"phrase {text!r}", go)

    def batch(self, qs: list[dict]) -> None:
        from cuvs_lucene_spark.query import search_batch

        def go():
            op, tr = self._op(), self.tracer
            t0 = time.perf_counter()
            with tr.span("batch.plan", op):
                df = search_batch(self.spark, self.index, [q["text"] for q in qs],
                                  k=K, mode=[q["mode"] for q in qs])
            with tr.span("batch.exec", op) as sp:
                rows = df.collect()
            dt = time.perf_counter() - t0
            tr.add_counts(sp, lambda: scan_metrics(df))
            self._sample("batch", dt)
            self.batch_queries += len(qs)
            got = [(int(r["qid"]), int(r["doc_id"]), float(r["score"])) for r in rows]
            self.pending.append(("batch", qs, self._accept(), got))

        self._run(f"batch of {len(qs)}", go)

    def delete(self, keys: list[int]) -> None:
        from cuvs_lucene_spark.operators.deletes import delete_docs

        path = os.path.join(self.work, f"delete-{self.n_ops}.parquet")
        pq.write_table(pa.table({
            "conv_id": [self.inp.key_of[d][0] for d in keys],
            "turn_idx": pa.array([self.inp.key_of[d][1] for d in keys], pa.int32()),
        }), path)

        def go():
            op = self._op()
            t0 = time.perf_counter()
            with self.tracer.span("delete", op):
                n_keys = delete_docs(self.spark, self.index, self.spark.read.parquet(path))
            self._sample("delete", time.perf_counter() - t0)
            if n_keys != len(keys):
                raise AssertionError(f"delete_docs committed {n_keys} keys of {len(keys)}")
            self.deleted[keys] = True

        self._run("delete", go)

    def write_round(self, probe: dict) -> None:
        """Tombstone ~1% of the live keys plus the probe's current top hits
        in one delete, then run the probe: the first read of the new
        snapshot, timed apart from the other searches as ``rw_query``."""
        from cuvs_lucene_spark.oracle import oracle_search

        live = np.flatnonzero(~self.deleted)
        n = max(1, int(DELETE_FRAC * self.inp.n_turns))
        victims = set(self._rng.choice(live, size=min(n, len(live)), replace=False).tolist())
        top = oracle_search(self.inp.oracle, probe["text"], k=3, mode=probe["mode"],
                            accept=self._accept())
        victims |= {d for d, _ in top}
        self.delete(sorted(victims))
        self.search(probe, first_read=True)

    def next_query(self) -> dict:
        """The loop's next search: the groups in turn, and within a group
        its queries in turn."""
        i = self.n_searches
        self.n_searches += 1
        g = self.inp.groups[GROUPS[i % len(GROUPS)]]
        return g[(i // len(GROUPS)) % len(g)]

    def cycle(self, workload: str, c: int) -> None:
        """On ingest, the cycle's first search is the probe of a write round."""
        for i in range(SEARCHES_PER_CYCLE):
            if workload == "ingest" and i == 0:
                self.write_round(self.next_query())
            else:
                self.search(self.next_query())
        for i in range(PHRASES_PER_CYCLE):
            self.phrase(self.inp.phrases[(c * PHRASES_PER_CYCLE + i) % len(self.inp.phrases)])

    def batch_mix(self) -> list[dict]:
        """Equal parts rare, hot, OR and AND queries, the first few of each
        group."""
        per = self.size.batch // 4
        g = self.inp.groups
        return [g[name][j % len(g[name])]
                for name in ("rare", "hot", "or", "and") for j in range(per)]

    def warm_up(self) -> None:
        """The batch (timed and checked, but not part of the loop), then an
        untimed, unchecked phrase search, so the loop's first calls find
        their kernels started."""
        from cuvs_lucene_spark.query import search_phrase

        self.batch(self.batch_mix())

        def go():
            search_phrase(self.spark, self.index, self.inp.phrases[-1], k=K).collect()

        self._run("warm-up", go)

    # -- checks -----------------------------------------------------------
    def check(self) -> None:
        """Check every recorded result; a failed check fails its op."""
        oracle = self.inp.oracle
        for kind, arg, accept, got in self.pending:
            if kind == "search":
                why = checks.check_term_query(oracle, arg, accept, got)
            elif kind == "batch":
                why = checks.check_batch(oracle, arg, accept, got)
            else:
                why = checks.check_phrase(self.inp.phrase_index, arg, K, accept, got)
            if why:
                self.failed += 1
                self.errors.append(f"check: {why}")
        self.attempted += 1
        why = self.check_live_count()
        if why:
            self.failed += 1
            self.errors.append(f"check: {why}")

    def check_live_count(self) -> str | None:
        """Live docs = rows written - rows deleted, as the engine counts them."""
        from cuvs_lucene_spark.operators.deletes import deleted_doc_ids
        from cuvs_lucene_spark.sources.catalog import IndexCatalog

        cat = IndexCatalog(self.index)
        rows = cat.read_doc_dim(self.spark).count()
        dels = deleted_doc_ids(self.spark, cat)
        n_del = 0 if dels is None else dels.distinct().count()
        want = len(self.deleted) - int(self.deleted.sum())
        if rows != len(self.deleted) or rows - n_del != want:
            return f"live docs {rows - n_del} of {rows}, expected {want} of {len(self.deleted)}"
        return None


def codec_probe(index: str) -> tuple[float, int]:
    """Decode every posting block of the index (doc gaps and tfs) with the
    codec's vectorized kernel; median seconds of three passes, blocks."""
    from cuvs_lucene_spark.codec import unpack_u64_blocks
    from cuvs_lucene_spark.sources.catalog import IndexCatalog

    cat = IndexCatalog(index)
    gaps: list[bytes] = []
    tfs: list[bytes] = []
    for s in cat.read_manifest()["segments"]:
        t = pads.dataset(cat.postings_path(s["id"]), format="parquet",
                         partitioning="hive").to_table(columns=["doc_gaps", "tfs"])
        gaps += t["doc_gaps"].to_pylist()
        tfs += t["tfs"].to_pylist()
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        unpack_u64_blocks(gaps)
        unpack_u64_blocks(tfs)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), len(gaps)


def _tail(samples: list[float]) -> tuple[str, float] | None:
    """The highest percentile up to p90 with at least ten samples above it."""
    n = len(samples)
    p = min(90, int(100 * (1 - 10 / n))) if n else 0
    if p < 50:
        return None
    return f"p{p}", float(np.percentile(samples, p))


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        size: Size) -> tuple[dict, dict]:
    """Run one workload; returns (result line, detail record)."""
    from pyspark import SparkContext

    from cuvs_lucene_spark.operators.build import build_index
    from cuvs_lucene_spark.session import get_spark

    inp = make_inputs(seed, work, size)
    index = os.path.join(work, "index")

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark.sparkContext if trace else None)
        if trace:
            _trace_reader_opens(tracer)
        runner = Runner(spark, index, inp, tracer, size, seed, work)

        tb = time.perf_counter()
        with tracer.span("build", runner._op()):
            build_index(spark, spark.read.parquet(inp.corpus_path), index, positions=True)
        build_s = time.perf_counter() - tb
        setup_s = session_s + build_s
        index_bytes = _du(index)

        tw = time.perf_counter()
        runner.warm_up()
        warmup_s = time.perf_counter() - tw

        # whole cycles: another one starts only if it should end in time
        tl = time.perf_counter()
        ops0 = runner.attempted
        c = 0
        while c < MIN_CYCLES or (time.perf_counter() - tl) * (c + 1) / c <= seconds:
            runner.counting = c < MIN_CYCLES
            runner.cycle(workload, c)
            c += 1
        loop_s = time.perf_counter() - tl
        loop_ops = runner.attempted - ops0
        runner.counting = True

        tc = time.perf_counter()
        runner.check()
        check_s = time.perf_counter() - tc
        timings = _segments(index)[0].get("timings", {})
        codec = codec_probe(index) if trace else (0.0, 0)
    finally:
        ts = time.perf_counter()
        _stop(spark, SparkContext)
        stop_s = time.perf_counter() - ts

    s = runner.samples
    batch_s = sum(s.get("batch", []))
    e2e = {
        "setup_s": (setup_s, "s"),
        "build_turns_per_s": (inp.n_turns / build_s, "turns/s"),
        "index_bytes_per_corpus_byte": (index_bytes / inp.text_bytes, "B/B"),
        "query_p50_s": (_median(s.get("query")), "s"),
        "phrase_p50_s": (_median(s.get("phrase")), "s"),
        "ops_per_s": (loop_ops / loop_s, "1/s"),
    }
    if trace:
        metrics = _per_layer(runner, tracer, session_s, timings,
                             index_bytes, index, codec)
        tracer.write(os.path.join(os.path.dirname(work), f"spans-{workload}-{seed}.jsonl"))
    else:
        metrics = e2e
    for err in runner.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    tail = _tail(s.get("query", []))
    detail = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "cycles": c,
        "failed_ops_frac": runner.failed / runner.attempted,
        # too noisy between runs here to gate on: see README
        "batch_p50_s": _median(s.get("batch")),
        "batch_qps": runner.batch_queries / batch_s if batch_s else None,
        "delete_p50_s": _median(s.get("delete")),
        "rw_query_p50_s": _median(s.get("rw_query")),
        "samples": {k: [round(x, 4) for x in v] for k, v in s.items()},
        "query_tail": {"pct": tail[0], "s": tail[1]} if tail else None,
        "gen_s": inp.gen_s,
        "session_s": session_s,
        "build_s": build_s,
        "warmup_s": warmup_s,
        "loop_s": loop_s,
        "check_s": check_s,
        "stop_s": stop_s,
        "n_turns": inp.n_turns,
        "index_bytes": index_bytes,
        "text_bytes": inp.text_bytes,
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
    }
    return result, detail


def _median(xs: list[float] | None) -> float | None:
    return statistics.median(xs) if xs else None


def _segments(index: str) -> list[dict]:
    from cuvs_lucene_spark.sources.catalog import IndexCatalog

    return IndexCatalog(index).read_manifest()["segments"]


def _trace_reader_opens(tracer: Tracer) -> None:
    """Time reader opens inside the query entry points: they construct
    ``query.IndexReader`` by its module-level name."""
    import cuvs_lucene_spark.query as query

    base = query.IndexReader

    class TracedIndexReader(base):
        def __init__(self, *args, **kwargs):
            with tracer.span("reader.open", tracer.current_op()):
                super().__init__(*args, **kwargs)

    query.IndexReader = TracedIndexReader


def _per_layer(runner: Runner, tr: Tracer, session_s: float, t0: dict,
               index_bytes: int, index: str, codec: tuple[float, int]) -> dict:
    """Per-layer metrics: times are medians per call; counts are per-call
    means over the calls before the loop and in its first MIN_CYCLES
    cycles."""
    ops = runner.counted_ops

    def cnt(name, key):
        return tr.mean_count(name, key, ops)

    build_span = tr.named("build")[0]
    search_hits = sum(s.counts.get("hits", 0) for s in tr.named("search.exec", ops))
    search_rows = sum(s.counts.get("scan_rows", 0) for s in tr.named("search.exec", ops))
    m = {
        "session.get_spark_s": (session_s, "s"),
        "build.doc_ids_s": (t0.get("doc_ids", 0.0), "s"),
        "build.hot_detect_s": (t0.get("hot_detect", 0.0), "s"),
        "build.encode_write_s": (t0.get("encode_write", 0.0), "s"),
        "build.dictionary_s": (t0.get("dictionary", 0.0), "s"),
        "build.stats_lineage_cluster_s": (t0.get("stats_lineage_cluster", 0.0), "s"),
        "build.jobs": (build_span.jobs, "count"),
        "build.tasks": (build_span.tasks, "count"),
        "build.postings_blocks": (_postings_blocks(index), "count"),
        "build.index_bytes": (index_bytes, "B"),
        "delete.s": (tr.median_s("delete"), "s"),
        "delete.jobs": (cnt("delete", "jobs"), "count"),
        "reader.open_s": (tr.median_s("reader.open"), "s"),
        "reader.open_jobs": (cnt("reader.open", "jobs"), "count"),
        "search.plan_s": (tr.median_s("search.plan"), "s"),
        "search.plan_jobs": (cnt("search.plan", "jobs"), "count"),
        "search.exec_s": (tr.median_s("search.exec"), "s"),
        "search.exec_jobs": (cnt("search.exec", "jobs"), "count"),
        "search.exec_tasks": (cnt("search.exec", "tasks"), "count"),
        "search.scan_rows": (cnt("search.exec", "scan_rows"), "count"),
        "search.scan_bytes": (cnt("search.exec", "scan_bytes"), "B"),
        "search.hits_per_scanned_row": (search_hits / search_rows if search_rows else 0.0, "ratio"),
        "phrase.plan_s": (tr.median_s("phrase.plan"), "s"),
        "phrase.exec_s": (tr.median_s("phrase.exec"), "s"),
        "phrase.jobs": (cnt("phrase.plan", "jobs") + cnt("phrase.exec", "jobs"), "count"),
        "phrase.scan_rows": (cnt("phrase.exec", "scan_rows"), "count"),
        "batch.plan_s": (tr.median_s("batch.plan"), "s"),
        "batch.exec_s": (tr.median_s("batch.exec"), "s"),
        "batch.jobs": (cnt("batch.plan", "jobs") + cnt("batch.exec", "jobs"), "count"),
        "batch.scan_rows": (cnt("batch.exec", "scan_rows"), "count"),
        "batch.scan_bytes": (cnt("batch.exec", "scan_bytes"), "B"),
        "codec.decode_s": (codec[0], "s"),
        "codec.blocks_decoded": (codec[1], "count"),
        "trace.overhead_s": (tr.overhead_s, "s"),
    }
    return m


def _postings_blocks(index: str) -> int:
    from cuvs_lucene_spark.sources.catalog import IndexCatalog

    cat = IndexCatalog(index)
    return sum(
        pads.dataset(cat.postings_path(s["id"]), format="parquet",
                     partitioning="hive").count_rows()
        for s in cat.read_manifest()["segments"]
    )


def _stop(spark, SparkContext) -> None:
    """Stop the session, then end the JVM it launched and wait for it; its
    Python workers exit with it. The JVM exits by itself when its stdin
    closes, but its shutdown hooks can take ten seconds after a long run,
    and the context is already stopped, so one that lingers is killed."""
    import subprocess

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=1)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
