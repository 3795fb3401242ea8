"""The three workloads. Each is a closed loop with one client and no
think time, run by a single process against ``local[nproc]``.

- ``serve_search``: one persisted index, then distinct searches.
- ``index_build``: repeated cold rebuilds of the index from a repo zip.
- ``registry_mix``: repeated cold passes over registry queries.

Every workload has one *operation* whose wall time is the end-to-end
latency (a search, a rebuild, a pass); ``Run.ops`` holds those times.
In a traced run half of the operations run untraced, into
``Run.untraced_ops``, so the run measures its own tracing overhead.
"""

from __future__ import annotations

import itertools
import os
import time
from collections import defaultdict
from contextlib import contextmanager

import gen
from reference import TfidfReference, corpus_chunks, result_digest, topk_matches

HERE = os.path.dirname(os.path.abspath(__file__))

# Sizes chosen so one run, set-up included, stays under a minute on a
# 4-core host.
SERVE_FILES = 120
BUILD_FILES = 120
SERVE_WARMUP_SEARCHES = 10
QUERY_POOL = 400
# What the benchmark asks of the engine, and so expects back: the
# ingest's system prompt and the reference's index_data chunking.
SYSTEM_PROMPT = "Summarize for retrieval."
CHUNK_SIZE, CHUNK_STEP = 2000, 1000

# The registry queries read a byte copy of the project's deterministic
# test tables at scale factor 0.01 (about 60,000 lineitems), the scale
# its DuckDB oracle parity is checked at.
REGISTRY_DATA = os.path.join(HERE, "data", "sf0.01")

# A subset of ``bench.py``'s 28 headline registry queries, copied so
# later edits to that file do not change this workload. On a 4-core
# host these 10 make a cold pass of about 12 s on the sf0.01 tables;
# all 28 would not fit one run's budget. The 10 keep one query or more
# from every family the workload exists for (relational, dedup, vector,
# linkage, streaming), including the targets of open performance work
# (PPJoin, item cosine, the streaming drain). TF-IDF search is left to
# ``serve_search``, which reaches the same operator through the API.
REGISTRY_QUERIES = [
    "q3_shipping_priority", "q18_large_orders_having", "window_top3_orders_per_customer",
    "minhash_lsh_candidate_pairs", "line_dedup_clean",
    "ivf_ann_topk", "jaccard_prefix_filter_pairs", "item_cosine_similarity_topk",
    "events_sessionize_batch", "stream_hourly_stats",
]

# The streaming drain emits a window once the watermark (latest event
# time less one hour) passes its end, so its rows are the batch
# aggregate over the windows closed by then.
DRAIN_ORACLE = """
SELECT date_trunc('hour', ts) AS hour_start, event_type, count(*) AS n_events,
       round(cast(sum(cast(value AS decimal(18,6))) AS double), 6) AS sum_value
FROM events
WHERE date_trunc('hour', ts) + INTERVAL 2 HOUR <= (SELECT max(ts) FROM events)
GROUP BY 1, 2
"""

KEY_COLS = ["filename", "start"]
FIELDS = ["content", "filename"]


class Run:
    """State of one benchmark run: timings, counters and layer samples."""

    def __init__(self, spark, probe, tracer, seed: int, seconds: float, work: str):
        self.spark = spark
        self.probe = probe
        self.tracer = tracer
        self.trace = tracer.enabled
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.ops: list[float] = []  # seconds per operation
        self.untraced_ops: list[float] = []  # traced runs only
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layers: dict[str, list[float]] = defaultdict(list)
        self.info: dict = {}
        self._groups: list[tuple[str, str, dict]] = []
        self.failed_tasks = 0
        self.retained_mb = 0.0
        self.setup_end: float | None = None

    def setup_done(self) -> None:
        """Marks the end of set-up: warm-up times before it are discarded."""
        self.setup_end = time.perf_counter()

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)

    @contextmanager
    def untraced(self):
        """One operation of a traced run with tracing off: its time goes
        to ``untraced_ops`` and its layer samples are dropped."""
        saved = self.trace, self.layers, self.ops
        self.trace = self.tracer.enabled = False
        self.layers, self.ops = defaultdict(list), self.untraced_ops
        try:
            yield
        finally:
            self.trace, self.layers, self.ops = saved
            self.tracer.enabled = self.trace

    @contextmanager
    def layer(self, name: str, **attrs):
        """A span around one call into a layer; when traced, its Spark
        jobs run in their own job group, read back by ``read_groups``."""
        if not self.trace:
            yield None
            return
        with self.probe.group(name) as gid, self.tracer.span(name, group=gid, **attrs) as sp:
            yield sp
        self._groups.append((name, gid, sp))

    def read_groups(self) -> dict[str, dict]:
        """Status-store metrics of the groups opened since the last call,
        summed per layer name and kept on each group's span. Called
        outside timed regions."""
        if not self._groups:
            return {}
        self.probe.drain_events([gid for _, gid, _ in self._groups])
        out: dict[str, dict] = {}
        for name, gid, span in self._groups:
            m = self.probe.group_metrics(gid)
            span["spark"] = m
            acc = out.setdefault(name, defaultdict(float))
            for k, v in m.items():
                acc[k] += v
        self._groups = []
        return out

    def python_cpu_ms(self) -> float:
        """Python workers' CPU time so far; read only when traced."""
        return self.probe.python_cpu_ms() if self.trace else 0.0

    def add_exec(self, groups: dict[str, dict], python_ms: float) -> None:
        """Record one operation's summed executor metrics and the CPU
        time its Python workers used."""
        self.layers["spark.exec.python_cpu_ms"].append(python_ms)
        tot: dict[str, float] = defaultdict(float)
        for m in groups.values():
            for k, v in m.items():
                tot[k] += v
        for k in ("run_ms", "cpu_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "gc_ms", "failed_tasks"):
            self.layers[f"spark.exec.{k}"].append(tot[k])
        self.failed_tasks += int(tot["failed_tasks"])

    @contextmanager
    def storage_around(self):
        before = self.probe.storage() if self.trace else None
        yield
        if self.trace:
            after = self.probe.storage()
            self.layers["spark.storage.entries_before"].append(before[0])
            self.layers["spark.storage.mb_before"].append(before[1])
            self.layers["spark.storage.entries_after"].append(after[0])
            self.layers["spark.storage.mb_after"].append(after[1])

    def timed_loop(self, step) -> None:
        """Call ``step()`` until ``seconds`` have passed, at least once.
        When traced, calls go traced, untraced, untraced, traced and so
        on, at least four, so warm-up over the loop favours neither
        kind. Records the host's CPU shares over the loop from
        ``/proc/stat``: load from other tenants slows every operation."""
        cpu0 = _cpu_times()
        t_end = time.perf_counter() + self.seconds
        traced = self.trace
        for i in itertools.count():
            try:
                if traced and i % 4 in (1, 2):
                    with self.untraced():
                        step()
                else:
                    step()
            except Exception as exc:  # a failed operation is counted; the loop goes on
                self.attempted += 1
                self.fail(f"{type(exc).__name__}: {str(exc)[:200]}")
            if time.perf_counter() >= t_end and (not traced or i >= 3):
                break
        cpu1 = _cpu_times()
        total = sum(cpu1.values()) - sum(cpu0.values())
        self.info["host_cpu_pct"] = {k: round(100 * (cpu1[k] - cpu0[k]) / max(1, total), 1) for k in cpu0}


def _cpu_times() -> dict[str, int]:
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return {"user": f[0] + f[1], "system": f[2] + f[5] + f[6], "idle": f[3] + f[4], "steal": f[7]}


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1e3


# -- RAG pipeline -------------------------------------------------------------

def _write_zip(run: Run, n_files: int) -> tuple[str, list[dict]]:
    """Writes the seeded repo zip; returns its path and the chunks an
    index built from it must hold."""
    data, desc, entries = gen.repo_zip(run.seed, n_files)
    path = os.path.join(run.work, "repo.zip")
    with open(path, "wb") as fh:
        fh.write(data)
    run.info["repo"] = desc
    return path, corpus_chunks(entries, SYSTEM_PROMPT, CHUNK_SIZE, CHUNK_STEP)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _build(run: Run, engine, zip_path: str):
    """read_repo -> prepare -> index(chunk=True) -> force the weights.

    When traced, the outputs of read_repo, prepare and chunk are also
    sent to ``noop`` under their own groups first, so each layer's own
    cost shows apart from the fit that consumes them."""
    t = time.perf_counter()
    with run.layer("sources.repo"):
        files = engine.read_repo(zip_path)
        if run.trace:
            _noop(files)
    run.layers["sources.repo.read_ms"].append(_ms(t))
    corpus = engine.prepare(files)
    if run.trace:
        t = time.perf_counter()
        with run.layer("operators.ingest"):
            _noop(corpus)
        run.layers["operators.ingest.ms"].append(_ms(t))
        t = time.perf_counter()
        with run.layer("operators.chunker"):
            _noop(engine.chunk(corpus))
        run.layers["operators.chunker.ms"].append(_ms(t))
    t = time.perf_counter()
    with run.layer("operators.tfidf.fit"):
        index = engine.index(corpus, chunk=True)
    run.layers["operators.tfidf.fit_ms"].append(_ms(t))
    t = time.perf_counter()
    with run.layer("operators.tfidf.materialize"):
        postings = index.model.weights.count()
        vocab = index.model.idf.count()
    run.layers["operators.tfidf.materialize_ms"].append(_ms(t))
    if run.trace:
        run.layers["operators.tfidf.vocab"].append(vocab)
    return index, (postings, vocab)


def _reference(run: Run, want: list[dict]) -> TfidfReference:
    """The reference scorer, fitted on the expected chunks."""
    ref = TfidfReference(want, KEY_COLS, FIELDS)
    run.info["corpus"] = {"docs": len({d["filename"] for d in want}), "chunks": len(want),
                          "postings": ref.postings, "vocab": sum(len(v) for v in ref.vocab.values()),
                          "docs_with_terms": ref.docs_with_terms}
    return ref


def chunk_rows(want: list[dict]) -> list[tuple]:
    return sorted((d["filename"], d["start"], d["content"]) for d in want)


def check_chunks(run: Run, got: list[tuple], want: list[tuple]) -> None:
    """The index's chunks (filename, start, content) against the
    expected ones: a file read, parsed or chunked wrongly shows here."""
    ok = sorted(got) == want
    run.check(ok, f"chunks: {len(got)} indexed vs {len(want)} expected"
              + ("" if ok or len(got) != len(want) else ", keys or content differ"))


def _indexed_chunks(index) -> list[tuple]:
    return [tuple(r) for r in index.docs.select("filename", "start", "content").collect()]


def _check_index(run: Run, index, sizes: tuple[int, int], ref: TfidfReference) -> None:
    """Sum of squared weights per field equals the number of documents
    with terms in that field (every document vector has unit length),
    and the postings and vocabulary sizes match the reference's."""
    from pyspark.sql import functions as F

    got = {
        r["field"]: r["ss"]
        for r in index.model.weights.groupBy("field").agg(F.sum(F.col("w") * F.col("w")).alias("ss")).collect()
    }
    want_sizes = (ref.postings, sum(len(v) for v in ref.vocab.values()))
    ok = sizes == want_sizes and set(got) == set(ref.docs_with_terms)
    ok = ok and all(abs(got[f] - n) <= 1e-6 * max(1, n) for f, n in ref.docs_with_terms.items())
    run.check(ok, f"index check: sizes {sizes} vs {want_sizes}; sum w^2 {got} vs {ref.docs_with_terms}")


def _layer_counts(run: Run, got: list[tuple], postings: int) -> None:
    """Traced only: documents out of ingest that reach the chunker,
    chunk fan-out and postings, as the program produced them."""
    docs = len({r[0] for r in got})
    run.layers["operators.ingest.rows_out"].append(docs)
    run.layers["operators.chunker.chunks_per_doc"].append(len(got) / max(1, docs))
    run.layers["operators.tfidf.postings"].append(postings)


def check_search(run: Run, ref: TfidfReference, q: str, rows) -> None:
    """A search's collected top 5 against the reference scorer."""
    got = [((r["filename"], r["start"]), r["score"]) for r in rows]
    run.check(topk_matches(got, ref.search(q, 5)), f"search {q!r}")


def serve_search(run: Run) -> None:
    from data_engineering_rag_spark.api import RagEngine

    zip_path, want = _write_zip(run, SERVE_FILES)
    queries, qdesc = gen.query_stream(run.seed, QUERY_POOL + SERVE_WARMUP_SEARCHES)
    # Warm-up takes the tail, so the measured stream starts on a block
    # boundary of the generator's length mix.
    warm, queries = queries[-SERVE_WARMUP_SEARCHES:], queries[:-SERVE_WARMUP_SEARCHES]
    run.info["queries"] = qdesc
    engine = RagEngine(run.spark, system_prompt=SYSTEM_PROMPT)
    start_storage = run.probe.storage()
    index, sizes = _build(run, engine, zip_path)
    groups = run.read_groups()
    ref = _reference(run, want)
    got = _indexed_chunks(index)
    check_chunks(run, got, chunk_rows(want))
    _check_index(run, index, sizes, ref)
    if run.trace:
        run.layers["operators.tfidf.fit_jobs"].append(groups["operators.tfidf.fit"]["jobs"])
        _layer_counts(run, got, sizes[0])

    def search(q: str, timed: bool) -> None:
        run.tracer.request()
        py0 = run.python_cpu_ms()
        t0 = time.perf_counter()
        with run.layer("api.search", query=q):
            with run.tracer.span("api.search.plan"):
                df = index.search(q, k=5)
            t1 = time.perf_counter()
            with run.tracer.span("api.search.exec"):
                rows = df.collect()
        t2 = time.perf_counter()
        check_search(run, ref, q, rows)
        if not timed:
            run.read_groups()
            return
        run.ops.append(t2 - t0)
        run.layers["api.search.plan_ms"].append((t1 - t0) * 1e3)
        run.layers["api.search.exec_ms"].append((t2 - t1) * 1e3)
        if run.trace:
            m = run.read_groups()["api.search"]
            run.layers["api.search.jobs"].append(m["jobs"])
            run.layers["api.search.stages"].append(m["stages"])
            run.layers["api.search.tasks"].append(m["tasks"])
            run.layers["api.search.stage_skip_ratio"].append(m["skipped_stages"] / max(1, m["stages"]))
            run.add_exec({"api.search": m}, run.python_cpu_ms() - py0)

    for q in warm:
        search(q, timed=False)
    run.setup_done()
    it = iter(queries)
    with run.storage_around():
        run.timed_loop(lambda: search(next(it), timed=True))
    index.unpersist()
    run.retained_mb = run.probe.storage()[1] - start_storage[1]


def index_build(run: Run) -> None:
    from data_engineering_rag_spark.api import RagEngine

    zip_path, want = _write_zip(run, BUILD_FILES)
    want_rows = chunk_rows(want)
    ref = _reference(run, want)
    engine = RagEngine(run.spark, system_prompt=SYSTEM_PROMPT)
    start_storage = run.probe.storage()
    # Warm-up rebuild: checked, then discarded.
    index, sizes = _build(run, engine, zip_path)
    check_chunks(run, _indexed_chunks(index), want_rows)
    _check_index(run, index, sizes, ref)
    index.unpersist()
    run.read_groups()
    for k in list(run.layers):
        if k != "session.start_s":
            run.layers[k].clear()  # warm-up samples are discarded
    run.setup_done()

    def rebuild() -> None:
        run.tracer.request()
        py0 = run.python_cpu_ms()
        with run.storage_around():
            with run.tracer.span("rebuild"):
                t0 = time.perf_counter()
                index, sizes = _build(run, engine, zip_path)
                t1 = time.perf_counter()
                got = _indexed_chunks(index)
                check_chunks(run, got, want_rows)
                _check_index(run, index, sizes, ref)
                t2 = time.perf_counter()
                index.unpersist()
                t3 = time.perf_counter()
        run.ops.append((t1 - t0) + (t3 - t2))
        if run.trace:
            groups = run.read_groups()
            run.layers["operators.tfidf.fit_jobs"].append(groups["operators.tfidf.fit"]["jobs"])
            run.add_exec(groups, run.python_cpu_ms() - py0)
            _layer_counts(run, got, sizes[0])

    run.timed_loop(rebuild)
    run.retained_mb = run.probe.storage()[1] - start_storage[1]


# -- registry -----------------------------------------------------------------

def _clear_caches(spark) -> None:
    from data_engineering_rag_spark.operators.lsh_ml import clear_ml_lsh_memo
    from data_engineering_rag_spark.plans.rag import clear_tfidf_memo

    spark.catalog.clearCache()
    clear_tfidf_memo()
    clear_ml_lsh_memo()


def check_result(run: Run, name: str, columns, rows, want_columns, want_rows) -> None:
    """A query's collected rows against its oracle's, by digest."""
    ok = result_digest(list(columns), rows) == result_digest(list(want_columns), want_rows)
    run.check(ok, f"{name}: result differs from its oracle")


def _oracle_pass(run: Run, order: list[str], sf_dir: str) -> None:
    """Warm-up pass, not timed: every query's collected result against
    its DuckDB oracle, or the benchmark's own for the streaming drain."""
    import duckdb
    from data_engineering_rag_spark.plans import REGISTRY

    con = duckdb.connect()
    try:
        for t in run.info["tables"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in order:
            spec = REGISTRY[name]
            try:
                df = spec.spark(run.spark, sf_dir)
                rows = [tuple(r) for r in df.collect()]
                res = con.execute(spec.oracle or DRAIN_ORACLE)
                check_result(run, name, df.columns, rows, [d[0] for d in res.description], res.fetchall())
            except Exception as exc:  # a failing query is counted, the pass goes on
                run.attempted += 1
                run.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
    finally:
        con.close()


def registry_mix(run: Run) -> None:
    import random

    from data_engineering_rag_spark.plans import REGISTRY

    sf_dir = REGISTRY_DATA
    run.info["tables"] = sorted(f[: -len(".parquet")] for f in os.listdir(sf_dir) if f.endswith(".parquet"))
    order = list(REGISTRY_QUERIES)
    random.Random(run.seed).shuffle(order)
    run.info["order"] = order
    listener = None
    if run.trace:
        from sparkmetrics import StreamingProgress

        listener = StreamingProgress()
        run.spark.streams.addListener(listener)
    start_storage = run.probe.storage()
    _oracle_pass(run, order, sf_dir)
    _clear_caches(run.spark)
    run.read_groups()
    if listener:
        listener.take()
    run.setup_done()

    def one_pass() -> None:
        run.tracer.request()
        py0 = run.python_cpu_ms()
        per: dict[str, float] = {}
        with run.storage_around():
            with run.tracer.span("registry.pass"):
                t_pass = time.perf_counter()
                for name in order:
                    spec = REGISTRY[name]
                    module = spec.spark.__module__.rsplit(".", 1)[-1]
                    run.attempted += 1
                    t = time.perf_counter()
                    try:
                        with run.layer(f"plans.{module}", query=name):
                            _noop(spec.spark(run.spark, sf_dir))
                    except Exception as exc:  # counted; the pass goes on
                        run.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
                    per[f"plans.{module}.{name}.s"] = time.perf_counter() - t
                run.ops.append(time.perf_counter() - t_pass)
            _clear_caches(run.spark)
        for k, v in per.items():
            run.layers[k].append(v)
        batches = listener.take() if listener else []
        if run.trace:
            groups = run.read_groups()
            for module, m in groups.items():
                run.layers[f"{module}.jobs"].append(m["jobs"])
                run.layers[f"{module}.stages"].append(m["stages"])
                run.layers[f"{module}.shuffle_bytes"].append(m["shuffle_read_bytes"] + m["shuffle_write_bytes"])
            run.add_exec(groups, run.python_cpu_ms() - py0)
            run.layers["streaming.batches"].append(len(batches))
            for k in ("trigger_ms", "commit_ms", "state_rows", "state_mem_bytes"):
                run.layers[f"streaming.{k}"].append(sum(b[k] for b in batches))

    run.timed_loop(one_pass)
    run.retained_mb = run.probe.storage()[1] - start_storage[1]
    if listener:
        run.spark.streams.removeListener(listener)


WORKLOADS = {"serve_search": serve_search, "index_build": index_build, "registry_mix": registry_mix}
