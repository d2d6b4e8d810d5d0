"""The three workloads. Each drives the engine only through the public
functions re-exported by ``engine`` and fills ``run.e2e`` (end-to-end
metrics), ``run.layer`` (per-layer metrics, traced runs) and
``run.info`` (traffic dimensions and sample counts)."""

from __future__ import annotations

import datetime
import os
import random
import shutil
import threading
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import engine
import gen
import stats
import streamlog
from spans import BatchListener, NullTracer

# live_ingest: one file every PERIOD seconds, open loop
LIVE_RATE = 2000
LIVE_PERIOD = 0.25
LIVE_DASH_EVERY = 2.0
LIVE_COMMIT_GRACE = 30.0  # files still uncommitted this long after the last write fail
# ingest_backlog: pre-written files drained with available_now
BACKLOG_FILES = 32
BACKLOG_PER_FILE = 1500
BACKLOG_FILES_PER_TRIGGER = 4
BACKLOG_REFRESHES = 5
BASELINE_FILES = 12  # single-core drain: the first 3 triggers' worth
# curation
CURATION_DOCS = 2000
CURATION_VECS = 2000
ANN_BATCH = 64
ANN_BATCHES = 5
# served before the timed ANN batches: the first batch after the build
# takes about twice as long, a one-time cost a serving index pays once
ANN_WARM_BATCHES = 1
ANN_K = 10
OVERHEAD_PAIRS = 2  # traced runs: read ops timed with and without tracing
# correctness floor for the planted-duplicate recall
MIN_DEDUP_RECALL = 0.9


def _files_under(path: str) -> list[str]:
    out = []
    for root, _, names in os.walk(path):
        if os.path.basename(root).startswith("_"):
            continue
        out += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
    return out


def _read_sink(spark, path: str):
    return spark.read.schema(engine.PROFILE_SCHEMA).parquet(path)


class Run:
    def __init__(self, args, work: str, tracer, cpus: int) -> None:
        self.args = args
        self.work = work
        self.tracer = tracer
        self.cpus = cpus
        self.spark = None
        self.counter = None
        self.attempted = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        self.listener = None
        self.dash: list[tuple[int, int, int]] = []  # (jobs, input files, rows) per refresh
        # The dashboard client's last views. Each poll passes them to
        # refresh() as `previous`, as the engine's API asks: a poll over
        # the same path whose predecessor's views are still cached is
        # answered from that cache.
        self.views = None

    # ---- bookkeeping
    def op(self, failures: list[str] | None = None) -> None:
        self.attempted += 1
        if failures:
            self.failures += failures

    def setup(self, warm) -> None:
        """Session start plus the workload's warm-up: the setup_s metric."""
        with self.tracer.span("session.setup"):
            t = time.perf_counter()
            with self.tracer.span("session.get_spark"):
                self.spark, start_s = engine.start_session(self.cpus, self.work)
            self.counter = engine.JobCounter(self.spark)
            self.counter.group("perfbench-main")
            if self.tracer.enabled:
                self.listener = BatchListener()
                self.spark.streams.addListener(self.listener)
            w = time.perf_counter()
            with self.tracer.span("session.warmup"):
                warm()
            self.e2e["setup_s"] = time.perf_counter() - t
        self.layer["session.start_s"] = start_s
        self.layer["session.warmup_s"] = time.perf_counter() - w

    def finish(self) -> None:
        self.layer["peak_rss_mb"] = engine.peak_rss_mb()
        jobs, tasks = self.counter.totals()
        self.layer["spark.jobs"] = jobs
        self.layer["spark.tasks"] = tasks

    # ---- shared ingest pieces
    def pipeline(self, in_dir: str, name: str, max_files=None, available_now=True):
        src = engine.read_envelope_file_stream(self.spark, in_dir, max_files)
        d = os.path.join(self.work, name)
        sinks = [os.path.join(d, "curated"), os.path.join(d, "serving")]
        q = engine.run_pipeline(
            self.spark, src, sinks, os.path.join(d, "ckpt"), os.path.join(d, "deadletter"),
            available_now=available_now,
        )
        self.counter.groups.add(str(q.runId))
        return q, sinks, os.path.join(d, "deadletter"), os.path.join(d, "ckpt")

    def write_envelopes(self, directory: str, first_file: int, n_files: int, per_file: int):
        os.makedirs(directory, exist_ok=True)
        tally = gen.EnvelopeTally()
        names = []
        for f in range(first_file, first_file + n_files):
            text, t = gen.envelope_file(self.args.seed, f, per_file)
            name = os.path.join(directory, f"part-{f:05d}.jsonl")
            with open(name, "w") as fh:
                fh.write(text)
            tally.add(t)
            names.append(name)
        return names, tally

    def warm_ingest(self) -> None:
        """Two small files through the pipeline and one refresh."""
        in_dir = os.path.join(self.work, "warm", "in")
        self.write_envelopes(in_dir, 90000, 2, 500)
        with self.tracer.span("warmup.run_pipeline"):
            q, sinks, _, _ = self.pipeline(in_dir, "warm")
            q.awaitTermination()
        with self.tracer.span("warmup.refresh"):
            self.views = engine.refresh(_read_sink(self.spark, sinks[1]))

    def timed_refresh(self, serving: str, tag: str):
        """One dashboard poll: returns (seconds, view rows)."""
        group = f"perfbench-dash-{tag}"
        self.counter.group(group)
        files = len(_files_under(serving))
        t = time.perf_counter()
        with self.tracer.span("dashboard.refresh"):
            self.views = engine.refresh(_read_sink(self.spark, serving), self.views)
            rows = checks.view_rows(self.views)
        dt = time.perf_counter() - t
        self.counter.group("perfbench-main")
        self.dash.append((len(self.counter.jobs(group)), files, rows["total"]))
        return dt, rows

    def dashboard_layers(self) -> None:
        if self.dash:
            jobs, files, rows = zip(*self.dash)
            self.layer["dashboard.jobs_per_refresh"] = stats.median(jobs)
            self.layer["dashboard.input_files"] = stats.median(files)
            self.layer["dashboard.input_rows"] = stats.median(rows)

    def final_checks(self, sinks, dead_letter, tally, fresh_views: bool) -> None:
        """Sinks against the generator; then the dashboard views, from a
        new poll unless the client's last poll already saw the final table."""
        with self.tracer.span("check.sinks"):
            self.op(checks.check_sinks(sinks, dead_letter, tally))
        with self.tracer.span("check.views"):
            if fresh_views:
                self.views = engine.refresh(_read_sink(self.spark, sinks[1]), self.views)
            year = datetime.datetime.now(datetime.timezone.utc).year
            self.op(checks.check_views(self.views, tally, year))

    def stream_layers(self, q, ckpt: str, sinks, dead_letter: str, envelopes: int, parent) -> None:
        """Per-layer numbers of one stream run (traced runs)."""
        deadline = time.time() + 10  # progress events arrive asynchronously
        while len(self.listener.for_run(str(q.runId))) < len(streamlog.commit_times(ckpt)):
            if time.time() > deadline:
                break
            time.sleep(0.1)
        prog = self.listener.for_run(str(q.runId))
        self.listener.add_spans(self.tracer, str(q.runId), parent)
        d = [p["durationMs"] for p in prog]
        batches = len(prog)
        med = lambda key: stats.median([x.get(key, 0) for x in d])  # noqa: E731
        trig, add = med("triggerExecution"), med("addBatch")
        self.layer.update({
            "stream.batches": batches,
            "stream.trigger_ms_p50": trig,
            "stream.add_batch_ms_p50": add,
            "stream.query_planning_ms_p50": med("queryPlanning"),
            "stream.wal_commit_ms_p50": med("walCommit"),
            "stream.commit_offsets_ms_p50": med("commitOffsets"),
            "stream.overhead_share": 1.0 - add / trig if trig else 0.0,
            "source.latest_offset_ms_p50": med("latestOffset"),
            "source.rows_read_per_envelope": sum(p["numInputRows"] for p in prog) / envelopes,
        })
        per_batch = {}
        for f, b in streamlog.file_batches(ckpt).items():
            per_batch[b] = per_batch.get(b, 0) + 1
        files = sum(len(_files_under(s)) for s in sinks) + len(_files_under(dead_letter))
        rows = checks.sink_table(sinks[0], ["id"]).num_rows
        nbytes = sum(os.path.getsize(f) for f in _files_under(sinks[0]))
        self.layer.update({
            "stream.envelopes_per_batch_p50": stats.median(list(per_batch.values())) * envelopes / max(sum(per_batch.values()), 1),
            "sink.files": files,
            "sink.files_per_batch": files / max(batches, 1),
            "sink.bytes_per_row": nbytes / max(rows, 1),
            "sink.deadletter_rows": checks.sink_table(dead_letter, ["_corrupt_record"]).num_rows,
            "etl.rows_out_per_envelope": rows / envelopes,
        })

    def standalone_etl(self, in_dir: str, envelopes: int) -> None:
        """parse_envelopes -> curate_profiles into the noop sink (traced runs)."""
        with self.tracer.span("etl.parse_curate"):
            t = time.perf_counter()
            raw = self.spark.read.text(in_dir)
            engine.curate_profiles(engine.parse_envelopes(raw)).write.format("noop").mode("overwrite").save()
            self.layer["etl.parse_curate_s_per_100k"] = (time.perf_counter() - t) * 1e5 / envelopes

    def read_overhead(self, read_op) -> None:
        """Traced runs: the same read op alternately with tracing off and
        on; the relative difference of the medians is the overhead."""
        real = self.tracer
        off, on = [], []
        for _ in range(OVERHEAD_PAIRS):
            self.tracer = NullTracer()
            off.append(read_op())
            self.tracer = real
            on.append(read_op())
        self.layer["trace.overhead_share"] = stats.median(on) / stats.median(off) - 1.0


# ----------------------------------------------------------------- live_ingest

def live_ingest(run: Run) -> None:
    args = run.args
    per_file = int(LIVE_RATE * LIVE_PERIOD)
    n_files = max(int(round(args.seconds / LIVE_PERIOD)), 1)
    run.info["traffic"] = gen.envelope_traffic(LIVE_RATE, n_files, per_file) | {
        "loop": "open", "file_every_s": LIVE_PERIOD, "dashboard_every_s": LIVE_DASH_EVERY,
    }
    # inputs are generated before the clock starts; the writer only copies
    texts, tally = [], gen.EnvelopeTally()
    for f in range(n_files):
        text, t = gen.envelope_file(args.seed, f, per_file)
        texts.append(text)
        tally.add(t)
    run.setup(run.warm_ingest)

    in_dir = os.path.join(run.work, "live", "in")
    stage = os.path.join(run.work, "live", "stage")
    os.makedirs(in_dir)
    os.makedirs(stage)
    with run.tracer.span("streaming.run_pipeline") as pipe_span:
        q, sinks, dl, ckpt = run.pipeline(in_dir, "live", available_now=False)
        t0 = time.time() + 0.5
        due = {f"part-{f:05d}.jsonl": t0 + f * LIVE_PERIOD for f in range(n_files)}
        written: dict[str, float] = {}

        def writer() -> None:
            for f, text in enumerate(texts):
                name = f"part-{f:05d}.jsonl"
                delay = due[name] - time.time()
                if delay > 0:
                    time.sleep(delay)
                with open(os.path.join(stage, name), "w") as fh:
                    fh.write(text)
                os.replace(os.path.join(stage, name), os.path.join(in_dir, name))
                written[name] = time.time()

        refreshes: list[float] = []
        dash_errors: list[str] = []

        def dashboard() -> None:
            # one client: a poll falls due every LIVE_DASH_EVERY seconds,
            # but never before the previous poll has returned
            j, d, seen = 1, t0 + LIVE_DASH_EVERY, [0]
            while d < t0 + args.seconds:
                if d > time.time():
                    time.sleep(d - time.time())
                run.attempted += 1
                try:
                    _, rows = run.timed_refresh(sinks[1], f"live-{j}")
                    refreshes.append(time.time() - d)
                    dash_errors.extend(checks.check_views_consistent(rows))
                    if not seen[-1] <= rows["total"] <= tally.curated:
                        dash_errors.append(f"refresh {j} saw {rows['total']} rows after {seen[-1]}")
                    seen.append(rows["total"])
                except Exception as e:  # keep polling; the failure is counted
                    dash_errors.append(f"refresh {j}: {type(e).__name__}: {e}")
                j += 1
                d = max(d + LIVE_DASH_EVERY, time.time())

        threads = [threading.Thread(target=writer), threading.Thread(target=dashboard)]
        for th in threads:
            th.start()
        threads[0].join()
        deadline = time.time() + LIVE_COMMIT_GRACE
        committed = {}
        while time.time() < deadline:
            committed = streamlog.file_commit_times(ckpt)
            if len(committed) >= n_files:
                break
            time.sleep(0.1)
        threads[1].join()
        q.stop()
    run.failures += dash_errors
    missing = [f for f in due if f not in committed]
    run.attempted += n_files
    run.failures += [f"{f} not committed {LIVE_COMMIT_GRACE:.0f}s after the last write" for f in missing]
    lat = [committed[f] - due[f] for f in due if f in committed]
    last = max(committed.values()) if committed else time.time()
    run.e2e["write_p50_s"] = stats.median(lat)
    run.e2e["throughput_per_s"] = tally.envelopes * len(lat) / n_files / (last - t0)
    run.e2e["read_p50_s"] = stats.median(refreshes)
    pct, tail = stats.tail(lat)
    run.info["samples"] = {"write": len(lat), "write_tail_pct": pct, "read": len(refreshes)}
    run.final_checks(sinks, dl, tally, fresh_views=True)
    run.finish()

    if run.tracer.enabled:
        late = [written[f] - due[f] for f in written]
        series = streamlog.backlog_series(written, ckpt)
        run.layer.update({
            "ingest.latency_tail_s": tail or 0.0,
            "gen.late_max_s": max(late) if late else 0.0,
            "source.lag_files_max": max(n for _, n in series) if series else 0,
            "source.lag_growth_files_per_min": stats.slope_per_min([(t - t0, n) for t, n in series]),
        })
        run.stream_layers(q, ckpt, sinks, dl, tally.envelopes, pipe_span)
        run.dashboard_layers()
        run.standalone_etl(in_dir, tally.envelopes)
        run.read_overhead(lambda: run.timed_refresh(sinks[1], "ovh")[0])


# -------------------------------------------------------------- ingest_backlog

def ingest_backlog(run: Run, baseline: bool) -> None:
    args = run.args
    envelopes = BACKLOG_FILES * BACKLOG_PER_FILE
    run.info["traffic"] = gen.envelope_traffic(None, BACKLOG_FILES, BACKLOG_PER_FILE) | {
        "loop": "closed", "files_per_trigger": BACKLOG_FILES_PER_TRIGGER, "refreshes": BACKLOG_REFRESHES,
    }
    in_dir = os.path.join(run.work, "backlog", "in")
    names, tally = run.write_envelopes(in_dir, 0, BACKLOG_FILES, BACKLOG_PER_FILE)
    base = time.time() - 3600
    for i, n in enumerate(names):  # pin the source's file order
        os.utime(n, (base + i, base + i))
    run.setup(run.warm_ingest)

    with run.tracer.span("streaming.run_pipeline") as pipe_span:
        t0 = time.time()
        q, sinks, dl, ckpt = run.pipeline(in_dir, "backlog", BACKLOG_FILES_PER_TRIGGER)
        q.awaitTermination()
    committed = streamlog.file_commit_times(ckpt)
    run.attempted += len(names)
    run.failures += [f"{os.path.basename(n)} not committed" for n in names if os.path.basename(n) not in committed]
    lat = [t - t0 for t in committed.values()]
    drain_s = max(committed.values()) - t0 if committed else float("inf")
    run.e2e["write_p50_s"] = stats.median(lat)
    run.e2e["throughput_per_s"] = envelopes * len(committed) / len(names) / drain_s

    reads = []
    for i in range(BACKLOG_REFRESHES):
        run.attempted += 1
        dt, rows = run.timed_refresh(sinks[1], f"backlog-{i}")
        reads.append(dt)
        run.failures += checks.check_views_consistent(rows)
    run.e2e["read_p50_s"] = stats.median(reads)
    run.info["samples"] = {"write": len(lat), "read": len(reads), "read_s": [round(x, 3) for x in reads]}
    run.final_checks(sinks, dl, tally, fresh_views=False)
    run.finish()

    if run.tracer.enabled:
        run.stream_layers(q, ckpt, sinks, dl, envelopes, pipe_span)
        run.dashboard_layers()
        run.standalone_etl(in_dir, envelopes)
        run.read_overhead(lambda: run.timed_refresh(sinks[1], "ovh")[0])
    if baseline:
        single_core_baseline(run, names[:BASELINE_FILES], envelopes * len(committed) / len(names) / drain_s)


def single_core_baseline(run: Run, names: list[str], drain_env_per_s: float) -> None:
    """The same drain on local[1], over the first few files."""
    in_dir = os.path.join(run.work, "baseline", "in")
    os.makedirs(in_dir)
    for n in names:
        shutil.copy2(n, in_dir)
    run.spark.stop()
    run.spark, _ = engine.start_session(1, run.work)
    run.counter = engine.JobCounter(run.spark)
    with run.tracer.span("streaming.run_pipeline.local1"):
        t0 = time.time()
        q, *_ , ckpt = run.pipeline(in_dir, "baseline", BACKLOG_FILES_PER_TRIGGER)
        q.awaitTermination()
    committed = streamlog.file_commit_times(ckpt)
    run.attempted += 1
    if len(committed) != len(names):
        run.failures.append("single-core drain left files uncommitted")
    rate = len(names) * BACKLOG_PER_FILE / (max(committed.values()) - t0)
    run.layer["stream.drain_env_per_s_1core"] = rate
    run.layer["stream.speedup_vs_1core"] = drain_env_per_s / rate


# -------------------------------------------------------------------- curation

@dataclass
class CurationInputs:
    corpus: gen.Corpus
    docs_path: str
    vecs: np.ndarray
    vec_ids: np.ndarray
    emb_path: str
    queries: list  # ANN query batches, as row numbers into vecs


def write_curation_inputs(run: Run, id_base: int, n_docs: int, n_vecs: int) -> CurationInputs:
    """The corpus and embeddings as parquet files, ids from ``id_base``."""
    d = os.path.join(run.work, "curation")
    os.makedirs(d)
    corpus = gen.corpus(run.args.seed, n_docs, id_base)
    doc_id, text, lang, source, n_chars = zip(*corpus.rows)
    docs_path = os.path.join(d, "documents.parquet")
    pq.write_table(
        pa.table({
            "doc_id": pa.array(doc_id, pa.int64()), "text": pa.array(text, pa.string()),
            "lang": pa.array(lang, pa.string()), "source": pa.array(source, pa.string()),
            "n_chars": pa.array(n_chars, pa.int64()),
        }),
        docs_path,
    )
    vecs = gen.embeddings(run.args.seed, n_vecs)
    vec_ids = np.arange(id_base, id_base + n_vecs, dtype=np.int64)
    emb_path = os.path.join(d, "embeddings.parquet")
    pq.write_table(
        pa.table({"vec_id": pa.array(vec_ids), "embedding": pa.array(list(vecs), pa.list_(pa.float32()))}),
        emb_path,
    )
    rng = random.Random(run.args.seed)
    queries = [rng.sample(range(n_vecs), ANN_BATCH) for _ in range(ANN_WARM_BATCHES + ANN_BATCHES)]
    return CurationInputs(corpus, docs_path, vecs, vec_ids, emb_path, queries)


def _components(pairs) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def curation_job(run: Run, inputs: CurationInputs) -> dict:
    """near_dedup_minhash -> near_dup_clusters, build_ivfpq_index, then
    ANN query batches; timings plus the checks of every output."""
    corpus, vecs, vec_ids, queries = inputs.corpus, inputs.vecs, inputs.vec_ids, inputs.queries
    spark, tr = run.spark, run.tracer
    out: dict = {}
    docs = spark.read.parquet(inputs.docs_path)
    with tr.span("dedup.near_dedup_minhash"):
        t = time.perf_counter()
        pairs_df = engine.near_dedup_minhash(docs)
        t_sig = time.perf_counter()
        pairs = [(r["doc_a"], r["doc_b"]) for r in pairs_df.select("doc_a", "doc_b").collect()]
        t_ver = time.perf_counter()
    with tr.span("dedup.near_dup_clusters"):
        labels = {r["doc_id"]: r["cluster_id"] for r in engine.near_dup_clusters(docs, pairs=pairs_df).collect()}
        t_clu = time.perf_counter()
    out.update(sig=t_sig - t, verify=t_ver - t_sig, cluster=t_clu - t_ver, dedup=t_clu - t)

    vectors = spark.read.parquet(inputs.emb_path)
    with tr.span("similarity.build_ivfpq_index"):
        t = time.perf_counter()
        index = engine.build_ivfpq_index(vectors)
        for k in list(index):
            index[k] = index[k].persist()
            index[k].count()
        out["build"] = time.perf_counter() - t

    def serve(qrows):
        qids = [int(vec_ids[r]) for r in qrows]
        with tr.span("similarity.ann_ivfpq_serve_batch"):
            t = time.perf_counter()
            rows = engine.ann_ivfpq_serve_batch(index, vectors, qids).collect()
            return time.perf_counter() - t, rows

    fails: list[str] = []
    out["batches"], hits = [], 0
    row_of = {int(v): i for i, v in enumerate(vec_ids)}
    for i, qrows in enumerate(queries):
        dt, rows = serve(qrows)
        if i >= ANN_WARM_BATCHES:
            out["batches"].append(dt)
        exact = gen.exact_topk(vecs, np.array(qrows), ANN_K)
        got: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_vec_id"], r["rank"])):
            got.setdefault(r["query_vec_id"], []).append(r)
        for qr, ex in zip(qrows, exact):
            qid = int(vec_ids[qr])
            res = got.get(qid, [])
            ids = [r["vec_id"] for r in res]
            # the re-ranked distances must be the true ones, in order
            true = [float(np.linalg.norm(vecs[row_of[v]].astype(np.float64) - vecs[qr])) for v in ids]
            dist = [r["exact_dist"] for r in res]
            if (len(ids) != ANN_K or qid in ids or dist != sorted(dist)
                    or any(abs(a - b) > 1e-5 for a, b in zip(dist, true))):
                fails.append(f"ANN query {qid}: wrong result list")
            hits += len(set(ids) & {int(vec_ids[e]) for e in ex})
    out["ann_recall"] = hits / (ANN_K * ANN_BATCH * len(queries))

    planted = {(min(a, b), max(a, b)) for a, b, _ in corpus.planted}
    found = set(pairs)
    out["dedup_recall"] = len(planted & found) / len(planted)
    stray = [p for p in found if corpus.group.get(p[0], -1) != corpus.group.get(p[1], -2)]
    if stray:
        fails.append(f"{len(stray)} near-dup pairs outside any planted group")
    if _components(pairs) != labels:
        fails.append("near_dup_clusters differs from the components of the confirmed pairs")
    if out["dedup_recall"] < MIN_DEDUP_RECALL:
        fails.append(f"dedup recall {out['dedup_recall']:.3f} < {MIN_DEDUP_RECALL}")
    out.update(pairs=len(pairs), clusters=len(set(labels.values())), fails=fails,
               index=index, vectors=vectors, docs=docs, serve=serve, queries=queries)
    return out


def curation(run: Run) -> None:
    """One curation job per process: the job is timed cold, as a batch
    job launched by a scheduler runs."""
    inputs = write_curation_inputs(run, 10**8, CURATION_DOCS, CURATION_VECS)
    run.info["traffic"] = inputs.corpus.traffic() | {
        "vectors": CURATION_VECS, "clusters": gen.EMB_CLUSTERS, "dim": gen.EMB_DIM,
        "ann_batch": ANN_BATCH, "ann_batches": ANN_BATCHES, "ann_warm_batches": ANN_WARM_BATCHES,
        "loop": "closed",
    }
    # warm-up: a scan of each input
    run.setup(lambda: None)  # the job is timed cold: no warm-up

    with run.tracer.span("curation.job"):
        res = curation_job(run, inputs)
    run.attempted += 3 + len(res["queries"])
    run.failures += res["fails"]
    run.e2e["write_p50_s"] = res["dedup"] + res["build"]
    run.e2e["throughput_per_s"] = len(inputs.corpus.rows) / res["dedup"]
    run.e2e["read_p50_s"] = stats.median(res["batches"])
    run.info["samples"] = {"write": 1, "read": len(res["batches"]), "read_s": [round(x, 3) for x in res["batches"]]}
    run.finish()

    if run.tracer.enabled:
        # candidate pairs and the quantizer training, re-run outside the timed path
        docs, vectors = res["docs"], res["vectors"]
        with run.tracer.span("dedup.lsh_candidate_pairs"):
            cands = engine.lsh_candidate_pairs(docs, sh=engine.lang_aware_shingles(docs)).count()
        with run.tracer.span("similarity.ivfpq_train"):
            t = time.perf_counter()
            cents, cb = engine.ivfpq_train(vectors)
            centroids = np.array([r["c"] for r in cents.orderBy("cid").collect()])
            cb.count()
            train_s = time.perf_counter() - t
        cell_rows = dict(res["index"]["codes"].groupBy("cell").count().collect())
        vecs = inputs.vecs
        scanned = 0
        for qrows in res["queries"]:
            for v in vecs[qrows]:
                near = np.argsort(((centroids - v) ** 2).sum(axis=1), kind="stable")[: engine.IVFPQ_NPROBE]
                scanned += sum(cell_rows.get(int(c), 0) for c in near)
        run.layer.update({
            "dedup.signature_s": res["sig"],
            "dedup.verify_s": res["verify"],
            "dedup.cluster_s": res["cluster"],
            "dedup.candidate_pairs": cands,
            "dedup.confirmed_pairs": res["pairs"],
            "dedup.confirm_ratio": res["pairs"] / cands if cands else 0.0,
            "dedup.clusters": res["clusters"],
            "curation.dedup_recall": res["dedup_recall"],
            "ann.train_s": train_s,
            "ann.encode_s": max(res["build"] - train_s, 0.0),
            "ann.codes_scanned_per_query": scanned / (ANN_BATCH * len(res["queries"])),
            "ann.serve_batch_s": stats.median(res["batches"]),
            "curation.ann_recall_at_10": res["ann_recall"],
        })
        run.read_overhead(lambda: res["serve"](res["queries"][0])[0])
    for df in res["index"].values():
        df.unpersist()
