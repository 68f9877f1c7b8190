"""Benchmark of the vector database's served paths: k-NN search over a
stored pivot index, and live writes with the reads beside them.

Run from the repository root:

    python3 vdbbench/run.py --workload search --seed 1 --seconds 25 --trace 0

Workloads (closed loop, one client thread, ``local[nproc]``):

* ``search`` -- a 10k x 384 topic-mixture corpus behind the stored pivot
  index; query rounds run ``exact_knn``, ``ann_index_range_stored`` and
  ``ann_index_similarity_stored`` on one query vector in shuffled order.
* ``live`` -- the same corpus in a bucketed ``ParquetTable`` with
  idx0..idx4 and a ``ReactiveQuery`` over ``idx0``; each step drains 40
  new and 10 edited item docs through the embedding ``Pipeline`` (one
  upsert), soft deletes 10 docs, folds the bulk into the live query, then
  searches the table near a just-inserted vector with all three
  strategies and reads the live query.

Every answer is checked against a numpy model outside the timed
calls.  The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  A traced run
also writes its spans to ``.vdbbench_out/``.  The exit code is non-zero
when any answer is wrong or an operation fails.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import numpy as np  # noqa: E402

import common as C  # noqa: E402

LIVE_INSERTS, LIVE_UPDATES, LIVE_DELETES = 40, 10, 10
#: share of the corpus the live query's idx0 selector matches
LIVE_MATCH_FRAC = 1 / 3
LIVE_LIMIT = 10
SEARCH_ROUNDS = 400
#: round times keep falling for several rounds while the JVM compiles the
#: hot paths; two untimed rounds take the steepest part out of the window
#: and keep a run short enough for many runs
WARMUP_ROUNDS = 2

E2E_UNITS = {"setup_s": "s", "step_p50_s": "s", "step_tail_s": "s"}


def log(msg: str) -> None:
    print(f"[vdbbench] {msg}", file=sys.stderr, flush=True)


def configure_env(work: str) -> dict:
    """Size the session for this machine and keep every file the run
    writes inside ``work``.  Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    heap_mb = max(1024, min(4096, total_mb // 4))
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
            "SPARK_GRAFT_DRIVER_JAVA_OPTS": f"-Xlog:disable -Djava.io.tmpdir={tmp}",
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    tempfile.tempdir = None
    return {"cpus": cpus, "heap_mb": heap_mb}


class Run:
    """One benchmark run: the session, the tracer and the tallies."""

    def __init__(self, args, work: str, t_start: float):
        self.args = args
        self.work = work
        self.t_start = t_start
        self.setup_s = 0.0
        self.check_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.wrong: list[str] = []
        self.lat: dict[str, list[float]] = {s: [] for s in C.STRATEGIES}
        #: one client step: a query round on search, a write bulk and
        #: its reads on live
        self.steps: list[float] = []
        self.writes: list[float] = []
        self.recall: dict[str, list[float]] = {"range": [], "neigh": []}
        #: per-span extras the event log cannot give (plan ms, rows in)
        self.extra: dict[int, dict] = {}
        self.window_s = 0.0
        self.window_start_ms = 0.0
        self.bulks = 0
        self.fallbacks = 0
        self.eventlog_dir = os.path.join(work, "eventlog")

    # -- session ----------------------------------------------------------

    def start_session(self, sizing: dict) -> None:
        from javascript_vector_database_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.args.trace:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.eventlog_dir,
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.compress": "false",
                }
            )
        self.cpus = sizing["cpus"]
        t = time.perf_counter()
        self.spark = get_spark(
            app_name="vdbbench", cpus=sizing["cpus"], extra_conf=conf
        )
        self.session_start_s = time.perf_counter() - t
        sc = self.spark.sparkContext
        self.tracer = C.Tracer(
            False, lambda gid: sc.setLocalProperty("spark.jobGroup.id", gid)
        )

    def stop_session(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:  # the JVM did not exit on its own
                proc.kill()
                proc.wait(timeout=30)

    # -- bookkeeping ------------------------------------------------------

    def setup_done(self) -> None:
        """Set-up ends here: session, inputs, index or table, warm-up --
        less the time spent checking answers against the models."""
        self.setup_s = time.perf_counter() - self.t_start - self.check_s
        self.window_start_ms = time.time() * 1000.0
        self.cpu_at_window_start = cpu_ticks()

    @contextlib.contextmanager
    def checking(self):
        """Time spent building models and checking answers."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t

    def fail(self, what: str, err: str) -> None:
        self.wrong.append(f"{what}: {err}")
        log(f"WRONG {what}: {err}")

    def op(self, what: str, fn) -> None:
        """Run one client operation.  It fails when it raises or when any
        of its answers is wrong."""
        self.attempted += 1
        wrong = len(self.wrong)
        try:
            fn()
        except Exception:
            self.wrong.append(f"{what}: raised")
            log(f"FAILED {what}\n{traceback.format_exc()}")
        if len(self.wrong) > wrong:
            self.failed += 1

    def timed_collect(self, name: str, build, op: int | None = None):
        """Build and collect one query inside a span; returns (rows,
        seconds, span) with span None when tracing is off."""
        with self.tracer.span(name, op) as span:
            t = time.perf_counter()
            df = build()
            rows = df.collect()
            dt = time.perf_counter() - t
        if span is not None:
            self.extra.setdefault(span.id, {})["plan_ms"] = plan_ms(df)
        return rows, dt, span


def cpu_ticks() -> list[int]:
    """The machine's cumulative CPU tick counters (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def plan_ms(df) -> float:
    """Analysis + optimization + planning ms from the query's tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        o = phases.get(name)
        if o.isDefined():
            total += o.get().durationMs()
    return total


def run_queries(run: Run, fns: dict, order, q: list[float], ids: np.ndarray,
                x: np.ndarray, idx: np.ndarray, piv: np.ndarray, op: int,
                record: bool, what: str, id_col: str) -> float:
    """Answer query ``q`` with each strategy in ``order`` and check every
    answer against the numpy model of the rows ``ids`` (vectors ``x``,
    pivot distances ``idx``).  Returns the seconds of the timed calls."""
    from javascript_vector_database_spark.pivots import (
        DOCS_PER_INDEX_SIDE,
        INDEX_DISTANCE,
    )

    with run.checking():
        dist = C.distances(x, q)
        qd = C.distances(piv, q)
        cands = {
            "exact": (None, None),
            "range": C.band_masks(idx, qd, INDEX_DISTANCE),
            "neigh": C.neighbourhood_masks(idx, qd, DOCS_PER_INDEX_SIDE),
        }
        exact_ids = C.topk(ids, dist)
    total = 0.0
    for strat in order:
        rows, dt, span = run.timed_collect(f"knn.{strat}", lambda: fns[strat](q), op)
        total += dt
        got = [(r[id_col], r["distance"]) for r in rows]
        with run.checking():
            err = C.check_topk(got, ids, dist, *cands[strat])
        if err:
            run.fail(f"{what} {strat}", err)
        if not record:
            continue
        run.lat[strat].append(dt)
        if strat != "exact":
            run.recall[strat].append(C.recall([i for i, _ in got], exact_ids))
        if span is not None and strat == "range":
            must = int(cands["range"][0].sum())
            run.extra[span.id]["useful"] = len(got) / max(must, 1)
    return total


# -- search workload -----------------------------------------------------------


def write_corpus(path: str, ids, x: np.ndarray) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), x.shape[1])
    pq.write_table(
        pa.table({"id": pa.array(ids), "embedding": emb.cast(pa.list_(pa.float32()))}),
        path,
    )


def run_search(run: Run) -> None:
    from javascript_vector_database_spark.operators import knn
    from javascript_vector_database_spark.pivots import N_PIVOTS_USED, make_pivots

    spark, seed = run.spark, run.args.seed
    x = C.make_corpus(seed)
    ids = np.arange(len(x), dtype=np.int64)
    src = os.path.join(run.work, "corpus.parquet")
    write_corpus(src, ids, x)
    corpus = spark.read.parquet(src).withColumnRenamed("id", "vec_id")
    pivots = make_pivots(C.DIM)[:N_PIVOTS_USED]
    piv = np.asarray(pivots)
    idx = np.stack([C.distances(x, p) for p in pivots], axis=1)
    base_dir = os.path.join(run.work, "pivot_index")
    run.tracer.enabled = bool(run.args.trace)
    with run.tracer.span("knn.index_build"):
        knn.write_pivot_index_tables(corpus, pivots, base_dir)
    run.tracer.enabled = False
    tables = knn.open_pivot_index_tables(spark, base_dir, len(pivots))

    def check_index() -> None:
        with run.checking():
            for name, table in tables.items():
                n = table.count()
                if n != len(x):
                    run.fail("index build", f"{name} holds {n} rows, expected {len(x)}")

    run.op("index check", check_index)
    fns = {
        "exact": lambda q: knn.exact_knn(tables["base"], q),
        "range": lambda q: knn.ann_index_range_stored(
            spark, base_dir, q, pivots, tables=tables
        ),
        "neigh": lambda q: knn.ann_index_similarity_stored(
            spark, base_dir, q, pivots, tables=tables
        ),
    }
    rounds = C.make_search_rounds(seed, x, WARMUP_ROUNDS + SEARCH_ROUNDS)

    def do_round(q, order, record: bool) -> None:
        op = run.tracer.new_op()
        step = run_queries(
            run, fns, order, q, ids, x, idx, piv, op, record, "search", "vec_id"
        )
        if record:
            run.steps.append(step)

    for q, order in rounds[:WARMUP_ROUNDS]:
        run.op("search warm-up", lambda: do_round(q, order, record=False))
    run.setup_done()
    run.tracer.enabled = bool(run.args.trace)
    deadline = time.perf_counter() + run.args.seconds
    t0 = time.perf_counter()
    for q, order in rounds[WARMUP_ROUNDS:]:
        if time.perf_counter() >= deadline:
            break
        run.op("search round", lambda: do_round(q, order, record=True))
    run.window_s = time.perf_counter() - t0
    run.tracer.enabled = False


# -- live workload ---------------------------------------------------------------


class LiveModel:
    """numpy model of the live table: one row per id ever
    written, with its vector, pivot distances, ``_lwt`` and tombstone."""

    def __init__(self, ids: list[str], x: np.ndarray, piv: np.ndarray, lwt: float):
        self.ids = list(ids)
        self.pos = {i: n for n, i in enumerate(self.ids)}
        self.x = x
        self.piv = piv
        self.idx = self._pivot_dists(x)
        self.lwt = np.full(len(ids), lwt)
        self.deleted = np.zeros(len(ids), dtype=bool)

    def _pivot_dists(self, x: np.ndarray) -> np.ndarray:
        return np.stack([C.distances(x, p) for p in self.piv], axis=1)

    def upsert(self, ids: list[str], x: np.ndarray, lwt: list[float]) -> None:
        new = [i for i in ids if i not in self.pos]
        if new:
            n0 = len(self.ids)
            self.ids.extend(new)
            self.pos.update({i: n0 + k for k, i in enumerate(new)})
            self.x = np.vstack([self.x, np.zeros((len(new), C.DIM), np.float32)])
            self.idx = np.vstack([self.idx, np.zeros((len(new), len(self.piv)))])
            self.lwt = np.concatenate([self.lwt, np.zeros(len(new))])
            self.deleted = np.concatenate([self.deleted, np.zeros(len(new), bool)])
        rows = [self.pos[i] for i in ids]
        self.x[rows] = x
        self.idx[rows] = self._pivot_dists(x)
        self.lwt[rows] = lwt
        self.deleted[rows] = False

    def remove(self, ids: list[str], lwt: float) -> None:
        rows = [self.pos[i] for i in ids]
        self.deleted[rows] = True
        self.lwt[rows] = lwt

    def check_idx(self, stored) -> str | None:
        """The stored idx0..idx4 of freshly written rows match the model."""
        for r in stored:
            want = self.idx[self.pos[r["id"]]]
            got = np.array([r[f"idx{k}"] for k in range(len(self.piv))])
            if np.abs(got - want).max() > 1e-9:
                return f"{r['id']}: idx {got} != {want}"
        return None

    def live(self) -> np.ndarray:
        return np.flatnonzero(~self.deleted)

    def live_ids(self) -> np.ndarray:
        return np.asarray(self.ids, dtype=object)[self.live()]


def run_live(run: Run) -> None:
    from pyspark.sql import functions as F

    from javascript_vector_database_spark.functions.embedding import embed_udf
    from javascript_vector_database_spark.operators import knn
    from javascript_vector_database_spark.operators.dml import ParquetTable
    from javascript_vector_database_spark.pivots import N_PIVOTS_USED, make_pivots
    from javascript_vector_database_spark.streaming.pipeline import Pipeline
    from javascript_vector_database_spark.streaming.reactive import ReactiveQuery

    spark, seed, work, tracer = run.spark, run.args.seed, run.work, run.tracer
    pivots = make_pivots(C.DIM)[:N_PIVOTS_USED]
    x = C.make_corpus(seed)
    cids = [f"c{i:05d}" for i in range(len(x))]
    src = os.path.join(work, "corpus.parquet")
    write_corpus(src, cids, x)
    vectors = ParquetTable(spark, os.path.join(work, "vectors"), "id")
    lwt0 = 1.0
    # the live table's pivot index is its idx0..idx4 columns, built as the
    # corpus is loaded
    tracer.enabled = bool(run.args.trace)
    with tracer.span("knn.index_build"):
        vectors.bulk_upsert(
            knn.build_pivot_index(spark.read.parquet(src), pivots), lwt=lwt0
        )
    tracer.enabled = False
    model = LiveModel(cids, x, np.asarray(pivots), lwt0)
    thr = C.threshold_in_gap(model.idx[:, 0], LIVE_MATCH_FRAC)
    rq = ReactiveQuery(
        spark,
        {"idx0": {"$lt": thr}},
        os.path.join(work, "live_query"),
        id_col="id",
        sort=[("_lwt", "desc")],
        limit=LIVE_LIMIT,
    )
    log(f"live table loaded at {time.perf_counter() - run.t_start:.1f} s")
    rq.apply_changes(vectors.df())
    log(f"live query folded at {time.perf_counter() - run.t_start:.1f} s")

    # the items collection the ingest pipeline drains into ``vectors``;
    # an edited item is re-embedded, so the handler upserts every doc
    items_dir = os.path.join(work, "items")
    os.makedirs(items_dir)
    embed = embed_udf(C.DIM, use_real_model=False)

    def handler(batch):
        emb = batch.select("id", embed(F.col("text")).alias("embedding"))
        return knn.build_pivot_index(emb, pivots)

    pipe = Pipeline(
        spark, "items_to_vectors", items_dir, vectors, handler,
        os.path.join(work, "checkpoint"), source_pk="id", batch_size=500,
    )

    # span around the pipeline's upsert into the live table
    upsert = vectors.bulk_upsert

    def traced_upsert(rows, lwt=None):
        with tracer.span("dml.upsert") as s:
            upsert(rows, lwt)
        if s is not None:
            run.extra[s.id] = {"rows_in": LIVE_INSERTS + LIVE_UPDATES}

    vectors.bulk_upsert = traced_upsert
    fns = {
        "exact": lambda q: knn.exact_knn(vectors.docs(), q, id_col="id"),
        "range": lambda q: knn.ann_index_range(
            vectors.docs(), q, pivots, id_col="id", precomputed=True
        ),
        "neigh": lambda q: knn.ann_index_similarity(
            vectors.docs(), q, pivots, id_col="id", precomputed=True
        ),
    }

    def step(n: int, record: bool) -> None:
        rng = C.rng_for(seed, f"live-{n}")
        live_ids = sorted(model.live_ids())
        pick = rng.choice(len(live_ids), LIVE_UPDATES + LIVE_DELETES, replace=False)
        edited = C.make_items(seed, n, LIVE_UPDATES, prefix="e")
        items = C.make_items(seed, n, LIVE_INSERTS) + [
            (live_ids[i], text) for i, (_, text) in zip(pick, edited)
        ]
        del_ids = [live_ids[i] for i in pick[LIVE_UPDATES:]]
        op = tracer.new_op()

        # -- the write: ingest + re-embed, delete, fold into the live query
        t0 = time.perf_counter()
        t0_ms = time.time() * 1000.0
        write_items(items_dir, n, items, t0_ms)
        with tracer.span("pipeline.run_once", op) as s:
            drained = pipe.run_once()
        if s is not None:
            run.extra[s.id] = {"docs": drained}
        del_lwt = time.time() * 1000.0
        with tracer.span("dml.remove", op):
            vectors.bulk_remove(del_ids, lwt=del_lwt)
        with tracer.span("reactive.apply", op):
            rq.apply_changes(vectors.df().where(F.col("_lwt") >= F.lit(t0_ms)))
        write_s = time.perf_counter() - t0

        # -- the model of the same bulk; the pipeline stamps _lwt itself
        with run.checking():
            if drained != len(items):
                run.fail("live ingest", f"pipeline drained {drained}, expected {len(items)}")
            up_ids = [i for i, _ in items]
            stored = (
                vectors.df()
                .where(F.col("id").isin(up_ids))
                .select("id", "_lwt", *[f"idx{k}" for k in range(len(pivots))])
                .collect()
            )
            stamped = {r["id"]: r["_lwt"] for r in stored}
            up_x = np.stack([C.fake_embedding(t) for _, t in items])
            model.upsert(up_ids, up_x, [stamped.get(i, np.nan) for i in up_ids])
            model.remove(del_ids, del_lwt)
            err = model.check_idx(stored)
            if err:
                run.fail("live ingest", err)
            # the reads go near a just-inserted vector
            q = C.perturb(rng, up_x[0])
            live = model.live()
        reads = run_queries(
            run, fns, C.STRATEGIES, q, model.live_ids(), model.x[live],
            model.idx[live], model.piv, op, record, "live", "id",
        )
        rows, dt, _ = run.timed_collect("live.read", lambda: rq.results(), op)
        reads += dt
        if record:
            run.writes.append(write_s)
            run.steps.append(write_s + reads)
        with run.checking():
            check_live_state(run, model, vectors, rq, thr, rows)

    run.op("live warm-up", lambda: step(0, record=False))
    log(f"warm-up step done at {time.perf_counter() - run.t_start:.1f} s")
    run.setup_done()
    fallbacks0 = rq.fallbacks
    tracer.enabled = bool(run.args.trace)
    deadline = time.perf_counter() + run.args.seconds
    t0 = time.perf_counter()
    n = 1
    while time.perf_counter() < deadline:
        run.op("live step", lambda: step(n, record=True))
        n += 1
    run.window_s = time.perf_counter() - t0
    tracer.enabled = False
    run.bulks = n - 1
    run.fallbacks = rq.fallbacks - fallbacks0


def write_items(items_dir: str, n: int, items: list[tuple[str, str]], lwt: float) -> None:
    """Append one file of new item docs to the items collection."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "id": [i for i, _ in items],
                "text": [t for _, t in items],
                "_lwt": [lwt] * len(items),
            }
        ),
        os.path.join(items_dir, f"part-{n:05d}.parquet"),
    )


def check_live_state(run: Run, model: LiveModel, vectors, rq, thr: float, emitted) -> None:
    """docs(), the live count and the emitted top rows against the model."""
    want = set(model.live_ids())
    got = {r["id"] for r in vectors.docs().select("id").collect()}
    if got != want:
        run.fail("live docs", f"{len(got - want)} unexpected, {len(want - got)} missing")
    live = model.live()
    match = live[model.idx[live, 0] < thr]
    if rq.count() != len(match):
        run.fail("live count", f"{rq.count()} != {len(match)}")
    ids = np.asarray(model.ids, dtype=object)[match]
    order = sorted(zip(-model.lwt[match], ids))[:LIVE_LIMIT]
    want_top = [i for _, i in order]
    got_top = [
        r["id"] for r in sorted(emitted, key=lambda r: (-r["_lwt"], r["id"]))
    ]
    if got_top != want_top:
        run.fail("live results", f"{got_top[:3]}... != {want_top[:3]}...")
    if any(r["_deleted"] for r in emitted):
        run.fail("live results", "a deleted doc was emitted")


# -- metrics ---------------------------------------------------------------------


def e2e_metrics(run: Run) -> dict:
    vals = {
        "setup_s": run.setup_s,
        "step_p50_s": C.p50(run.steps),
        "step_tail_s": C.tail(run.steps),
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}


def log_detail(run: Run) -> None:
    """Per-strategy latency and recall, and the live write latency, on
    stderr (their per-run sample counts are too small to bound)."""
    log(f"{len(run.steps)} steps measured (s): " + " ".join(f"{x:.3f}" for x in run.steps))
    for strat, xs in run.lat.items():
        if xs:
            log(f"{strat}_p50_s = {C.p50(xs):.4f} s over {len(xs)} queries")
    for strat, rs in run.recall.items():
        if rs:
            log(f"{strat}_recall_at_10 = {float(np.mean(rs)):.3f} over {len(rs)} queries")
    if run.writes:
        log(f"live_write_p50_s = {C.p50(run.writes):.4f} s over {len(run.writes)} bulks")
    # on a shared virtual machine, time the hypervisor gives to other guests
    # slows every step; runs with a few per cent steal read 20-30% slower
    d = [b - a for a, b in zip(run.cpu_at_window_start, cpu_ticks())]
    log(f"cpu steal during the measured window: {d[7] / max(sum(d), 1):.1%}")


def layer_metrics(run: Run) -> dict:
    """Fold the event log into the per-layer metrics."""
    spark = run.spark
    sc_app = spark.sparkContext.applicationId
    run.stop_session()
    run.spark = None
    path = glob.glob(os.path.join(run.eventlog_dir, f"{sc_app}*"))[0]
    jobs = C.fold_jobs(C.read_event_log(path))
    spans = [s.as_dict() for s in run.tracer.spans]
    owner, by_time = C.attribute_jobs(jobs, spans)

    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    own_jobs: dict[int, list[int]] = {}
    for jid, sid in owner.items():
        own_jobs.setdefault(sid, []).append(jid)

    def all_jobs(sid: int) -> list[int]:
        out = list(own_jobs.get(sid, []))
        for c in children.get(sid, []):
            out += all_jobs(c)
        return out

    def total(sid: int, key: str, own: bool = False) -> float:
        js = own_jobs.get(sid, []) if own else all_jobs(sid)
        return float(sum(jobs[j][key] for j in js))

    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def dur_s(s: dict) -> float:
        return (s["end"] - s["start"]) / 1000.0

    def mean(xs) -> float:
        xs = list(xs)
        return float(np.mean(xs)) if xs else 0.0

    m: dict[str, tuple[float, str]] = {"session.start_s": (run.session_start_s, "s")}
    for strat in C.STRATEGIES:
        ss = by_name.get(f"knn.{strat}", [])
        pre = f"knn.{strat}."
        m[pre + "p50_s"] = (C.p50(run.lat[strat]) if run.lat[strat] else 0.0, "s")
        for key, unit in (
            ("jobs", "count"), ("stages", "count"), ("executor_ms", "ms"),
            ("rows_read", "rows"), ("input_bytes", "bytes"),
        ):
            m[pre + key + "_per_query"] = (mean(total(s["id"], key) for s in ss), unit)
        # a share, not ms: with one query a run, GC time is often exactly 0
        m[pre + "gc_share"] = (
            sum(total(s["id"], "gc_ms") for s in ss)
            / max(sum(total(s["id"], "executor_ms") for s in ss), 1e-9),
            "fraction",
        )
        m[pre + "driver_ms_per_query"] = (
            mean(
                C.uncovered_ms(
                    s["start"], s["end"],
                    [(jobs[j]["submit"], jobs[j]["end"] or s["end"]) for j in all_jobs(s["id"])],
                )
                for s in ss
            ),
            "ms",
        )
        m[pre + "plan_ms_per_query"] = (
            mean(run.extra.get(s["id"], {}).get("plan_ms", 0.0) for s in ss), "ms"
        )
    for strat, rs in run.recall.items():
        m[f"knn.{strat}.recall_at_10"] = (mean(rs), "fraction")
    m["knn.range.useful_ratio"] = (
        mean(
            run.extra[s["id"]]["useful"]
            for s in by_name.get("knn.range", [])
            if "useful" in run.extra.get(s["id"], {})
        ),
        "ratio",
    )
    ib = by_name.get("knn.index_build", [])
    m["knn.index_build.s"] = (sum(dur_s(s) for s in ib), "s")
    m["knn.index_build.jobs"] = (sum(total(s["id"], "jobs") for s in ib), "count")
    m["knn.index_build.executor_ms"] = (sum(total(s["id"], "executor_ms") for s in ib), "ms")
    m["knn.index_build.shuffle_bytes"] = (
        sum(total(s["id"], "shuffle_write_bytes") for s in ib), "bytes"
    )

    pipes = by_name.get("pipeline.run_once", [])
    docs = sum(run.extra.get(s["id"], {}).get("docs", 0) for s in pipes) or 1

    def child_dur(s: dict, name: str) -> float:
        return sum(
            dur_s(c) for c in spans if c["parent"] == s["id"] and c["name"] == name
        )

    # write-path wall times are reported as shares of the measured steps'
    # wall time: the write path runs on live only, and a time that reads 0
    # on every search run would look like a constant
    step_s = sum(run.steps) or 1.0

    def share(ss: list[dict]) -> float:
        return sum(dur_s(s) for s in ss) / step_s

    pipe_s = sum(dur_s(s) for s in pipes)
    m["pipeline.batch.source_share"] = (
        (pipe_s - sum(child_dur(s, "dml.upsert") for s in pipes)) / step_s, "fraction"
    )
    m["pipeline.jobs_per_batch"] = (mean(total(s["id"], "jobs") for s in pipes), "count")
    m["pipeline.core_busy_frac"] = (
        sum(total(s["id"], "executor_ms") for s in pipes)
        / max(pipe_s * 1000.0 * run.cpus, 1e-9),
        "fraction",
    )
    m["pipeline.source_rows_read_per_doc"] = (
        sum(total(s["id"], "rows_read", own=True) for s in pipes) / docs, "rows"
    )

    ups = by_name.get("dml.upsert", [])
    rems = by_name.get("dml.remove", [])
    rows_in = sum(run.extra.get(s["id"], {}).get("rows_in", 0) for s in ups) or 1
    # a row's user payload: the float32 vector, five pivot distances and
    # an id of about 12 bytes
    user_bytes = rows_in * (4 * C.DIM + 8 * 5 + 12)
    m["dml.upsert.rows_written_per_row_in"] = (
        sum(total(s["id"], "rows_written") for s in ups) / rows_in, "ratio"
    )
    m["dml.upsert.bytes_written_per_user_byte"] = (
        sum(total(s["id"], "bytes_written") for s in ups) / user_bytes, "ratio"
    )
    m["dml.upsert.share"] = (share(ups), "fraction")
    m["dml.remove.share"] = (share(rems), "fraction")
    m["dml.jobs_per_call"] = (mean(total(s["id"], "jobs") for s in ups + rems), "count")

    m["live.write.share"] = (sum(run.writes) / step_s, "fraction")
    applies = by_name.get("reactive.apply", [])
    m["reactive.apply.share"] = (share(applies), "fraction")
    m["reactive.jobs_per_bulk"] = (mean(total(s["id"], "jobs") for s in applies), "count")
    m["reactive.fallback_ratio"] = (
        run.fallbacks / max(run.bulks, 1), "ratio"
    )
    m["live.read.rows_read_per_query"] = (
        mean(total(s["id"], "rows_read") for s in by_name.get("live.read", [])), "rows"
    )

    # the program's jobs in the measured window: set-up, warm-up and the
    # benchmark's own checks run outside these spans
    measured = {s["id"] for s in spans if s["start"] >= run.window_start_ms}
    window_jobs = [jobs[j] for j, sid in owner.items() if sid in measured]
    m["spark.jobs_total"] = (float(len(window_jobs)), "count")
    m["spark.failed_tasks"] = (float(sum(j["failed_tasks"] for j in window_jobs)), "count")
    m["trace.jobs_attributed_by_time"] = (float(by_time), "count")
    layered = [
        s for s in spans
        if s["name"].split(".")[0] in ("knn", "pipeline", "dml", "reactive")
    ]
    m["trace.spans_without_jobs"] = (
        float(sum(1 for s in layered if not all_jobs(s["id"]))), "count"
    )
    m["trace.overhead_frac"] = (run.tracer.self_s / max(run.window_s, 1e-9), "fraction")
    # the end-to-end metrics as a traced run measures them: against an
    # untraced run of the same seed they give the full tracing overhead,
    # event log included
    for k, v in e2e_metrics(run).items():
        m["trace." + k] = (v["value"], v["unit"])

    out_dir = os.path.join(ROOT, ".vdbbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"spans-{run.args.workload}-{run.args.seed}.jsonl"
    with open(os.path.join(out_dir, name), "w") as f:
        for s in spans:
            rec = dict(s, jobs=sorted(own_jobs.get(s["id"], [])))
            rec.update(run.extra.get(s["id"], {}))
            f.write(json.dumps(rec) + "\n")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


# -- entry point -------------------------------------------------------------------


WORKLOADS = {"search": run_search, "live": run_live}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    work = os.path.join(
        ROOT, ".vdbbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    sizing = configure_env(work)
    run = Run(args, work, t_start)
    try:
        run.start_session(sizing)
        log(
            f"session local[{sizing['cpus']}], heap {sizing['heap_mb']} MB,"
            f" started in {run.session_start_s:.1f} s"
        )
        WORKLOADS[args.workload](run)
        log_detail(run)
        metrics = layer_metrics(run) if args.trace else e2e_metrics(run)
    finally:
        run.stop_session()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    for k, v in metrics.items():
        log(f"{k} = {v['value']:.6g} {v['unit']}")
    log(f"ops_failed_frac = {run.failed / max(run.attempted, 1):.4g} of {run.attempted} operations")
    correct = not run.wrong
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
