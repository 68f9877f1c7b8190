"""Pure helpers of the vector-database benchmark: seeded input generators,
numpy models of the expected answers, latency statistics, spans and the
fold of a Spark event log into per-span counters.

Nothing here imports Spark, so the helpers are testable on their own
(``python3 -m pytest vdbbench``).
"""

from __future__ import annotations

import hashlib
import json
import statistics
import time
from collections.abc import Iterable

import numpy as np

DIM = 384
CORPUS_ROWS = 10_000
TOPICS = 64
#: spread of a document around its topic centre (per coordinate)
TOPIC_NOISE = 0.03
#: spread of a query around the corpus vector it perturbs
QUERY_NOISE = 0.01
#: share of search rounds that re-issue an earlier round's query
REISSUE_FRAC = 0.25
TOP_K = 10
#: distances are compared after rounding to 6 places, so two engines
#: summing in another order may differ by one unit in the last place
DIST_TOL = 1.5e-6

STRATEGIES = ("exact", "range", "neigh")


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input stream)."""
    tag = int.from_bytes(hashlib.md5(stream.encode()).digest()[:4], "big")
    return np.random.default_rng([int(seed), tag])


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=-1, keepdims=True)


def topic_centres(seed: int) -> np.ndarray:
    return _unit(rng_for(seed, "centres").standard_normal((TOPICS, DIM)))


def mixture_vectors(seed: int, stream: str, n: int) -> np.ndarray:
    """``n`` float32 unit vectors drawn around the seed's topic centres.
    Uniform vectors in 384-d are near-equidistant, which makes every
    pivot ANN strategy degenerate; a topic mixture does not."""
    rng = rng_for(seed, stream)
    centres = topic_centres(seed)
    lab = rng.integers(0, TOPICS, n)
    x = centres[lab] + TOPIC_NOISE * rng.standard_normal((n, DIM))
    return _unit(x).astype(np.float32)


def make_corpus(seed: int) -> np.ndarray:
    """The 10k x 384 float32 corpus; row i has id i."""
    return mixture_vectors(seed, "corpus", CORPUS_ROWS)


def perturb(rng: np.random.Generator, v: np.ndarray) -> list[float]:
    """A unit query vector near ``v`` as Python floats (the k-NN API
    takes the query as a literal list)."""
    q = _unit(v.astype(np.float64) + QUERY_NOISE * rng.standard_normal(v.shape))
    return [float(x) for x in q]


def make_search_rounds(
    seed: int, corpus: np.ndarray, n_rounds: int
) -> list[tuple[list[float], tuple[str, ...]]]:
    """Query rounds: each round is one query vector and the three
    strategies in shuffled order.  A share of rounds re-issues an earlier
    round's vector, as an interactive session does."""
    rng = rng_for(seed, "queries")
    rounds: list[tuple[list[float], tuple[str, ...]]] = []
    for _ in range(n_rounds):
        if rounds and rng.random() < REISSUE_FRAC:
            q = rounds[int(rng.integers(0, len(rounds)))][0]
        else:
            q = perturb(rng, corpus[int(rng.integers(0, len(corpus)))])
        order = tuple(STRATEGIES[i] for i in rng.permutation(len(STRATEGIES)))
        rounds.append((q, order))
    return rounds


_WORDS = [
    "vector", "index", "pivot", "query", "search", "range", "neighbour",
    "embedding", "model", "document", "topic", "cluster", "distance",
    "spark", "parquet", "stream", "pipeline", "batch", "live", "merge",
    "bucket", "table", "schema", "revision", "delete", "insert", "update",
    "result", "cache", "recall", "latency", "scan", "shuffle", "stage",
]


def make_items(
    seed: int, step: int, n: int, prefix: str = "n"
) -> list[tuple[str, str]]:
    """``n`` seeded (id, text) item docs in the reference's
    "Title: ... Content: ..." shape, unique per (seed, step, prefix)."""
    rng = rng_for(seed, f"items-{prefix}-{step}")
    out = []
    for j in range(n):
        title = " ".join(rng.choice(_WORDS, 4))
        body = " ".join(rng.choice(_WORDS, 40))
        out.append((f"{prefix}{step:05d}-{j:03d}", f"Title: {title} Content: {body}"))
    return out


def fake_embedding(text: str, dim: int = DIM) -> np.ndarray:
    """Independent model of the package's deterministic stand-in
    embedding: md5(text)-seeded Gaussian, unit norm, stored as float32."""
    seed = int.from_bytes(hashlib.md5(text.encode()).digest()[:4], "big")
    v = np.random.RandomState(seed).standard_normal(dim)
    return (v / np.sqrt((v * v).sum())).astype(np.float32)


# -- numpy models of the answers ------------------------------------------


def distances(x: np.ndarray, q: Iterable[float]) -> np.ndarray:
    """Euclidean distance of every float32 row to a float64 query."""
    d = x.astype(np.float64) - np.asarray(list(q), dtype=np.float64)
    return np.sqrt((d * d).sum(axis=1))


def topk(ids: np.ndarray, dist: np.ndarray, k: int = TOP_K) -> list:
    """Top-k ids ordered by (distance rounded to 6 places, id)."""
    order = np.lexsort((ids, np.round(dist, 6)))
    return ids[order[:k]].tolist()


def check_topk(got: list[tuple], ids: np.ndarray, dist: np.ndarray,
               must: np.ndarray | None = None, may: np.ndarray | None = None,
               k: int = TOP_K) -> str | None:
    """None when ``got`` [(id, distance)] is the top-k by (distance, id)
    of the rows a strategy re-ranks.  ``must`` marks the rows it surely
    re-ranks and ``may`` the rows it possibly re-ranks (boolean masks over
    ``ids``; None is every row, the exact scan).  Every returned row must
    exist once, carry its exact distance and come sorted; ties within
    ``DIST_TOL`` at the k-th distance may resolve either way."""
    n = len(ids)
    must = np.ones(n, bool) if must is None else must
    may = np.ones(n, bool) if may is None else may
    pos = {i: r for r, i in enumerate(ids.tolist())}
    seen = set()
    prev = -1.0
    for i, d in got:
        if i not in pos:
            return f"id {i!r} is not a live document"
        if i in seen:
            return f"id {i!r} returned twice"
        seen.add(i)
        if abs(d - dist[pos[i]]) > DIST_TOL:
            return f"id {i!r}: distance {d} != {dist[pos[i]]:.6f}"
        if d < prev - DIST_TOL:
            return "rows are not sorted by distance"
        if not may[pos[i]]:
            return f"id {i!r} is not a candidate of this strategy"
        prev = d
    lo, hi = min(k, int(must.sum())), min(k, int(may.sum()))
    if not lo <= len(got) <= hi:
        return f"expected {lo}..{hi} rows, got {len(got)}"
    kth = max(d for _, d in got) - DIST_TOL if len(got) == k else np.inf
    want = set(ids[must & (np.round(dist, 6) < kth)].tolist())
    missing = want - seen
    if missing:
        return f"closer candidates missing from the top-k: {sorted(missing)[:5]}"
    return None


def recall(got_ids: Iterable, exact_ids: list) -> float:
    return len(set(got_ids) & set(exact_ids)) / max(len(exact_ids), 1)


#: a stored pivot distance and the model's may differ in the last bits
#: (another summation order), so rows this close to a cut go either way
EDGE_EPS = 1e-9


def band_masks(idx: np.ndarray, qd: np.ndarray,
               width: float) -> tuple[np.ndarray, np.ndarray]:
    """Rows the pivot-range strategy surely and possibly re-ranks: idx_i
    strictly inside (d_i - d_i*w, d_i + d_i*w) for any pivot i (``idx``
    is rows x pivots, ``qd`` the query's pivot distances)."""
    lo, hi = qd - qd * width, qd + qd * width
    must = ((idx > lo + EDGE_EPS) & (idx < hi - EDGE_EPS)).any(axis=1)
    may = ((idx > lo - EDGE_EPS) & (idx < hi + EDGE_EPS)).any(axis=1)
    return must, may


def neighbourhood_masks(idx: np.ndarray, qd: np.ndarray,
                        per_side: int) -> tuple[np.ndarray, np.ndarray]:
    """Rows the pivot-neighbourhood strategy surely and possibly
    re-ranks: per pivot i, the ``per_side`` rows with idx_i nearest below
    d_i and the ``per_side`` nearest above it."""
    must = np.zeros(len(idx), bool)
    may = np.zeros(len(idx), bool)
    for i in range(idx.shape[1]):
        for sign in (-1.0, 1.0):
            # how far a row lies beyond d_i on this side; nearer ranks first
            off = sign * (idx[:, i] - qd[i])
            sure, maybe = off > EDGE_EPS, off > -EDGE_EPS
            # rows that could rank ahead of a row, and rows that surely do
            could = np.searchsorted(np.sort(off[maybe]), off + EDGE_EPS) - maybe
            surely = np.searchsorted(np.sort(off[sure]), off - EDGE_EPS)
            must |= sure & (could < per_side)
            may |= maybe & (surely < per_side)
    return must, may


def threshold_in_gap(values: np.ndarray, frac: float) -> float:
    """A cut near the ``frac`` quantile that sits in a gap of at least
    1e-6 between consecutive values, so no row lies on the boundary."""
    s = np.sort(values)
    i = int(len(s) * frac)
    while i + 1 < len(s) and s[i + 1] - s[i] < 1e-6:
        i += 1
    return float((s[i] + s[i + 1]) / 2)


# -- statistics --------------------------------------------------------------


def p50(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> float:
    """Tail latency: the nearest-rank percentile at level
    max(90%, 1 - 10/n).  From 100 samples on that is the highest
    percentile with at least 10 samples beyond it; below 100 it is p90
    (the maximum under 10 samples).  The rank never falls as samples are
    added, so a faster program, which fits more samples into a run, is
    not read at a lower percentile."""
    s = sorted(values)
    n = len(s)
    return s[max(-(-9 * n // 10), n - 10) - 1]


# -- spans ---------------------------------------------------------------------


class Span:
    __slots__ = ("id", "name", "parent", "op", "start", "end")

    def __init__(self, id_: int, name: str, parent: int | None, op: int | None):
        self.id = id_
        self.name = name
        self.parent = parent
        self.op = op
        self.start = time.time() * 1000.0
        self.end: float | None = None

    def as_dict(self) -> dict:
        return {s: getattr(self, s) for s in self.__slots__}


class Tracer:
    """In-memory span recorder.  ``set_group`` receives the id of the span
    that becomes current (None at the root) on every entry and exit, so
    the caller can tag the Spark jobs submitted inside it.  Disabled, it
    records nothing."""

    def __init__(self, enabled: bool, set_group=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._set_group = set_group or (lambda _gid: None)
        self._op = 0
        #: seconds spent inside the tracer itself (its overhead)
        self.self_s = 0.0

    def new_op(self) -> int:
        self._op += 1
        return self._op

    def span(self, name: str, op: int | None = None):
        return _SpanCtx(self, name, op)

    def _enter(self, name: str, op: int | None) -> Span | None:
        if not self.enabled:
            return None
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans) + 1, name, parent.id if parent else None, op)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(str(s.id))
        self.self_s += time.perf_counter() - t
        return s

    def _exit(self, s: Span | None) -> None:
        if s is None:
            return
        t = time.perf_counter()
        s.end = time.time() * 1000.0
        self._stack.pop()
        self._set_group(str(self._stack[-1].id) if self._stack else None)
        self.self_s += time.perf_counter() - t


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op: int | None):
        self.tracer, self.name, self.op = tracer, name, op
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        self.span = self.tracer._enter(self.name, self.op)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer._exit(self.span)


# -- event-log fold ------------------------------------------------------------

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_ms", "gc_ms",
    "deser_ms", "rows_read", "input_bytes", "rows_written",
    "bytes_written", "shuffle_write_bytes", "shuffle_read_bytes",
)


def _zero() -> dict:
    return dict.fromkeys(COUNTERS, 0)


def fold_jobs(events: Iterable[dict]) -> dict[int, dict]:
    """Fold event-log events into one record per job: submission and
    completion ms, job group, and the summed task metrics of the stages
    that ran under it.  A stage listed by several jobs (a reused shuffle)
    runs under the first of them and counts there only."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, dict] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            jobs[jid] = {
                "submit": float(e["Submission Time"]),
                "end": None,
                "group": props.get("spark.jobGroup.id"),
                **_zero(),
            }
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = float(e["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            acc = stage_tasks.setdefault(e["Stage ID"], _zero())
            acc["tasks"] += 1
            reason = (e.get("Task End Reason") or {}).get("Reason")
            if reason != "Success":
                acc["failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            inp = m.get("Input Metrics") or {}
            out = m.get("Output Metrics") or {}
            acc["executor_ms"] += m.get("Executor Run Time", 0)
            acc["gc_ms"] += m.get("JVM GC Time", 0)
            acc["deser_ms"] += m.get("Executor Deserialize Time", 0)
            acc["rows_read"] += inp.get("Records Read", 0)
            acc["input_bytes"] += inp.get("Bytes Read", 0)
            acc["rows_written"] += out.get("Records Written", 0)
            acc["bytes_written"] += out.get("Bytes Written", 0)
            acc["shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics") or {}
            ).get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
    for sid, acc in stage_tasks.items():
        job = jobs.get(stage_job.get(sid))
        if job is None:
            continue
        job["stages"] += 1
        for k, v in acc.items():
            job[k] += v
    for job in jobs.values():
        job["jobs"] = 1
    return jobs


def attribute_jobs(jobs: dict[int, dict], spans: list[dict]) -> tuple[dict, int]:
    """Map each job to a span id.  A job whose group names a span belongs
    to it.  A job with no group -- one submitted from a thread pool inside
    the program, which does not inherit the caller's group -- belongs to
    the innermost span open at its submission time.  Returns
    ({job id: span id}, number of jobs attributed by time)."""
    ids = {str(s["id"]): s["id"] for s in spans}
    out: dict[int, int] = {}
    by_time = 0
    for jid, job in jobs.items():
        g = job["group"]
        if g is not None:
            if g in ids:
                out[jid] = ids[g]
            continue
        t = job["submit"]
        best = None
        for s in spans:
            if s["start"] <= t <= (s["end"] or float("inf")):
                if best is None or s["start"] >= best["start"]:
                    best = s
        if best is not None:
            out[jid] = best["id"]
            by_time += 1
    return out, by_time


def uncovered_ms(start: float, end: float, intervals: list[tuple]) -> float:
    """Length of [start, end] not covered by any interval (driver time:
    the part of a call during which no Spark job ran)."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(lo, start), min(hi, end)) for lo, hi in intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return max(end - start - covered, 0.0)


def read_event_log(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]
