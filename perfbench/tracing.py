"""Spans around calls into the engine's layers, and the Spark jobs and
process CPU that fall inside them.

Everything is recorded from the benchmark's side of the engine's public
functions; no engine file is changed:

- ``Tracer.instrument`` swaps a public function for a span-opening wrapper in
  every loaded module of the package that holds it, so both module-level
  and call-time imports see it. A DataFrame the wrapper returns is tagged
  with the span name, and an action on a tagged frame (``count``,
  ``collect``, ``toArrow``...) opens a ``<name>:<action>`` span: the jobs
  a lazy layer causes are billed to that layer, not to whoever forced it.
- Spark jobs come from the event log, which Spark writes with the UI
  off. Each job is attributed to the innermost span open when the job
  was submitted; its stages, tasks, executor time and shuffle bytes
  follow it.
- Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from harness import ENGINE_PACKAGE

#: the engine's layers, most specific first; a span belongs to the first
#: layer its name starts with
LAYERS = (
    "session", "sources.ercot", "sources.registry", "plans.daily_summary",
    "plans.rag_ingest", "operators.text", "operators.dedup",
    "operators.similarity", "functions.embedding", "sinks.upsert",
    "queries", "streaming", "bench",
)

#: (module, function, span name) — the public entry points the workloads
#: reach, timed per layer
ENTRY_POINTS = [
    ("sources.registry", "load_table", "sources.registry.load_table"),
    ("plans.daily_summary", "run_daily_summary_pipeline", "plans.daily_summary.run"),
    ("plans.daily_summary", "build_daily_summaries", "plans.daily_summary.build"),
    ("plans.rag_ingest", "ingest", "plans.rag_ingest.ingest"),
    ("plans.rag_ingest", "serve_topk", "plans.rag_ingest.serve_topk"),
    # quality_gate and near_dedup live in the plan module but are the
    # text-quality and near-dedup stages; they are billed to those layers
    ("plans.rag_ingest", "quality_gate", "operators.text.quality_gate"),
    ("plans.rag_ingest", "near_dedup", "operators.dedup.near_dedup"),
    ("operators.text", "quality_metrics", "operators.text.quality_metrics"),
    ("operators.dedup", "exact_dedup", "operators.dedup.exact_dedup"),
    ("operators.dedup", "minhash_signatures", "operators.dedup.minhash_signatures"),
    ("operators.dedup", "minhash_lsh_pairs", "operators.dedup.minhash_lsh_pairs"),
    ("operators.dedup", "ngram_jaccard_pairs", "operators.dedup.ngram_jaccard_pairs"),
    ("operators.similarity", "brute_force_topk", "operators.similarity.brute_force_topk"),
    ("operators.similarity", "embedding_near_dup_pairs_fast", "operators.similarity.embedding_near_dup_pairs_fast"),
    ("functions.embedding", "make_embed_udf", "functions.embedding.make_embed_udf"),
    ("sinks.upsert", "parquet_upsert", "sinks.upsert.parquet_upsert"),
    ("streaming.daily_stream", "drain_available_now", "streaming.drain_available_now"),
    ("streaming.daily_stream", "sliding_window_stream", "streaming.sliding_window_stream"),
]

#: the ``sources.ercot.ErcotQueries`` methods, each in a ``sources.ercot.query`` span
ERCOT_METHODS = ("load_summary", "dsr_loads", "gen_summary", "output_schedule", "as_offers",
                 "dam_prices")

DATAFRAME_ACTIONS = ("count", "collect", "toArrow", "toPandas", "first", "take", "head")


def layer_of(name: str) -> str:
    for layer in LAYERS:
        if name == layer or name.startswith(layer + ".") or name.startswith(layer + ":"):
            return layer
    return "other"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float  # epoch seconds, the clock the event log uses
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans on the driver thread. When ``enabled`` is false every
    method is a no-op, so untraced runs pay nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._restore: list[tuple[object, str, object]] = []
        self.hooks: dict = {}
        self.outputs: dict[str, list] = {}
        # epoch time derived from a monotonic clock, so span lengths
        # never jump with wall-clock adjustments
        self._epoch0 = time.time() - time.perf_counter()

    def now(self) -> float:
        return self._epoch0 + time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, self.run_id, self.now(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.now()
            self._stack.pop()

    # -- wrapping the engine's public functions ------------------------------

    def _spanned(self, fn, name: str):
        """``fn`` inside a span. ``self.hooks[name]`` may rewrite the call
        (before) and add attributes to the span (after); the outputs are
        kept in ``self.outputs[name]`` for counts taken after the run."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            hook = tracer.hooks.get(name)
            if hook is not None:
                args, kwargs = hook.before(args, kwargs)
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
            if hook is not None:
                s.attrs.update(hook.after(args, kwargs, out))
            if hasattr(out, "_jdf"):
                # the innermost layer that built the frame keeps the tag
                vars(out).setdefault("_perfbench_span", name)
                tracer.outputs.setdefault(name, []).append(out)
            return out

        return wrapper

    def _swap(self, owner, attr: str, new) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def instrument(self, spark) -> None:
        """Wrap every entry point in ``ENTRY_POINTS``, the ``ErcotQueries``
        methods and the DataFrame actions; ``uninstrument`` puts them back."""
        if not self.enabled:
            return
        import importlib

        import quantum_rag_data_pipeline_spark.queries  # noqa: F401 — load every call site
        from quantum_rag_data_pipeline_spark.sources.ercot import ErcotQueries

        for mod_name, *_ in ENTRY_POINTS:
            importlib.import_module(f"{ENGINE_PACKAGE}.{mod_name}")
        loaded = [m for n, m in list(sys.modules.items())
                  if m is not None and (n == ENGINE_PACKAGE or n.startswith(ENGINE_PACKAGE + "."))]
        for mod_name, fn_name, span_name in ENTRY_POINTS:
            orig = getattr(sys.modules[f"{ENGINE_PACKAGE}.{mod_name}"], fn_name)
            wrapped = self._spanned(orig, span_name)
            for m in loaded:
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        self._swap(m, attr, wrapped)
        for meth in ERCOT_METHODS:
            self._swap(ErcotQueries, meth,
                       self._spanned(getattr(ErcotQueries, meth), "sources.ercot.query"))
        df_cls = type(spark.range(1))
        for action in DATAFRAME_ACTIONS:
            self._swap(df_cls, action, self._action(getattr(df_cls, action), action))

    def _action(self, fn, action: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(df, *args, **kwargs):
            # vars(), not getattr: DataFrame.__getattr__ resolves columns
            owner = vars(df).get("_perfbench_span")
            if owner is None:
                return fn(df, *args, **kwargs)
            with tracer.span(f"{owner}:{action}"):
                return fn(df, *args, **kwargs)

        return wrapper

    def uninstrument(self) -> None:
        while self._restore:
            owner, attr, val = self._restore.pop()
            setattr(owner, attr, val)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra,
                       "spans": [asdict(s) for s in self.spans]}, f, indent=1)


# -- span arithmetic ----------------------------------------------------------------------

def self_times(spans: list[Span]) -> dict[int, float]:
    """Duration of each span minus the part of it its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


def subtree(spans: list[Span], root_id: int) -> list[Span]:
    """The root span and every span below it."""
    below = {root_id}
    out = []
    for s in sorted(spans, key=lambda s: s.id):  # parents are created first
        if s.id == root_id or s.parent in below:
            below.add(s.id)
            out.append(s)
    return out


def innermost(spans: list[Span], t: float) -> Span | None:
    """The most recently opened span still open at epoch time ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


# -- the Spark event log ----------------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if line.strip():
                    events.append(json.loads(line))
    return events


def attribute_jobs(events: list[dict], spans: list[Span]) -> dict[int | None, dict]:
    """Spark work per span id (None = outside every span): jobs, stages,
    tasks, executor run and CPU seconds, shuffle bytes. A job belongs to
    the innermost span open at its submission time; a task to the latest
    job, submitted before it launched, whose stage list holds its stage."""
    jobs = []  # (submit epoch s, job id, span id, stage ids)
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            t = e["Submission Time"] / 1000.0
            s = innermost(spans, t)
            jobs.append((t, e["Job ID"], s.id if s else None, set(e.get("Stage IDs", []))))
    jobs.sort()
    out: dict[int | None, dict] = {}

    def bucket(sid):
        return out.setdefault(sid, {"jobs": 0, "stages": set(), "tasks": 0, "executor_run_s": 0.0,
                                    "executor_cpu_s": 0.0, "shuffle_read_bytes": 0,
                                    "shuffle_write_bytes": 0})

    for _, _, sid, _ in jobs:
        bucket(sid)["jobs"] += 1
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        stage, launch = e["Stage ID"], e["Task Info"]["Launch Time"] / 1000.0
        owner = None
        for t, _, sid, stages in jobs:
            if t > launch + 1e-3:
                break
            if stage in stages:
                owner = sid
        b = bucket(owner)
        b["stages"].add((stage, e.get("Stage Attempt ID", 0)))
        b["tasks"] += 1
        m = e.get("Task Metrics") or {}
        b["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        b["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        rd = m.get("Shuffle Read Metrics") or {}
        b["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        b["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    for b in out.values():
        b["stages"] = len(b["stages"])
    return out


def sum_spark(work: dict[int | None, dict], span_ids) -> dict:
    total = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
             "shuffle_read_bytes": 0, "shuffle_write_bytes": 0}
    for sid in span_ids:
        for k, v in work.get(sid, {}).items():
            total[k] += v
    return total


# -- streaming progress ------------------------------------------------------------------------

def streaming_listener(spark):
    """A StreamingQueryListener counting micro-batches and their trigger
    time; returns (listener, stats dict)."""
    from pyspark.sql.streaming import StreamingQueryListener

    stats = {"batches": 0, "batch_s": 0.0}

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            stats["batches"] += 1
            stats["batch_s"] += event.progress.durationMs.get("triggerExecution", 0) / 1000.0

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener, stats


# -- hooks: counts the spans carry ---------------------------------------------------------------

def parquet_rows(path: str) -> int:
    """Row count of a parquet directory from its footers (no Spark job)."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return 0
    return sum(pq.read_metadata(os.path.join(path, f)).num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class UpsertHook:
    """``parquet_upsert(spark, new_rows, path, ...)``: rows already in the
    store before the merge, and the store's size after it."""

    @staticmethod
    def _path(args, kwargs):
        return kwargs["path"] if "path" in kwargs else args[2]

    def before(self, args, kwargs):
        self.existing = parquet_rows(self._path(args, kwargs))
        return args, kwargs

    def after(self, args, kwargs, out):
        return {"existing_rows": self.existing, "store_bytes": dir_bytes(self._path(args, kwargs))}


class TimedEncoder:
    """The engine's fake encoder, timed on the Python worker. Rows and
    seconds flow back to the driver through accumulators."""

    def __init__(self, dim: int, rows_acc, secs_acc):
        self.dim, self.rows_acc, self.secs_acc = dim, rows_acc, secs_acc

    def __call__(self, texts):
        from quantum_rag_data_pipeline_spark.functions.embedding import fake_encode_batch

        t0 = time.perf_counter()
        out = fake_encode_batch(texts, self.dim)
        self.secs_acc.add(time.perf_counter() - t0)
        self.rows_acc.add(len(texts))
        return out


class EmbedHook:
    """``make_embed_udf(encoder=None, dim)``: when the caller leaves the
    default fake encoder, substitute the same encoder with timing."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.rows = sc.accumulator(0)
        self.secs = sc.accumulator(0.0)

    def reset(self) -> None:
        """Count the timed pass only, not the warm pass before it."""
        self.rows.value, self.secs.value = 0, 0.0

    def before(self, args, kwargs):
        from quantum_rag_data_pipeline_spark.functions.embedding import DEFAULT_DIM

        encoder = kwargs.get("encoder", args[0] if args else None)
        if encoder is not None:
            return args, kwargs
        dim = kwargs.get("dim", args[1] if len(args) > 1 else DEFAULT_DIM)
        return (TimedEncoder(dim, self.rows, self.secs), dim), {}

    def after(self, args, kwargs, out):
        return {}


# -- per-layer metrics from the spans ---------------------------------------------------------------

def _top_level(spans: list[Span], prefixes: tuple[str, ...]) -> list[Span]:
    """Spans whose name starts with one of ``prefixes`` and that have no
    ancestor that does, so nested calls are not counted twice."""
    by_id = {s.id: s for s in spans}

    def match(s):
        return s.name.startswith(prefixes)

    out = []
    for s in spans:
        if not match(s):
            continue
        p = by_id.get(s.parent)
        while p is not None and not match(p):
            p = by_id.get(p.parent)
        if p is None:
            out.append(s)
    return out


def _below(spans: list[Span], tops: list[Span]) -> list[int]:
    ids = set()
    for t in tops:
        ids.update(s.id for s in subtree(spans, t.id))
    return sorted(ids)


#: named layer metric -> the span name prefixes it sums
LAYER_TIMES = {
    "sources.ercot.fetch_s": ("sources.ercot.fetch",),
    "plans.daily_summary.build_s": ("plans.daily_summary.build",),
    "operators.text.quality_gate_s": ("operators.text.quality_gate",),
    "operators.dedup.exact_s": ("operators.dedup.exact_dedup",),
    "operators.dedup.near_s": ("operators.dedup.near_dedup", "operators.dedup.minhash",
                               "operators.dedup.ngram"),
    "operators.similarity.topk_s": ("operators.similarity",),
    "sinks.upsert.upsert_s": ("sinks.upsert",),
    "queries.build_s": ("queries.build",),
    "queries.exec_s": ("queries.exec",),
}


def layer_metrics(spans: list[Span], work: dict) -> dict:
    """The named layer metrics for the layers these spans reach.
    A metric whose layer never ran is left out, not reported as 0."""
    out: dict = {}
    for metric, prefixes in LAYER_TIMES.items():
        tops = _top_level(spans, prefixes)
        if tops:
            out[metric] = sum(s.duration for s in tops)
    fetches = [s for s in spans if s.name == "sources.ercot.fetch"]
    if fetches:
        out["sources.ercot.fetches"] = len(fetches)
        queries = _top_level(spans, ("sources.ercot.query",))
        out["sources.ercot.to_df_s"] = sum(s.duration for s in queries) - out["sources.ercot.fetch_s"]
    dedup = _top_level(spans, ("operators.dedup",))
    if dedup:
        w = sum_spark(work, _below(spans, dedup))
        out["operators.dedup.shuffle_bytes"] = w["shuffle_read_bytes"] + w["shuffle_write_bytes"]
    upserts = [s for s in spans if s.name == "sinks.upsert.parquet_upsert"]
    if upserts:
        out["sinks.upsert.existing_rows"] = sum(s.attrs.get("existing_rows", 0) for s in upserts)
        out["sinks.upsert.store_bytes"] = upserts[-1].attrs.get("store_bytes", 0)
    builds = _top_level(spans, ("queries.build",))
    if builds:
        out["queries.build_jobs"] = sum_spark(work, _below(spans, builds))["jobs"]
        out["queries.catalyst_ms"] = sum(s.attrs.get("catalyst_ms", 0.0)
                                         for s in spans if s.name == "queries.plan")
    return out


def layer_table(spans: list[Span], selfs: dict[int, float], work: dict) -> dict:
    """Per layer: self time, span count, and the Spark work of the jobs
    its spans started. Self times over all layers sum to the root's wall."""
    table: dict[str, dict] = {}
    for s in spans:
        row = table.setdefault(layer_of(s.name), {"self_s": 0.0, "spans": 0, "_ids": []})
        row["self_s"] += selfs[s.id]
        row["spans"] += 1
        row["_ids"].append(s.id)
    for row in table.values():
        row.update(sum_spark(work, row.pop("_ids")))
    return table
