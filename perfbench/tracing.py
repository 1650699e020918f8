"""Spans and counters for the traced run (``--trace 1``).

A span is (name, start, end, parent, op id), kept in memory and written
out as JSON when the run ends. The traced run wraps a few public
functions of the engine (SPARQL parse/compile, the result cache, BM25
scoring, cursor signing and verification, shard lookups, store builds,
``DataFrame.collect``) and reads Spark's own status store for jobs,
stages, tasks, executor time, shuffle, spill and GC per op. The
untraced run uses :class:`NullTracer`, whose spans cost one no-op
context manager each.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str):
        yield

    def count(self, name: str, value: float = 1.0) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self) -> None:
        # [name, start, end, parent index, op id]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.counters: dict[tuple[int | None, str], float] = defaultdict(float)
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str):
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = [name, 0.0, 0.0, parent, self.op_id]
        self.spans.append(rec)
        self._stack.append(idx)
        b1 = time.perf_counter()
        rec[1] = b1
        try:
            yield
        finally:
            e0 = time.perf_counter()
            rec[2] = e0
            self._stack.pop()
            self.bookkeeping_s += (b1 - b0) + (time.perf_counter() - e0)

    def count(self, name: str, value: float = 1.0) -> None:
        self.counters[(self.op_id, name)] += value

    # ------------------------------------------------------------ wrapping
    def _wrap(self, owner, attr: str, name: str, static: bool = False) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        wrapped.__wrapped__ = orig
        setattr(owner, attr, staticmethod(wrapped) if static else wrapped)

    def install(self) -> None:
        """Wrap the engine's layer entry points. Each wrapper adds one
        span; nothing changes what the wrapped function does."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader

        import aruna_spark.search.incremental as inc
        import aruna_spark.sparql.engine as eng
        import aruna_spark.store as store
        from aruna_spark.search.cursor import SearchCursor
        from aruna_spark.sparql.compiler import Compiler

        self._wrap(eng, "parse", "sparql.parse")
        self._wrap(Compiler, "compile_select", "sparql.compile")
        self._wrap(Compiler, "compile_ask", "sparql.compile")
        self._wrap(store, "bm25_scored", "search.score_plan")
        self._wrap(SearchCursor, "new_signed", "search.cursor_sign", static=True)
        self._wrap(SearchCursor, "encode", "search.cursor_sign")
        self._wrap(SearchCursor, "decode", "search.cursor_verify", static=True)
        tracer = self

        cache_get = eng.QueryCache.get

        def get(cache, *args, **kwargs):
            hit = cache_get(cache, *args, **kwargs)
            if hit is not None:
                tracer.count("sparql.cache_hits")
            return hit

        eng.QueryCache.get = get

        token_shards = inc.token_shards

        def traced_token_shards(spark, tokens):
            if any(t not in inc._SHARD_CACHE for t in tokens):
                tracer.count("search.shard_lookup_jobs")
            with tracer.span("search.token_shards"):
                return token_shards(spark, tokens)

        inc.token_shards = traced_token_shards

        ensure = store._ensure

        def traced_ensure(kind, *args, **kwargs):
            with tracer.span(f"store.{kind}"):
                return ensure(kind, *args, **kwargs)

        store._ensure = traced_ensure

        read_parquet = DataFrameReader.parquet

        def parquet(reader, *paths, **options):
            if any(tracer.spans[i][0] == "search.score_plan" for i in tracer._stack):
                tracer.count("search.files_read", len(paths))
            return read_parquet(reader, *paths, **options)

        DataFrameReader.parquet = parquet

        collect = DataFrame.collect

        def traced_collect(df):
            with tracer.span("collect"):
                rows = collect(df)
            b0 = time.perf_counter()
            try:
                it = df._jdf.queryExecution().tracker().phases().iterator()
                ms = 0
                while it.hasNext():
                    ms += it.next()._2().durationMs()
                tracer.count("catalyst.plan_s", ms / 1000.0)
            except Exception:  # noqa: BLE001 - tracing never fails an op
                pass
            tracer.bookkeeping_s += time.perf_counter() - b0
            return rows

        DataFrame.collect = traced_collect

    # ------------------------------------------------------------- reading
    def spark_by_op(self, spark, windows: dict[int, tuple[float, float]]):
        """Per-op job/stage/task counts and executor metrics from Spark's
        status store, each job assigned to the op whose wall-clock window
        holds its submission time."""
        per_op: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        st = spark.sparkContext._jsc.sc().statusStore()
        jobs = st.jobsList(None)
        bounds = sorted((a * 1000.0, b * 1000.0, op) for op, (a, b) in windows.items())
        for i in range(jobs.size()):
            job = jobs.apply(i)
            sub = job.submissionTime()
            if not sub.isDefined():
                continue
            t = sub.get().getTime()
            op = next((o for a, b, o in bounds if a <= t <= b), None)
            if op is None:
                continue
            m = per_op[op]
            m["jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                s = st.lastStageAttempt(ids.apply(k))
                if s.status().toString() == "SKIPPED":
                    continue
                m["stages"] += 1
                m["tasks"] += s.numTasks()
                m["run_s"] += s.executorRunTime() / 1e3
                m["cpu_s"] += s.executorCpuTime() / 1e9
                m["shuffle_mb"] += (s.shuffleReadBytes() + s.shuffleWriteBytes()) / 2**20
                m["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
                m["gc_s"] += s.jvmGcTime() / 1e3
        return per_op

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0][1] if self.spans else 0.0
        out = {
            "spans": [
                {
                    "name": n,
                    "start_s": round(a - t0, 6),
                    "end_s": round(b - t0, 6),
                    "parent": p,
                    "op": op,
                }
                for n, a, b, p, op in self.spans
            ],
            **extra,
        }
        with open(path, "w", encoding="utf-8") as f:
            json.dump(out, f)


def _descendants(spans: list[list], idxs: list[int], root: int) -> list[int]:
    out = []
    for i in idxs:
        p = spans[i][3]
        while p is not None and p != root:
            p = spans[p][3]
        if p == root:
            out.append(i)
    return out


def _outermost(spans: list[list], idxs: list[int], name: str) -> float:
    """Summed duration of the spans called ``name`` among ``idxs`` that
    have no ancestor of the same name (recursive compiles count once)."""
    total = 0.0
    for i in idxs:
        n, a, b, p, _ = spans[i]
        if n != name:
            continue
        while p is not None and spans[p][0] != name:
            p = spans[p][3]
        if p is None:
            total += b - a
    return total


def per_layer(tracer: Tracer, ops: list[dict], spark_ops: dict, names: list[str]) -> dict:
    """Every per-layer metric named in ``names``; a layer the workload
    does not touch reads 0."""
    spans = tracer.spans
    by_op: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s[4] is not None:
            by_op[s[4]].append(i)
    out = {n: 0.0 for n in names}
    routes: dict[str, list[float]] = defaultdict(list)
    layer: dict[str, list[float]] = defaultdict(list)
    self_s, child_share = [], []
    for op in ops:
        oid, idxs = op["id"], by_op[op["id"]]
        root = next(i for i in idxs if spans[i][3] is None)
        wall = spans[root][2] - spans[root][1]
        kids = [i for i in idxs if spans[i][3] == root]
        child = sum(spans[i][2] - spans[i][1] for i in kids)
        self_s.append(wall - child)
        child_share.append(child / wall if wall > 0 else 0.0)
        if op["route"]:
            routes[op["route"]].append(wall)
        for i in kids:
            if spans[i][0].startswith("api."):
                routes[spans[i][0][4:]].append(spans[i][2] - spans[i][1])
        if op["route"] == "sparql":
            layer["sparql.parse_s"].append(_outermost(spans, idxs, "sparql.parse"))
            layer["sparql.compile_s"].append(_outermost(spans, idxs, "sparql.compile"))
            top_collect = [i for i in kids if spans[i][0] == "collect"]
            layer["sparql.collect_s"].append(
                sum(spans[i][2] - spans[i][1] for i in top_collect)
            )
        for s in (i for i in kids if spans[i][0] in ("api.find_new", "api.search_next")):
            sub = _descendants(spans, idxs, s)
            layer["search.score_plan_s"].append(_outermost(spans, sub, "search.score_plan"))
            layer["search.page_collect_s"].append(
                sum(spans[i][2] - spans[i][1] for i in sub if spans[i][0] == "collect" and spans[i][3] == s)
            )
            layer["search.cursor_sign_s"].append(_outermost(spans, sub, "search.cursor_sign"))
            layer["search.cursor_verify_s"].append(_outermost(spans, sub, "search.cursor_verify"))
        if any(spans[i][0] == "api.find_new" for i in kids):
            layer["search.shard_lookup_jobs"].append(
                tracer.counters.get((oid, "search.shard_lookup_jobs"), 0.0)
            )
            layer["search.files_read"].append(tracer.counters.get((oid, "search.files_read"), 0.0))
        for key in ("incremental.shards_rewritten", "incremental.mb_written"):
            if (oid, key) in tracer.counters:
                layer[key].append(tracer.counters[(oid, key)])
        for key, span_name in (
            ("incremental.upsert_s", "incremental.upsert"),
            ("ingest.project_s", "ingest.project"),
        ):
            if any(spans[i][0] == span_name for i in idxs):
                layer[key].append(_outermost(spans, idxs, span_name))
        layer["catalyst.plan_s"].append(tracer.counters.get((oid, "catalyst.plan_s"), 0.0))
        m = spark_ops.get(oid, {})
        for key, src in (
            ("spark.jobs_per_op", "jobs"),
            ("spark.stages_per_op", "stages"),
            ("spark.tasks_per_op", "tasks"),
            ("spark.executor_run_s", "run_s"),
            ("spark.executor_cpu_s", "cpu_s"),
            ("spark.shuffle_mb", "shuffle_mb"),
            ("spark.spill_mb", "spill_mb"),
            ("spark.gc_s", "gc_s"),
        ):
            layer[key].append(m.get(src, 0.0))
        if op.get("operator"):
            layer[f"queries.{op['operator']}_s"].append(wall)
    for route, walls in routes.items():
        key = f"api.{route}_p50_s"
        if key in out:
            out[key] = statistics.median(walls)
    for key, vals in layer.items():
        if key in out and vals:
            out[key] = statistics.median(vals) if key.startswith("queries.") else statistics.fmean(vals)
    out["sparql.cache_hits"] = sum(
        v for (o, k), v in tracer.counters.items() if k == "sparql.cache_hits" and o is not None
    )
    out["api.self_s"] = statistics.fmean(self_s) if self_s else 0.0
    total_wall = sum(spans[i][2] - spans[i][1] for i, s in enumerate(spans) if s[3] is None and s[4] is not None)
    out["trace.child_share"] = statistics.fmean(child_share) if child_share else 0.0
    out["trace.overhead_share"] = tracer.bookkeeping_s / total_wall if total_wall else 0.0
    return out


def store_builds(tracer: Tracer) -> dict[str, float]:
    """Exclusive build time per layout kind over the set-up spans (a
    nested ``_ensure`` of a dependency is charged to its own kind)."""
    out: dict[str, float] = defaultdict(float)
    spans = tracer.spans
    for i, (n, a, b, p, op) in enumerate(spans):
        if op is not None or not n.startswith("store."):
            continue
        nested = sum(
            s[2] - s[1] for s in spans if s[3] == i and s[0].startswith("store.")
        )
        out[n[6:]] += (b - a) - nested
    return out
