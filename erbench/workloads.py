"""The benchmark's workloads.

Each workload builds its inputs from the seed in ``setup`` (repeated, so
set-up time is a median), runs one unit of work in ``op`` and checks
the last outputs in ``check``, untimed. ``layer_metrics`` turns the
spans of traced operations and the folded event log into per-layer
numbers; ``detail`` gives the end-to-end latencies a user of that mode
sees, each with its sample count.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import urllib.error
import urllib.request
from dataclasses import dataclass, field

from erbench.eventlog import GroupMetrics

#: inputs per workload and size. ``full`` is the default; ``tiny`` is
#: the smoke mode.
SIZES = {
    "full": {
        # corpus n_base -> ~1.25x records; each op resolves a seeded 80%
        # sample of the entities (~3k records). The first pipeline run in
        # a session pays ~9 s of one-off cost (Python workers, codegen,
        # JIT) whose size swings by +-25% between runs, so a warm-up run
        # on a 10% sample goes first and is not timed.
        "batch_files": {"n_base": 3_000, "sample_pct": 80, "setup_reps": 2,
                        "warmup_ops": 1, "warmup_pct": 10},
        # 625-entity corpus, 80% sample -> ~500 stored entities; one op
        # is one request per route in a seeded order. One set-up per
        # run: a second store load (~6 s) would push a run past the time
        # a full measurement allows.
        "serve": {"n_base": 500, "sample_pct": 80, "setup_reps": 1},
        # ~26k-record base; each op merges a seeded ~1% increment
        "increment": {"n_base": 21_000, "pool_pct": 4, "pool_split": 4,
                      "setup_reps": 1},
        # sf0.01, the largest scale the DuckDB oracles are checked at:
        # at sf0.1 one oracle needs more than 12 GB in DuckDB
        "suite": {"sf": 0.01, "queries": None, "setup_reps": 1},
    },
    "tiny": {
        "batch_files": {"n_base": 600, "sample_pct": 80, "setup_reps": 1},
        "serve": {"n_base": 300, "sample_pct": 80, "setup_reps": 1},
        "increment": {"n_base": 800, "pool_pct": 8, "pool_split": 2,
                      "setup_reps": 1},
        "suite": {"sf": 0.001, "queries": 5, "setup_reps": 1},
    },
}

#: checkpoint stage name -> layer
STAGE_LAYER = {"normalized": "normalize", "blocked": "blocking",
               "pairs": "pairs", "edges": "scoring",
               "clusters": "clustering", "stats": "stats"}
BATCH_LAYERS = tuple(STAGE_LAYER.values())
ROUTES = ("match", "get", "update", "group")


def _per_layer_units() -> dict[str, str]:
    u: dict[str, str] = {}
    for lay in BATCH_LAYERS:
        u.update({f"{lay}.wall_s": "s", f"{lay}.task_s": "s",
                  f"{lay}.jobs": "count"})
    for lay in ("normalize", "blocking", "scoring"):
        u[f"{lay}.python_s"] = "s"
    for lay in ("blocking", "pairs", "scoring", "clustering"):
        u[f"{lay}.shuffle_mb"] = "MB"
    for lay in ("pairs", "scoring"):
        u[f"{lay}.spill_mb"] = "MB"
        u[f"{lay}.task_skew"] = "ratio"
    u.update({
        "checkpoint.write_mb": "MB", "pipeline.gc_s": "s",
        "pipeline.self_s": "s", "pairs.generated": "count",
        "pairs.dropped_estimate": "count", "blocking.oversized_keys": "count",
        "scoring.edge_yield": "ratio",
    })
    for r in ROUTES:
        u.update({f"{r}.jobs": "count", f"{r}.tasks": "count",
                  f"{r}.task_s": "s"})
    u.update({
        "match.python_s": "s", "group.python_s": "s", "match.results": "count",
        "store.upsert_s": "s", "store.read_s": "s",
        "group.recompute_s": "s", "group.recomputes": "count",
        "api.self_s": "s",
        "trace.overhead_s": "s", "calib.before_s": "s", "calib.after_s": "s",
        "jvm.peak_rss_mb": "MB",
    })
    return u


#: per-layer metrics every traced run reports (0 where the workload does
#: not run the layer); the names BENCHMARK.json lists under per_layer
PER_LAYER_UNITS = _per_layer_units()


@dataclass
class OpResult:
    requests: list  # (route, wall_s, ok) per request of the operation
    error: str | None = None
    wall: float = 0.0
    traced: bool = False
    warmup: bool = False
    extra: dict = field(default_factory=dict)


def latency(values: list[float]) -> dict:
    """Median, sample count and the highest percentile that has at
    least ten samples beyond it, when there is one."""
    vals = sorted(values)
    out = {"median": statistics.median(vals) if vals else None, "n": len(vals),
           "unit": "s"}
    for p in (99.9, 99, 95, 90, 75):
        if len(vals) * (1 - p / 100) >= 10:
            q = statistics.quantiles(vals, n=1000, method="inclusive")
            out[f"p{p:g}"] = q[int(p * 10) - 1]
            break
    return out


def _median(values) -> float:
    vals = list(values)
    return statistics.median(vals) if vals else 0


class SpanIndex:
    """Parent/child lookups over a tracer's spans plus the event-log
    metrics of each span's subtree."""

    def __init__(self, tracer, groups: dict):
        self.tracer = tracer
        self.groups = groups
        self.by_id = {s.id: s for s in tracer.spans}
        self.kids: dict[str, list] = {}
        for s in tracer.spans:
            if s.parent:
                self.kids.setdefault(s.parent, []).append(s)

    def children(self, span, name: str | None = None) -> list:
        return [c for c in self.kids.get(span.id, [])
                if name is None or c.name == name]

    def descendants(self, span, name: str) -> list:
        out, todo = [], list(self.kids.get(span.id, []))
        while todo:
            s = todo.pop()
            if s.name == name:
                out.append(s)
            todo.extend(self.kids.get(s.id, []))
        return out

    def metrics(self, span) -> GroupMetrics:
        """Event-log totals of ``span`` and every span below it."""
        total = GroupMetrics()
        todo = [span]
        while todo:
            s = todo.pop()
            if s.id in self.groups:
                total.add(self.groups[s.id])
            todo.extend(self.kids.get(s.id, []))
        return total


class Workload:
    name = ""

    def __init__(self, spark, tracer, work: str, seed: int, size: dict):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.size = size
        self.setup_reps = size.get("setup_reps", 1)
        self.warmup_ops = size.get("warmup_ops", 0)

    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def op(self, i: int) -> OpResult:
        raise NotImplementedError

    def check(self) -> list[str]:
        return []

    def detail(self, ops: list[OpResult]) -> dict:
        return {}

    def layer_metrics(self, tracer, groups, ops: list[OpResult]) -> dict:
        return {}

    def close(self) -> None:
        pass

    def _sample(self, col: str, pct: int, *salt):
        """Seeded sample on the hash of ``col``. On ``entity_uid`` every
        record of an entity is kept or dropped together, so ground-truth
        pairs stay complete."""
        from pyspark.sql import functions as F

        h = F.xxhash64(F.col(col), F.lit(self.seed), *[F.lit(s) for s in salt])
        return F.pmod(h, F.lit(100)) < pct


# ---------------------------------------------------------------------------
# batch_files: ResolvePipeline.run over a seeded sample of synth_files
# ---------------------------------------------------------------------------


class BatchFiles(Workload):
    name = "batch_files"

    def __init__(self, *a):
        super().__init__(*a)
        self.corpus = None
        self.last = None
        self.checked: dict = {}

    def setup(self, rep: int) -> None:
        from resolve_spark import datagen

        if self.corpus is not None:
            self.corpus.unpersist()
        # synth_files output does not depend on its seed argument, so the
        # seed picks the sample each op resolves (see op)
        self.corpus = datagen.with_record_id(datagen.synth_files(
            self.spark, n_base=self.size["n_base"], dup_rate=0.2)).persist()
        self.corpus.count()

    def op(self, i: int) -> OpResult:
        import time

        from resolve_spark.plans import pipeline as P

        pct = self.size["warmup_pct" if i < self.warmup_ops else "sample_pct"]
        files = self.corpus.where(self._sample("entity_uid", pct, "batch", i))
        ckpt = os.path.join(self.work, f"ckpt-{i}")
        pipe = P.ResolvePipeline(self.spark, P.files_pipeline_config(),
                                 checkpoint_dir=ckpt)
        run_stage = pipe.ckpt.run_stage
        tracer = self.tracer

        def traced_stage(stage, *a, **kw):
            with tracer.span(STAGE_LAYER.get(stage, stage)):
                return run_stage(stage, *a, **kw)

        pipe.ckpt.run_stage = traced_stage
        t0 = time.perf_counter()
        with tracer.span("pipeline") as sp:
            run = pipe.run(files)
            run.clusters.where("cluster_size > 1").count()
        wall = time.perf_counter() - t0
        extra = {"pairs": run.counters.get("pairs_generated", 0),
                 "span": sp.id if sp else None}
        if sp:
            pairs_rows = pipe.ckpt.lineage("pairs")["rows_out"]
            edges_rows = pipe.ckpt.lineage("edges")["rows_out"]
            extra["edge_yield"] = edges_rows / pairs_rows if pairs_rows else 0
            extra["counters"] = dict(run.counters)
        if self.last is not None:
            shutil.rmtree(self.last[3], ignore_errors=True)
        self.last = (run, files, pipe, ckpt)
        return OpResult(requests=[("pipeline", wall, True)], extra=extra)

    def check(self) -> list[str]:
        from resolve_spark import datagen
        from resolve_spark.plans import pipeline as P

        run, files, pipe, _ = self.last
        fails = []
        n_records = files.count()
        n_clustered = run.clusters.count()
        if n_clustered != n_records:
            fails.append(f"clusters cover {n_clustered} of {n_records} records")
        lin = pipe.ckpt.lineage("pairs")["rows_out"]
        if run.counters.get("pairs_generated") != lin:
            fails.append(f"pairs_generated {run.counters.get('pairs_generated')}"
                         f" != pairs stage rows {lin}")
        f1 = P.pairwise_f1(run.clusters, datagen.labeled_pairs(files), run.pairs)
        if f1["f1"] < 0.99:
            fails.append(f"pairwise F1 {f1['f1']:.4f} < 0.99")
        try:
            P.assert_sha256_invariant(run, files, "record_id")
        except AssertionError as e:
            fails.append(str(e))
        self.checked = {"records": n_records, "f1": f1["f1"]}
        return fails

    def detail(self, ops):
        ok = [o for o in ops if not o.error]
        return {
            "pipeline_s": latency([o.wall for o in ok]),
            "pairs_scored_per_s": {
                "value": _median(o.extra["pairs"] / o.wall for o in ok),
                "unit": "pairs/s"},
            "checked": self.checked,
        }

    def layer_metrics(self, tracer, groups, ops):
        idx = SpanIndex(tracer, groups)
        per_op = []
        for o in ops:
            if o.error or not o.extra.get("span"):
                continue
            root = idx.by_id[o.extra["span"]]
            m: dict[str, float] = {}
            write_bytes = 0
            for lay in BATCH_LAYERS:
                spans = idx.children(root, lay)
                g = GroupMetrics()
                for s in spans:
                    g.add(idx.metrics(s))
                write_bytes += g.output_bytes
                m[f"{lay}.wall_s"] = sum(s.duration for s in spans)
                m[f"{lay}.task_s"] = g.task_ms / 1000
                m[f"{lay}.jobs"] = g.jobs
                m[f"{lay}.python_s"] = g.python_ms / 1000
                m[f"{lay}.shuffle_mb"] = g.shuffle_mb
                m[f"{lay}.spill_mb"] = g.spill_bytes / 1e6
                m[f"{lay}.task_skew"] = g.task_skew
            whole = idx.metrics(root)
            c = o.extra.get("counters", {})
            m.update({
                "checkpoint.write_mb": write_bytes / 1e6,
                "pipeline.gc_s": whole.gc_ms / 1000,
                "pipeline.self_s": tracer.self_time(root),
                "pairs.generated": c.get("pairs_generated", 0),
                "pairs.dropped_estimate": c.get("pairs_dropped_estimate", 0),
                "blocking.oversized_keys": c.get("n_oversized_keys", 0),
                "scoring.edge_yield": o.extra.get("edge_yield", 0),
            })
            per_op.append(m)
        keys = {k for m in per_op for k in m}
        return {k: _median(m[k] for m in per_op) for k in keys}

    def close(self) -> None:
        if self.corpus is not None:
            self.corpus.unpersist()


# ---------------------------------------------------------------------------
# serve: the REST routes on a loopback port, one closed-loop client
# ---------------------------------------------------------------------------

ENTITY_FIELDS = ("name", "address", "city", "state", "zip", "phone", "email")
_ABBREV = (("Street", "St"), ("Avenue", "Ave"), ("Boulevard", "Blvd"),
           ("Road", "Rd"), ("Lane", "Ln"), ("Drive", "Dr"))


def perturb(entity: dict, rng: random.Random) -> dict:
    """A query built from a stored entity the way a caller would type
    it: case changes, dropped legal suffix, abbreviated street, phone
    digits only, sometimes no email."""
    q = {f: entity.get(f) or "" for f in ENTITY_FIELDS}
    if rng.random() < 0.5:
        q["name"] = q["name"].lower()
    if rng.random() < 0.5:
        q["name"] = q["name"].rsplit(" ", 1)[0] if " " in q["name"] else q["name"]
    if rng.random() < 0.6:
        for full, abbr in _ABBREV:
            q["address"] = q["address"].replace(full, abbr)
    if rng.random() < 0.5:
        q["phone"] = "".join(ch for ch in q["phone"] if ch.isdigit())
    if rng.random() < 0.3:
        q["email"] = ""
    return {k: v for k, v in q.items() if v}


class Serve(Workload):
    name = "serve"

    def __init__(self, *a):
        super().__init__(*a)
        self.engine = None
        self.server = None
        self.base_url = ""
        self.rows: list[dict] = []
        self.writes: dict[str, tuple[str, str]] = {}  # id -> (rev, phone)

    def setup(self, rep: int) -> None:
        from pyspark.sql import functions as F

        from resolve_spark import datagen
        from resolve_spark.api import ResolveEngine, serve

        self.close()
        ents = datagen.synth_entities(self.spark, n_base=self.size["n_base"])
        ents = ents.where(self._sample("entity_uid", self.size["sample_pct"],
                                       "serve"))
        self.rows = [
            {k: v for k, v in r.asDict().items()
             if k not in ("entity_uid", "is_variant")}
            for r in ents.orderBy("id").collect()
        ]
        engine = ResolveEngine(self.spark,
                               os.path.join(self.work, f"store-{rep}"))
        engine.add_entities(self.rows)
        t = self.tracer
        for meth, span in (("match_entity", "engine.match"),
                           ("get_entity", "engine.get"),
                           ("update_entity", "engine.update"),
                           ("match_group", "engine.group"),
                           ("recompute", "engine.recompute")):
            t.wrap(engine, meth, span)
        t.wrap(engine.store, "upsert", "store.upsert")
        t.wrap(engine.store, "read_for_ids", "store.read_for_ids")
        self.engine = engine
        self.server = serve(engine)
        host, port = self.server.server_address
        self.base_url = f"http://{host}:{port}"

    def _http(self, method: str, path: str, payload=None):
        data = json.dumps(payload).encode() if payload is not None else None
        req = urllib.request.Request(
            self.base_url + path, data=data, method=method,
            headers={"Content-Type": "application/json"})
        try:
            with urllib.request.urlopen(req, timeout=170) as resp:
                return resp.status, json.loads(resp.read())
        except urllib.error.HTTPError as e:
            return e.code, None

    def _request(self, route: str, rng: random.Random, i: int):
        """-> (ok, results) for one request of ``route``."""
        from urllib.parse import quote

        from resolve_spark.config import DEFAULT_LIMIT, DEFAULT_SIMILARITY_THRESHOLD

        target = rng.choice(self.rows)
        eid = quote(target["id"], safe="")
        if route == "match":
            status, body = self._http("POST", "/match",
                                      {"entity": perturb(target, rng)})
            if status != 200 or not isinstance(body, dict):
                return False, 0
            ms = body.get("matches")
            ok = (isinstance(ms, list) and body.get("count") == len(ms)
                  and len(ms) <= DEFAULT_LIMIT
                  and all(m["score"] >= DEFAULT_SIMILARITY_THRESHOLD - 1e-9
                          for m in ms)
                  and all(a["score"] >= b["score"] for a, b in zip(ms, ms[1:])))
            return ok, len(ms or [])
        if route == "get":
            status, body = self._http("GET", f"/entities/{eid}")
            ok = status == 200 and (body or {}).get("id") == target["id"]
            return ok, 1
        if route == "update":
            rev = f"{self.seed}-{i}-{rng.randrange(10**6)}"
            phone = f"555-{rng.randrange(1000):03d}-{rng.randrange(10000):04d}"
            status, body = self._http("PUT", f"/entities/{eid}", {
                "phone": phone, "metadata": {"bench_rev": rev}})
            ok = status == 200 and (body or {}).get("id") == target["id"]
            if ok:
                self.writes[target["id"]] = (rev, phone)
            return ok, 1
        status, body = self._http("GET", f"/entities/{eid}/group")
        ok = (status == 200 and body.get("id") == target["id"]
              and body.get("size") == len(body.get("entities") or [])
              and len({e["id"] for e in body["entities"]}) == body["size"])
        return ok, body.get("size", 0) if status == 200 else 0

    def op(self, i: int) -> OpResult:
        import time

        rng = random.Random(f"serve:{self.seed}:{i}")
        routes = list(ROUTES)
        rng.shuffle(routes)
        reqs, spans, results = [], [], []
        for route in routes:
            t0 = time.perf_counter()
            with self.tracer.span(f"request.{route}") as sp:
                ok, n = self._request(route, rng, i)
            reqs.append((route, time.perf_counter() - t0, ok))
            spans.append((route, sp.id if sp else None))
            results.append(n)
        return OpResult(requests=reqs, extra={"spans": spans,
                                              "results": results})

    def check(self) -> list[str]:
        """GET after PUT returns the written values."""
        from urllib.parse import quote

        fails = []
        for eid, (rev, phone) in self.writes.items():
            status, body = self._http("GET", f"/entities/{quote(eid, safe='')}")
            body = body or {}
            got = (body.get("metadata", {}).get("bench_rev"), body.get("phone"))
            if status != 200 or got != (rev, phone):
                fails.append(f"GET after PUT of {eid}: status {status}, "
                             f"(bench_rev, phone) {got!r} != {(rev, phone)!r}")
        return fails

    def detail(self, ops):
        out = {}
        for r in ROUTES:
            out[f"{r}_s"] = latency([w for o in ops for (rt, w, ok) in o.requests
                                     if rt == r and ok])
        n = sum(len(o.requests) for o in ops)
        out["serve_ops_per_s"] = {
            "value": n / sum(o.wall for o in ops) if ops else 0, "unit": "ops/s"}
        out["store_entities"] = len(self.rows)
        return out

    def layer_metrics(self, tracer, groups, ops):
        idx = SpanIndex(tracer, groups)
        per_route: dict[str, list[dict]] = {r: [] for r in ROUTES}
        api_self = []
        for o in ops:
            for (route, sid), n in zip(o.extra.get("spans", []),
                                       o.extra.get("results", [])):
                if not sid:
                    continue
                sp = idx.by_id[sid]
                g = idx.metrics(sp)
                rec = {"jobs": g.jobs, "tasks": g.tasks,
                       "task_s": g.task_ms / 1000,
                       "python_s": g.python_ms / 1000, "results": n,
                       "recomputes": len(idx.descendants(sp, "engine.recompute"))}
                per_route[route].append(rec)
                api_self.append(tracer.self_time(sp))
        m: dict[str, float] = {}
        for r, recs in per_route.items():
            for k in ("jobs", "tasks", "task_s"):
                m[f"{r}.{k}"] = _median(x[k] for x in recs)
        m["match.python_s"] = _median(x["python_s"] for x in per_route["match"])
        m["group.python_s"] = _median(x["python_s"] for x in per_route["group"])
        m["match.results"] = _median(x["results"] for x in per_route["match"])
        m["group.recomputes"] = sum(x["recomputes"] for x in per_route["group"])
        by_name: dict[str, list[float]] = {}
        for s in tracer.spans:
            by_name.setdefault(s.name, []).append(s.duration)
        m["store.upsert_s"] = _median(by_name.get("store.upsert", []))
        m["store.read_s"] = _median(by_name.get("store.read_for_ids", []))
        m["group.recompute_s"] = _median(by_name.get("engine.recompute", []))
        m["api.self_s"] = _median(api_self)
        return m

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server = None


# ---------------------------------------------------------------------------
# increment: run_incremental of a seeded ~1% slice into one resolved base
# ---------------------------------------------------------------------------


class Increment(Workload):
    name = "increment"

    def __init__(self, *a):
        super().__init__(*a)
        self.corpus = self.prev = self.prev_blocked = self.last = None

    def setup(self, rep: int) -> None:
        from resolve_spark import datagen
        from resolve_spark.plans import pipeline as P

        self.close()
        self.corpus = datagen.with_record_id(datagen.synth_files(
            self.spark, n_base=self.size["n_base"], dup_rate=0.2)).persist()
        # the held-out pool: increments are drawn from it, the base is
        # everything else
        in_pool = self._sample("record_id", self.size["pool_pct"], "pool")
        self.base = self.corpus.where(~in_pool)
        self.pool = self.corpus.where(in_pool)
        self.pipe = P.ResolvePipeline(self.spark, P.files_pipeline_config())
        self.prev = self.pipe.run(self.base)
        self.prev.clusters.count()
        self.prev_blocked = self.pipe.blocked(self.prev.normalized).select(
            "record_id", "block_keys").persist()
        self.prev_blocked.count()

    def op(self, i: int) -> OpResult:
        import time

        from pyspark.sql import functions as F

        h = F.xxhash64("record_id", F.lit(self.seed), F.lit("inc"), F.lit(i))
        inc = self.pool.where(F.pmod(h, F.lit(self.size["pool_split"])) == 0)
        t0 = time.perf_counter()
        with self.tracer.span("increment") as sp:
            with self.tracer.span("increment.merge") as merge:
                out = self.pipe.run_incremental(self.prev, inc,
                                                prev_blocked=self.prev_blocked)
            with self.tracer.span("increment.cluster"):
                out.clusters.count()
        wall = time.perf_counter() - t0
        if self.last is not None:
            self.last[0].unpersist()
        self.last = (out, inc)
        return OpResult(requests=[("increment", wall, True)], extra={
            "span": sp.id if sp else None, "merge": merge.id if merge else None,
            "counters": dict(out.counters)})

    def check(self) -> list[str]:
        out, inc = self.last
        full = self.pipe.run(self.base.unionByName(inc))
        try:
            diff = (out.clusters.subtract(full.clusters).count()
                    + full.clusters.subtract(out.clusters).count())
        finally:
            full.unpersist()
        return [f"{diff} cluster rows differ from run(base + inc)"] if diff else []

    def detail(self, ops):
        ok = [o for o in ops if not o.error]
        return {"increment_s": latency([o.wall for o in ok])}

    def layer_metrics(self, tracer, groups, ops):
        idx = SpanIndex(tracer, groups)
        per_op = []
        for o in ops:
            if not o.extra.get("span"):
                continue
            root = idx.by_id[o.extra["span"]]
            g = idx.metrics(root)
            c = o.extra["counters"]
            per_op.append({
                "increment.merge_s": idx.by_id[o.extra["merge"]].duration,
                "increment.cluster_s": sum(
                    s.duration for s in idx.children(root, "increment.cluster")),
                "increment.jobs": g.jobs, "increment.tasks": g.tasks,
                "increment.task_s": g.task_ms / 1000,
                "increment.python_s": g.python_ms / 1000,
                "increment.shuffle_mb": g.shuffle_mb,
                "increment.pairs_scored": c.get("pairs_scored", 0),
                "increment.touched_old_records": c.get("touched_old_records", 0),
            })
        keys = {k for m in per_op for k in m}
        return {k: _median(m[k] for m in per_op) for k in keys}

    def close(self) -> None:
        for run in (self.last[0] if self.last else None, self.prev):
            if run is not None:
                run.unpersist()
        for df in (self.prev_blocked, self.corpus):
            if df is not None:
                df.unpersist()


# ---------------------------------------------------------------------------
# suite: bench.py's 50 queries to .count(), checked against DuckDB
# ---------------------------------------------------------------------------


class Suite(Workload):
    name = "suite"

    def setup(self, rep: int) -> None:
        import contextlib
        import sys

        import make_sf

        from bench import BENCH_QUERIES

        self.sf_dir = os.path.join(self.work, f"sf-{rep}")
        # gen() prints table sizes; stdout carries only the result lines
        with contextlib.redirect_stdout(sys.stderr):
            make_sf.gen(self.size["sf"], self.sf_dir, seed=self.seed)
        n = self.size.get("queries")
        self.names = list(BENCH_QUERIES)
        if n:
            self.names = self.names[:: max(1, len(self.names) // n)][:n]

    def op(self, i: int) -> OpResult:
        import time

        import __spark_entry__ as entry

        qs = entry.queries()
        reqs, spans = [], []
        for name in self.names:
            t0 = time.perf_counter()
            with self.tracer.span(f"query.{name}") as sp:
                qs[name](self.spark, self.sf_dir).count()
            reqs.append((name, time.perf_counter() - t0, True))
            spans.append(sp.id if sp else None)
        return OpResult(requests=reqs, extra={"spans": spans})

    def check(self) -> list[str]:
        """Row count and order-insensitive values against each query's
        DuckDB oracle, compared the way tools/check_oracles.py does."""
        import duckdb

        import __spark_entry__ as entry
        from check_oracles import norm_rows
        from resolve_spark.sources.tables import TPCH_TABLES

        # bounded memory, spilling to the run's working directory
        con = duckdb.connect(config={
            "memory_limit": "2GB",
            "temp_directory": os.path.join(self.work, "duckdb-tmp")})
        try:
            for t in TPCH_TABLES:
                path = os.path.join(self.sf_dir, t + ".parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            qs, oracles = entry.queries(), entry.oracle_sql()
            fails = []
            for name in self.names:
                sdf = qs[name](self.spark, self.sf_dir)
                srows = [tuple(r) for r in sdf.collect()]
                try:
                    res = con.execute(oracles[name])
                    dcols = [d[0] for d in res.description]
                    drows = res.fetchall()
                except duckdb.OutOfMemoryException as e:
                    fails.append(f"{name}: oracle ran out of memory: {e}")
                    continue
                if (sorted(sdf.columns) != sorted(dcols)
                        or norm_rows(sdf.columns, srows) != norm_rows(dcols, drows)):
                    fails.append(f"{name}: spark {len(srows)} rows, "
                                 f"duckdb {len(drows)} rows or values differ")
            return fails
        finally:
            con.close()

    def detail(self, ops):
        return {"suite_s": latency([sum(w for _, w, _ in o.requests)
                                    for o in ops])}

    def layer_metrics(self, tracer, groups, ops):
        idx = SpanIndex(tracer, groups)
        m: dict[str, float] = {}
        total = GroupMetrics()
        for o in ops:
            for (name, wall, _), sid in zip(o.requests, o.extra["spans"]):
                m[f"{name}.wall_s"] = wall
                if sid:
                    total.add(idx.metrics(idx.by_id[sid]))
        m.update({"suite.jobs": total.jobs, "suite.tasks": total.tasks,
                  "suite.python_s": total.python_ms / 1000,
                  "suite.shuffle_mb": total.shuffle_mb})
        return m


WORKLOADS = {w.name: w for w in (BatchFiles, Serve, Increment, Suite)}
