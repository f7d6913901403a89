"""The benchmark's two workloads.

Each workload runs a fixed set of operations ("a pass") through the engine's
public functions: ``llm-stream`` one operation at a time, ``mr-jobs`` from
two closed-loop clients that drive the HTTP gateway. Every operation is
timed from outside the package, checked against a reference outside its
timed window, and tagged with its own Spark job group so its status-store
metrics can be attributed.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field

import numpy as np
from py4j.protocol import Py4JJavaError

from digest import digest
from spans import job_ids, stage_totals

# --- fixed operation sets -----------------------------------------------------
# Each workload splits its operations into a "small" and a "large" class; the
# class medians are the small_job_p50_s / large_job_p50_s metrics.

# llm-stream, large class: catalog entries from the LLM-data pipeline family —
# the MinHash set-similarity join, an iterative localCheckpoint lineage
# (graph_kcore, 37 Spark jobs), both running eager Spark jobs during
# construction, and the apply_df scale path.
CATALOG_OPS = ["dedup_minhash_pairs", "graph_kcore", "mr_wordcount"]
# llm-stream, small class: applyInPandasWithState operators, each drained in
# one micro-batch; one keeps one row per user, the other 6 state keys.
STREAM_OPS = ["running_user_totals", "streaming_did_cells"]

# wide key set without and with a combiner, wide keys with long values, and
# 36 keys (the reference's own job)
MR_TYPES = ["wordcount", "wordcount+c", "invertedindex", "charcount"]
MR_CLIENTS = 2
MR_TASKS = 2  # mapper_num and reducer_num, as the reference word-count client sends
POLL_INTERVAL_S = 0.05
OP_TIMEOUT_S = 60.0


@dataclass
class Op:
    name: str
    cls: str
    latency_s: float
    ok: bool
    error: str | None = None
    polls: int = 0


@dataclass
class Ctx:
    spark: object
    data_dir: str
    run_dir: str
    tracer: object
    digests: dict
    seed: int
    cores: int
    layer: dict = field(default_factory=dict)  # per-layer accumulators
    direct: list = field(default_factory=list)  # (class, seconds, stage totals)
    _seq: int = 0

    def group(self, name: str) -> str:
        self._seq += 1
        return f"pb{self._seq}-{name}"

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value


def _describe(exc: Exception) -> str:
    lines = str(exc).splitlines()
    return f"{type(exc).__name__}: {lines[0][:200] if lines else ''}"


def _watchdog(ctx: Ctx, *groups: str) -> threading.Timer:
    """Cancel the operation's Spark jobs once it exceeds the time limit."""
    sc = ctx.spark.sparkContext
    t = threading.Timer(OP_TIMEOUT_S, lambda: [sc.cancelJobGroup(g) for g in groups])
    t.daemon = True
    t.start()
    return t


def _unpersist_new(ctx: Ctx, before: set) -> None:
    """Blocking release of the RDDs an operation persisted or checkpointed."""
    m = ctx.spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(m.keySet().toArray()):
        if rid not in before:
            m.get(rid).unpersist(True)


def _persistent(ctx: Ctx) -> set:
    return set(ctx.spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _job_wall_s(ctx: Ctx, jobs) -> float:
    """Summed submission-to-completion wall time of the given Spark jobs."""
    store = ctx.spark.sparkContext._jsc.sc().statusStore()
    total = 0.0
    for jid in jobs:
        try:
            jd = store.job(jid)
        except Py4JJavaError:  # job evicted from the status store
            continue
        if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
            total += (jd.completionTime().get().getTime() - jd.submissionTime().get().getTime()) / 1e3
    return total


def _record_stages(ctx: Ctx, jobs) -> None:
    for k, v in stage_totals(ctx.spark, jobs).items():
        ctx.add(f"spark.{k}", v)


# --- llm-stream: catalog entries and stateful stream operators -----------------

class LlmStreamWorkload:
    uses_tables = True
    # Two timed passes: with one sample per operation, the class medians
    # (over two and three operations) spread by up to 25% run to run.
    min_passes = 2

    def prepare(self, ctx: Ctx) -> None:
        from tmapreduce_spark.catalog import build_catalog
        from tmapreduce_spark.streaming import stateful

        with ctx.tracer.span("catalog", "build_catalog"):
            self.catalog = build_catalog()
        self.stateful = stateful

    def close(self) -> None:
        pass

    def warm_up(self, ctx: Ctx) -> list[Op]:
        """One whole untimed pass. The first run of a plan in the process
        pays class loading, code generation, Python worker start-up and JIT
        warming: a first pass at sf0.1 took about twice as long as the next.
        A pass over small inputs warms too little: every operation of the
        full-size pass after it still ran about 20% slower than in the pass
        after that."""
        return self.run_pass(ctx, traced=False)[0]

    def run_pass(self, ctx: Ctx, traced: bool) -> tuple[list[Op], float]:
        """Run every catalog entry, then every stream operator, once; the
        pass wall time sums their latencies."""
        ops = [self._run_catalog_op(ctx, n, traced) for n in CATALOG_OPS]
        ops += [self._run_stream_op(ctx, n, traced) for n in STREAM_OPS]
        return ops, sum(op.latency_s for op in ops)

    def _run_catalog_op(self, ctx: Ctx, name: str, traced: bool) -> Op:
        spark, tr = ctx.spark, ctx.tracer
        sc = spark.sparkContext
        spec = self.catalog[name]
        group = ctx.group(name)
        before = _persistent(ctx)
        timer = _watchdog(ctx, group + "-b", group + "-x")
        err, pdf, phases, t1 = None, None, {}, None
        layer = "mapreduce" if name.startswith("mr_") else "catalog"
        t0 = time.perf_counter()
        try:
            with tr.span(layer, "op", op=name):
                sc.setJobGroup(group + "-b", name)
                with tr.span("catalog", "build", op=name):
                    df = spec.fn(spark, ctx.data_dir)
                t1 = time.perf_counter()
                sc.setJobGroup(group + "-x", name, True)
                if traced:
                    with tr.span("catalog", "plan", op=name):
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                    ph = qe.tracker().phases()
                    for key in ("analysis", "optimization", "planning"):
                        opt = ph.get(key)
                        if opt.isDefined():
                            phases[key] = opt.get().durationMs() / 1e3
                with tr.span("catalog", "exec", op=name):
                    pdf = df.toPandas()
        except Exception as exc:  # an operation that raises counts as failed
            err = _describe(exc)
        t2 = time.perf_counter()
        t1 = t2 if t1 is None else t1
        timer.cancel()
        sc.setLocalProperty("spark.jobGroup.id", None)
        ok = err is None and digest(pdf) == ctx.digests.get(name)
        if err is None and not ok:
            err = "result digest differs from the stored reference"
        if traced:
            b_jobs, x_jobs = job_ids(spark, group + "-b"), job_ids(spark, group + "-x")
            ctx.add("catalog.build_s", t1 - t0)
            ctx.add("catalog.exec_s", t2 - t1)
            ctx.add("catalog.build_jobs", len(b_jobs))
            ctx.add("catalog.build_job_s", _job_wall_s(ctx, b_jobs))
            ctx.add("catalog.exec_jobs", len(x_jobs))
            for key, v in phases.items():
                ctx.add(f"catalog.{key}_s", v)
            if layer == "mapreduce":
                ctx.add("mapreduce.apply_df_s", t2 - t0)
            _record_stages(ctx, b_jobs + x_jobs)
        _unpersist_new(ctx, before)
        return Op(name, "large", t2 - t0, ok, err)

    def _run_stream_op(self, ctx: Ctx, name: str, traced: bool) -> Op:
        from tmapreduce_spark.streaming.events import stream_events

        spark, tr = ctx.spark, ctx.tracer
        query_name = ctx.group(name).replace("-", "_").replace("+", "_")
        ckpt = os.path.join(ctx.run_dir, "ckpt", query_name)
        before = _persistent(ctx)
        err, q, t1 = None, None, None
        t0 = time.perf_counter()
        try:
            with tr.span("streaming", "op", op=name):
                with tr.span("streaming", "build", op=name):
                    sdf = getattr(self.stateful, name)(stream_events(spark, ctx.data_dir))
                t1 = time.perf_counter()
                with tr.span("streaming", "drain", op=name):
                    q = (
                        sdf.writeStream.format("memory").queryName(query_name)
                        .outputMode("update").option("checkpointLocation", ckpt)
                        .trigger(availableNow=True).start()
                    )
                    if not q.awaitTermination(OP_TIMEOUT_S):
                        q.stop()
                        raise TimeoutError(f"stream did not drain in {OP_TIMEOUT_S:.0f}s")
                    if q.exception() is not None:
                        raise RuntimeError(str(q.exception()))
        except Exception as exc:
            err = _describe(exc)
        t2 = time.perf_counter()
        t1 = t2 if t1 is None else t1
        ok = False
        if err is None:
            pdf = spark.table(query_name).toPandas()
            ok = digest(pdf) == ctx.digests.get(name)
            if not ok:
                err = "result digest differs from the stored reference"
        if traced and q is not None:
            self._record_progress(ctx, q, t1, t2)
            ctx.add("streaming.build_s", t1 - t0)
            _record_stages(ctx, job_ids(spark, str(q.runId)))
        spark.catalog.dropTempView(query_name)
        shutil.rmtree(ckpt, ignore_errors=True)
        _unpersist_new(ctx, before)
        return Op(name, "small", t2 - t0, ok, err)

    @staticmethod
    def _record_progress(ctx: Ctx, q, t1: float, t2: float) -> None:
        trigger = 0.0
        for p in q.recentProgress:
            d = p.durationMs or {}
            trigger += d.get("triggerExecution", 0) / 1e3
            ctx.add("streaming.add_batch_s", d.get("addBatch", 0) / 1e3)
            ctx.add("streaming.query_planning_s", d.get("queryPlanning", 0) / 1e3)
            ctx.add("streaming.commit_s", (d.get("commitOffsets", 0) + d.get("walCommit", 0)) / 1e3)
            ctx.add("streaming.input_rows", p.numInputRows or 0)
            for s in p.stateOperators or ():
                ctx.add("streaming.state_rows", s.numRowsTotal)
                ctx.add("streaming.state_memory_bytes", s.memoryUsedBytes)
        ctx.add("streaming.trigger_s", trigger)
        ctx.add("streaming.startup_s", max((t2 - t1) - trigger, 0.0))


# --- mr-jobs: the paper's launch / getresult path ------------------------------------

def _vocabulary(rng, size: int = 5000) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))
    words = set()
    while len(words) < size:
        n = int(rng.integers(2, 10))
        words.add("".join(letters[rng.integers(0, 36 if rng.random() < 0.1 else 26, n)]))
    return sorted(words)


def reference_result(job_type: str, kvs, tracer, cls: str = "") -> list[str]:
    """The registry's map/reduce run in-process: the expected job result."""
    from tmapreduce_spark.registry import default_registry

    jt = default_registry().get(job_type)
    groups: dict[str, list[str]] = {}
    with tracer.span("registry", "map", type=job_type, cls=cls):
        for k, v in sorted(kvs):
            for ok, ov in jt.map_fn(k, v):
                groups.setdefault(ok, []).append(ov)
    out: list[str] = []
    with tracer.span("registry", "reduce", type=job_type, cls=cls):
        for k in sorted(groups):
            out.extend(jt.reduce_fn(k, groups[k]))
    return out


class MrJobsWorkload:
    uses_tables = False
    # Two timed rounds: one round's wall time moved by 3-10% from the round
    # before it in the same run, so pass_s is the mean of two.
    min_passes = 2

    def __init__(self, sizes: dict[str, int]):
        self.sizes = sizes

    def prepare(self, ctx: Ctx) -> None:
        from tmapreduce_spark.gateway import Gateway
        from tmapreduce_spark.mapreduce import MapReduceEngine

        with ctx.tracer.span("mapreduce", "engine"):
            self.engine = MapReduceEngine(ctx.spark)
        with ctx.tracer.span("gateway", "start"):
            self.gateway = Gateway(self.engine).start()
        self.url = f"http://127.0.0.1:{self.gateway.port}"
        # One vocabulary for every seed, so each word lands on the same
        # reducer in every run; the seed draws the documents.
        self.vocab = np.array(_vocabulary(np.random.default_rng(0)), dtype=object)
        self.rng = np.random.default_rng(ctx.seed)
        ranks = np.arange(1, len(self.vocab) + 1)
        self.p = (1.0 / ranks**1.1) / np.sum(1.0 / ranks**1.1)

    def close(self) -> None:
        self.gateway.stop()

    def warm_up(self, ctx: Ctx) -> list[Op]:
        """One untimed round of small payloads only: every job type runs
        through the gateway once. The full-size rounds after it ran within
        5% of each other, the first one included, so a full-size warm-up
        round (about 19 s) is not needed."""
        saved = self.sizes
        self.sizes = {"small": saved["small"]}
        try:
            return self.run_pass(ctx, traced=False)[0]
        finally:
            self.sizes = saved

    def _payload(self, n_docs: int) -> list[tuple[str, str]]:
        lens = self.rng.integers(10, 60, n_docs)
        words = self.vocab[self.rng.choice(len(self.vocab), int(lens.sum()), p=self.p)]
        cuts = np.concatenate([[0], np.cumsum(lens)])
        return [(f"doc{i:06d}", " ".join(words[cuts[i]:cuts[i + 1]])) for i in range(n_docs)]

    def make_round(self, ctx: Ctx) -> list[dict]:
        """One round: every job type at every payload size, in a fixed order,
        small payloads first, so that the two clients mostly run jobs of one
        class side by side; the payloads come from the run's seed."""
        jobs = []
        for cls, n in self.sizes.items():
            for t in MR_TYPES:
                kvs = self._payload(n)
                jobs.append({"type": t, "cls": cls, "kvs": kvs, "token": f"tok{len(jobs)}",
                             "expected": reference_result(t, kvs, ctx.tracer, cls)})
        return jobs

    def _http(self, method: str, path: str, body: bytes | None = None):
        req = urllib.request.Request(self.url + path, data=body, method=method)
        if body is not None:
            req.add_header("Content-Type", "application/json")
        try:
            with urllib.request.urlopen(req, timeout=OP_TIMEOUT_S) as r:
                return r.status, json.loads(r.read() or b"null")
        except urllib.error.HTTPError as e:
            data = e.read()
            return e.code, json.loads(data) if data else None

    def _client_job(self, ctx: Ctx, job: dict) -> Op:
        tr = ctx.tracer
        name, token = f"{job['type']}/{job['cls']}", job["token"]
        body = json.dumps({
            "name": name, "type": job["type"], "mapper_num": MR_TASKS,
            "reducer_num": MR_TASKS, "token": token,
            "kvs": [{"key": k, "value": v} for k, v in job["kvs"]],
        }).encode()
        polls, result, err = 0, None, None
        t0 = time.perf_counter()
        with tr.span("gateway", "job", op=name):
            with tr.span("gateway", "launch", op=name):
                status, doc = self._http("POST", "/launch", body)
            if status != 200:
                err = f"launch HTTP {status}: {doc}"
            else:
                q = f"/getresult?job_id={doc['job_id']}&token={token}"
                while time.perf_counter() - t0 < OP_TIMEOUT_S:
                    polls += 1
                    with tr.span("gateway", "poll", op=name):
                        status, doc = self._http("GET", q)
                    if status == 200:
                        result = doc["result"]
                        break
                    if "not finished" not in (doc or {}).get("message", ""):
                        err = f"getresult HTTP {status}: {doc}"
                        break
                    time.sleep(POLL_INTERVAL_S)
                else:
                    err = "timed out"
        t1 = time.perf_counter()
        ok = err is None and result == job["expected"]
        if err is None and not ok:
            err = "result differs from the registry reference"
        return Op(name, job["cls"], t1 - t0, ok, err, polls)

    def run_pass(self, ctx: Ctx, traced: bool) -> tuple[list[Op], float]:
        """One round; its wall time runs from the first launch to the last
        result, with payload generation and references made beforehand."""
        jobs = self.make_round(ctx)
        queue = list(jobs)
        lock = threading.Lock()
        ops: list[Op] = []

        def client():
            while True:
                with lock:
                    if not queue:
                        return
                    job = queue.pop(0)
                op = self._client_job(ctx, job)
                with lock:
                    ops.append(op)

        before = set(job_ids(ctx.spark, None)) if traced else set()
        t0 = time.perf_counter()
        threads = [threading.Thread(target=client) for _ in range(MR_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall = time.perf_counter() - t0
        if traced:
            _record_stages(ctx, sorted(set(job_ids(ctx.spark, None)) - before))
            for op in ops:
                ctx.add("gateway.polls", op.polls)
            self._direct(ctx, jobs)
        return ops, wall

    def _direct(self, ctx: Ctx, jobs: list[dict]) -> None:
        """The same payloads through engine.launch + wait, with no HTTP."""
        sc = ctx.spark.sparkContext
        for job in jobs:
            name = f"{job['type']}/{job['cls']}"
            group = ctx.group(name.replace("/", "-"))
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            with ctx.tracer.span("mapreduce", "launch_wait", op=name, cls=job["cls"]):
                jid = self.engine.launch(name, job["type"], job["kvs"], MR_TASKS, MR_TASKS)
                self.engine.wait(jid)
            dt = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs_ = job_ids(ctx.spark, group)
            tot = stage_totals(ctx.spark, jobs_)
            ctx.direct.append((job["cls"], dt, tot))
