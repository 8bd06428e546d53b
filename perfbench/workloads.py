"""The benchmark's workloads: set-up, a closed op loop, and result checks.

Each workload times calls into the program's public functions from outside
and records one ``Op`` per call. An op record carries how many user-level
ops the call completed (documents for ingest, finding aids for publish, one
request or query otherwise), its latency, and whether its result checked
out. Checks that need the whole run's output run after the timed loop.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field
from xml.etree import ElementTree as ET

import numpy as np

import datagen


@dataclass
class Op:
    kind: str
    n: int  # user-level ops this call completed
    start: float
    end: float
    ok: bool = True
    error: str | None = None
    meta: dict = field(default_factory=dict)

    @property
    def latency(self) -> float:
        return self.end - self.start


@dataclass
class Ctx:
    spark: object
    tracer: object
    inputs: str  # this run's generated inputs
    work: str  # scratch dir for the program's outputs and state
    tables: str  # base tables
    reference: dict | None = None  # analytics: query -> [rows, digest]
    warm_tables: str | None = None  # tiny tables for the analytics warm pass

    def sub(self, name: str) -> "Ctx":
        """The same context with inputs and work dir scoped to ``name``."""
        work = os.path.join(self.work, name)
        os.makedirs(work)
        return dataclasses.replace(self, inputs=os.path.join(self.inputs, name), work=work)


def concurrently(*fns) -> None:
    """Run the callables on threads of their own; re-raise the first error."""
    errors = []

    def guard(fn):
        try:
            fn()
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=guard, args=(fn,)) for fn in fns]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def _timed(ctx: Ctx, kind: str, n: int, name: str, fn, *args, op_id=None, **kw) -> Op:
    op = Op(kind, n, time.perf_counter(), 0.0)
    try:
        with ctx.tracer.span(name, op_id=op_id) as sp:
            op.meta["span"] = sp
            op.meta["result"] = fn(*args, **kw)
    except Exception as exc:  # noqa: BLE001 — a failed op is data
        op.ok, op.error = False, f"{type(exc).__name__}: {exc}"[:500]
    op.end = time.perf_counter()
    return op


def dir_usage(path: str, skip: tuple[str, ...] = ()) -> tuple[int, int]:
    """(bytes, files) under ``path``, ignoring top-level entries in ``skip``."""
    size = files = 0
    for dirpath, dirs, names in os.walk(path):
        if dirpath == path:
            dirs[:] = [d for d in dirs if d not in skip]
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

class Ingest:
    """The ingest path of ``Write``: JSONL shards landed and each drained through
    ``run_incremental_curation`` with the exact, MinHash and overlap
    ledgers on; ``compact_ingest_state`` folds the ledgers every
    ``COMPACT_EVERY`` shards."""

    kind = "ingest"
    COMPACT_EVERY = 2
    COMPACT_MAX_FILES = 1

    def __init__(self, ctx: Ctx):
        from pulfa_sausage_factory_spark.pipelines.curation_pipeline import CurationConfig

        self.ctx = ctx
        self.landing = os.path.join(ctx.work, "landing")
        self.state = os.path.join(ctx.work, "state")
        os.makedirs(self.landing)
        with open(os.path.join(ctx.inputs, "truth.json")) as f:
            self.truth = json.load(f)
        self.shards = sorted(os.listdir(os.path.join(ctx.inputs, "shards")))
        self.next_shard = 0
        self.input_bytes = 0
        self.cfg = CurationConfig(
            min_quality=0.0, neardup_method="none", neardup_ledger=True,
            neardup_threshold=0.5, overlap_ledger=True, overlap_sample_mod=4,
        )
        self.ops: list[Op] = []

    def _step(self, kind: str) -> Op:
        from pulfa_sausage_factory_spark.pipelines import curation_pipeline as cp

        s = self.next_shard
        self.next_shard += 1
        src = os.path.join(self.ctx.inputs, "shards", self.shards[s])
        tmp = os.path.join(self.ctx.work, self.shards[s])
        shutil.copyfile(src, tmp)
        self.input_bytes += os.path.getsize(tmp)
        os.replace(tmp, os.path.join(self.landing, self.shards[s]))  # land atomically
        n = len(self.truth["shards"][s])
        op = Op(kind, n, time.perf_counter(), 0.0, meta={"shard": s})
        tr = self.ctx.tracer
        try:
            with tr.span("op.ingest_shard", op_id=s) as sp:
                op.meta["span"] = sp
                rep = tr.call("curation.run_incremental_curation", cp.run_incremental_curation,
                              self.ctx.spark, self.landing, self.state, self.cfg)
                if len(rep["batches"]) != 1:
                    raise AssertionError(f"shard {s} drained as {len(rep['batches'])} batches")
                if s % self.COMPACT_EVERY == self.COMPACT_EVERY - 1:
                    tr.call("curation.compact_ingest_state", cp.compact_ingest_state,
                            self.ctx.spark, self.state, max_files=self.COMPACT_MAX_FILES)
        except Exception as exc:  # noqa: BLE001
            op.ok, op.error = False, f"{type(exc).__name__}: {exc}"[:500]
        op.end = time.perf_counter()
        return op

    def setup(self) -> None:
        # state seeding: the first shards pay the cold state machine
        for _ in range(self.truth["seed_shards"]):
            op = self._step("seed")
            if not op.ok:
                raise RuntimeError(f"ingest seeding failed: {op.error}")

    def check(self) -> dict:
        corpus = os.path.join(self.state, "corpus")
        admitted = set(self.ctx.spark.read.parquet(corpus).select("doc_id").toPandas().doc_id)
        planted = dropped = 0
        for op in self.ops:
            bad = 0
            for d in self.truth["shards"][op.meta["shard"]]:
                kept = d["doc_id"] in admitted
                if d["kind"] == "unique":
                    bad += not kept
                else:
                    planted += 1
                    dropped += not kept
                    bad += d["kind"] == "exact" and kept
            if bad and op.ok:
                op.ok, op.error = False, f"{bad} documents admitted/dropped wrongly"
                op.meta["failed"] = bad
        state_bytes, state_files = dir_usage(self.state, skip=("corpus",))
        return {
            "good": dropped, "of": planted,
            "layers": {
                "curation.state_bytes_per_input_byte": state_bytes / max(1, self.input_bytes),
                "curation.state_files": state_files,
            },
        }

    def in_prefix(self, op: Op) -> bool:
        return op.meta["shard"] < self.truth["seed_shards"] + 2


# ---------------------------------------------------------------------------
# publish
# ---------------------------------------------------------------------------

class Publish:
    """The publish path of ``Write``: batches of EAD finding aids, each published
    with ``run_pipeline`` (built-in fake fetcher and extractor), all runs
    journaled into one shared ``journal_dir``."""

    kind = "publish"
    STAGES = ("stage1_get_pdfs", "stage2_extract_pages", "stage34_encode",
              "stage5_mets", "stage7_update_eads")

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.journal = os.path.join(ctx.work, "journal")
        with open(os.path.join(ctx.inputs, "truth.json")) as f:
            self.truth = json.load(f)["batches"]
        self.next_batch = 0
        self.ops: list[Op] = []
        if ctx.tracer.enabled:
            self._trace_stages()

    def _trace_stages(self) -> None:
        """Spans around the stages ``run_pipeline`` calls, by wrapping the
        module attributes it resolves at call time."""
        from pulfa_sausage_factory_spark.pipelines import ead_pipeline
        from pulfa_sausage_factory_spark.streaming import incremental

        for st in self.STAGES:
            setattr(ead_pipeline, st,
                    self.ctx.tracer.wrap(f"ead_pipeline.{st}", getattr(ead_pipeline, st)))
        incremental.journal_publish = self.ctx.tracer.wrap(
            "incremental.journal_publish", incremental.journal_publish)

    def _step(self, kind: str) -> Op:
        from pulfa_sausage_factory_spark.pipelines import ead_pipeline

        b = self.next_batch
        self.next_batch += 1
        eads = os.path.join(self.ctx.inputs, "batches", f"b{b:03d}")
        cfg = ead_pipeline.EadPipelineConfig(
            work_dir=os.path.join(self.ctx.work, f"b{b:03d}"), journal_dir=self.journal)
        op = _timed(self.ctx, kind, self.truth[b]["fas"], "ead_pipeline.run_pipeline",
                    ead_pipeline.run_pipeline, self.ctx.spark, eads, cfg, op_id=b)
        op.meta.update(batch=b, work=cfg.work_dir)
        return op

    def setup(self) -> None:
        op = self._step("seed")  # the first publish pays the cold pipeline
        if not op.ok:
            raise RuntimeError(f"publish warm-up failed: {op.error}")
        self.last_run_id = op.meta["result"]["run_id"]

    def _check_one(self, op: Op, run_id: int) -> tuple[str | None, int, int]:
        exp, rep = self.truth[op.meta["batch"]], op.meta["result"]
        want = {"s1_report": exp["candidates"], "s2_pages": exp["pages"],
                "s34_encoded": exp["pages"], "s5_mets": exp["fetched"],
                "s7_eads": exp["fas"], "published": exp["fetched"] + exp["fas"],
                "unchanged": 0, "run_id": run_id}
        bad = {k: (rep.get(k), v) for k, v in want.items() if rep.get(k) != v}
        mets_dir = os.path.join(op.meta["work"], "mets")
        parsed = 0
        for name in sorted(os.listdir(mets_dir)) if os.path.isdir(mets_dir) else ():
            try:
                ET.parse(os.path.join(mets_dir, name))
                parsed += 1
            except ET.ParseError:
                bad[name] = "unparseable METS"
        return (f"mismatch {bad}" if bad else None), parsed, exp["fetched"]

    def check(self) -> dict:
        run_id, parsed, fetched = self.last_run_id, 0, 0
        for op in self.ops:
            if not op.ok:
                continue
            run_id += 1
            err, p, f = self._check_one(op, run_id)
            parsed, fetched = parsed + p, fetched + f
            if err:
                op.ok, op.error = False, err[:500]
        return {"good": parsed, "of": fetched, "layers": {}}

    def in_prefix(self, op: Op) -> bool:
        return op.meta["batch"] == 1


# ---------------------------------------------------------------------------
# serve + analytics (read)
# ---------------------------------------------------------------------------

class _Tickets:
    """Hands out serve tickets in order. An append ticket waits for every
    earlier read to finish and runs alone, so each read sees exactly the
    appends with smaller tickets — the state ``truth.npz`` was computed
    for."""

    def __init__(self, limit: int):
        self.limit, self.next = limit, 0
        self.reads = 0
        self.append_pending = False
        self.cond = threading.Condition()
        self.stop = threading.Event()

    @staticmethod
    def is_append(t: int) -> bool:
        return t % datagen.SERVE_APPEND_EVERY == datagen.SERVE_APPEND_EVERY - 1

    def take(self) -> int | None:
        with self.cond:
            while self.append_pending:
                self.cond.wait()
            if self.stop.is_set() or self.next >= self.limit:
                return None
            t, self.next = self.next, self.next + 1
            if self.is_append(t):
                self.append_pending = True
                self.cond.wait_for(lambda: self.reads == 0)
            else:
                self.reads += 1
            return t

    def done(self, t: int) -> None:
        with self.cond:
            if self.is_append(t):
                self.append_pending = False
            else:
                self.reads -= 1
            self.cond.notify_all()


class Read:
    """Serve and analytics clients on one session.

    Serve (2 clients): each read request loads the persisted PQ index
    (``load_pq_index``) and serves a batch of query vectors
    (``knn_from_index``); every ``SERVE_APPEND_EVERY``-th ticket appends new
    vectors (``append_to_pq_index``) instead. Analytics (1 client): the 14
    headline queries in a seeded order, whole passes, so every run measures
    the same query mix. The run ends when the analytics pass running at the
    deadline completes."""

    SERVE_CLIENTS = 2

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.ops: list[Op] = []
        self._lock = threading.Lock()
        self.index = os.path.join(ctx.work, "index")
        self.vectors = os.path.join(ctx.work, "vectors")  # grown corpus
        tdir = os.path.join(ctx.inputs, "serve", "tickets")
        self.tickets = sorted(os.path.join(tdir, t) for t in os.listdir(tdir))
        self.truth = np.load(os.path.join(ctx.inputs, "serve", "truth.npz"))["truth"]
        with open(os.path.join(ctx.inputs, "order.json")) as f:
            self.passes = json.load(f)["passes"]

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        concurrently(self._build_index, self._warm_queries)

    def _build_index(self) -> None:
        from pulfa_sausage_factory_spark.operators import ann_index

        spark, tr = self.ctx.spark, self.ctx.tracer
        os.makedirs(self.vectors)
        shutil.copyfile(os.path.join(self.ctx.tables, "embeddings.parquet"),
                        os.path.join(self.vectors, "base.parquet"))
        emb = spark.read.parquet(os.path.join(self.vectors, "base.parquet"))
        with tr.span("ann_index.build_pq_index"):  # train, encode and persist
            ann_index.save_pq_index(ann_index.build_pq_index(
                emb, m=8, n_codes=16, n_cells=16, iters=1, sample_fraction=1.0), self.index)
        # warm the read and append paths; the append lands in a throwaway
        # copy so the served index holds exactly what the truth assumes
        self._read(self.tickets[0], warm=True)
        scratch = os.path.join(self.ctx.work, "index_warm")
        shutil.copytree(self.index, scratch)
        ann_index.append_to_pq_index(spark, scratch, spark.read.parquet(self.tickets[
            datagen.SERVE_APPEND_EVERY - 1]))
        shutil.rmtree(scratch)

    def _warm_queries(self) -> None:
        """One pass over the small tables: plans and generated code are the
        same at any scale, so this pays the queries' one-time costs. Mostly
        code generation, single-threaded per query: spread over threads."""
        from analytics_queries import QUERY_NAMES, query_fn

        def warm(names):
            for name in names:
                query_fn(name)(self.ctx.spark, self.ctx.warm_tables).toArrow()

        concurrently(*(lambda k=k: warm(QUERY_NAMES[k::3]) for k in range(3)))

    # -- serve -------------------------------------------------------------
    def _read(self, ticket_path: str, warm: bool = False):
        from pulfa_sausage_factory_spark.operators import ann_index

        spark, tr = self.ctx.spark, self.ctx.tracer
        idx = (ann_index.load_pq_index(spark, self.index) if warm else
               tr.call("ann_index.load_pq_index", ann_index.load_pq_index, spark, self.index))
        corpus = spark.read.parquet(self.vectors)
        queries = spark.read.parquet(ticket_path)
        df = ann_index.knn_from_index(idx, corpus, queries, k=10)
        if warm:
            return df.collect()
        return tr.call("ann_index.knn_from_index", lambda: df.collect())

    def _append(self, t: int) -> dict:
        from pulfa_sausage_factory_spark.operators import ann_index

        spark = self.ctx.spark
        rep = self.ctx.tracer.call(
            "ann_index.append_to_pq_index", ann_index.append_to_pq_index,
            spark, self.index, spark.read.parquet(self.tickets[t]))
        # the grown corpus the rerank fetches raw vectors from
        shutil.copyfile(self.tickets[t], os.path.join(self.vectors, f"t{t:04d}.parquet"))
        return rep

    def _serve_client(self, tickets: _Tickets) -> None:
        while (t := tickets.take()) is not None:
            kind = "append" if tickets.is_append(t) else "knn"
            fn = (lambda t=t: self._append(t)) if kind == "append" else (
                lambda t=t: self._read(self.tickets[t]))
            try:
                op = _timed(self.ctx, kind, 1, f"op.{kind}", fn, op_id=t)
            finally:
                tickets.done(t)
            op.meta["ticket"] = t
            with self._lock:
                self.ops.append(op)

    # -- analytics ---------------------------------------------------------
    def _analytics_client(self, seconds: float, t0: float) -> None:
        from analytics_queries import query_fn, result_digest

        ref = self.ctx.reference
        for p, order in enumerate(self.passes):
            if p and time.perf_counter() - t0 >= seconds:
                break
            for i, name in enumerate(order):
                fn = query_fn(name)
                op = _timed(self.ctx, "query", 1, f"queries.{name}",
                            lambda fn=fn: fn(self.ctx.spark, self.ctx.tables).toArrow(),
                            op_id=p * 100 + i)
                op.meta.update(query=name, qpass=p)
                if op.ok:
                    got = result_digest(op.meta.pop("result"))
                    want = tuple(ref[name])
                    if got != want:
                        op.ok, op.error = False, f"{name}: got {got}, want {want}"
                with self._lock:
                    self.ops.append(op)

    def run(self, seconds: float) -> list[Op]:
        t0 = time.perf_counter()
        tickets = _Tickets(len(self.tickets))
        threads = [threading.Thread(target=self._serve_client, args=(tickets,))
                   for _ in range(self.SERVE_CLIENTS)]
        for th in threads:
            th.start()
        try:
            self._analytics_client(seconds, t0)
        finally:
            tickets.stop.set()
        for th in threads:
            th.join()
        return self.ops

    def check(self) -> dict:
        recalls = []
        for op in self.ops:
            if op.kind != "knn" or not op.ok:
                continue
            rows = op.meta.pop("result")
            got: dict[int, set] = {}
            for r in rows:
                got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            t = op.meta["ticket"]
            qids = datagen.QUERY_ID_BASE + t * 1000 + np.arange(self.truth.shape[1])
            if sorted(got) != sorted(qids.tolist()) or any(len(v) != 10 for v in got.values()):
                op.ok, op.error = False, f"ticket {t}: wrong result shape"
                continue
            for q, want in zip(qids, self.truth[t]):
                recalls.append(len(got[int(q)] & set(want.tolist())) / 10.0)
        log = os.path.join(self.index, "codes_append")
        live = len([d for d in os.listdir(log) if d.startswith("batch=")]) if os.path.isdir(log) else 0
        return {"good": float(np.sum(recalls)), "of": len(recalls),
                "layers": {"ann_index.live_log_batches": live}}

    def in_prefix(self, op: Op) -> bool:
        if op.kind == "query":
            return op.meta["qpass"] == 0
        return op.meta["ticket"] < datagen.SERVE_APPEND_EVERY


# ---------------------------------------------------------------------------
# ingest + publish (write)
# ---------------------------------------------------------------------------

class Write:
    """The two write paths on one session, one client each: the ingest
    client drains shards, the publish client publishes batches of finding
    aids, each in a closed loop. An op is one call on either path. Set-up
    seeds the ingest state and warms the publish pipeline at once."""

    def __init__(self, ctx: Ctx):
        self.ingest = Ingest(ctx.sub("ingest"))
        self.publish = Publish(ctx.sub("publish"))
        self.ops: list[Op] = []

    def setup(self) -> None:
        concurrently(self.ingest.setup, self.publish.setup)

    def run(self, seconds: float) -> list[Op]:
        t0 = time.perf_counter()

        def client(path, left):
            while time.perf_counter() - t0 < seconds and left():
                path.ops.append(path._step(path.kind))

        concurrently(
            lambda: client(self.ingest, lambda: self.ingest.next_shard < len(self.ingest.shards)),
            lambda: client(self.publish, lambda: self.publish.next_batch < len(self.publish.truth)))
        self.ops = self.ingest.ops + self.publish.ops
        return self.ops

    def check(self) -> dict:
        a, b = self.ingest.check(), self.publish.check()
        for op in self.ops:  # here an op is one call, whatever its size
            op.n = 1
            op.meta.pop("failed", None)
        return {"good": a["good"] + b["good"], "of": a["of"] + b["of"],
                "layers": {**a["layers"], **b["layers"]}}

    def in_prefix(self, op: Op) -> bool:
        return (self.ingest if op.kind == "ingest" else self.publish).in_prefix(op)


def make(name: str, ctx: Ctx):
    if name == "write":
        return Write(ctx)
    if name == "read":
        return Read(ctx)
    raise ValueError(f"unknown workload {name!r}")
