"""The workloads: ``llm_vector`` replays registry entries, ``record_store``
drives RecordStore, QueryRegistry and the payload builder. Each is a
closed loop with one client: an op starts when the one before it has
returned.

A workload has three phases, all driven by ``run.py``:

- ``setup``: builds and one untimed, output-checked op of every type;
- ``passes`` x ``pass_ops``: the timed schedule, fixed by the run length;
- ``run(i, op)``: one timed op.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np

from spans import Engine, Tracer

class Failed(Exception):
    """An op returned a result that does not match the expected one."""


class Context:
    def __init__(self, spark, data_dir, run_dir, seed, seconds, tracer: Tracer):
        self.spark = spark
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.engine = Engine(spark, tracer)
        self.attempted = 0
        self.failed: list[str] = []
        self.warmup_s: dict[str, float] = {}

    def check(self, name: str, fn) -> None:
        """Run one checked, untimed op; a raise or a mismatch is a failure."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as e:  # noqa: BLE001 — any failure counts
            self.failed.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        finally:
            self.warmup_s[name] = time.perf_counter() - t0


# -- llm_vector ---------------------------------------------------------------


class LlmVectorWorkload:
    """Registry entries, each run as ``fn(spark, data_dir)`` (construction)
    followed by a write to the ``noop`` sink (execution). ``noop`` makes
    Spark compute every output column; ``count()`` would let Catalyst prune
    computed columns away."""

    # findSimilar (the three vector q-entries), the clustering dedup and PII
    # scrubbing. An odd count, so the pooled median lands on one entry's
    # samples, not between two. README.md says why the other registry
    # entries are left out.
    ENTRIES = (
        "dedup_clusters",
        "q02_lookup_topk",
        "q24_vector_kernels",
        "q25_find_similar",
        "text_pii",
    )
    OPS_PER_S = 0.94  # warm ops per second on 4 cores: sizes the schedule

    def __init__(self, ctx: Context):
        from sum_spark.queries import REGISTRY

        self.ctx = ctx
        self.registry = REGISTRY
        # The schedule: passes over the entries, always in the same order.
        # Its length is fixed by the run length, never by the clock. The
        # order is not shuffled by the seed: while the JIT is still
        # compiling, an entry's latency depends on its place in the window,
        # and a seeded shuffle moved single entries by 40% between seeds.
        self.pass_ops = list(self.ENTRIES)
        self.passes = max(1, round(ctx.seconds * self.OPS_PER_S / len(self.ENTRIES)))
        self.construct_s = 0.0
        self.construct_jobs = 0
        self.plan_s = 0.0
        self.execute_s = 0.0

    def setup(self) -> None:
        from oracle_check import compare, duck_connection

        from sum_spark.queries.base import render_oracle

        duck = duck_connection(self.ctx.data_dir)
        for name in self.ENTRIES:
            q = self.registry[name]

            def warm(q=q, name=name):
                df = q.fn(self.ctx.spark, self.ctx.data_dir)
                # compare() collects the output: that is the warm-up execution.
                if q.oracle:
                    errs = compare(df, duck.execute(render_oracle(q.oracle)).df(), name, strict=True)
                elif df.count() == 0:
                    errs = [f"{name}: no rows"]
                else:
                    errs = []
                if errs:
                    raise Failed("; ".join(errs))

            self.ctx.check(name, warm)
        duck.close()

    def run(self, i: int, name: str) -> None:
        ctx, eng, tr = self.ctx, self.ctx.engine, self.ctx.tracer
        fn = self.registry[name].fn
        eng.group(f"op{i}.construct")
        t0 = time.perf_counter()
        with tr.span("queries.construct"):
            df = fn(ctx.spark, ctx.data_dir)
        t1 = time.perf_counter()
        self.construct_s += t1 - t0
        self.construct_jobs += eng.collect(f"op{i}.construct")
        if tr.enabled:  # extra planning the untraced run does not do
            with tr.bookkeeping(), tr.span("catalyst.plan"):
                t2 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                self.plan_s += time.perf_counter() - t2
        eng.group(f"op{i}.execute")
        t3 = time.perf_counter()
        with tr.span("engine.execute"):
            df.write.format("noop").mode("overwrite").save()
        self.execute_s += time.perf_counter() - t3
        eng.collect(f"op{i}.execute")

    def layer_metrics(self) -> dict:
        return {
            "queries.construct_s": self.construct_s,
            "queries.construct_jobs": self.construct_jobs,
            "catalyst.plan_s": self.plan_s,
            "engine.execute_s": self.execute_s,
        }


# -- record_store -------------------------------------------------------------

# Registered through QueryRegistry.create_source, like a user's stored query.
STORED_QUERY = '''
def label_stats(df, label):
    from pyspark.sql import functions as F
    row = (
        df.where(F.col("meta")["label"] == label)
        .agg(F.count("*").alias("n"), F.min("id").alias("lo"), F.max("id").alias("hi"))
        .first()
    )
    return {"label": label, "n": row["n"], "lo": row["lo"], "hi": row["hi"]}
'''

# One round of the op mix: a quarter writes, fixed order. The seed draws
# every op's ids, labels and vectors; the order of op types is the same
# in every run, so the store passes through the same netting and
# compaction states whatever the seed.
ROUND = (
    "read", "call", "create", "read", "list", "update",
    "read", "find", "call", "delete", "read", "list",
)


class RecordStoreWorkload:
    N_RECORDS = 2_000
    DIM = 64
    LABELS = 8
    BUCKETS = 4
    AUTO_COMPACT_AFTER = 2
    OPS_PER_S = 2.25  # warm ops per second on 4 cores: sizes the schedule

    def __init__(self, ctx: Context):
        from sum_spark.registry import QueryRegistry
        from sum_spark.store import RecordStore

        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.np_rng = np.random.default_rng(ctx.seed)
        self.path = os.path.join(ctx.run_dir, "store")
        self.store = RecordStore(
            ctx.spark, self.path, num_buckets=self.BUCKETS, auto_compact_after=self.AUTO_COMPACT_AFTER
        )
        self.registry = QueryRegistry()
        self.registry.create_source(STORED_QUERY)
        # The benchmark's own model of the store: id -> (data, meta).
        self.model: dict[int, tuple[list[float], dict]] = {}
        self.live: list[int] = []
        self.pos: dict[int, int] = {}
        self._wrap_compact()
        self.pass_ops = list(ROUND)
        self.passes = max(1, round(ctx.seconds * self.OPS_PER_S / len(ROUND)))
        self.bulk_load_s = 0.0
        self._reset_counters()

    def _reset_counters(self) -> None:
        """Zero the per-layer counters; the window's count from here."""
        self.compactions = 0
        self.compact_s = 0.0
        self.m = dict.fromkeys(
            ("registry_run_s", "payload_build_s", "payload_bytes", "reads", "read_jobs",
             "netting_reads", "files_max", "written_bytes", "written_logical"),
            0,
        )
        self._seen = {f: os.path.getsize(f) for f in self._parquet_files()}

    def _wrap_compact(self) -> None:
        inner = self.store.compact

        def compact():
            t0 = time.perf_counter()
            with self.ctx.tracer.span("store.compact"):
                inner()
            self.compact_s += time.perf_counter() - t0
            self.compactions += 1

        self.store.compact = compact

    # model bookkeeping
    def _vec(self) -> list[float]:
        return self.np_rng.random(self.DIM, dtype=np.float32).tolist()

    def _meta(self) -> dict:
        return {"label": f"l{self.rng.randrange(self.LABELS)}"}

    def _put(self, rid: int, data, meta) -> None:
        if rid not in self.model:
            self.pos[rid] = len(self.live)
            self.live.append(rid)
        self.model[rid] = (data, meta)

    def _drop(self, rid: int) -> None:
        del self.model[rid]
        i = self.pos.pop(rid)
        last = self.live.pop()
        if last != rid:
            self.live[i] = last
            self.pos[last] = i

    @staticmethod
    def _logical_bytes(data, meta) -> int:
        # id + float32 data + one shape long + meta strings
        return 8 + 4 * len(data) + 8 + sum(len(k) + len(v) for k, v in meta.items())

    def setup(self) -> None:
        seed_rows = self.np_rng.random((self.N_RECORDS, self.DIM), dtype=np.float32)
        records = {i + 1: seed_rows[i].tolist() for i in range(self.N_RECORDS)}
        t0 = time.perf_counter()
        with self.ctx.tracer.span("store.bulk_load"):
            self.store.create_many_with_id(records)
        self.bulk_load_s = time.perf_counter() - t0
        for rid, data in records.items():
            self._put(rid, data, {})
        self.next_id = self.N_RECORDS + 1
        for kind in dict.fromkeys(ROUND):  # one untimed, checked op of every type
            self.ctx.check(f"warmup.{kind}", lambda kind=kind: self.run(-1, kind))
        self._reset_counters()

    def run(self, i: int, kind: str) -> None:
        eng = self.ctx.engine
        group = f"op{i}.{kind}"
        eng.group(group)
        netting = os.path.isfile(os.path.join(self.path, "_tombstones"))
        getattr(self, f"_{kind}")()
        jobs = eng.collect(group)
        if self.ctx.tracer.enabled:
            with self.ctx.tracer.bookkeeping():
                self._observe_files(kind)
            if kind == "read":
                self.m["reads"] += 1
                self.m["read_jobs"] += jobs
                self.m["netting_reads"] += netting

    def _parquet_files(self) -> list[str]:
        return [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(self.path)
            for f in fs
            if f.endswith(".parquet")
        ]

    def _observe_files(self, kind: str) -> None:
        """File count, and the bytes of every parquet file a write (or the
        compaction it triggered) added."""
        files = self._parquet_files()
        self.m["files_max"] = max(self.m["files_max"], len(files))
        if kind in ("create", "update", "delete"):
            for f in files:
                if f not in self._seen:
                    self._seen[f] = os.path.getsize(f)
                    self.m["written_bytes"] += self._seen[f]
            self._seen = {f: self._seen[f] for f in files}

    # -- the ops ------------------------------------------------------------

    def _pick(self) -> int:
        return self.live[self.rng.randrange(len(self.live))]

    def _read(self) -> None:
        rid = self._pick()
        with self.ctx.tracer.span("store.read"):
            row = self.store.read(rid)
        data, meta = self.model[rid]
        if row["id"] != rid or list(row["data"]) != data or dict(row["meta"] or {}) != meta:
            raise Failed(f"read {rid}")

    def _list(self) -> None:
        after = self._pick()
        with self.ctx.tracer.span("store.list_after"):
            rows = self.store.list_after(after, per_page=10)
        want = sorted(r for r in self.model if r > after)[:10]
        if [r["id"] for r in rows] != want:
            raise Failed(f"list_after {after}")

    def _find(self) -> None:
        label = f"l{self.rng.randrange(self.LABELS)}"
        with self.ctx.tracer.span("store.find_by_meta"):
            rows = self.store.find_by_meta("label", label)
        want = sorted(r for r, (_, m) in self.model.items() if m.get("label") == label)
        if [r["id"] for r in rows] != want:
            raise Failed(f"find_by_meta {label}")

    def _call(self) -> None:
        from sum_spark.payload import build_payload

        label = f"l{self.rng.randrange(self.LABELS)}"
        t0 = time.perf_counter()
        with self.ctx.tracer.span("registry.run"):
            result = self.registry.run("label_stats", self.store.df, label)
        t1 = time.perf_counter()
        with self.ctx.tracer.span("payload.build"):
            payload = build_payload(result)
        t2 = time.perf_counter()
        self.m["registry_run_s"] += t1 - t0
        self.m["payload_build_s"] += t2 - t1
        self.m["payload_bytes"] += len(payload.data)
        ids = [r for r, (_, m) in self.model.items() if m.get("label") == label]
        want = {"label": label, "n": len(ids), "lo": min(ids, default=None), "hi": max(ids, default=None)}
        if payload.decode() != want:
            raise Failed(f"call label_stats {label}")

    def _create(self) -> None:
        data, meta = self._vec(), self._meta()
        with self.ctx.tracer.span("store.create"):
            rid = self.store.create(data, meta=meta)
        if rid != self.next_id:
            raise Failed(f"create returned id {rid}, want {self.next_id}")
        self.next_id += 1
        self._put(rid, data, meta)
        self.m["written_logical"] += self._logical_bytes(data, meta)

    def _update(self) -> None:
        rid = self._pick()
        data, meta = self._vec(), self._meta()
        with self.ctx.tracer.span("store.update"):
            self.store.update(rid, data=data, meta=meta)
        self._put(rid, data, meta)
        self.m["written_logical"] += self._logical_bytes(data, meta)

    def _delete(self) -> None:
        rid = self._pick()
        data, meta = self.model[rid]
        with self.ctx.tracer.span("store.delete"):
            self.store.delete(rid)
        self._drop(rid)
        self.m["written_logical"] += self._logical_bytes(data, meta)

    # -- end-of-run ---------------------------------------------------------

    def space_amp(self) -> float:
        disk = sum(os.path.getsize(f) for f in self._parquet_files())
        logical = sum(self._logical_bytes(d, m) for d, m in self.model.values())
        return disk / logical

    def layer_metrics(self) -> dict:
        m = self.m
        return {
            "store.bulk_load_s": self.bulk_load_s,
            "store.compactions": self.compactions,
            "store.compact_s": self.compact_s,
            "store.files_max": m["files_max"],
            "store.jobs_per_read": m["read_jobs"] / max(1, m["reads"]),
            "store.netting_read_share": m["netting_reads"] / max(1, m["reads"]),
            "store.write_amp": m["written_bytes"] / max(1, m["written_logical"]),
            "store.space_amp": self.space_amp(),
            "registry.run_s": m["registry_run_s"],
            "payload.build_s": m["payload_build_s"],
            "payload.bytes": m["payload_bytes"],
        }


WORKLOADS = {
    "llm_vector": LlmVectorWorkload,
    "record_store": RecordStoreWorkload,
}
