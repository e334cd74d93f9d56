"""The three workloads. Each drives the program only through its public
functions, generates its inputs from the seed, and checks every output
against a computation made outside the program (see checks.py).

A workload provides:

- ``generate()``: inputs and references, before any Spark session exists;
- ``warmup(spark)``: untimed ops run inside each set-up;
- ``prepare()`` then ``op(spark)``: one timed primary op, a whole round of
  operations; ``prepare`` makes the op's inputs before the timer starts;
- ``check_op()``: checks of the op just run, untimed;
- ``check_final(spark)``: checks of the final state, untimed;
- ``trace(spark)`` / ``layer_metrics(op, delta, interval)``: the traced
  mode's hooks and per-op layer metrics. ``self.tracer`` is a ``NullTracer`` until
  ``trace`` is called, so untraced runs pay one ``nullcontext`` per span.
"""

from __future__ import annotations

import os

import numpy as np

import checks
import gen
from tracing import DrainListener, NullTracer, SparkCounters, Tracer


class Workload:
    name = ""
    op_kinds: tuple[str, ...] = ()

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.attempted = dict.fromkeys(self.op_kinds, 0)
        self.tracer: Tracer | NullTracer = NullTracer()
        self.counters: SparkCounters | None = None

    def generate(self) -> None:
        pass

    def warmup(self, spark) -> None:
        self.prepare()
        self.op(spark)

    def prepare(self) -> None:
        pass

    def op(self, spark) -> None:
        raise NotImplementedError

    def check_op(self) -> list[str]:
        return []

    def check_final(self, spark) -> list[str]:
        return []

    def trace(self, spark, tracer: Tracer) -> None:
        self.tracer = tracer
        self.counters = SparkCounters(spark)

    def layer_metrics(self, op: int, delta: dict, interval) -> dict:
        return {}


# --------------------------------------------------------------------------
# medallion_batch: the historical raw -> stage -> spec refresh
# --------------------------------------------------------------------------


class MedallionBatch(Workload):
    name = "medallion_batch"
    op_kinds = ("medallion",)
    ROWS = 30_000
    WARMUP_OPS = 2

    def generate(self) -> None:
        self.raw = os.path.join(self.work, "raw")
        self.stage = os.path.join(self.work, "stage")
        self.spec = os.path.join(self.work, "spec")
        malformed = gen.write_card_raw(self.raw, self.seed, self.ROWS)
        rows, dropped = checks.landed_card_rows(self.raw)
        if dropped != malformed:
            raise RuntimeError(f"reference parser dropped {dropped} lines, {malformed} were malformed")
        self.valid_rows = rows.num_rows
        self.reference = checks.reference_spec(rows)

    def warmup(self, spark) -> None:
        for _ in range(self.WARMUP_OPS):
            self.op(spark)

    def op(self, spark) -> None:
        from bigdatapipelne_spark.plans.medallion import run_medallion

        self.attempted["medallion"] += 1
        self.completed = run_medallion(spark, self.raw, self.stage, self.spec)

    def check_op(self) -> list[str]:
        import pyarrow.dataset as ds

        errs = []
        if self.completed != ["stage", "spec"]:
            errs.append(f"run_medallion completed {self.completed}")
        staged = ds.dataset(self.stage, format="parquet", partitioning="hive").count_rows()
        if staged != self.valid_rows:
            errs.append(f"stage holds {staged} rows, {self.valid_rows} lines were valid")
        return errs + checks.check_spec(checks.read_spec_output(self.spec), self.reference)

    def trace(self, spark, tracer: Tracer) -> None:
        from bigdatapipelne_spark.plans import medallion

        super().trace(spark, tracer)
        # run_medallion's two steps each end in this call: stage, then spec
        tracer.wrap(medallion, "write_parquet_partitioned", "medallion.write")

    def layer_metrics(self, op: int, d: dict, interval) -> dict:
        stage_s, spec_s = (w["end"] - w["start"] for w in self.tracer.of_op(op, "medallion.write"))
        return {
            "medallion.stage_s": stage_s,
            "medallion.spec_s": spec_s,
            **{f"medallion.{k}": d[k] for k in (
                "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_write_mb", "input_mb", "output_mb")},
        }


# --------------------------------------------------------------------------
# realtime_alerts: land one events file, drain it into the serving store,
# read the flagged users' alerts back through the serving API
# --------------------------------------------------------------------------


class RealtimeAlerts(Workload):
    name = "realtime_alerts"
    op_kinds = ("drain", "lookup")
    EVENTS_PER_FILE = 1000
    WINDOWS_PER_FILE = 6
    USERS = 400
    HOT_USERS = 8
    LOOKUPS_PER_OP = 2
    WARMUP_DRAINS = 1
    PHASES = (
        ("latestOffset", "latest_offset_s"), ("getBatch", "get_batch_s"),
        ("queryPlanning", "query_planning_s"), ("addBatch", "add_batch_s"),
        ("walCommit", "wal_commit_s"), ("commitOffsets", "commit_offsets_s"),
    )

    def generate(self) -> None:
        self.events = os.path.join(self.work, "events")
        self.staging = os.path.join(self.work, "events_staging")
        self.store = os.path.join(self.work, "store")
        self.ckpt = os.path.join(self.work, "checkpoint")
        os.makedirs(self.events)
        os.makedirs(self.staging)
        self.landed: list[tuple[int, object]] = []
        self.api = None
        self.listener: DrainListener | None = None
        self.traced_drains = 0

    def prepare(self) -> None:
        """The next events file, its reference alerts, and the flagged
        users whose alerts the op reads back."""
        k = len(self.landed)
        table = gen.event_batch(
            self.seed, k, self.EVENTS_PER_FILE, self.WINDOWS_PER_FILE, self.USERS, self.HOT_USERS
        )
        self.alerts = checks.reference_alerts([(k, table)])[k]
        flagged = sorted({a[0] for a in self.alerts}, key=lambda u: (u * 2654435761) % 2**32)
        if len(flagged) < self.LOOKUPS_PER_OP:
            raise RuntimeError(f"events file {k} flags only {len(flagged)} users")
        self.next_file = (k, table)
        self.lookup_users = flagged[: self.LOOKUPS_PER_OP]

    def warmup(self, spark) -> None:
        from bigdatapipelne_spark.serving_api import ServingApi, TableSpec

        self.api = ServingApi(spark, {"alerts": TableSpec(self.store, "user_id")})
        for _ in range(self.WARMUP_DRAINS):
            self.prepare()
            self.op(spark)

    def op(self, spark) -> None:
        from bigdatapipelne_spark.streaming.fraud import (
            fraud_alerts,
            read_events_parquet_stream,
            stream_to_serving,
        )

        self.attempted["drain"] += 1
        k, table = self.next_file
        with self.tracer.span("drain"):
            gen.write_event_file(self.events, self.staging, k, table)
            self.landed.append(self.next_file)
            stream_to_serving(
                fraud_alerts(read_events_parquet_stream(spark, self.events)),
                self.store,
                ["user_id"],
                self.ckpt,
            )
        self.traced_drains += self.listener is not None
        self.responses = []
        self.lookup_jobs = []
        for u in self.lookup_users:
            self.attempted["lookup"] += 1
            mark = self.counters.mark() if self.counters else None
            with self.tracer.span("api.get"):
                resp = self.api.handler(
                    {"httpMethod": "GET", "queryStringParameters": {"TableName": "alerts", "Key": str(u)}}
                )
            if self.counters:
                self.lookup_jobs.append(self.counters.since(mark)["jobs"])
            self.responses.append((u, resp))

    def check_op(self) -> list[str]:
        errs = []
        for u, resp in self.responses:
            if resp["statusCode"] != "200":
                errs.append(f"GET user {u}: {resp['statusCode']} {resp['body'][:200]}")
                continue
            errs += [
                f"GET user {u}: {e}"
                for e in checks.check_lookup(
                    checks.lookup_items(resp["body"]),
                    checks.read_store_rows(self.store, u),
                    [a for a in self.alerts if a[0] == u],
                )
            ]
        return errs

    def check_final(self, spark) -> list[str]:
        expected = checks.expected_store(checks.reference_alerts(self.landed))
        return checks.check_store(checks.read_store_rows(self.store), expected)

    def trace(self, spark, tracer: Tracer) -> None:
        from bigdatapipelne_spark.operators import serving

        super().trace(spark, tracer)

        def touched(span, result):
            span["touched"] = len(result)

        tracer.wrap(serving, "merge_into_store", "serving.merge")
        tracer.wrap(serving, "_touched_buckets", "serving.touched", touched)
        self.listener = DrainListener()
        spark.streams.addListener(self.listener)

    def layer_metrics(self, op: int, d: dict, interval) -> dict:
        self.listener.wait_terminated(self.traced_drains)
        prog = self.listener.take()
        gets = self.tracer.of_op(op, "api.get")
        out = {
            "drain.batches": float(len(prog)),
            **{f"drain.{name}": sum(p[f"{phase}_ms"] for p in prog) / 1e3 for phase, name in self.PHASES},
            "drain.state_commit_s": sum(p["state_commit_ms"] for p in prog) / 1e3,
            "drain.state_rows": float(max((p["state_rows"] for p in prog), default=0)),
            "drain.jobs": d["jobs"] - sum(self.lookup_jobs),
            "drain.tasks": d["tasks"],
            "drain.executor_cpu_s": d["executor_cpu_s"],
            "serving.merge_s": self.tracer.seconds(op, "serving.merge"),
            "serving.touched_buckets": float(
                sum(s["touched"] for s in self.tracer.of_op(op, "serving.touched"))
            ),
            "serving.store_files": float(
                sum(f.endswith(".parquet") for _, _, fs in os.walk(self.store) for f in fs)
            ),
            "api.get_s": float(np.median([g["end"] - g["start"] for g in gets])),
            "api.jobs_per_lookup": float(np.mean(self.lookup_jobs)),
        }
        return out


# --------------------------------------------------------------------------
# corpus_dedup: a fixed pass of registered corpus queries
# --------------------------------------------------------------------------


class CorpusDedup(Workload):
    name = "corpus_dedup"
    QUERIES = ("minhash_near_dups", "embedding_near_dup", "embedding_ann_recall")
    op_kinds = QUERIES
    DOCS = 1500
    VECS = 500
    COSINE_THRESHOLD = 0.42

    def generate(self) -> None:
        import duckdb
        from bigdatapipelne_spark.queries import ORACLE, finalize_registry

        self.sf = os.path.join(self.work, "corpus")
        gen.write_corpus(self.sf, self.seed, self.DOCS, self.VECS)
        finalize_registry()
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        self.oracle = {}
        for q in self.QUERIES:
            cur = con.execute(ORACLE[q])
            self.oracle[q] = ([d[0] for d in cur.description], cur.fetchall())
        con.close()
        self.pairs, self.edge = checks.reference_cosine_pairs(
            gen.embeddings_matrix(self.seed, self.VECS), self.COSINE_THRESHOLD
        )
        self.construct_jobs: list[float] = []

    def _pass(self, spark, sink) -> None:
        """Each query's call (which may run eager jobs), then ``sink``."""
        from bigdatapipelne_spark.queries import QUERIES

        for q in self.QUERIES:
            mark = self.counters.mark() if self.counters else None
            with self.tracer.span("corpus.construct", query=q):
                df = QUERIES[q](spark, self.sf)
            if self.counters:
                self.construct_jobs.append(self.counters.since(mark)["jobs"])
            with self.tracer.span("corpus.execute", query=q):
                sink(q, df)

    def op(self, spark) -> None:
        for q in self.QUERIES:
            self.attempted[q] += 1
        self._pass(spark, lambda q, df: df.write.format("noop").mode("overwrite").save())

    def check_final(self, spark) -> list[str]:
        """Runs the pass once more, collecting each query's rows."""
        got = {}
        self._pass(spark, lambda q, df: got.__setitem__(q, (df.columns, [tuple(r) for r in df.collect()])))
        errs = []
        for q in self.QUERIES:
            cols, rows = got[q]
            pairs_q = q == "embedding_near_dup"
            errs += [
                f"{q}: {e}"
                for e in checks.check_oracle_rows(
                    cols, rows, *self.oracle[q],
                    skip=self.edge if pairs_q else frozenset(),
                    key_cols=("id_a", "id_b") if pairs_q else (),
                )
            ]
        errs += [
            f"embedding_near_dup vs numpy: {e}"
            for e in checks.check_cosine_pairs(got["embedding_near_dup"][1], self.pairs, self.edge)
        ]
        (cols, [row]) = got["embedding_ann_recall"]
        n_exact = dict(zip(cols, row))["n_exact_pairs"]
        if not self.edge and n_exact != len(self.pairs):
            errs.append(f"embedding_ann_recall counts {n_exact} exact pairs, numpy {len(self.pairs)}")
        return errs

    def layer_metrics(self, op: int, d: dict, interval) -> dict:
        jobs, self.construct_jobs = self.construct_jobs, []
        return {
            "corpus.construct_s": self.tracer.seconds(op, "corpus.construct"),
            "corpus.construct_jobs": float(sum(jobs)),
            "corpus.execute_s": self.tracer.seconds(op, "corpus.execute"),
            "corpus.jobs": d["jobs"],
            "corpus.tasks": d["tasks"],
            "corpus.shuffle_write_mb": d["shuffle_write_mb"],
            "corpus.python_cpu_s": interval.py,
        }


WORKLOADS = {w.name: w for w in (MedallionBatch, RealtimeAlerts, CorpusDedup)}
