"""The benchmark's workloads, driven through the package's public entry
points only: ``WeatherEngine``, ``streaming_etl``,
``prepare_training_corpus`` and ``QUERIES``.

One closed-loop client: each op starts when the previous one returns.
Every op (an endpoint call, a stream drain, a corpus pass, a query) is
recorded as attempted; an exception or a failed check marks it failed.
Checks run outside the timed passes.
"""

from __future__ import annotations

import math
import os
import random
import time
import traceback
from dataclasses import dataclass, field
from itertools import islice

from . import inputs


@dataclass
class Op:
    name: str
    phase: str  # warm | timed | traced | control
    seconds: float
    ok: bool = True
    error: str | None = None
    detail: dict = field(default_factory=dict)


class OpLog:
    def __init__(self):
        self.ops: list[Op] = []

    def run(self, name: str, phase: str, fn, tracer=None):
        """Time ``fn()`` as one op; returns (op, result or None)."""
        t0 = time.perf_counter()
        try:
            if tracer is None:
                result = fn()
            else:
                with tracer.span(f"op.{name}"):
                    result = fn()
            op = Op(name, phase, time.perf_counter() - t0)
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            result = None
            op = Op(name, phase, time.perf_counter() - t0, False, traceback.format_exc(limit=3))
        self.ops.append(op)
        return op, result

    @staticmethod
    def fail(op: Op, reason: str) -> None:
        op.ok = False
        op.error = (op.error + "; " if op.error else "") + reason

    def select(self, name: str | None = None, phase: str | None = "timed") -> list[Op]:
        return [
            o for o in self.ops if (phase is None or o.phase == phase) and (name is None or o.name == name)
        ]


# --------------------------------------------------------------------------
# weather_cycle
# --------------------------------------------------------------------------


class WeatherCycle:
    """The paper's loop on one catalog: a live 54-city poll through
    ``run_etl`` (the engine's source seam), the polls that arrived since the
    last cycle drained by ``streaming_etl(available_now=True)``, then
    ``train_models`` → ``promote`` → ``predict_temperature(100)``,
    ``predict_weather(100)``, ``evaluate(500)``. Tables grow every cycle."""

    name = "weather_cycle"
    HISTORY_POLLS = 8
    STREAM_POLLS = 4
    FILES_PER_TRIGGER = 2
    # lighter than train()'s defaults (50 trees, 5 folds: ~20 s a cycle on a
    # 4-core host) so that a run fits the benchmark's time budget
    TRAIN_KWARGS = {"n_trees": 10, "n_splits": 1}
    PREDICT_LIMIT = 100
    EVAL_LIMIT = 500

    def __init__(self, spark, work: str, seed: int, log: OpLog):
        from weatherdatapipeline_spark.engine import WeatherEngine

        self.spark, self.work, self.seed, self.log = spark, work, seed, log
        self._polls = inputs.weather_polls(seed)
        self._n_written = 0
        self._pending: list[str] = []
        self.engine = WeatherEngine(spark, os.path.join(work, "catalog"), source=self._source)
        self.stream_src = os.path.join(work, "stream_src")
        self.stream_stage = os.path.join(work, "stream_stage")
        self.checkpoint = os.path.join(work, "stream_checkpoint")
        os.makedirs(self.stream_src, exist_ok=True)
        self.rows_per_poll = len(inputs.CITIES)
        self.polls_ingested = 0
        self.stats_rows = 0
        self.train_calls = 0
        self.etl_ops: list[tuple[Op, int, dict | None]] = []
        self.drain_ops: list[tuple[Op, list]] = []
        self.predict_ops: list[tuple[Op, str, list | None]] = []
        self.eval_ops: list[tuple[Op, dict | None]] = []

    # -- inputs ------------------------------------------------------------

    def _write_polls(self, n: int, dest: str) -> list[str]:
        paths = []
        for table in islice(self._polls, n):
            paths.append(inputs.write_table(table, os.path.join(dest, f"poll_{self._n_written:05d}.parquet")))
            self._n_written += 1
        return paths

    def _source(self, spark):
        from weatherdatapipeline_spark.schemas import WEATHER_RAW

        return spark.read.schema(WEATHER_RAW).parquet(*self._pending)

    def _arrive(self) -> None:
        """Land the next cycle's inputs: one poll for ``run_etl`` and
        ``STREAM_POLLS`` files moved atomically into the stream source."""
        self._pending += self._write_polls(1, os.path.join(self.work, "etl"))
        for p in self._write_polls(self.STREAM_POLLS, self.stream_stage):
            os.replace(p, os.path.join(self.stream_src, os.path.basename(p)))

    # -- ops ---------------------------------------------------------------

    def _etl(self, phase: str, tracer=None) -> None:
        n_polls = len(self._pending)
        op, res = self.log.run("run_etl", phase, self.engine.run_etl, tracer)
        self.etl_ops.append((op, n_polls, res))
        self._pending = []
        if op.ok:
            self.polls_ingested += n_polls
            self.stats_rows += 1

    def _drain(self):
        from weatherdatapipeline_spark.schemas import WEATHER_RAW
        from weatherdatapipeline_spark.streaming.jobs import streaming_etl

        stream = (
            self.spark.readStream.schema(WEATHER_RAW)
            .option("maxFilesPerTrigger", self.FILES_PER_TRIGGER)
            .parquet(self.stream_src)
        )
        q = streaming_etl(stream, self.engine.catalog, available_now=True, checkpoint=self.checkpoint)
        q.awaitTermination()
        return [
            {"rows": p.numInputRows, "duration_ms": dict(p.durationMs)} for p in q.recentProgress
        ]

    def _read(self, name: str, kind: str, phase: str, tracer=None) -> None:
        call = getattr(self.engine, name)
        op, rows = self.log.run(name, phase, lambda: call(self.PREDICT_LIMIT).collect(), tracer)
        self.predict_ops.append((op, kind, rows))

    def setup(self) -> None:
        # the history lands with the warm cycle's poll: one run_etl of 9 polls
        self._pending = self._write_polls(self.HISTORY_POLLS, os.path.join(self.work, "etl"))
        self.run_pass("warm")

    def run_pass(self, phase: str, tracer=None) -> float:
        self._arrive()
        t0 = time.perf_counter()
        self._etl(phase, tracer)
        op, progress = self.log.run("stream_drain", phase, self._drain, tracer)
        self.drain_ops.append((op, progress or []))
        if op.ok:
            # numInputRows counts every read of the batch inside foreachBatch
            # (isEmpty, persist), so rows are checked against raw_weather
            self.polls_ingested += self.STREAM_POLLS
            self.stats_rows += sum(1 for p in progress if p["rows"])
        op, res = self.log.run(
            "train_models", phase, lambda: self.engine.train_models(**self.TRAIN_KWARGS), tracer
        )
        self.train_calls += op.ok
        self.log.run("promote", phase, lambda: self.engine.promote(res["version"]), tracer)
        self._read("predict_temperature", "regression", phase, tracer)
        self._read("predict_weather", "classification", phase, tracer)
        op, ev = self.log.run("evaluate", phase, lambda: self.engine.evaluate(self.EVAL_LIMIT), tracer)
        self.eval_ops.append((op, ev))
        return time.perf_counter() - t0

    # -- checks ------------------------------------------------------------

    def check(self) -> list[str]:
        from pyspark.sql import functions as F

        from weatherdatapipeline_spark.engine import MODEL_NAME

        problems: list[str] = []

        def bad(ops, msg):
            problems.append(msg)
            for op in ops:
                OpLog.fail(op, msg)

        for op, n_polls, res in self.etl_ops:
            if op.ok and (res["records"] != n_polls * self.rows_per_poll or res["cities_count"] != self.rows_per_poll):
                bad([op], f"run_etl returned {res}, expected {n_polls * self.rows_per_poll} records")
        want_batches = math.ceil(self.STREAM_POLLS / self.FILES_PER_TRIGGER)
        for op, progress in self.drain_ops:
            busy = sum(1 for p in progress if p["rows"])
            if op.ok and busy != want_batches:
                bad([op], f"drain ran {busy} non-empty micro-batches, expected {want_batches}")
        for op, _, rows in self.predict_ops:
            if op.ok and len(rows) != self.PREDICT_LIMIT:
                bad([op], f"{op.name} returned {len(rows)} rows, expected {self.PREDICT_LIMIT}")
        for op, ev in self.eval_ops:
            if op.ok and not (ev["n"] > 0 and all(math.isfinite(ev[k]) for k in ("mae", "rmse", "accuracy"))):
                bad([op], f"evaluate returned {ev}")

        ingest_ops = [o for o, *_ in self.etl_ops] + [o for o, _ in self.drain_ops]
        raw = self.engine.table("raw_weather")
        got = raw.agg(F.count("*").alias("n"), F.countDistinct("city", "timestamp").alias("k")).first()
        want = self.polls_ingested * self.rows_per_poll
        if got["n"] != want or got["k"] != want:
            bad(ingest_ops, f"raw_weather has {got['n']} rows / {got['k']} distinct (city, timestamp), expected {want}")
        n_stats = self.engine.table("weather_statistics").count()
        if n_stats != self.stats_rows:
            bad(ingest_ops, f"weather_statistics has {n_stats} rows, expected {self.stats_rows}")
        n_versions = len(self.engine.registry.versions(MODEL_NAME))
        if n_versions != self.train_calls:
            bad(self.log.select("train_models", phase=None), f"registry holds {n_versions} versions, expected {self.train_calls}")
        sunk = {r["pred_type"]: r["count"] for r in self.engine.table("predictions").groupBy("pred_type").count().collect()}
        for kind, col in (("regression", "pred_temperature"), ("classification", "pred_condition")):
            ops = [(o, rows) for o, k, rows in self.predict_ops if k == kind and o.ok]
            want = sum(1 for _, rows in ops for r in rows if r[col] is not None)
            if sunk.get(kind, 0) != want:
                bad([o for o, _ in ops], f"predictions sink has {sunk.get(kind, 0)} {kind} rows, expected {want}")
        return problems

    # -- reporting ---------------------------------------------------------

    def report(self, pass_s: list[float]) -> dict:
        from .measure import latency_summary, metric

        drains = [(op, p) for op, p in self.drain_ops if op.phase == "timed"]
        triggers = [b["duration_ms"].get("triggerExecution", 0) / 1e3 for _, p in drains for b in p if b["rows"]]
        rates = [self.STREAM_POLLS * self.rows_per_poll / op.seconds for op, _ in drains if op.ok]
        reads = latency_summary(self.log.select("predict_temperature") + self.log.select("predict_weather"))
        return {
            "cycle_s": metric(latency_summary(pass_s)["p50"], "s"),
            "etl_s": metric(latency_summary(self.log.select("run_etl"))["p50"], "s"),
            "train_s": metric(latency_summary(self.log.select("train_models"))["p50"], "s"),
            "predict_s": {**metric(reads.pop("p50"), "s"), **reads},
            "eval_s": metric(latency_summary(self.log.select("evaluate"))["p50"], "s"),
            "ingest_rows_per_s": metric(latency_summary(rates)["p50"], "rows/s"),
            "microbatch_s": metric(latency_summary(triggers)["p50"], "s"),
        }

    def close(self) -> None:
        pass

    def layer_detail(self, traced_ops: list[Op]) -> dict:
        """Streaming progress of the traced pass plus catalog file counts."""
        progress = [b for op, p in self.drain_ops if op.phase == "traced" for b in p]
        dur: dict[str, float] = {}
        for b in progress:
            for k, v in b["duration_ms"].items():
                dur[k] = dur.get(k, 0) + v
        from .measure import count_parquet

        return {
            "stream_progress_ms": dur,
            "stream_batches": len(progress),
            "stream_empty_batches": sum(1 for b in progress if not b["rows"]),
            "raw_files": count_parquet(os.path.join(self.work, "catalog", "raw_weather"))[0],
        }


# --------------------------------------------------------------------------
# corpus_query
# --------------------------------------------------------------------------


class CorpusQuery:
    """The LLM-data side: one ``prepare_training_corpus`` pass over a
    seeded corpus (with near-duplicate rewrites) and a registry query mix in
    seed-permuted order, each query built then collected. Text, dedup,
    sampling, chunking, graph and query layers; no ML, no catalog."""

    name = "corpus_query"
    N_DOCS = 1500
    NEAR_DUP_SHARE = 0.25
    N_LINEITEM = 20_000
    N_EVENTS = 20_000
    # Which half of each query's time is meant to dominate: plan build
    # (eager driver-side loops) or execution. Measured at this benchmark's
    # size on a 4-core host (warm, build/exec seconds): sssp 2.7/0.04,
    # funnel 1.4/0.2, q1 0.12/0.23, profile 0.26/1.1. Every run reports its
    # own per-query medians and whether these labels still hold.
    QUERY_MIX = {
        "sssp_converged_cosupply": "build",
        "streaming_funnel_per_window": "build",
        "q1_pricing_summary": "exec",
        "profile_lineitem_columns": "exec",
    }

    def __init__(self, spark, work: str, seed: int, log: OpLog):
        self.spark, self.work, self.seed, self.log = spark, work, seed, log
        self.data = os.path.join(work, "data")
        self.corpus_ops: list[tuple[Op, str, dict | None]] = []
        self.query_ops: list[tuple[Op, str, object]] = []
        self.oracle: dict = {}
        self._passes = 0
        # one seed-permuted order for every pass of a run, so passes (and the
        # traced pass against its untraced neighbours) do the same work
        self.order = list(self.QUERY_MIX)
        random.Random(seed).shuffle(self.order)

    def setup(self) -> None:
        import duckdb

        from weatherdatapipeline_spark.queries import ORACLES

        docs = inputs.documents(self.seed, self.N_DOCS, self.NEAR_DUP_SHARE)
        tables = {"documents": docs, **inputs.star_tables(self.seed, self.N_LINEITEM, self.N_EVENTS)}
        con = duckdb.connect()
        for name, table in tables.items():
            path = inputs.write_table(table, os.path.join(self.data, f"{name}.parquet"))
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        self.oracle = {q: con.execute(ORACLES[q]).df() for q in self.QUERY_MIX}
        con.close()
        self.run_pass("warm")

    def _corpus(self, out: str):
        from weatherdatapipeline_spark.pipelines import prepare_training_corpus

        docs = self.spark.read.parquet(os.path.join(self.data, "documents.parquet"))
        return prepare_training_corpus(self.spark, docs, out).first().asDict()

    def _query(self, name: str, detail: dict, tracer=None):
        from contextlib import nullcontext

        from weatherdatapipeline_spark.queries import QUERIES

        span = (lambda n: tracer.span(n)) if tracer else (lambda n: nullcontext())
        t0 = time.perf_counter()
        with span(f"query.{name}.build"):
            df = QUERIES[name](self.spark, self.data)
        t1 = time.perf_counter()
        with span(f"query.{name}.exec"):
            pdf = df.toPandas()
        detail["build_s"], detail["exec_s"] = t1 - t0, time.perf_counter() - t1
        return pdf

    def run_pass(self, phase: str, tracer=None) -> float:
        out = os.path.join(self.work, "corpus", f"pass_{self._passes}")
        self._passes += 1
        t0 = time.perf_counter()
        op, stats = self.log.run("corpus", phase, lambda: self._corpus(out), tracer)
        self.corpus_ops.append((op, out, stats))
        for name in self.order:
            detail: dict = {}
            op, pdf = self.log.run(f"query.{name}", phase, lambda: self._query(name, detail, tracer), tracer)
            op.detail = detail
            self.query_ops.append((op, name, pdf))
        return time.perf_counter() - t0

    def check(self) -> list[str]:
        import importlib.util

        import duckdb

        from . import ROOT

        # the repo's strict oracle comparison, loaded by path (``tools`` is
        # not a package): row count, column names, dtypes, value multiset
        path = os.path.join(ROOT, "tools", "check_oracle.py")
        spec = importlib.util.spec_from_file_location("check_oracle", path)
        check_oracle = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(check_oracle)
        problems = []
        for op, out, stats in self.corpus_ops:
            if not op.ok:
                continue
            got = duckdb.sql(
                "SELECT count(*), count(DISTINCT split), count(DISTINCT doc_id) "
                f"FROM read_parquet('{out}/**/*.parquet', hive_partitioning = true)"
            ).fetchone()
            want = (stats["n_chunks"], stats["n_splits"], stats["n_docs"])
            if tuple(got) != want or not 0 < stats["kept_ratio"] <= 1:
                msg = f"corpus stats {stats} disagree with the written parquet {got}"
                problems.append(msg)
                OpLog.fail(op, msg)
        for op, name, pdf in self.query_ops:
            if not op.ok:
                continue
            diff = check_oracle.strict_compare(pdf, self.oracle[name])
            if diff:
                msg = f"{name}: {'; '.join(diff)}"
                problems.append(msg)
                OpLog.fail(op, msg)
        self.query_ops = [(op, name, None) for op, name, _ in self.query_ops]
        return problems

    def close(self) -> None:
        """Drop the converted events copy the streaming query stages under
        ``<repo>/.stream_stage/`` (keyed by the data directory's path)."""
        import shutil

        from . import ROOT

        tag = self.data.strip("/").replace("/", "_")
        shutil.rmtree(os.path.join(ROOT, ".stream_stage", tag), ignore_errors=True)

    def report(self, pass_s: list[float]) -> dict:
        from .measure import latency_summary, metric

        corpus = self.log.select("corpus")
        queries = [op for op in self.log.select() if op.name.startswith("query.")]
        n = len(self.QUERY_MIX)
        mix = [sum(op.seconds for op in queries[i : i + n]) for i in range(0, len(queries), n)]
        split = {}
        for q, label in self.QUERY_MIX.items():
            ops = [op for op in queries if op.name == f"query.{q}" and op.ok]
            build = latency_summary([op.detail["build_s"] for op in ops])["p50"]
            execute = latency_summary([op.detail["exec_s"] for op in ops])["p50"]
            split[q] = {"label": label, "build_s": build, "exec_s": execute,
                        "holds": (build > execute) == (label == "build")}
        return {
            "corpus_docs_per_s": metric(
                latency_summary([self.N_DOCS / op.seconds for op in corpus if op.ok])["p50"], "docs/s"
            ),
            "query_mix_s": metric(latency_summary(mix)["p50"], "s"),
            "query_split": split,
            "query_labels_hold": all(v["holds"] for v in split.values()),
        }

    def layer_detail(self, traced_ops: list[Op]) -> dict:
        stats = [s for op, _, s in self.corpus_ops if op.phase == "traced" and s]
        return {
            "corpus_kept_ratio": stats[0]["kept_ratio"] if stats else 0.0,
            "queries": {
                op.name[len("query."):]: op.detail for op in traced_ops if op.name.startswith("query.")
            },
        }


WORKLOADS = {w.name: w for w in (WeatherCycle, CorpusQuery)}
