"""The benchmark workloads.

Each workload drives the engine only through its public functions, one
client in a closed loop: the next operation starts when the previous one
has returned. The unit of the loop is a *round*; a run measures a fixed
number of whole rounds, ``--seconds // ROUND_S``.

- ``medallion_ingest`` (the write side): one landing → bronze → silver →
  gold batch pass, then four event files through the quality-gated stream.
- ``query_mix`` (the read side): every registry pool query once, then one
  corpus dedup pass. It writes no tables.

A round reports its wall time, its latency samples of two kinds (see
``Round``), the input rows and bytes it consumed, and, when traced,
layer values read directly rather than from spans (streaming progress,
candidate counts). Spans are opened through the run's ``spans.Tracer``,
which records only while its ``on`` switch is set (traced rounds).
Output checks run untimed: ``checks()`` returns one ``(name, ok,
detail)`` per check.
"""

from __future__ import annotations

import json
import math
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import gen
import spans


@dataclass
class Round:
    """What one round (or one part of it) measured.

    ``queries`` and ``batches`` are the latency samples behind
    ``query_p*`` and ``batch_p*``, each of one kind of call per workload;
    ``queries_s`` is the time those queries ran in, ``rows_s`` the time
    the ``rows`` input rows were consumed in (the two rates)."""

    latency: float
    queries: list[tuple[str, float]] = field(default_factory=list)
    queries_s: float = 0.0
    batches: list[tuple[str, float]] = field(default_factory=list)
    rows: int = 0
    rows_s: float = 0.0
    in_bytes: int = 0
    layers: dict[str, float] = field(default_factory=dict)

    def __add__(self, other: "Round") -> "Round":
        return Round(self.latency + other.latency, self.queries + other.queries,
                     self.queries_s + other.queries_s, self.batches + other.batches,
                     self.rows + other.rows, self.rows_s + other.rows_s,
                     self.in_bytes + other.in_bytes, {**self.layers, **other.layers})


def noop(df) -> None:
    """Force a frame without keeping its output."""
    df.write.format("noop").mode("overwrite").save()


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    nbytes = nfiles = 0
    for d, _, files in os.walk(path):
        for f in files:
            nbytes += os.path.getsize(os.path.join(d, f))
            nfiles += 1
    return nbytes, nfiles


@contextmanager
def wrap_calls(tracer: spans.Tracer, module, attr: str, span_name: str, after=None):
    """While the block runs, every call to ``module.attr`` — from the
    engine or from the benchmark — runs inside a span named
    ``span_name``; ``after(span, args, result)`` may record counts. It
    runs in a ``trace.record`` span of its own, so its time counts in no
    layer's self time."""
    orig = getattr(module, attr)

    def traced(*a, **k):
        with tracer.span(span_name) as s:
            out = orig(*a, **k)
        if after is not None and s is not None:
            with tracer.span("trace.record"):
                after(s, a, out)
        return out

    setattr(module, attr, traced)
    try:
        yield
    finally:
        setattr(module, attr, orig)


class Workload:
    name = ""
    ROUND_S = 10.0  # nominal round time: a run measures --seconds // ROUND_S rounds

    def __init__(self, work: str, seed: int, n_rounds: int):
        self.work = work
        self.seed = seed
        self.n_rounds = n_rounds  # measured rounds, besides the warm-up
        self.spark = None
        self.tracer: spans.Tracer | None = None

    def generate(self) -> None:
        raise NotImplementedError

    def start(self, spark, tracer: spans.Tracer) -> None:
        self.spark, self.tracer = spark, tracer

    def warm_up(self) -> None:
        raise NotImplementedError

    def round(self, op: int) -> Round:
        raise NotImplementedError

    def checks(self) -> list[tuple[str, bool, str]]:
        raise NotImplementedError

    def dup_recall(self) -> float:
        raise NotImplementedError

    def finish(self, rounds: list[tuple[int, Round]]) -> None:
        """Complete round records from data only available after the
        timed window (streaming progress)."""

    def n_docs(self) -> int:
        """Corpus documents a round reads (per-doc layer ratios)."""
        return 0

    def state_bytes(self) -> int:
        """Bytes of engine state kept on disk besides Spark task outputs
        (a stream's checkpoint)."""
        return 0

    def close(self) -> None:
        pass


# ------------------------------------------------------ medallion batch

class MedallionPass:
    """Landing CSVs → bronze parquet → silver (Pipeline + quality.Suite)
    → gold (build_gold), every hop written as parquet."""

    LANDING = {"banks": ("\t", ["banks"]), "claims": (",", ["claims"]),
               "employees": ("|", ["employees_v1", "employees_v2"])}

    def __init__(self, wl: Workload):
        self.wl = wl
        self.inp = gen.medallion_landing(os.path.join(wl.work, "landing"), wl.seed)
        self.zones = os.path.join(wl.work, "zones")
        self.reports: list[dict] = []

    def start(self) -> None:
        from ingestao_dados_poli_spark import medallion as M
        from ingestao_dados_poli_spark import quality as Q
        from ingestao_dados_poli_spark.plans.pipeline import Pipeline, Sink, Source

        self.M = M
        suites = {
            "banks": Q.Suite("validacao_banks", [Q.not_null("nome"), Q.not_null("cnpj"),
                                                 Q.exists("cnpj"), Q.unique("cnpj")]),
            "claims": Q.Suite("validacao_claims", [Q.not_null("categoria"), Q.not_null("nome"),
                                                   Q.not_null("cnpj"), Q.exists("cnpj")]),
            "employees": Q.Suite("validacao_employees", [Q.not_null("segmento"),
                                                         Q.not_null("nome"), Q.exists("cnpj")]),
        }
        builders = {"banks": M.build_banks_silver, "claims": M.build_claims_silver,
                    "employees": M.build_employees_silver}
        self.pipelines = {
            ds: Pipeline(
                name=f"{ds}_silver",
                source=Source(path=self.zone("bronze", ds)),
                transforms=[builders[ds]],
                suite=suites[ds],
                sink=Sink(path=self.zone("silver", ds)),
            )
            for ds in suites
        }

    def zone(self, layer: str, ds: str = "") -> str:
        return os.path.join(self.zones, layer, ds)

    @contextmanager
    def _layer_spans(self):
        """Spans around the writer and validate calls the engine makes
        inside ``Pipeline.run``; the wrappers are in place for traced
        rounds only."""
        if not self.wl.tracer.on:
            yield
            return
        from ingestao_dados_poli_spark import quality as Q
        from ingestao_dados_poli_spark.sources import writers

        def wrote(s, args, _):
            s.counts["bytes_written"], s.counts["files_written"] = tree_size(args[1])

        def validated(s, _a, _r):
            s.counts["cached_bytes"] = spans.cached_bytes(self.wl.spark.sparkContext)

        tracer = self.wl.tracer
        with wrap_calls(tracer, writers, "write_parquet", "sources.writers.write", wrote), \
                wrap_calls(tracer, Q, "validate", "quality.validate", validated):
            yield

    def round(self) -> Round:
        """One pass; its hops (3 bronze, 3 silver, 1 gold) are the
        round's query samples."""
        from ingestao_dados_poli_spark.sources import readers, writers

        wl, M = self.wl, self.M
        spark, tr = wl.spark, wl.tracer
        queries, layers = [], {}
        t_round = time.perf_counter()
        with self._layer_spans(), tr.span("medallion.pass"):
            for ds, (sep, dirs) in self.LANDING.items():
                t0 = time.perf_counter()
                with tr.span("medallion.bronze"):
                    frames = [readers.read_csv(spark, os.path.join(self.inp.root, d), sep=sep)
                              for d in dirs]
                    df = M.align_employee_variants(*frames) if len(frames) == 2 else frames[0]
                    if tr.on:
                        with tr.span("sources.readers.scan"):
                            noop(df)
                    writers.write_parquet(df, self.zone("bronze", ds))
                queries.append((f"bronze.{ds}", time.perf_counter() - t0))
            for ds, p in self.pipelines.items():
                t0 = time.perf_counter()
                with tr.span("medallion.silver_hop"):
                    if tr.on:
                        with tr.span("sources.readers.scan") as s_scan:
                            noop(p.source.load(spark))
                        with tr.span("medallion.silver") as s_silver:
                            noop(p.build(spark))
                        layers["medallion.silver_self_s"] = (
                            layers.get("medallion.silver_self_s", 0.0)
                            + s_silver.duration - s_scan.duration)
                    with tr.span("plans.pipeline.run"):
                        report = p.run(spark)
                self.reports.append(report["validation"])
                queries.append((f"silver.{ds}", time.perf_counter() - t0))
            t0 = time.perf_counter()
            with tr.span("medallion.gold_hop"):
                gold = M.build_gold(
                    readers.read_parquet(spark, self.zone("silver", "banks")),
                    readers.read_parquet(spark, self.zone("silver", "claims")),
                    readers.read_parquet(spark, self.zone("silver", "employees")),
                    compat_int_index=True,
                )
                if tr.on:
                    with tr.span("medallion.gold"):
                        noop(gold)
                writers.write_parquet(gold, self.zone("gold"))
            queries.append(("gold", time.perf_counter() - t0))
        took = time.perf_counter() - t_round
        return Round(took, queries=queries, queries_s=took, rows=self.inp.rows, rows_s=took,
                     in_bytes=self.inp.bytes, layers=layers)

    def checks(self) -> list[tuple[str, bool, str]]:
        spark, out = self.wl.spark, []
        got = {}
        for r in spark.read.parquet(self.zone("gold")).toPandas().itertuples(index=False):
            cat = r[2] if isinstance(r[2], str) else None
            got[(r[0], r[1], cat)] = tuple(None if v is None or v != v else float(v) for v in r[3:])

        def same(a, b):
            if a is None or b is None:
                return a is None and b is None
            return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)

        want = self.inp.gold
        bad = [k for k in set(got) | set(want)
               if k not in got or k not in want or not all(map(same, got[k], want[k]))]
        out.append(("gold equals planted aggregates", not bad,
                    f"{len(bad)} of {len(want)} groups differ"))

        banks = spark.read.parquet(self.zone("silver", "banks")).select(
            "cnpj", "nome", "nome_fantasia").collect()
        got_b = sorted((tuple(r) for r in banks), key=repr)
        out.append(("banks silver names", got_b == self.inp.banks_silver,
                    f"{sum(a != b for a, b in zip(got_b, self.inp.banks_silver))} rows differ"))

        planted = {"validacao_banks": {"not_null nome": self.inp.violations["banks.nome"]},
                   "validacao_claims": {"not_null categoria": self.inp.violations["claims.categoria"]},
                   "validacao_employees": {"not_null segmento": self.inp.violations["employees.segmento"]}}
        wrong = sum(1 for rep in self.reports for res in rep["results"]
                    if res["rule"] in planted[rep["suite"]]
                    and res["unexpected_count"] != planted[rep["suite"]][res["rule"]])
        out.append(("quality reports count planted violations", wrong == 0,
                    f"{wrong} rule results wrong over {len(self.reports)} reports"))
        return out

    def duplicates(self) -> tuple[int, int]:
        """(duplicate bank rows the ``unique(cnpj)`` rule reports, planted)."""
        rep = next(r for r in reversed(self.reports) if r["suite"] == "validacao_banks")
        obs = next(r["observed"] for r in rep["results"] if r["rule"] == "unique cnpj")
        return obs["count"] - obs["distinct"], self.inp.duplicate_banks


# -------------------------------------------------------- event stream

class EventStream:
    """Event files renamed one at a time into a landing directory;
    read_file_stream → dedup_stream (watermark) → quality-gated
    foreachBatch that publishes certified batches to silver. The next
    file lands only after the batch holding the previous one was
    published or quarantined."""

    WAIT_S = 30.0

    def __init__(self, wl: Workload, n_files: int, quarantine_every: int):
        self.wl = wl
        root = os.path.join(wl.work, "stream")
        self.inp = gen.event_files(os.path.join(root, "staged"), wl.seed, n_files,
                                   quarantine_every=quarantine_every)
        self.landing = os.path.join(root, "landing")
        self.silver = os.path.join(root, "silver")
        self.quarantine = os.path.join(root, "quarantine")
        self.staging = os.path.join(root, "staging")
        self.checkpoint = os.path.join(root, "checkpoint")
        os.makedirs(self.landing, exist_ok=True)
        self.landed: list[int] = []                   # file indexes, landing order
        self.batches: list[dict] = []                 # one per gate call (stream thread)
        self.file_batch: dict[int, int] = {}          # file index -> batch id
        self.traced: dict[int, tuple[int, float]] = {}  # batch id -> (round op, landed at)
        self.cv = threading.Condition()
        self.query = None

    def start(self) -> None:
        from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                                       StructType, TimestampType)

        from ingestao_dados_poli_spark import quality as Q
        from ingestao_dados_poli_spark.sources import writers
        from ingestao_dados_poli_spark.streaming import stream_ops as S

        schema = StructType([
            StructField("event_id", LongType()), StructField("ts", TimestampType()),
            StructField("user_id", LongType()), StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ])
        suite = Q.Suite("events_gate", [Q.not_null("user_id"), Q.not_null("event_id"),
                                        Q.values_in_set("event_type", gen.EVENT_TYPES)])
        local = threading.local()

        def publish(df, batch_id: int) -> None:
            path = os.path.join(self.silver, f"batch_id={batch_id}")
            t0 = time.time()
            writers.write_parquet(df, path)
            local.publish = (t0, time.time(), *tree_size(path))

        reports: list = []
        gate = S.quality_gated_foreach_batch(suite, publish, self.quarantine, self.staging,
                                             reports)

        def body(df, batch_id: int) -> None:
            local.publish = None
            t0 = time.time()
            gate(df, batch_id)
            rec = {"batch_id": batch_id, "start": t0, "end": time.time(),
                   "report": reports[-1][1], "publish": local.publish}
            with self.cv:
                self.batches.append(rec)
                self.cv.notify_all()

        stream = S.read_file_stream(self.wl.spark, self.landing, schema, max_files_per_trigger=1)
        deduped = S.dedup_stream(stream, ["event_id"], ts_col="ts", watermark="10 minutes")
        self.query = (deduped.writeStream.foreachBatch(body)
                      .option("checkpointLocation", self.checkpoint).start())

    def land_one(self, op: int) -> Round:
        """Rename the next staged file into the landing directory and wait
        until the batch holding it has been published or quarantined. A
        published file's rename → publish latency is a batch sample."""
        i = len(self.landed)
        with self.cv:
            seen = len(self.batches)
        dst = os.path.join(self.landing, os.path.basename(self.inp.files[i]))
        t_land, t0 = time.time(), time.perf_counter()
        os.rename(self.inp.files[i], dst)
        self.landed.append(i)
        rec = None
        with self.cv:
            while rec is None:
                # a no-data batch (watermark advance) may run first
                rec = next((b for b in self.batches[seen:] if b["report"]["row_count"] > 0), None)
                if rec is None:
                    if time.time() > t_land + self.WAIT_S or self.query.exception() is not None:
                        raise RuntimeError(f"no batch published event file {i}")
                    self.cv.wait(1.0)
        latency = time.perf_counter() - t0
        self.file_batch[i] = rec["batch_id"]
        tracer = self.wl.tracer
        if tracer.on:
            root = tracer.record("streaming.batch", op, t_land, rec["end"])
            gate = tracer.record("quality.observe", op, rec["start"], rec["end"], root)
            if rec["publish"]:
                p0, p1, nbytes, nfiles = rec["publish"]
                w = tracer.record("sources.writers.write", op, p0, p1, gate)
                w.counts.update(bytes_written=nbytes, files_written=nfiles)
            self.traced[rec["batch_id"]] = (op, t_land)
        published = [("stream.file", latency)] if rec["report"]["certified"] else []
        return Round(latency, batches=published, rows=self.inp.rows[i], rows_s=latency,
                     in_bytes=os.path.getsize(dst))

    def progress(self) -> dict[int, dict]:
        """Data-batch progress reports by batch id."""
        return {p["batchId"]: p for p in (json.loads(p.json) for p in self.query.recentProgress)
                if p.get("numInputRows", 0) > 0}

    def finish(self, rounds: list[tuple[int, Round]]) -> None:
        """Add the progress durations, pickup lag and state size of the
        traced batches to their rounds: durations summed over a round's
        batches, state sizes as the round's largest."""
        deadline = time.time() + 10  # progress is posted after the batch commits
        prog = self.progress()
        while not self.traced.keys() <= prog.keys() and time.time() < deadline:
            time.sleep(0.1)
            prog = self.progress()
        by_op = dict(rounds)
        for bid, (op, t_land) in self.traced.items():
            p, r = prog.get(bid), by_op.get(op)
            if p is None or r is None:
                continue
            d, state = p["durationMs"], (p.get("stateOperators") or [{}])[0]
            for k, v in {
                "trigger_ms": d.get("triggerExecution", 0),
                "planning_ms": d.get("queryPlanning", 0),
                "add_batch_ms": d.get("addBatch", 0),
                "wal_commit_ms": d.get("walCommit", 0),
                "latest_offset_ms": d.get("latestOffset", 0),
                "pickup_lag_s": spans.epoch(p["timestamp"]) - t_land,
            }.items():
                key = f"streaming.stream_ops.{k}"
                r.layers[key] = r.layers.get(key, 0) + v
            for k, v in {"state_rows": state.get("numRowsTotal", 0),
                         "state_bytes": state.get("memoryUsedBytes", 0)}.items():
                key = f"streaming.stream_ops.{k}"
                r.layers[key] = max(r.layers.get(key, 0), v)

    def checks(self) -> list[tuple[str, bool, str]]:
        verdict = {b["batch_id"]: b["report"]["certified"] for b in self.batches}
        landed = set(self.landed)
        quarantined = {i for i in landed if not verdict.get(self.file_batch.get(i), True)}
        want_q = self.inp.quarantined & landed
        ids, want = self._silver_ids(), self._want_ids()
        extra = sorted(set(ids) - want)[:5]
        return [
            ("quarantined batches equal planted", quarantined == want_q,
             f"quarantined files {sorted(quarantined)} vs planted {sorted(want_q)}"),
            ("published rows equal distinct ids of certified batches",
             len(ids) == len(want) and set(ids) == want,
             f"{len(ids)} rows published, {len(want)} expected, unexpected ids {extra}"),
        ]

    def _silver_ids(self) -> list[int]:
        if not os.path.isdir(self.silver):
            return []
        return [r[0] for r in self.wl.spark.read.parquet(self.silver).select("event_id").collect()]

    def _want_ids(self) -> set:
        return {e for i in self.landed if i not in self.inp.quarantined
                for e in self.inp.fresh_ids[i]}

    def duplicates(self) -> tuple[int, int]:
        """(re-sent events in certified landed files kept out of silver,
        planted)."""
        ids = self._silver_ids()
        planted = sum(self.inp.dup_counts[i] for i in self.landed if i not in self.inp.quarantined)
        leaked = len(ids) - len(set(ids) & self._want_ids())
        return max(0, planted - leaked), planted

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()


class MedallionIngest(Workload):
    """The write side. Warm-up: one batch pass and one event file (the
    stream's costly first batch). A round: one batch pass, then four
    event files, one of which the quality gate must quarantine."""

    name = "medallion_ingest"
    ROUND_S = 11.0
    FILES_PER_ROUND = 4

    def generate(self) -> None:
        self.batch = MedallionPass(self)
        self.stream = EventStream(self, 1 + self.FILES_PER_ROUND * self.n_rounds,
                                  quarantine_every=self.FILES_PER_ROUND)

    def start(self, spark, tracer) -> None:
        super().start(spark, tracer)
        self.batch.start()
        self.stream.start()

    def warm_up(self) -> None:
        self.batch.round()
        self.stream.land_one(0)

    def round(self, op: int) -> Round:
        with self.tracer.span("medallion_ingest.round", op):
            r = self.batch.round()
            for _ in range(self.FILES_PER_ROUND):
                r = r + self.stream.land_one(op)
        return r

    def finish(self, rounds: list[tuple[int, Round]]) -> None:
        self.stream.finish(rounds)

    def checks(self) -> list[tuple[str, bool, str]]:
        return self.batch.checks() + self.stream.checks()

    def dup_recall(self) -> float:
        """Planted duplicates caught: bank rows reported by the unique
        rule plus re-sent events kept out of silver."""
        (a, pa), (b, pb) = self.batch.duplicates(), self.stream.duplicates()
        return (a + b) / (pa + pb)

    def state_bytes(self) -> int:
        return tree_size(self.stream.checkpoint)[0]

    def close(self) -> None:
        self.stream.close()


# ------------------------------------------------------------ query mix

# The query pool, fixed by a rule rather than by hand: take the queries
# of registry.relational, registry.relational_sql and registry.analytics
# in registry order; drop those that write files or start streams
# (q122, q138, q156) and those that read a table tpch_tables does not
# write (documents, embeddings: 10 queries); of the 87 left, take every
# 15th starting with the first. Fixed here so that a registry change
# does not change the benchmark.
POOL = [
    "q01_gold_flagship", "q18_rollup", "q52_regex_extract", "q100_rolling_time_avg",  # relational
    "q258_fifo_lot_attribution",                                                      # relational_sql
    "q121_bitmap_distinct",                                                           # analytics
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]


class RegistryPool:
    """Every pool query once per round, in a seeded order, each forced
    with the noop sink."""

    def __init__(self, wl: Workload):
        self.wl = wl
        self.dir = os.path.join(wl.work, "tables")
        gen.tpch_tables(self.dir, wl.seed)
        self.table_bytes = {t: os.path.getsize(os.path.join(self.dir, f"{t}.parquet"))
                            for t in TABLES}
        self.results = {}

    def start(self) -> None:
        from ingestao_dados_poli_spark import queries as Q

        self.Q = Q
        self.reads = {name: [t for t in TABLES if re.search(rf"\b{t}\b", Q.ORACLES[name])]
                      for name in POOL}

    def warm_up(self) -> None:
        # One untimed execution per pool query; its result is the output
        # the DuckDB check compares.
        for name in POOL:
            self.results[name] = self.Q.QUERIES[name](self.wl.spark, self.dir).toPandas()

    def round(self, op: int) -> Round:
        """Each pool query once; each is a query sample."""
        wl, tr = self.wl, self.wl.tracer
        queries, nbytes = [], 0
        t_round = time.perf_counter()
        for name in gen.query_sequence(POOL, wl.seed * 1000 + op, 1):
            t0 = time.perf_counter()
            with tr.span("registry.query"):
                with tr.span("registry.build"):
                    df = self.Q.QUERIES[name](wl.spark, self.dir)
                with tr.span("registry.execute"):
                    noop(df)
            queries.append((name, time.perf_counter() - t0))
            nbytes += sum(self.table_bytes[t] for t in self.reads[name])
        took = time.perf_counter() - t_round
        return Round(took, queries=queries, queries_s=took, in_bytes=nbytes)

    def checks(self) -> list[tuple[str, bool, str]]:
        """Each pool query's Spark result against its DuckDB oracle, with
        the comparison the repository's oracle gate uses."""
        import duckdb
        from tools.check_oracle import canon

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        out = []
        for name in POOL:
            sdf, odf = self.results[name], con.execute(self.Q.ORACLES[name]).fetchdf()
            if sorted(sdf.columns) != sorted(odf.columns):
                out.append((name, False, f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}"))
            elif len(sdf) != len(odf):
                out.append((name, False, f"rows {len(sdf)} vs {len(odf)}"))
            else:
                ok = canon(sdf) == canon(odf)
                out.append((name, ok, f"{len(sdf)} rows" + ("" if ok else ", values differ")))
        con.close()
        return out


class CorpusDedup:
    """Text scoring, exact dedup, MinHash and SimHash near-dup pairs,
    embedding near-dup pairs over a seeded corpus."""

    MINHASH_VERIFY = 0.5
    WARM_DOCS = 400

    def __init__(self, wl: Workload):
        self.wl = wl
        self.inp = gen.corpus(os.path.join(wl.work, "corpus"), wl.seed)
        # The warm-up pass reads a small corpus of its own: it starts the
        # Python workers and compiles the same plans on a sixth of the
        # data, which keeps the run within its time budget.
        self.warm = gen.corpus(os.path.join(wl.work, "corpus-warm"), wl.seed,
                               n_docs=self.WARM_DOCS, n_vecs=self.WARM_DOCS)
        self.exact_counts: list[int] = []
        self.found: tuple[set, set] = (set(), set())

    def warm_up(self) -> None:
        self._pass(self.warm)

    def round(self) -> Round:
        """One pass; its five steps are the round's batch samples."""
        r, exact, self.found = self._pass(self.inp)
        self.exact_counts.append(exact)
        return r

    def _pass(self, inp: gen.CorpusInputs) -> tuple[Round, int, tuple[set, set]]:
        """Run every step over ``inp``; return the round record, the docs
        exact dedup kept and the near-duplicate pairs found (text,
        vector)."""
        from ingestao_dados_poli_spark.functions import text as TX
        from ingestao_dados_poli_spark.operators import dedup as DD
        from ingestao_dados_poli_spark.operators import similarity as SIM
        from ingestao_dados_poli_spark.sources import readers

        wl, tr, steps, layers = self.wl, self.wl.tracer, [], {}
        spark = wl.spark
        t_round = time.perf_counter()

        def step(kind: str, fn):
            t0 = time.perf_counter()
            with tr.span(kind):
                out = fn()
            steps.append((kind, time.perf_counter() - t0))
            return out

        with tr.span("corpus.pass"):
            docs = readers.read_parquet(spark, inp.docs_path)
            vecs = readers.read_parquet(spark, inp.vecs_path)
            if tr.on:
                with tr.span("sources.readers.scan"):
                    noop(docs)
                    noop(vecs)
            step("functions.text.score", lambda: noop(docs.select(
                "doc_id", TX.quality_score("text").alias("quality"),
                TX.lang_id("text").alias("lang"), TX.n_tokens_ws("text").alias("tokens"),
                TX.repetition_ratio("text").alias("repetition"))))
            exact = step("operators.dedup.exact",
                         lambda: DD.dedup_exact(docs, "text", "doc_id").count())
            mh = step("operators.dedup.minhash", lambda: DD.minhash_candidate_pairs(
                docs, "text", "doc_id").collect())
            sh = step("operators.dedup.simhash", lambda: DD.simhash_pairs(
                docs, "text", "doc_id").select("id_a", "id_b").collect())
            emb = step("operators.similarity.near_dup", lambda: SIM.embedding_near_dup_pairs(
                vecs, "vec_id", "embedding", dim=32).select("id_a", "id_b").collect())
            if tr.on:
                with tr.span("operators.similarity.candidates"):
                    emitted = SIM.embedding_near_dup_pairs(
                        vecs, "vec_id", "embedding", dim=32, threshold=-1.0).count()
                verified = sum(r["est_jaccard"] >= self.MINHASH_VERIFY for r in mh)
                layers["operators.dedup.candidate_pairs"] = len(mh)
                layers["operators.dedup.candidate_yield"] = verified / max(1, len(mh))
                layers["operators.similarity.candidate_yield"] = len(emb) / max(1, emitted)
        found = (
            {(r["id_a"], r["id_b"]) for r in mh if r["est_jaccard"] >= self.MINHASH_VERIFY}
            | {(r["id_a"], r["id_b"]) for r in sh},
            {(r["id_a"], r["id_b"]) for r in emb},
        )
        took = time.perf_counter() - t_round
        return (Round(took, batches=steps, rows=inp.n_docs, rows_s=took,
                      in_bytes=inp.bytes, layers=layers), exact, found)

    def checks(self) -> list[tuple[str, bool, str]]:
        bad = [n for n in self.exact_counts if n != self.inp.distinct_texts]
        return [("exact dedup keeps one doc per distinct text", not bad,
                 f"{len(bad)} of {len(self.exact_counts)} passes kept a wrong count")]

    def dup_recall(self) -> float:
        """Share of planted near-duplicate pairs (text and vector) found."""
        text, vec = self.found
        hit = len(self.inp.text_pairs & text) + len(self.inp.vec_pairs & vec)
        return hit / (len(self.inp.text_pairs) + len(self.inp.vec_pairs))


class QueryMix(Workload):
    """The read side. Warm-up: every pool query once (collected for the
    oracle check) and one pass over a small warm-up corpus. A round: every registry pool query
    once (noop sink), then one corpus dedup pass."""

    name = "query_mix"
    ROUND_S = 16.0

    def generate(self) -> None:
        self.registry = RegistryPool(self)
        self.corpus = CorpusDedup(self)

    def start(self, spark, tracer) -> None:
        super().start(spark, tracer)
        self.registry.start()

    def warm_up(self) -> None:
        self.registry.warm_up()
        self.corpus.warm_up()

    def round(self, op: int) -> Round:
        with self.tracer.span("query_mix.round", op):
            return self.registry.round(op) + self.corpus.round()

    def n_docs(self) -> int:
        return self.corpus.inp.n_docs

    def checks(self) -> list[tuple[str, bool, str]]:
        return self.registry.checks() + self.corpus.checks()

    def dup_recall(self) -> float:
        return self.corpus.dup_recall()


WORKLOADS = {w.name: w for w in (MedallionIngest, QueryMix)}
