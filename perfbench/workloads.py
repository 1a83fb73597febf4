"""The two workloads: one closed-loop client each, driving the engine's
public entry points.

Every workload has the same life cycle, driven by ``run.py``:

``generate()``   write the seed's inputs (pure Python, before the session);
``prepare()``    session-side set-up (ledger seeding, stream start);
``request(i)``   one timed unit of work; returns the rows it produced;
``between()``    untimed clean-up after a request;
``check()``      once per run, untimed: which timed requests were wrong;
``layers()``     traced runs only: the per-layer figures.

The last warm-up request of ``batch_refresh`` collects its results instead
of discarding them; ``check()`` compares those rows with the registry's DuckDB
oracle, and every timed request must return the same row count.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import json
import math
import os
import random
import shutil
import time

from . import inputs
from .measure import median_or_zero

#: Two of the dashboard's visuals, both built on the adapter's normalized
#: fact: a rollup against its goal dimension (``rollups.daily_rollup``,
#: ``rollups.goal_attainment``, ``star.build_dim_metric``) and the star join
#: (``star.star_join`` with the metric and date dimensions).
DASHBOARD_QUERIES = ["goal_attainment", "star_join_enriched"]
CORPUS_LADDER = ["dedup_ngram_jaccard", "dup_clusters", "dedup_survivors", "corpus_pipeline_full"]


def _canonical_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, floats
    rounded to 9 places, rows sorted by their text form."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "null"
        if isinstance(v, float):
            return repr(round(v, 9))
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if hasattr(v, "item"):  # numpy scalar
            return norm(v.item())
        return repr(v)

    lines = sorted("|".join(norm(r[i]) for i in idx) for r in rows)
    h = hashlib.sha256("\n".join([",".join(columns[i] for i in idx)] + lines).encode())
    return h.hexdigest()[:16]


def _spark_rows(df):
    """(columns, rows) of a collected result, via Arrow when it can."""
    pdf = df.toPandas()
    pdf = pdf.astype(object).where(pdf.notna(), None)
    return list(pdf.columns), [tuple(r) for r in pdf.itertuples(index=False)]


class Workload:
    name = ""
    #: Requests run before timing starts, at the measured scale.
    warmup = 0
    #: Wall seconds of one request at sf0.1 on four cores; sets how many
    #: requests one ``--seconds`` window holds.
    nominal_s = 1.0
    #: Fewest timed requests whatever ``--seconds`` says.
    min_timed = 2
    #: Sizes at sf0.1; ``scale`` multiplies them (the tests use smaller runs).
    scale = 1.0

    def __init__(self, work: str, seed: int, scale: float, tracer):
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.data = os.path.join(work, "data")
        os.makedirs(self.data, exist_ok=True)
        self.spark = None
        self.n_requests = self.warmup + 1  # warm-up plus timed; set by run.py

    def between(self) -> None:
        from quill_agent_dashboard_pbi_etl_spark.operators.materialize import release_dead_blocks

        with self.tracer.span("materialize.release"):
            release_dead_blocks(self.spark)

    def has_more(self, i: int) -> bool:
        return True

    def close(self) -> None:
        pass


class BatchRefresh(Workload):
    """One request = one scheduled batch refresh: two dashboard visuals over
    the ``events`` table and one ``corpus_pipeline_full`` run over the
    ``documents`` table (near-dup pairs, connected components, survivors,
    quality gate, stratified sample, shard), in a seed-permuted order, each
    forced by a noop write."""

    name = "batch_refresh"
    #: The first request pays the JVM's first jobs and every plan's first
    #: analysis and code generation, about 2.5x a later request's CPU. One
    #: timed request follows one warm-up request: each more adds 9-15 s to
    #: every run, and the runs of an A/B check must fit in an hour.
    warmup = 1
    nominal_s = 6.0
    min_timed = 1
    #: The corpus job's cost is mostly per-job and per-round overhead, so a
    #: smaller table than sf0.1's 5,000 documents changes it little.
    docs_share = 0.3
    tables = ["events", "documents"]

    def generate(self) -> list[str]:
        self.n_events = round(inputs.EVENTS_SF01 * self.scale)
        self.n_docs = round(inputs.DOCUMENTS_SF01 * self.docs_share * self.scale)
        events = os.path.join(self.data, "events.parquet")
        docs = os.path.join(self.data, "documents.parquet")
        inputs.write_events(inputs.make_events(self.seed, self.n_events), events)
        inputs.write_documents(self.seed, self.n_docs, docs)
        self.order = DASHBOARD_QUERIES + [CORPUS_LADDER[-1]]
        random.Random(self.seed).shuffle(self.order)
        return [events, docs]

    def prepare(self, spark) -> None:
        from quill_agent_dashboard_pbi_etl_spark.plans import extensions  # noqa: F401 — registers

        self.spark = spark
        self.collected: dict[str, tuple] = {}
        self.expected_rows: dict[str, int] = {}
        self.bad_requests: set[int] = set()
        if self.tracer.enabled:
            from quill_agent_dashboard_pbi_etl_spark.operators import clustering

            self.tracer.wrap(clustering, "pin", "materialize.pin")  # one per CC round

    def _run(self, name: str, i: int, collect: bool) -> int:
        from quill_agent_dashboard_pbi_etl_spark.plans.registry import QUERIES

        with self.tracer.span(f"query.{name}"):
            with self.tracer.span("plans.construct"):
                df = QUERIES[name](self.spark, self.data)
            with self.tracer.span("plans.execute"):
                n, got = self._noop(df, collect)
        if collect:
            self.collected[name] = got
        self.expected_rows.setdefault(name, n)
        if n != self.expected_rows[name]:
            self.bad_requests.add(i)
        return n

    def request(self, i: int, collect: bool = False) -> int:
        return sum(self._run(name, i, collect) for name in self.order)

    def check(self, timed: list[int]) -> tuple[set[int], dict]:
        wrong_queries = []
        for name, (cols, rows) in self.collected.items():
            n, h = self._oracle(name, self.tables)
            if (n, h) != (len(rows), _canonical_hash(cols, rows)):
                wrong_queries.append(name)
        bad = set(self.bad_requests)
        if wrong_queries:
            bad |= set(timed)
        return bad & set(timed), {"oracle_mismatch": wrong_queries, "rows": self.expected_rows}

    def _noop(self, df, collect: bool) -> tuple[int, object]:
        """Force ``df`` with a noop write (or collect it); returns its row count."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        if collect:
            cols, rows = _spark_rows(df)
            return len(rows), (cols, rows)
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").format("noop").save()
        return obs.get["n"], None

    def _oracle(self, name: str, tables: list[str]) -> tuple[int, str]:
        import duckdb

        from quill_agent_dashboard_pbi_etl_spark.plans.registry import ORACLES

        con = duckdb.connect()
        con.execute("SET threads TO 4")
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        rel = con.sql(ORACLES[name])
        cols, rows = rel.columns, rel.fetchall()
        con.close()
        return len(rows), _canonical_hash(cols, rows)

    def input_rows(self, produced: int) -> int:
        return self.n_events + self.n_docs

    def layers(self, timed: list[int], latencies: list[float]) -> dict[str, float]:
        out = {}
        for name in DASHBOARD_QUERIES:
            out[f"dashboard.{name}_s"] = median_or_zero(self.tracer.durations(f"query.{name}", timed))
        # The adapter rung on its own: the cost every visual pays to normalize.
        times, rows = [], 0
        for _ in range(3):
            t = time.perf_counter()
            rows = self._run("adapter_normalize", -1, False)
            times.append(time.perf_counter() - t)
        out["adapter.normalize_s"] = median_or_zero(times)
        out["adapter.rows_out"] = rows
        # The corpus ladder: successive registry rungs, each a prefix of the
        # next, so a stage's cost is the difference between neighbouring
        # rungs. The top rung is the timed requests' own corpus job. Each
        # lower rung runs twice and the second run counts: its first run
        # compiles plan shapes the timed requests never built.
        secs, counts = {}, {}
        for name in CORPUS_LADDER[:-1]:
            for _ in range(2):
                t = time.perf_counter()
                counts[name] = self._run(name, -1, False)
                secs[name] = time.perf_counter() - t
                self.between()
        top = CORPUS_LADDER[-1]
        secs[top] = median_or_zero(self.tracer.durations(f"query.{top}", timed))
        s = [secs[n] for n in CORPUS_LADDER]
        out.update(
            {
                "corpus.pairs_s": s[0],
                "corpus.clusters_s": s[1] - s[0],
                "corpus.survivors_s": s[2] - s[1],
                "corpus.gate_sample_s": s[3] - s[2],
                "corpus.pairs": counts["dedup_ngram_jaccard"],
                "corpus.survivors": counts["dedup_survivors"],
                "corpus.sampled": self.expected_rows[top],
            }
        )
        return out


NOW_ANCHOR = "2024-01-20 12:00:00"
LEDGER_TTL_DAYS = 14


class IngestStream(Workload):
    """One request = one landing file of ~1,000 webhook envelopes picked up by
    the ledger-gated streaming sink (``start_ledger_gated_fact_sink`` with
    ``trigger_seconds=0``) until ``processAllAvailable()`` returns."""

    name = "ingest_stream"
    #: The first trigger takes two to three times a later one; from the fifth
    #: on, trigger times stay within about 20% of each other.
    warmup = 4
    nominal_s = 1.0
    min_timed = 6
    #: Share of events a previous run already delivered: everything before
    #: the stream's start, plus this share of the events after it.
    start_share = 0.3
    claimed_share = 0.3

    def generate(self) -> list[str]:
        n = round(inputs.EVENTS_SF01 * self.scale)
        self.per_file = max(10, round(1000 * self.scale))
        events = inputs.make_events(self.seed, n)
        start = int(n * self.start_share)
        self.staged = inputs.write_envelope_files(
            events, self.seed, start, self.per_file,
            min(self.n_requests, (n - start) // self.per_file),
            os.path.join(self.work, "staged"),
        )
        self.prior = os.path.join(self.data, "prior_run.json")
        inputs.prior_run_envelopes(events, self.seed, start, self.claimed_share, self.prior)
        return [self.prior] + self.staged

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F

        from quill_agent_dashboard_pbi_etl_spark.functions.adapter import normalize_webhooks
        from quill_agent_dashboard_pbi_etl_spark.streaming.pipeline import (
            ENVELOPE_JSON_SCHEMA,
            envelopes_to_webhook_shape,
            read_envelope_stream,
            start_ledger_gated_fact_sink,
        )

        self.spark = spark
        self.now_epoch = int(
            dt.datetime.strptime(NOW_ANCHOR, "%Y-%m-%d %H:%M:%S")
            .replace(tzinfo=dt.timezone.utc)
            .timestamp()
        )
        self.landing = os.path.join(self.work, "landing")
        self.ledger = os.path.join(self.work, "ledger")
        self.seed_ledger = os.path.join(self.work, "seed_ledger")
        self.output = os.path.join(self.work, "output")
        os.makedirs(self.landing)
        prior = normalize_webhooks(
            envelopes_to_webhook_shape(spark.read.schema(ENVELOPE_JSON_SCHEMA).json(self.prior))
        ).select(
            F.col("EventID").alias("pk"),
            F.col("EventTime").alias("seenAt"),
            (F.unix_timestamp("EventTime") + LEDGER_TTL_DAYS * 86400).alias("expiresAt"),
            F.lit("seed").alias("writer_id"),
        ).dropDuplicates(["pk"])
        prior.write.parquet(self.seed_ledger)
        shutil.copytree(self.seed_ledger, self.ledger)

        if self.tracer.enabled:
            from quill_agent_dashboard_pbi_etl_spark import sinks
            from quill_agent_dashboard_pbi_etl_spark.operators import dedup, materialize

            # start_ledger_gated_fact_sink imports these names when it starts,
            # so the wrappers are what its micro-batch body calls.
            self.tracer.wrap(materialize, "pin", "materialize.pin")
            self.tracer.wrap(dedup, "keep_first", "dedup.keep_first")
            self.tracer.wrap(dedup, "gate_anti_join", "dedup.gate_anti_join")
            self.tracer.wrap(sinks, "read_ledger", "sinks.read_ledger")
            self.tracer.wrap(sinks, "append_ledger", "sinks.append_ledger")

        fact = normalize_webhooks(envelopes_to_webhook_shape(read_envelope_stream(spark, self.landing)))
        self.query = start_ledger_gated_fact_sink(
            fact,
            self.ledger,
            self.output,
            os.path.join(self.work, "checkpoint"),
            trigger_seconds=0,
            now_epoch=self.now_epoch,
        )
        self.last_batch = -1
        self.batches: dict[int, list[int]] = {}
        self.progress: dict[int, list[dict]] = {}

    def has_more(self, i: int) -> bool:
        return i < len(self.staged)

    def request(self, i: int, collect: bool = False) -> int:
        src = self.staged[i]
        os.rename(src, os.path.join(self.landing, os.path.basename(src)))
        self.query.processAllAvailable()
        if self.query.exception() is not None:
            raise RuntimeError(str(self.query.exception()))
        rows = 0
        for p in self.query.recentProgress:
            if p.batchId > self.last_batch and p.numInputRows > 0:
                self.batches.setdefault(i, []).append(p.batchId)
                self.progress.setdefault(i, []).append(p.durationMs)
                rows += p.numInputRows
                self.last_batch = p.batchId
        return rows

    def between(self) -> None:
        pass  # the stream keeps its own state; nothing is released between triggers

    def input_rows(self, produced: int) -> int:
        return produced

    def close(self) -> None:
        q = getattr(self, "query", None)
        if q is not None and q.isActive:
            q.stop()

    def check(self, timed: list[int]) -> tuple[set[int], dict]:
        """The streamed output against the batch ledger gate over the same
        landed files and seed ledger: per micro-batch, the expected rows are
        the events whose first landing is that file and that the seed
        ledger does not hold live. Also: no EventID posted twice, and the
        run's ledger claims equal its output."""
        from pyspark.sql import functions as F

        from quill_agent_dashboard_pbi_etl_spark.functions.adapter import normalize_webhooks
        from quill_agent_dashboard_pbi_etl_spark.operators import dedup
        from quill_agent_dashboard_pbi_etl_spark.streaming.pipeline import (
            ENVELOPE_JSON_SCHEMA,
            envelopes_to_webhook_shape,
        )

        spark = self.spark
        self.query.stop()
        landed = sorted(glob.glob(os.path.join(self.landing, "part-*.json")))
        # First landing file of each webhook id, and within-file repeats.
        first_file: dict[str, int] = {}
        received = repeats = 0
        for p in landed:
            f = int(os.path.basename(p)[5:10])
            seen = set()
            for line in open(p):
                body = json.loads(json.loads(line)["body"])["body"]
                key = f"ALOWARE:{body['id'] if body['id'] is not None else body['uuid_v4']}"
                received += 1
                repeats += key in seen
                seen.add(key)
                first_file.setdefault(key, f)
        normalized = normalize_webhooks(
            envelopes_to_webhook_shape(spark.read.schema(ENVELOPE_JSON_SCHEMA).json(landed))
        )
        expected = dedup.ledger_gate(
            normalized.dropDuplicates(["EventID"]),
            spark.read.parquet(self.seed_ledger),
            key_col="EventID",
            now_epoch=self.now_epoch,
        )
        exp_ids = [r["EventID"] for r in expected.select("EventID").collect()]
        n_normalized = normalized.count()
        n_unique = normalized.dropDuplicates(["EventID"]).count()
        out_rows = spark.read.parquet(self.output).select("EventID", "batch_id").collect()
        claims = (
            spark.read.parquet(self.ledger).filter(F.col("writer_id") != "seed").select("pk").collect()
        )

        batch_req = {b: i for i, bs in self.batches.items() for b in bs}
        exp_by_req: dict[int, set] = {}
        for e in exp_ids:
            exp_by_req.setdefault(first_file.get(e, -1), set()).add(e)
        got_by_req: dict[int, list] = {}
        for r in out_rows:
            got_by_req.setdefault(batch_req.get(r["batch_id"], -1), []).append(r["EventID"])
        out_ids = [r["EventID"] for r in out_rows]
        posted_twice = len(out_ids) - len(set(out_ids))
        claims_match = sorted(r["pk"] for r in claims) == sorted(out_ids)
        bad = {
            i for i in timed
            if sorted(got_by_req.get(i, [])) != sorted(exp_by_req.get(i, set()))
        }
        if posted_twice or not claims_match or -1 in got_by_req or -1 in exp_by_req:
            bad = set(timed)
        # Counts over the whole run. Envelopes the adapter drops are the dead
        # letters; repeats are counted on the raw envelopes, so a repeated
        # dead letter counts once in each.
        self.counts = {
            "ingest.received": received,
            "ingest.dead_letter": received - n_normalized,
            "ingest.within_batch_dups": repeats,
            "ingest.ledger_suppressed": n_unique - len(out_ids),
            "ingest.posted": len(out_ids),
        }
        return bad, {"posted_twice": posted_twice, "claims_match_output": claims_match, **self.counts}

    def layers(self, timed: list[int], latencies: list[float]) -> dict[str, float]:
        def dur(key: str) -> list[float]:
            return [sum(d.get(key, 0) for d in self.progress.get(i, [])) for i in timed]

        out = {
            "streaming.latest_offset_ms": median_or_zero(dur("latestOffset")),
            "streaming.query_planning_ms": median_or_zero(dur("queryPlanning")),
            "streaming.add_batch_ms": median_or_zero(dur("addBatch")),
            "streaming.wal_commit_ms": median_or_zero(dur("walCommit")),
            "streaming.commit_offsets_ms": median_or_zero(dur("commitOffsets")),
        }
        trigger = dur("triggerExecution")
        out["streaming.pickup_s"] = median_or_zero(
            [w - t / 1000.0 for w, t in zip(latencies, trigger)]
        )
        spans = {
            "materialize.pin": "materialize.pin_s",
            "dedup.keep_first": "dedup.keep_first_s",
            "dedup.gate_anti_join": "dedup.gate_anti_join_s",
            "sinks.read_ledger": "sinks.read_ledger_s",
            "sinks.append_ledger": "sinks.append_ledger_s",
        }
        wrapped = [0.0] * len(timed)
        for span, metric in spans.items():
            per = self.tracer.per_request(span, timed)
            wrapped = [a + b for a, b in zip(wrapped, per)]
            out[metric] = median_or_zero(per)
        out["sinks.output_write_s"] = median_or_zero(
            [d / 1000.0 - w for d, w in zip(dur("addBatch"), wrapped)]
        )
        ledger_files = [
            p for p in glob.glob(os.path.join(self.ledger, "**", "*.parquet"), recursive=True)
        ]
        out["ledger.files"] = len(ledger_files)
        out["ledger.bytes"] = sum(os.path.getsize(p) for p in ledger_files)
        out["output.files"] = len(
            glob.glob(os.path.join(self.output, "**", "*.parquet"), recursive=True)
        )
        counts = getattr(self, "counts", {})
        out.update(counts)
        out["ingest.posted_ratio"] = counts.get("ingest.posted", 0) / max(1, counts.get("ingest.received", 0))
        return out


WORKLOADS = {w.name: w for w in (IngestStream, BatchRefresh)}
