"""The benchmark workloads.

Each workload drives the package only through its public functions. Its
constructor generates the inputs from the seed (no session yet); then
`run.py` binds a session and times three steps separately:

* ``warm_up()`` -- the warm-up the program needs after session start;
  counted in ``setup_s``.
* ``op(i)`` -- one operation of the closed loop. It returns None, or the
  latencies to report for it (one per micro-batch for streaming).
* ``check()`` -- the output check, untimed; it counts into ``attempted``
  and ``failed``.

``ALIASES`` gives the end-to-end figures under the names the workload's
users know (printed before the result; the p75 is printed but not
judged, as a run has too few samples for it), and ``work_per_op()`` the
work one operation does, for ``throughput_per_s``.

``LAYER_UNITS`` names the per-layer metrics a workload reports. A metric
``<span name>_s`` is the time spent in spans of that name per operation;
``layer.<layer>.self_s`` is the layer's self time per operation; the
workload's ``layer_metrics`` supplies the rest.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import gen

# One query per operator family: aggregation, joins, windows, dedup,
# similarity, text, events, upsert (README.md: why not all 18 of the
# issue's mix fit the time budget).
MIX_QUERIES = (
    "q1_pricing_summary", "q5_local_supplier_volume", "window_analytics",
    "dedup_ngram_jaccard", "sim_brute_force_topk", "text_quality_stats",
    "events_sessionization", "merge_upsert_orders",
)
STREAM_OPS = ("tumbling_counts", "dedup_within_watermark",
              "running_user_totals")
PAYLOAD_LISTS = ("employees", "members", "products", "vendors", "physicians")
TESTS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")


def log_failure(what: str) -> None:
    print(f"FAILED {what}", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def _dir_bytes(path: str, suffix: str) -> tuple[int, int]:
    files = [f for f in glob.glob(os.path.join(path, "**", "*" + suffix),
                                  recursive=True) if os.path.isfile(f)]
    return len(files), sum(os.path.getsize(f) for f in files)


def _self_units(*layers: str) -> dict[str, str]:
    return {f"layer.{layer}.self_s": "s" for layer in layers}


@functools.cache
def _mmj(work: str, seed: int) -> tuple[str, dict]:
    """The generated mmj tables of a run and their expectations, made
    once however many workload parts read them."""
    path = os.path.join(work, "mmj")
    return path, gen.gen_mmj(path, seed)


@functools.cache
def _facts(work: str, seed: int) -> tuple[str, dict]:
    """The generated catalog tables of a run and their row counts."""
    path = os.path.join(work, "facts")
    return path, gen.gen_facts(path, seed)


class Workload:
    clients = 1
    min_ops = 1
    max_ops: int | None = None
    ALIASES: tuple = ()
    LAYER_UNITS: dict[str, str] = {}

    def __init__(self, work: str, seed: int):
        self.work = work
        self.rng = np.random.default_rng([seed, 9])
        self.spark = self.tracer = None
        self.attempted = 0
        self.failed = 0

    def bind(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer

    def _checked(self, what: str, ok_fn) -> None:
        """Run one output check; count it and log its failure."""
        self.attempted += 1
        try:
            ok = ok_fn()
        except Exception:  # noqa: BLE001 - a failed check is counted
            log_failure(what)
            ok = False
        if not ok:
            print(f"CHECK FAILED {what}", file=sys.stderr)
            self.failed += 1

    def work_per_op(self) -> float:
        return 1

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------------------

class OrgExtract(Workload):
    """Per-organization extract requests from 4 closed-loop clients (at
    most nproc) sharing one SparkSession, as the HTTP server would:
    load_sources -> build_payload -> write_payload_json. After one
    concurrent round of requests warms the session, every client issues
    at least two requests, so a run has at least eight samples however
    slow the host."""

    ALIASES = (("extract_p50_s", "op_p50_s", "s"),
               ("extract_p75_s", "op_p75_s", "s"),
               ("extract_orgs_per_s", "throughput_per_s", "1/s"))
    LAYER_UNITS = {
        **{f"entities.{e}.{m}": u for e in gen.ENTITIES
           for m, u in (("transform_s", "s"), ("collect_s", "s"),
                        ("rows", "count"))},
        "catalog.load_sources_s": "s", "sinks.write_payload_s": "s",
        "extract.rows_read_per_row_returned": "ratio",
        **_self_units("catalog", "entities", "sinks"),
    }

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.clients = min(4, len(os.sched_getaffinity(0)))
        self.min_ops = 2 * self.clients
        self.mmj, self.expected = _mmj(work, seed)
        # each round of `clients` requests takes one dispensary from each
        # size stratum, so every run sees the same spread of sizes
        by_size = sorted(self.expected,
                         key=lambda d: self.expected[d]["members"])
        strata = np.array_split(by_size, self.clients)
        self.requests = [int(self.rng.choice(s))
                         for _ in range(1_000) for s in strata]
        self.out = os.path.join(work, "out")
        os.makedirs(self.out)
        self.pending: list[tuple[int, str]] = []
        self._lock = threading.Lock()

    def _extract(self, i: int) -> None:
        from g1_etl_spark.__main__ import load_sources
        from g1_etl_spark.entities.assemble import (build_payload,
                                                    write_payload_json)
        t = self.tracer
        d = self.requests[i]
        org = self.expected[d]["org"]
        with t.span("catalog.load_sources"):
            sources = load_sources(self.spark, self.mmj)
        with t.span("entities.build_payload"):
            payload = build_payload(sources, d, org)
        path = os.path.join(self.out, f"mmj-{org}-{i}.json")
        with t.span("sinks.write_payload"):
            write_payload_json(payload, path)
        with self._lock:
            self.pending.append((d, path))

    def warm_up(self) -> None:
        """One concurrent round: the last `clients` requests, one per
        size stratum."""
        with ThreadPoolExecutor(self.clients) as pool:
            list(pool.map(self._extract, range(-self.clients, 0)))

    def op(self, i: int) -> None:
        self._extract(i)

    def check(self) -> None:
        """Each payload re-parses, carries its organizationId and the
        generator's per-dispensary entity counts."""
        for d, path in self.pending:
            exp = self.expected[d]

            def ok(path=path, exp=exp):
                with open(path) as f:
                    doc = json.load(f)
                return (doc["organizationId"] == exp["org"]
                        and bool(doc["settings"])
                        and all(len(doc[e]) == exp[e]
                                for e in PAYLOAD_LISTS))
            self._checked(f"payload dispensary={d}", ok)

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        c = self.tracer.counters
        m = {f"entities.{e}.rows": c.get(f"rows.{e}", 0) / n_ops
             for e in gen.ENTITIES}
        rows_out = sum(c.get(f"rows.{e}", 0) for e in gen.ENTITIES)
        m["extract.rows_read_per_row_returned"] = (
            c.get("input_records", 0) / max(1, rows_out))
        return m


# ---------------------------------------------------------------------------

class BulkExport(Workload):
    """One pass: the chain dispensary's entity frames (all six, or
    `entities`) through write_entity_json, then layout maintenance over
    the facts."""

    ALIASES = (("export_pass_s", "op_p50_s", "s"),)
    LAYER_UNITS = {
        **{f"entities.{e}.transform_s": "s" for e in gen.ENTITIES},
        "catalog.load_sources_s": "s", "catalog.load_table_s": "s",
        "sinks.write_entity_json_s": "s", "sinks.bytes_out": "B",
        "maintenance.write_partitioned_s": "s", "maintenance.compact_s": "s",
        "maintenance.zorder_s": "s", "maintenance.files_out": "count",
        "maintenance.bytes_out": "B", "export.bytes_ratio": "ratio",
        **_self_units("catalog", "entities", "sinks", "maintenance"),
    }

    def __init__(self, work: str, seed: int,
                 entities: tuple = gen.ENTITIES):
        super().__init__(work, seed)
        self.entities = entities
        self.mmj, self.expected = _mmj(work, seed)
        self.facts, self.fact_rows = _facts(work, seed)
        self.chain = max(self.expected)
        self.out = os.path.join(work, "export")
        sources = glob.glob(os.path.join(self.mmj, "*.parquet"))
        sources += [os.path.join(self.facts, f"{t}.parquet")
                    for t in ("lineitem", "orders")]
        self.input_bytes = sum(os.path.getsize(p) for p in sources)

    def warm_up(self) -> None:
        self.op(-1)

    def op(self, i: int) -> None:
        from g1_etl_spark.__main__ import entity_frame, load_sources
        from g1_etl_spark.catalog import load_table
        from g1_etl_spark.sources import maintenance as M
        from g1_etl_spark.sources.sinks import write_entity_json
        t = self.tracer
        org = self.expected[self.chain]["org"]
        with t.span("catalog.load_sources"):
            sources = load_sources(self.spark, self.mmj)
        for e in self.entities:
            df = entity_frame(sources, e, self.chain, org)
            with t.span("sinks.write_entity_json"):
                write_entity_json(df.select("doc.*"),
                                  os.path.join(self.out, e))
        with t.span("catalog.load_table"):
            lineitem = load_table(self.spark, self.facts, "lineitem")
            orders = load_table(self.spark, self.facts, "orders")
        part = os.path.join(self.out, "lineitem_part")
        keys = ["l_returnflag", "l_linestatus"]
        with t.span("maintenance.write_partitioned"):
            M.write_partitioned(lineitem, part, keys)
        with t.span("maintenance.compact"):
            M.compact_parquet(self.spark, part,
                              os.path.join(self.out, "lineitem_compact"),
                              partition_cols=keys)
        with t.span("maintenance.zorder"):
            M.write_zordered(orders, os.path.join(self.out, "orders_z"),
                             ["o_custkey", "o_totalprice"])

    def work_per_op(self) -> float:
        """Rows written per pass."""
        exp = self.expected[self.chain]
        return (sum(exp[e] for e in self.entities)
                + 2 * self.fact_rows["lineitem"] + self.fact_rows["orders"])

    def check(self) -> None:
        """Rows read back from every output equal the rows written in."""
        exp = self.expected[self.chain]
        read = self.spark.read
        for e in self.entities:
            self._checked(f"export {e}", lambda e=e: read.json(
                os.path.join(self.out, e)).count() == exp[e])
        for sub, table in (("lineitem_part", "lineitem"),
                           ("lineitem_compact", "lineitem"),
                           ("orders_z", "orders")):
            self._checked(f"maintenance {sub}", lambda s=sub, t=table: read
                          .parquet(os.path.join(self.out, s)).count()
                          == self.fact_rows[t])

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        _, bytes_json = _dir_bytes(self.out, ".json")
        files_pq, bytes_pq = _dir_bytes(self.out, ".parquet")
        return {"sinks.bytes_out": bytes_json,
                "maintenance.files_out": files_pq,
                "maintenance.bytes_out": bytes_pq,
                "export.bytes_ratio": (bytes_json + bytes_pq)
                / self.input_bytes}


# ---------------------------------------------------------------------------

class StreamIngest(Workload):
    """Drain a backlog of `n_files` time-ordered event files through the
    streaming operators `ops`, one file per trigger, AvailableNow."""

    ALIASES = (("stream_batch_p50_s", "op_p50_s", "s"),
               ("stream_events_per_s", "throughput_per_s", "1/s"))
    LAYER_UNITS = {
        "streaming.batches": "count", "streaming.add_batch_s": "s",
        "streaming.wal_commit_s": "s", "streaming.state_rows": "count",
        "streaming.state_bytes": "B", "streaming.late_rows_dropped": "count",
        "streaming.empty_batch_ratio": "ratio",
        **_self_units("streaming"),
    }

    def __init__(self, work: str, seed: int, n_files: int = 6,
                 ops: tuple = STREAM_OPS):
        super().__init__(work, seed)
        self.ops = ops
        facts, _ = _facts(work, seed)
        self.backlog = os.path.join(work, "stream")
        self.split = gen.split_events(facts, self.backlog, seed, n_files)
        self.warm_backlog = os.path.join(work, "stream_warm")
        gen.split_events(facts, self.warm_backlog, seed, n_files=2)
        self.progress: list[dict] = []
        self.last: dict[str, tuple] = {}

    def _drain(self, backlog: str, tag: str) -> list[float]:
        from g1_etl_spark.streaming import stateful, windows
        builders = {"tumbling_counts": windows.tumbling_counts,
                    "dedup_within_watermark": windows.dedup_within_watermark,
                    "running_user_totals": stateful.running_user_totals}
        t = self.tracer
        batch_s = []
        for name in self.ops:
            mode = "update" if name == "running_user_totals" else "append"
            table = f"{name}_{tag}"
            with t.span(f"streaming.{name}.drain"):
                events = windows.read_events_stream(self.spark, backlog, 1)
                query = (builders[name](events).writeStream
                         .format("memory").queryName(table)
                         .outputMode(mode)
                         .option("checkpointLocation", os.path.join(
                             self.work, "checkpoints", table))
                         .trigger(availableNow=True).start())
                query.awaitTermination()
            progress = list(query.recentProgress)
            if t.active():
                t.read_spark_counters(str(query.runId))
                self.progress.extend(progress)
            batch_s += [p["durationMs"]["triggerExecution"] / 1000
                        for p in progress]
            self.last[name] = (table, progress)
        return batch_s

    def warm_up(self) -> None:
        self._drain(self.warm_backlog, "warm")

    def op(self, i: int) -> list[float]:
        return self._drain(self.backlog, f"d{i}")

    def work_per_op(self) -> float:
        """Backlog rows per drain."""
        return self.split["rows"]

    def check(self) -> None:
        """Against DuckDB over the same files: each closed window's count
        lies between its batch count less its out-of-order rows and its
        batch count, and the total deficit covers the reported watermark
        drops; dedup emits each id once and every in-order event; running
        totals equal the batch per-user counts."""
        import duckdb
        con = duckdb.connect()
        files = os.path.join(self.backlog, "*.parquet")
        sql = self.spark.sql

        def windows_ok():
            table, progress = self.last["tumbling_counts"]
            dropped = sum(
                p["stateOperators"][0]["numRowsDroppedByWatermark"]
                for p in progress if p["stateOperators"])
            got = {(w, e): n for w, e, n in sql(
                "SELECT unix_micros(window_start), event_type, n_events "
                f"FROM {table}").collect()}
            # out of order: older than an event of an earlier file
            batch = {(w, e): (n, ooo) for w, e, n, ooo in con.execute(f"""
                WITH r AS (SELECT epoch_us(ts) AS t, event_type, filename
                           FROM read_parquet('{files}', filename = true)),
                prev AS (SELECT filename, max(max(t)) OVER (
                             ORDER BY filename ROWS BETWEEN UNBOUNDED
                             PRECEDING AND 1 PRECEDING) AS before
                         FROM r GROUP BY filename)
                SELECT t // 3600000000 * 3600000000, event_type, count(*),
                       count(*) FILTER (WHERE t < before)
                FROM r JOIN prev USING (filename) GROUP BY ALL""").fetchall()}
            if not got or set(got) - set(batch):
                return False
            # windows up to the newest emitted one are closed: every row
            # of theirs is either counted or was dropped as late
            newest = max(w for w, _ in got)
            deficit = 0
            for key, (full, ooo) in batch.items():
                n = got.get(key, 0)
                if key[0] > newest:
                    continue
                if not full - ooo <= n <= full:
                    print(f"window {key}: {n} emitted, {full} in the files "
                          f"({ooo} out of order)", file=sys.stderr)
                    return False
                deficit += full - n
            return deficit >= dropped

        def dedup_ok():
            ids = [r.event_id for r in sql(
                f"SELECT event_id FROM {self.last['dedup_within_watermark'][0]}"
            ).collect()]
            in_order = self.split["events"] - self.split["late"]
            return (len(ids) == len(set(ids))
                    and in_order <= len(ids) <= self.split["events"])

        def totals_ok():
            got = dict(sql(
                "SELECT user_id, max(total_events) FROM "
                f"{self.last['running_user_totals'][0]} GROUP BY user_id"
            ).collect())
            want = dict(con.execute(
                f"SELECT user_id, count(*) FROM read_parquet('{files}') "
                "GROUP BY user_id").fetchall())
            return got == want

        checks = {"tumbling_counts": windows_ok,
                  "dedup_within_watermark": dedup_ok,
                  "running_user_totals": totals_ok}
        for name in self.ops:
            self._checked(f"stream {name}", checks[name])
        con.close()

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        batches = self.progress
        n = max(1, len(batches))

        def state(key):
            return sum(op[key] for p in batches for op in p["stateOperators"])

        def duration(key):
            return sum(p["durationMs"].get(key, 0) for p in batches) / 1000
        return {
            "streaming.batches": len(batches) / n_ops,
            "streaming.add_batch_s": duration("addBatch") / n_ops,
            "streaming.wal_commit_s": duration("walCommit") / n_ops,
            "streaming.state_rows": state("numRowsTotal") / n,
            "streaming.state_bytes": state("memoryUsedBytes") / n,
            "streaming.late_rows_dropped":
                state("numRowsDroppedByWatermark") / n_ops,
            "streaming.empty_batch_ratio": sum(
                1 for p in batches if p["numInputRows"] == 0) / n,
        }


# ---------------------------------------------------------------------------

class AnalyticsMix(Workload):
    """One client, one batch pass: the registry queries of the mix in a
    seeded order, then a small bulk export (the chain's members through
    write_entity_json, and the layout maintenance) and a 2-file stream
    drain through one windowed and one stateful operator; a run measures
    exactly one pass.

    The pass is the first in its session: a batch job pays codegen and
    JIT warm-up in every fresh session, and a warm-up pass would double
    the run. Each query result is collected (the results are small), so
    the oracle check needs no second execution. The export and the drain
    ride along so that `sources.maintenance`, `write_entity_json` and
    `streaming` are measured on a listed workload."""

    max_ops = 1
    ALIASES = (("mix_pass_s", "op_p50_s", "s"),)
    LAYER_UNITS = {
        **{f"plans.{q}.{m}": "s" for q in MIX_QUERIES
           for m in ("build_s", "exec_s")},
        "plans.build_s": "s", "plans.exec_s": "s",
        "catalog.load_table_s": "s",
        **_self_units("catalog", "plans"),
        **BulkExport.LAYER_UNITS, **StreamIngest.LAYER_UNITS,
    }

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.facts, _ = _facts(work, seed)
        self.parts = (BulkExport(work, seed, entities=("members",)),
                      StreamIngest(work, seed, n_files=2,
                                   ops=("tumbling_counts",
                                        "running_user_totals")))
        self.collected: dict[str, tuple] = {}

    def bind(self, spark, tracer) -> None:
        super().bind(spark, tracer)
        for part in self.parts:
            part.bind(spark, tracer)

    def warm_up(self) -> None:
        import g1_etl_spark.plans  # noqa: F401 - registers the queries

    def work_per_op(self) -> float:
        """Steps per pass: the queries, the export and the drain."""
        return len(MIX_QUERIES) + len(self.parts)

    def op(self, i: int) -> None:
        from g1_etl_spark.plans import REGISTRY
        t = self.tracer
        for k in self.rng.permutation(len(MIX_QUERIES)):
            name = MIX_QUERIES[k]
            with t.span(f"plans.{name}.build"):
                df = REGISTRY[name].fn(self.spark, self.facts)
            with t.span(f"plans.{name}.exec"):
                self.collected[name] = (df.columns,
                                        [tuple(r) for r in df.collect()])
        for part in self.parts:
            part.op(i)

    def check(self) -> None:
        """Each query's result against its registered DuckDB oracle with
        the canonical compare of tests/oracle_utils.py, then the export's
        and the drain's own checks."""
        import duckdb

        from g1_etl_spark.catalog import TABLES
        from g1_etl_spark.plans import REGISTRY
        sys.path.insert(0, TESTS_DIR)
        from oracle_utils import canon_rows, duck_result

        con = duckdb.connect()
        for table in TABLES:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(self.facts, table)}.parquet')")
        for name in MIX_QUERIES:
            got, oracle = self.collected.get(name), REGISTRY[name].oracle

            def ok(got=got, oracle=oracle):
                if got is None:
                    return False
                cols, rows = got
                dcols, drows = duck_result(con, oracle)
                return (sorted(cols) == sorted(dcols)
                        and canon_rows(cols, rows) == canon_rows(dcols, drows))
            self._checked(f"oracle {name}", ok)
        con.close()
        for part in self.parts:
            part.check()
            self.attempted += part.attempted
            self.failed += part.failed

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        d = self.tracer.durations()
        m = {f"plans.{kind}_s": sum(
            v for k, v in d.items()
            if k.startswith("plans.") and k.endswith("." + kind)) / n_ops
            for kind in ("build", "exec")}
        for part in self.parts:
            m.update(part.layer_metrics(n_ops))
        return m


WORKLOADS = {"org_extract": OrgExtract, "analytics_mix": AnalyticsMix,
             "bulk_export": BulkExport, "stream_ingest": StreamIngest}
# The workloads BENCHMARK.json lists. Every run reports their per-layer
# metrics (0 for a layer the run bypasses), so each listed run prints
# the same set.
LISTED = ("org_extract", "analytics_mix")
