"""The benchmark's workloads. Each one writes its inputs from the seed,
runs one timed operation at a time, checks every operation against its
DuckDB oracle, and lists the cumulative prefixes the traced run times
layer by layer.

Only public functions of the package are driven: the event model, the
pipeline compiler, the router, the operators through their configs, the
sink writers and the lineage incremental runner.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
from dataclasses import dataclass
from pathlib import Path
from typing import Callable
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ilogtail_spark.benchflow import enriched_pipeline, headline_aggregates
from ilogtail_spark.model import FIELDS_COL, to_events
from ilogtail_spark.plans import lineage
from ilogtail_spark.plans.lineage import RunManifest, SeriesState, incremental_run
from ilogtail_spark.plans.pipeline import Pipeline
from ilogtail_spark.plans.router import SINK_COL
from ilogtail_spark.sinks import writers

from perfbench import inputs, oracle
from perfbench.tracing import Tracer


class OracleMismatch(Exception):
    """An operation's output differs from the oracle's."""


def check(got: dict, want: dict, what: str, exact: bool = False) -> None:
    """Raise unless ``got`` agrees with ``want`` on every key of ``want``
    (and, when ``exact``, has no other keys)."""
    keys = set(want) | (set(got) if exact else set())
    bad = {k: (got.get(k), want.get(k)) for k in sorted(keys) if got.get(k) != want.get(k)}
    if bad:
        raise OracleMismatch(f"{what}: (got, want) {bad}")


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def observed(df: DataFrame, **metrics: Column) -> tuple[DataFrame, Observation]:
    ob = Observation()
    return df.observe(ob, *[c.alias(k) for k, c in metrics.items()]), ob


def field(key: str) -> Column:
    return F.col(FIELDS_COL).getItem(key)


def sink_counts(sinks: list[str]) -> dict[str, Column]:
    return {s: F.count_if(F.col(SINK_COL) == s) for s in sinks}


def parquet_files(directory: Path) -> list[str]:
    return sorted(glob.glob(str(directory / "**" / "*.parquet"), recursive=True))


@dataclass
class Prefix:
    """``Pipeline(processors=procs[:k])`` and the like: the input through
    ``layer`` and every layer before it."""

    layer: str
    build: Callable[[], DataFrame]
    rows: int | None  # expected output rows, from the oracle (None: unchecked)
    ok: Column | None = None  # rows this layer parsed, for <layer>.ok_ratio


class Workload:
    name = ""
    # layers whose self time is a sum of other layers' self times
    composite: dict[str, list[str]] = {}

    def __init__(self, work: Path, seed: int, cores: int) -> None:
        self.work = work
        self.seed = seed
        self.cores = cores

    def materialize(self) -> None:
        """Write the run's inputs from the seed."""
        raise NotImplementedError

    def compute_oracle(self) -> None:
        raise NotImplementedError

    def warm_up(self, spark: SparkSession) -> None:
        """One untimed operation, checked like a timed one."""
        self.op(spark, Tracer(False))

    def can_run(self) -> bool:
        return True

    def trace_wrappers(self, tracer: Tracer) -> list[Callable[[], None]]:
        """Spans around calls into layers that the operation does not make
        itself; returns the functions that remove them."""
        return []

    def op(self, spark: SparkSession, tracer: Tracer) -> int:
        """One timed operation; returns the turns it processed and raises
        on any failure, an oracle mismatch included."""
        raise NotImplementedError

    def prefix_files(self) -> list[str]:
        """The input the traced run's prefix rounds read."""
        raise NotImplementedError

    def prefixes(self, spark: SparkSession, files: list[str], checked: bool = True) -> list[Prefix]:
        """The cumulative prefixes over ``files``; ``checked`` computes
        their expected row counts with the oracle."""
        raise NotImplementedError

    def finish(self) -> dict:
        """Checks over the whole run; returns extra report fields."""
        return {}

    def span_metrics(self, traces: list[dict]) -> dict[str, float]:
        """Per-layer metrics from the spans of the traced operations."""
        return {}


class RegexRoute(Workload):
    """The headline batch job over one parquet transcripts table."""

    name = "regex_route"
    turns = 50_000

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.pipe = enriched_pipeline()
        self.sinks = self.pipe.router["RouterLogstore"] + [self.pipe.router["DefaultLogstore"]]
        self.input = self.work / "input"
        self.expected: dict = {}

    def materialize(self) -> None:
        shutil.rmtree(self.input, ignore_errors=True)
        # several files per core, so one slow task does not gate a stage
        table = inputs.transcripts(self.seed, self.turns)
        self.files = inputs.write_parts(table, self.input, 4 * self.cores)

    def scan(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(str(self.input))

    def prefix_files(self) -> list[str]:
        return list(self.files)

    def compute_oracle(self) -> None:
        self.expected = self._oracle(self.files)

    def _oracle(self, files: list[str]) -> dict:
        procs = self.pipe.processors
        return oracle.route_parse_aggregate(files, self.pipe.router, procs[0]["Regex"], procs[1]["Regex"])

    def _routed_observed(self, routed: DataFrame) -> tuple[DataFrame, Observation]:
        return observed(
            routed,
            total=F.count(F.lit(1)),
            nginx_ok=F.count_if(field("remote_addr").isNotNull()),
            applog_ok=F.count_if(field("latency_ms").isNotNull()),
            **sink_counts(self.sinks),
        )

    def _aggregate(self, routed: DataFrame) -> tuple[DataFrame, Observation]:
        agg = headline_aggregates(routed)
        hour = F.expr("unix_micros(bucket_ts) div 3600000000")
        n = F.col("events_total")
        return observed(
            agg,
            agg_groups=F.count(F.lit(1)),
            agg_events=F.sum(n),
            agg_w_hour=F.sum(n * hour),
            agg_w_sq=F.sum(n * n),
        )

    def op(self, spark: SparkSession, tracer: Tracer) -> int:
        with tracer.span("sources.scan"):
            src = self.scan(spark)
        with tracer.span("model.to_events"):
            ev = to_events(src)
        with tracer.span("plans.pipeline"):
            routed = self.pipe.route(ev)
        routed, ob = self._routed_observed(routed)
        with tracer.span("sinks.aggregate"):
            agg, ob_agg = self._aggregate(routed)
        with tracer.span("spark.action"):
            noop(agg)
        check({**ob.get, **ob_agg.get}, self.expected, self.name)
        return self.turns

    def span_metrics(self, traces: list[dict]) -> dict[str, float]:
        if not traces:
            return {}
        return {
            "driver.plan_build_s": statistics.median(
                t["spark.action"][0].start - t["op"][0].start for t in traces
            )
        }

    def prefixes(self, spark: SparkSession, files: list[str], checked: bool = True) -> list[Prefix]:
        procs = self.pipe.processors
        want = self._oracle(files) if checked else {}
        n = want.get("total")

        def ev() -> DataFrame:
            return to_events(spark.read.parquet(*files))

        def upto(k: int) -> Callable[[], DataFrame]:
            return lambda: Pipeline(processors=procs[:k]).transform(ev())

        return [
            Prefix("sources.scan", lambda: spark.read.parquet(*files), n),
            Prefix("model.to_events", ev, n),
            Prefix("operators.regex.nginx", upto(1), n, field("remote_addr").isNotNull()),
            Prefix("operators.regex.applog", upto(2), n, field("latency_ms").isNotNull()),
            Prefix("operators.transform", upto(4), n),  # drop_last_key + add_fields
            Prefix("operators.enrich", upto(5), n),
            Prefix("plans.router", lambda: self.pipe.route(ev()), n),
            Prefix(
                "sinks.aggregate",
                lambda: self._aggregate(self._routed_observed(self.pipe.route(ev()))[0])[0],
                want.get("agg_groups"),
            ),
        ]


SYSLOG_GROK = r"%{TIMESTAMP_ISO8601:time} %{WORD:module}\[%{POSINT:pid}\]: %{GREEDYDATA:msg}"
DROP_ROLES = "^user$"


TOOL_CLASS = {"search": "retrieval", "code": "execution", "browser": "retrieval", "calc": "execution"}


def _field_match(key: str, value: str) -> dict:
    return {"Type": "field", "Key": key, "Value": value}


def _expr_match(op: str, *leaves: tuple[str, str]) -> dict:
    return {
        "Type": "expr",
        "Exp": {"operator": op, "operands": [{"key": k, "exp": e} for k, e in leaves]},
    }


TAIL_FLUSHERS = [
    {"Name": "all"},
    *(
        {"Name": f"role_{r}", "Match": _field_match("role", r)}
        for r in ("assistant", "system", "tool")
    ),
    *({"Name": f"tool_{t}", "Match": _field_match("tool", t)} for t in inputs.TOOLS),
    *(
        {"Name": f"class_{c}", "Match": _field_match("tool_class", c)}
        for c in ("retrieval", "execution")
    ),
    {"Name": "exec_tool", "Match": _expr_match("and", ("role", "^tool$"), ("tool_class", "^execution$"))},
    {"Name": "lookup_or_system", "Match": _expr_match("or", ("tool", "^(search|browser)$"), ("role", "^system$"))},
    {"Name": "not_tool", "Match": _expr_match("not", ("role", "^tool$"))},
    # keys that only a successful grok or JSON parse writes
    {"Name": "syslog", "Match": _field_match("module", "search|code|browser|calc")},
    {"Name": "json_ok", "Match": _field_match("_ok", "true")},
]  # 16 sinks


def _local_path(uri: str) -> str:
    return urlparse(uri).path


class TailFanout(Workload):
    name = "tail_fanout"
    batch_turns = 2_000
    pool = 8  # batches generated at setup; a run lands at most this many
    series = "tail"
    composite = {
        "plans.pipeline.pandas_chain": [
            "operators.grok",
            "operators.json",
            "operators.split_kv",
            "operators.desensitize",
        ]
    }

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.pipe = Pipeline(
            processors=[
                # four Python-engine stages, fused by the compiler into one
                # Arrow round trip, then a filter on a key none of them writes
                {"Type": "processor_grok", "Match": [SYSLOG_GROK]},
                {"Type": "processor_json", "SourceKey": "content"},
                {"Type": "processor_split_key_value", "SourceKey": "content", "KeepSource": True},
                {
                    "Type": "processor_desensitize_pandas",
                    "SourceKey": "content",
                    "Method": "md5",
                    "Match": "regex",
                    "RegexBegin": "token=",
                    "RegexContent": "[^&]*",
                },
                {"Type": "processor_filter_regex", "Exclude": {"role": DROP_ROLES}},
                {"Type": "processor_add_fields", "Fields": {"pipeline": "tail", "cluster": "c1"}},
                {"Type": "processor_rename", "SourceKeys": ["content"], "DestKeys": ["message"]},
                {"Type": "processor_dict_map", "SourceKey": "tool", "DestKey": "tool_class", "MapDict": TOOL_CLASS},
            ],
            router={"Mode": "multicast"},
            flushers=TAIL_FLUSHERS,
        )
        self.staging = self.work / "staging"
        self.watched = self.work / "watched"
        self.out = self.work / "out"
        self.landed: list[str] = []
        self.increments: list[dict] = []

    def materialize(self) -> None:
        for d in (self.staging, self.watched, self.out, self.work / "warm"):
            shutil.rmtree(d, ignore_errors=True)
        self.watched.mkdir(parents=True)
        # batch i holds the i-th run of turns in arrival order
        table = inputs.transcripts(self.seed, self.batch_turns * self.pool)
        self.batches = inputs.write_parts(table, self.staging, self.pool)
        self.next_batch = 1  # batch 0 is the warm-up's
        self.landed = []
        self.increments = []

    def compute_oracle(self) -> None:
        per_file = oracle.multicast_per_file(self.batches, DROP_ROLES, TAIL_FLUSHERS, TOOL_CLASS)
        self.per_batch = [per_file[f] for f in self.batches]

    def warm_up(self, spark: SparkSession) -> None:
        """One increment of a separate series, on a copy of batch 0."""
        warm_in = self.work / "warm" / "in"
        warm_in.mkdir(parents=True, exist_ok=True)
        shutil.copy(self.batches[0], warm_in / f"batch-{len(os.listdir(warm_in)):05d}.parquet")
        m = incremental_run(
            spark, str(warm_in), self.pipe, str(self.work / "warm" / "out"), "warm",
            agg_keys=["conv_id", "role"], time_bucket="1 hour", to_events_fn=to_events,
        )
        if m is None or not m.finished:
            raise RuntimeError("warm-up increment did not finish")

    def can_run(self) -> bool:
        return self.next_batch < self.pool

    def op(self, spark: SparkSession, tracer: Tracer) -> int:
        i = self.next_batch
        self.next_batch += 1
        staged = self.batches[i]
        landed = str(self.watched / f"batch-{i:05d}.parquet")
        os.rename(staged, landed)  # atomic: the batch lands whole
        self.landed.append(landed)
        m = incremental_run(
            spark, str(self.watched), self.pipe, str(self.out), self.series,
            agg_keys=["conv_id", "role"], time_bucket="1 hour", to_events_fn=to_events,
        )
        if m is None or not m.finished:
            raise RuntimeError(f"increment {i} did not finish")
        files = [_local_path(f) for f in m.input_files]
        if files != [landed]:
            raise OracleMismatch(f"increment {i} read {files}, landed {landed}")
        want = {s: n for s, n in self.per_batch[i]["sinks"].items() if n}
        check(m.sink_counts, want, f"{self.name} increment {i}", exact=True)
        self.increments.append({"listed": len(self.landed), **self._written(m.run_id)})
        return self.per_batch[i]["rows"]

    @staticmethod
    def _batch_of(landed: str) -> int:
        return int(Path(landed).stem.split("-")[1])

    def _written(self, run_id: str) -> dict:
        events = parquet_files(self.out / "events" / f"run_id={run_id}")
        aggs = parquet_files(self.out / "aggregates" / f"run_id={run_id}")
        per_sink: dict[str, int] = {}
        for f in events:
            sink = Path(f).parent.name
            per_sink[sink] = per_sink.get(sink, 0) + 1
        return {
            "files": len(events) + len(aggs),
            "files_per_sink_max": max(per_sink.values(), default=0),
            "bytes": sum(os.path.getsize(f) for f in events + aggs),
        }

    def prefix_files(self) -> list[str]:
        # two batches: enough rows to resolve the Python chain, few enough
        # that a round of eleven prefixes stays short
        return list(self.landed[:2])

    def prefixes(self, spark: SparkSession, files: list[str], checked: bool = True) -> list[Prefix]:
        procs = self.pipe.processors
        rows = sum(self.per_batch[self._batch_of(f)]["rows"] for f in files) if checked else None
        kept = sum(self.per_batch[self._batch_of(f)]["kept"] for f in files) if checked else None
        grouped = (
            oracle.multicast_groups(files, DROP_ROLES, TAIL_FLUSHERS, TOOL_CLASS)
            if checked
            else {"routed": None, "groups": None}
        )

        def scan() -> DataFrame:
            return spark.read.parquet(*files)

        def upto(k: int) -> Callable[[], DataFrame]:
            return lambda: Pipeline(processors=procs[:k]).transform(to_events(scan()))

        def routed() -> DataFrame:
            return self.pipe.route(to_events(scan()))

        return [
            Prefix("sources.scan", scan, rows),
            Prefix("model.to_events", lambda: to_events(scan()), rows),
            Prefix("operators.grok", upto(1), rows, field("module").isNotNull()),
            Prefix("operators.json", upto(2), rows, field("_service").isNotNull()),
            Prefix("operators.split_kv", upto(3), rows, field("class").isNotNull()),
            Prefix("operators.desensitize", upto(4), rows, field("content").rlike("token=[0-9a-f]{32}")),
            Prefix("operators.filter", upto(5), kept),
            Prefix("operators.transform", upto(7), kept),  # add_fields + rename
            Prefix("operators.enrich", upto(8), kept),
            Prefix("plans.router", routed, grouped["routed"]),
            Prefix(
                "sinks.aggregate",
                lambda: writers.sink_aggregates(routed(), keys=["conv_id", "role"], time_bucket="1 hour"),
                grouped["groups"],
            ),
        ]

    def finish(self) -> dict:
        """Exactly once over the whole series: every landed file is in
        exactly one finished manifest, and the manifests' sink counts sum
        to the oracle over all landed files."""
        lineage_dir = self.out / "_lineage"
        state = SeriesState.load(str(self.out), self.series)
        seen: list[str] = []
        total: dict[str, int] = {}
        for run_id in state.run_ids:
            m = RunManifest.load(str(self.out), run_id)
            if not m.finished:
                raise OracleMismatch(f"manifest {run_id} not finished")
            seen += [_local_path(f) for f in m.input_files]
            for s, n in m.sink_counts.items():
                total[s] = total.get(s, 0) + n
        if sorted(seen) != sorted(self.landed):
            raise OracleMismatch(
                f"files processed {len(seen)} (distinct {len(set(seen))}), landed {len(self.landed)}"
            )
        want: dict[str, int] = {}
        for f in self.landed:
            for s, n in self.per_batch[self._batch_of(f)]["sinks"].items():
                if n:
                    want[s] = want.get(s, 0) + n
        check(total, want, f"{self.name} series total", exact=True)
        if len(list(lineage_dir.glob(f"{self.series}_*.json"))) != len(state.run_ids):
            raise OracleMismatch("manifest count differs from the series' run ids")
        return {"increments": len(state.run_ids), "series_sink_counts": total}

    def span_metrics(self, traces: list[dict]) -> dict[str, float]:
        """Per-increment layer times (median), and what the increments
        listed and wrote."""
        rows = []
        for t in traces:
            op, run, write = t["op"][0], t["lineage.run_pipeline"][0], t["sinks.write_routed"][0]
            saves = t["lineage.manifest_save"]
            rows.append(
                {
                    "lineage.list_files_s": run.start - op.start,
                    "driver.plan_build_s": write.start - run.start,
                    "sinks.write_routed_s": write.duration,
                    # from reading the events back to committing the aggregates phase
                    "sinks.read_back_aggregate_s": saves[1].start - t["sinks.read_events_back"][0].start,
                    "lineage.manifest_save_s": sum(
                        s.duration for s in saves + t.get("lineage.series_save", [])
                    ),
                }
            )
        out = {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}
        if self.increments:
            incs = self.increments
            out["lineage.new_file_ratio"] = len(incs) / sum(i["listed"] for i in incs)
            out["sinks.files_written"] = statistics.mean(i["files"] for i in incs)
            out["sinks.files_per_sink_max"] = max(i["files_per_sink_max"] for i in incs)
            out["sinks.bytes_written"] = statistics.mean(i["bytes"] for i in incs)
        return out

    def trace_wrappers(self, tracer: Tracer) -> list[Callable[[], None]]:
        """Spans around the layers an increment calls into."""
        return [
            tracer.wrap(lineage, "run_pipeline", "lineage.run_pipeline"),
            tracer.wrap(writers, "write_routed", "sinks.write_routed"),
            tracer.wrap(writers, "read_events_back", "sinks.read_events_back"),
            tracer.wrap(writers, "sink_aggregates", "sinks.sink_aggregates"),
            tracer.wrap(writers, "write_aggregates", "sinks.write_aggregates"),
            tracer.wrap(RunManifest, "save", "lineage.manifest_save"),
            tracer.wrap(SeriesState, "save", "lineage.series_save"),
        ]


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (RegexRoute, TailFanout)
}
