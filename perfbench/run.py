"""Pipeline benchmark: one closed-loop driver process at ``local[nproc]``.

    python3 perfbench/run.py --workload regex_route --seed 1 --seconds 20 --trace 0

Run from the repository root. One operation (a batch job, or one
increment of the tail-and-resume series) runs at a time, with no other
client threads; every operation is checked against a DuckDB oracle.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs with
Spark's event log on: untraced and traced operations (spans around each
call into a layer) interleave, then the cumulative layer prefixes are
timed; it prints the per-layer metrics. perfbench/DESIGN.md has the
workloads, metrics and their definitions.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is the full
report (host record, oracle checks, every sample), also written under
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUPS = 3  # setup_s is the median of this many full set-ups
WARM_OPS = 1  # untimed operations per set-up
MIN_OPS = 3  # timed operations of an untraced run, even when fewer fit the window
MIN_PREFIX_ROUNDS = 3


def _prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``, and
    size the driver below host memory. Must run before the JVM starts."""
    from perfbench.host import total_ram_bytes

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    ram_gb = total_ram_bytes() // 2**30
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, ram_gb // 4))}g"


def _session_conf(work: Path, event_log: Path | None = None) -> dict[str, str]:
    conf = {
        # local mode: speculative copies only duplicate tasks on the same cores
        "spark.speculation": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}"
        f" -Dderby.system.home={work / 'tmp'}",
    }
    if event_log is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


class Session:
    """The run's base SparkSession and the JVM behind it."""

    def __init__(self, cores: int) -> None:
        self.master = f"local[{cores}]"
        self.spark = None

    def start(self, conf: dict[str, str]):
        from ilogtail_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", master=self.master, extra_conf=conf)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def java_version(self) -> str:
        return self.spark.sparkContext._jvm.java.lang.System.getProperty("java.version")

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for every child."""
        from pyspark import SparkContext

        from perfbench.host import wait_for_children

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
        left = wait_for_children(60)
        if left:
            raise RuntimeError(f"child processes still running: {left}")


class Tally:
    """Operations attempted and failed, with the first errors kept."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        msg = f"{what}: {traceback.format_exc(limit=3)}"
        print(msg, file=sys.stderr)
        if len(self.errors) < 5:
            self.errors.append(msg[-2000:])


def _window_open(deadline: float, durations: list[float]) -> bool:
    """Whether another operation of typical length ends inside the window."""
    if not durations:
        return time.perf_counter() < deadline
    return time.perf_counter() + statistics.median(durations) <= deadline


def run_ops(wl, spark, tracers: list, seconds: float, tally: Tally) -> list[dict]:
    """Closed loop: the next operation starts when the previous returns,
    as long as one of typical length still ends inside the window. With
    two tracers (the traced run) operations take them in the order
    ABBA ABBA ..., so neither side gets all the early operations of a
    session. One result per tracer, with each operation's wall time and
    the process tree's CPU time over it."""
    from perfbench.host import tree_cpu_s

    results = [{"times": [], "cpu": [], "turns": [], "labels": []} for _ in tracers]
    order = [0, 1, 1, 0] if len(tracers) == 2 else [0]
    min_ops = len(order) if len(tracers) == 2 else MIN_OPS
    deadline = time.perf_counter() + seconds
    done: list[float] = []
    tried = 0
    while wl.can_run() and (tried < min_ops or _window_open(deadline, done)):
        k = order[tried % len(order)]
        tracer, res = tracers[k], results[k]
        label = f"op:{tally.attempted}"
        tally.attempted += 1
        tried += 1
        undo = wl.trace_wrappers(tracer) if tracer.enabled else []
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with tracer.span("op", label=label):
                n = wl.op(spark, tracer)
        except Exception:
            tally.fail(label)
            continue
        finally:
            for u in undo:
                u()
        res["times"].append(time.perf_counter() - t0)
        res["cpu"].append(tree_cpu_s() - cpu0)
        done.append(res["times"][-1])
        res["turns"].append(n)
        res["labels"].append(label)
    return results


def run_prefixes(wl, spark, tracer, seconds: float, tally: Tally) -> tuple[list, dict, dict]:
    """Time a noop-sink action on every cumulative prefix, round-robin,
    while a round of typical length ends inside ``seconds`` (at least
    MIN_PREFIX_ROUNDS rounds)."""
    from pyspark.sql import functions as F

    from perfbench.workloads import Prefix, check, noop, observed

    def action(p) -> dict:
        metrics = {"rows": F.count(F.lit(1))}
        if p.ok is not None:
            metrics["ok"] = F.count_if(p.ok)
        df, ob = observed(p.build(), **metrics)
        noop(df)
        return ob.get

    # the fixed cost of one action, which the first layer's prefix also pays
    baseline = Prefix("driver.action", lambda: spark.range(1), 1)
    files = wl.prefix_files()
    # an untimed round over one file compiles each prefix's generated code
    for p in [baseline] + wl.prefixes(spark, files[:1], checked=False):
        action(p)
    prefixes = [baseline] + wl.prefixes(spark, files)
    walls: dict[str, list[float]] = {p.layer: [] for p in prefixes}
    ok: dict[str, int] = {}
    deadline = time.perf_counter() + seconds
    rounds: list[float] = []
    rnd = 0
    while rnd < MIN_PREFIX_ROUNDS or _window_open(deadline, rounds):
        t_round = time.perf_counter()
        with tracer.span("prefix_round"):
            for p in prefixes:
                label = f"prefix:{rnd}:{p.layer}"
                tally.attempted += 1
                t0 = time.perf_counter()
                try:
                    with tracer.span(f"prefix.{p.layer}", label=label):
                        got = action(p)
                    check({"rows": got["rows"]}, {"rows": p.rows}, label)
                except Exception:
                    tally.fail(label)
                    continue
                walls[p.layer].append(time.perf_counter() - t0)
                if p.ok is not None:
                    ok[p.layer] = got["ok"]
        rounds.append(time.perf_counter() - t_round)
        rnd += 1
    return prefixes, walls, ok


def _spread(xs: list[float]) -> float:
    """Interquartile range (inclusive quartiles): half the range of three
    rounds, and less swayed by one slow round than the range of more."""
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def layer_table(prefixes, walls: dict, ev_walls: dict, composite: dict) -> dict:
    """Self time of each layer = its prefix minus the previous prefix, per
    round, median over rounds; the same from the event log's stage times.
    A self time below the two prefixes' own spread (interquartile range
    over rounds) is unresolved."""
    spans = {}
    order = [p.layer for p in prefixes]
    for i, layer in enumerate(order):
        spans[layer] = (order[i - 1] if i else None, layer)
    for name, parts in composite.items():
        spans[name] = (order[order.index(parts[0]) - 1], parts[-1])
    table = {}
    for name, (before, upto) in spans.items():

        def selfs(series: dict) -> list[float]:
            if before is None:
                return list(series[upto])
            return [a - b for a, b in zip(series[upto], series[before])]

        own = statistics.median(selfs(walls))
        spread = max(_spread(walls[upto]), _spread(walls[before]) if before else 0.0)
        ev_own = statistics.median(selfs(ev_walls)) if ev_walls else None
        table[name] = {
            "self_s": own,
            "spread_s": spread,
            "resolved": abs(own) >= spread,
            "eventlog_self_s": ev_own,
            "agrees": ev_own is not None
            and abs(own - ev_own) <= max(2 * spread, 0.25 * abs(own), 0.05),
        }
    return table


def tail_percentile(times: list[float]) -> dict | None:
    """The highest percentile that leaves at least ten samples beyond it."""
    n = len(times)
    if n <= 10:
        return None
    return {"percentile": 100 * (n - 10) / n, "samples": n, "value": sorted(times)[n - 11]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "ilogtail_spark" / "__init__.py").is_file() or not spec_path.is_file():
        print(f"perfbench: no ilogtail_spark package or BENCHMARK.json under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    spec = json.loads(spec_path.read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out_dir.mkdir(exist_ok=True)
    try:
        _prepare_env(work)
        report, result = _run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(out_dir / f"{stem}.json", "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True, default=str)
    print(json.dumps({"report": report}, sort_keys=True, default=str))
    print(json.dumps(result))
    return 0


def _run(args, spec: dict, work: Path) -> tuple[dict, dict]:
    from perfbench import host
    from perfbench.eventlog import read_stages, spark_metrics, stage_wall_s
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    record = host.HostRecord(args.seed)
    cores = host.nproc()
    wl = WORKLOADS[args.workload](work, args.seed, cores)
    session = Session(cores)
    conf = _session_conf(work)
    tally = Tally()
    report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    try:
        log_dir = work / "eventlog"
        if args.trace:
            log_dir.mkdir()
            conf = _session_conf(work, log_dir)
        t0 = time.perf_counter()
        base = session.start(conf)
        report["context_start_s"] = time.perf_counter() - t0
        setups, parts = [], []
        # Each set-up starts a SparkSession on the running context. Only the
        # first pays for a cold JVM, so the median is a warm set-up. The
        # traced run reports no setup_s and sets up once.
        for i in range(1 if args.trace else SETUPS):
            t0 = time.perf_counter()
            spark = base.newSession()
            t1 = time.perf_counter()
            wl.materialize()
            t2 = time.perf_counter()
            if i == 0:
                wl.compute_oracle()  # the benchmark's own work, not set-up
            t3 = time.perf_counter()
            for _ in range(WARM_OPS):
                wl.warm_up(spark)
            t4 = time.perf_counter()
            parts.append({"session": t1 - t0, "materialize": t2 - t1, "warm_up": t4 - t3})
            setups.append(t4 - t3 + t2 - t0)
        report["setup_s_all"] = setups
        report["setup_parts"] = parts
        java = session.java_version()

        if not args.trace:
            (ops,) = run_ops(wl, spark, [Tracer(False)], args.seconds, tally)
            rss = host.tree_peak_rss_mb()
            report["finish"] = _finish(wl, tally)
            values = {
                # medians over the operations, so one operation slowed by a
                # co-tenant moves neither
                "turns_per_s": statistics.median(n / t for n, t in zip(ops["turns"], ops["times"]))
                if ops["times"]
                else 0.0,
                "cpu_s_per_mturn": statistics.median(c / n * 1e6 for n, c in zip(ops["turns"], ops["cpu"]))
                if ops["cpu"]
                else 0.0,
                "peak_rss_mb": rss,
                "setup_s": statistics.median(setups),
            }
            report["op_s"] = ops["times"]
            report["op_cpu_s"] = ops["cpu"]
            report["op_s_p50"] = statistics.median(ops["times"]) if ops["times"] else None
            report["op_s_tail"] = tail_percentile(ops["times"])
            kind = "end_to_end"
        else:
            # The event log is on for the whole traced run, so
            # trace.overhead_ratio is the cost of the spans, call-site labels
            # and wrappers: untraced and traced operations interleave.
            tracer = Tracer(True, spark)
            plain, traced = run_ops(wl, spark, [Tracer(False), tracer], args.seconds / 2, tally)
            prefixes, walls, ok = run_prefixes(wl, spark, tracer, args.seconds / 2, tally)
            report["finish"] = _finish(wl, tally)
            session.stop()  # flushes the event log
            stages = read_stages(log_dir)
            rounds = min(len(w) for w in walls.values())
            ev_walls = {
                p.layer: [stage_wall_s(stages, f"prefix:{r}:{p.layer}") for r in range(rounds)]
                for p in prefixes
            }
            walls = {k: v[:rounds] for k, v in walls.items()}
            layers = layer_table(prefixes, walls, ev_walls, wl.composite) if rounds else {}
            values = {f"{k}.self_s": v["self_s"] for k, v in layers.items()}
            rows = {p.layer: p.rows for p in prefixes}
            for layer, n in ok.items():
                values[f"{layer}.ok_ratio"] = n / rows[layer]
            if "operators.filter" in rows:
                values["operators.filter.keep_ratio"] = rows["operators.filter"] / rows["model.to_events"]
            values.update(spark_metrics(stages, traced["labels"]))
            values.update(wl.span_metrics(tracer.traces("op", traced["labels"])))
            resolved = [v for v in layers.values() if v["resolved"]]
            if plain["times"] and traced["times"]:
                values["trace.overhead_ratio"] = (
                    statistics.median(traced["times"]) / statistics.median(plain["times"]) - 1
                )
            values["trace.layers_unresolved"] = len(layers) - len(resolved)
            values["trace.eventlog_agreement_ratio"] = (
                sum(v["agrees"] for v in resolved) / len(resolved) if resolved else 0.0
            )
            report.update(
                layers=layers,
                prefix_walls=walls,
                op_s_untraced=plain["times"],
                op_s_traced=traced["times"],
                span_self_s=tracer.self_times(),
            )
            tracer.dump(ROOT / ".perfbench_out" / f"spans-{args.workload}-seed{args.seed}.json")
            kind = "per_layer"

        absent = [m["name"] for m in spec[kind] if m["name"] not in values]
        report["not_on_this_workload"] = absent
        metrics = {
            m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in spec[kind]
        }
        report["extra"] = {k: v for k, v in values.items() if k not in metrics}
        report["failed_ratio"] = tally.failed / max(1, tally.attempted)
        report["errors"] = tally.errors
        report["host"] = record.finish({"master": session.master, **conf}, java)
    finally:
        session.shutdown()
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }
    return report, result


def _finish(wl, tally: Tally) -> dict:
    """The workload's whole-run checks, counted as one more operation."""
    tally.attempted += 1
    try:
        return wl.finish()
    except Exception:
        tally.fail("finish")
        return {}


if __name__ == "__main__":
    sys.exit(main())
