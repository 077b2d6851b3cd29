"""Seeded transcript generator: the benchmark's inputs, made without the
code under test, so a change to the package's own generator cannot
change what the benchmark measures.

Rows follow the transcripts schema (conv_id, turn_idx, role, text, tool,
ts). Conversation sizes are Zipf-skewed, and each text takes one of seven
log shapes: nginx access, app log, syslog, JSON, tab-delimited,
key-value and key=value with secrets.
"""

from __future__ import annotations

import datetime as dt
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

TOOLS = ("search", "code", "browser", "calc", "shell")
BASE = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def _nginx(r: random.Random, ts: dt.datetime) -> str:
    method = r.choice(("GET", "POST", "PUT", "DELETE"))
    status = r.choice(("200", "200", "200", "404", "500", "302"))
    path = f"/api/v1/{r.choice(('users', 'orders', 'items', 'search'))}/{r.randrange(10_000)}"
    return (
        f"10.{r.randrange(200)}.{r.randrange(250)}.{r.randrange(250)} - frank "
        f'[{ts:%d/%b/%Y:%H:%M:%S} +0000] "{method} {path} HTTP/1.1" {status} '
        f'{r.randrange(50_000)} "-" "agent-{r.randrange(9)}"'
    )


def _applog(r: random.Random, ts: dt.datetime) -> str:
    level = r.choice(("INFO", "WARN", "ERROR", "DEBUG"))
    return (
        f"{ts:%Y-%m-%d %H:%M:%S}.000 {r.randrange(100_000_000)} [Worker-{r.randrange(16)}] "
        f"{level}  request done latency_ms={r.randrange(2_000)} route=/r/{r.randrange(40)}"
    )


def _syslog(r: random.Random, ts: dt.datetime) -> str:
    module = r.choice(("search", "code", "browser", "calc"))
    outcome = r.choice(("ok", "failed", "retried"))
    return f"{ts:%Y-%m-%dT%H:%M:%SZ} {module}[{1000 + r.randrange(9000)}]: tool call {outcome} code={r.randrange(3)}"


def _json(r: random.Random, ts: dt.datetime) -> str:
    return (
        f'{{"service":"svc{r.randrange(8)}","latency_ms":{r.randrange(5_000)},'
        f'"ok":{r.choice(("true", "false"))},"nested":{{"a":{r.randrange(100)},'
        f'"b":{{"c":"x{r.randrange(10)}"}}}},"items":[{r.randrange(7)},{r.randrange(7)}]}}'
    )


def _delimited(r: random.Random, ts: dt.datetime) -> str:
    return f"{r.randrange(100_000)}\t{ts:%Y-%m-%d}\t{r.choice(('buy', 'sell', 'hold'))}\t{r.randrange(1_000_000)}"


def _keyvalue(r: random.Random, ts: dt.datetime) -> str:
    return (
        f"class:main\tuser:u{r.randrange(1_000)}\tlatency:{r.randrange(900)}"
        f"\t:empty{r.randrange(5)}\tstray{r.randrange(5)}"
    )


def _secrets(r: random.Random, ts: dt.datetime) -> str:
    return f"password=secret{r.randrange(100)}&user=alice{r.randrange(50)}&token=tok_{r.randrange(100_000)}&note=ok"


TEMPLATES = (_nginx, _applog, _syslog, _json, _delimited, _keyvalue, _secrets)


def transcripts(seed: int, n_turns: int) -> pa.Table:
    """``n_turns`` turns in arrival order; the same seed gives the same table."""
    r = random.Random(seed)
    n_convs = max(1, n_turns // 20)
    next_turn = [0] * n_convs
    cols: dict[str, list] = {name: [] for name in SCHEMA.names}
    for _ in range(n_turns):
        rank = int(n_convs * r.random() ** 3)  # u^3: low ranks are hot
        turn = next_turn[rank]
        next_turn[rank] += 1
        u = r.random()
        role = "system" if turn == 0 else "user" if u < 0.4 else "assistant" if u < 0.8 else "tool"
        ts = BASE + dt.timedelta(seconds=rank * 97 + turn * 7)
        cols["conv_id"].append(f"conv_{rank:08d}")
        cols["turn_idx"].append(turn)
        cols["role"].append(role)
        cols["text"].append(r.choice(TEMPLATES)(r, ts))
        cols["tool"].append(r.choice(TOOLS) if role == "tool" else "")
        cols["ts"].append(ts)
    return pa.table(cols, schema=SCHEMA)


def write_parts(table: pa.Table, directory: Path, parts: int) -> list[str]:
    """Write ``table`` as ``parts`` parquet files of consecutive rows."""
    directory.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // parts)
    paths = []
    for i in range(parts):
        path = directory / f"part-{i:05d}.parquet"
        pq.write_table(table.slice(i * step, step), path)
        paths.append(str(path))
    return paths
