"""DuckDB oracles: the expected outputs of each workload, computed from
the same generated parquet with an independent engine (RE2 regexes,
DuckDB SQL) rather than with the code under test.
"""

from __future__ import annotations

import duckdb


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET enable_progress_bar = false")
    return con


def _lit(s: str) -> str:
    """A SQL string literal. Patterns go in as literals, not parameters:
    DuckDB compiles a parameter pattern again for every row."""
    return "'" + s.replace("'", "''") + "'"


def _scan(files: list[str]) -> str:
    return "read_parquet([" + ", ".join(map(_lit, files)) + "], filename = true)"


def _hour(col: str) -> str:
    return f"epoch_us({col}) // 3600000000"


def first_match_sql(col: str, router: dict) -> str:
    """SQL twin of a first_match router: full-match regexes, in order."""
    arms = " ".join(
        f"WHEN regexp_full_match({col}, {_lit(f'(?s)(?:{r})')}) THEN {_lit(s)}"
        for r, s in zip(router["RouterRegex"], router["RouterLogstore"])
    )
    return f"CASE {arms} ELSE {_lit(router['DefaultLogstore'])} END"


def _sinks(router: dict) -> list[str]:
    return router["RouterLogstore"] + [router["DefaultLogstore"]]


def match_sql(cond: dict | None) -> str:
    """SQL twin of a multicast flusher Match: ``field`` is a full match,
    ``expr`` leaves are find-anywhere matches; a missing key never
    matches, so ``not`` over a missing key is true."""
    if not cond:
        return "TRUE"
    if cond["Type"] == "field":
        k, pattern = cond["Key"], "(?s)(?:" + cond["Value"] + ")"
        return f"({k} IS NOT NULL AND regexp_full_match({k}, {_lit(pattern)}))"
    if cond["Type"] == "expr":
        return _tree_sql(cond["Exp"])
    raise ValueError(f"no SQL twin for Match type {cond['Type']!r}")


def _tree_sql(node: dict) -> str:
    if "key" in node:
        k = node["key"]
        return f"({k} IS NOT NULL AND regexp_matches({k}, {_lit(node['exp'])}))"
    parts = [_tree_sql(c) for c in node["operands"]]
    op = node["operator"].lower()
    if op == "not":
        return f"(NOT {parts[0]})"
    return "(" + f" {op.upper()} ".join(parts) + ")"


def route_parse_aggregate(files: list[str], router: dict, nginx: str, applog: str) -> dict:
    """regex_route: per-sink routed counts, the two regex parse counts and
    a fingerprint of the hourly (sink, hour, role, tool) aggregate."""
    con = _connect()
    con.execute(
        f"""CREATE TEMP VIEW routed AS
        SELECT {first_match_sql('role', router)} AS sink, {_hour('ts')} AS hr, role, tool, text
        FROM {_scan(files)}"""
    )
    out = dict.fromkeys(_sinks(router), 0)
    out.update(con.execute("SELECT sink, count(*) FROM routed GROUP BY sink").fetchall())
    out["total"], out["nginx_ok"], out["applog_ok"] = con.execute(
        f"""SELECT count(*), count(*) FILTER (WHERE regexp_matches(text, {_lit('(?s)' + nginx)})),
        count(*) FILTER (WHERE regexp_matches(text, {_lit('(?s)' + applog)})) FROM routed"""
    ).fetchone()
    row = con.execute(
        """SELECT count(*), sum(c), sum(c * hr), sum(c * c) FROM (
             SELECT sink, hr, role, tool, count(*) AS c FROM routed GROUP BY ALL)"""
    ).fetchone()
    con.close()
    out.update(zip(["agg_groups", "agg_events", "agg_w_hour", "agg_w_sq"], map(int, row)))
    return out


# The keys tail_fanout's Python parsers write that its sinks match on, as
# SQL over the text shapes the generator makes: grok's ``module`` from a
# syslog line, JSON's ``_ok`` from a JSON object.
SYSLOG_MODULE = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z (\w+)\[\d+\]: "
JSON_OK = r'^\{.*"ok":(true|false)'


def _tail_view(con, files: list[str], drop_roles: str, tool_class: dict) -> None:
    """Every row with a ``kept`` flag (the role filter) and the keys the
    sinks match on, as the pipeline computes them."""
    cls = " ".join(f"WHEN {_lit(k)} THEN {_lit(v)}" for k, v in tool_class.items())
    con.execute(
        f"""CREATE TEMP VIEW t AS SELECT filename, conv_id, role, tool,
              CASE tool {cls} ELSE NULL END AS tool_class, {_hour('ts')} AS hr,
              NULLIF(regexp_extract(text, {_lit(SYSLOG_MODULE)}, 1), '') AS module,
              NULLIF(regexp_extract(text, {_lit(JSON_OK)}, 1), '') AS _ok,
              NOT regexp_matches(role, {_lit(drop_roles)}) AS kept
            FROM {_scan(files)}"""
    )


def multicast_per_file(
    files: list[str], drop_roles: str, flushers: list[dict], tool_class: dict
) -> dict:
    """tail_fanout: per landed file, its rows, the rows the role filter
    keeps and the rows each multicast sink receives."""
    con = _connect()
    _tail_view(con, files, drop_roles, tool_class)
    counts = ", ".join(
        f"count(*) FILTER (WHERE kept AND {match_sql(f.get('Match'))})" for f in flushers
    )
    rows = con.execute(
        f"SELECT filename, count(*), count(*) FILTER (WHERE kept), {counts} FROM t GROUP BY filename"
    ).fetchall()
    con.close()
    names = [f["Name"] for f in flushers]
    return {r[0]: {"rows": r[1], "kept": r[2], "sinks": dict(zip(names, r[3:]))} for r in rows}


def multicast_groups(
    files: list[str], drop_roles: str, flushers: list[dict], tool_class: dict
) -> dict:
    """tail_fanout: routed rows and (sink, hour, conv_id, role) groups over
    the landed files, the expected row counts of its last two prefixes."""
    con = _connect()
    _tail_view(con, files, drop_roles, tool_class)
    arms = " UNION ALL ".join(
        f"SELECT {_lit(f['Name'])} AS sink, hr, conv_id, role FROM t"
        f" WHERE kept AND {match_sql(f.get('Match'))}"
        for f in flushers
    )
    routed, groups = con.execute(
        f"SELECT count(*), count(DISTINCT (sink, hr, conv_id, role)) FROM ({arms})"
    ).fetchone()
    con.close()
    return {"routed": routed, "groups": groups}
