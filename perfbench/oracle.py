"""Independent oracle: every rule recomputed in DuckDB SQL over the
generated JSONL, compared window by window with what the sink
published.

The rules are read from the YAML with plain ``yaml`` (not the
program's loader) and compiled here to SQL: window start, tenant +
grouped key, filtered/rejected dimensions (``""`` rejects any value),
and delta/rate as last-minus-first by event time with a NULL rate for
a single sample.
"""

from __future__ import annotations

import glob
import os

import duckdb
import yaml

AGG_SQL = {
    "sum": "sum(value)",
    "count": "count(*)::DOUBLE",
    "avg": "avg(value)",
    "min": "min(value)",
    "max": "max(value)",
    "delta": "arg_max(value, ts) - arg_min(value, ts)",
    "rate": "(arg_max(value, ts) - arg_min(value, ts))"
    " / nullif((max(ts) - min(ts)) / 1000.0, 0)",
}

ENVELOPE_COLUMNS = "{'metric': 'JSON', 'meta': 'JSON', 'creation_time': 'BIGINT'}"


def load_rules(path: str) -> list[dict]:
    with open(path) as f:
        return yaml.safe_load(f)["aggregationSpecifications"]


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _dim(k: str, col: str = "dims") -> str:
    return f"json_extract_string({col}, {_q('$.' + chr(34) + k + chr(34))})"


def _out_keys(rule: dict) -> list[str]:
    return sorted(set(rule.get("filteredDimensions") or {})
                  | set(rule.get("groupedDimensions") or ()))


def _dkey(rule: dict, col: str, *, published: bool) -> str:
    """Canonical text of a rule's output dimensions."""
    filtered = rule.get("filteredDimensions") or {}
    parts = []
    for k in _out_keys(rule):
        v = _dim(k, col) if published or k not in filtered else _q(filtered[k])
        parts.append(f"{_q(k + '=')} || {v}")
    return f"concat_ws(chr(31), {', '.join(parts)})" if parts else "''"


def _predicate(rule: dict) -> str:
    pred = [f"name = {_q(rule['filteredMetricName'])}"]
    for k, v in (rule.get("filteredDimensions") or {}).items():
        pred.append(f"{_dim(k)} = {_q(v)}")
    for k, v in (rule.get("rejectedDimensions") or {}).items():
        if v == "":
            pred.append(f"{_dim(k)} IS NULL")
        else:
            pred.append(f"({_dim(k)} IS NULL OR {_dim(k)} <> {_q(v)})")
    for k in rule.get("groupedDimensions") or ():
        pred.append(f"{_dim(k)} IS NOT NULL")
    return " AND ".join(pred)


class Oracle:
    def __init__(self, rules: list[dict], window_s: int, lag_s: int, tmp_dir):
        self.rules = rules
        self.win = window_s * 1000
        self.lag = lag_s * 1000
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(f"SET temp_directory = {_q(str(tmp_dir))}")

    def close(self) -> None:
        self.con.close()

    def load_source(self, table: str, src_dir: str) -> int:
        """The generated envelopes of one phase as a table; returns the
        line count."""
        files = os.path.join(src_dir, "*.jsonl")
        self.con.execute(f"""
            CREATE OR REPLACE TABLE {table} AS
            SELECT json_extract_string(metric, '$.name') AS name,
                   trunc(json_extract(metric, '$.timestamp')::DOUBLE)::BIGINT AS ts,
                   json_extract(metric, '$.value')::DOUBLE AS value,
                   json_extract(metric, '$.dimensions') AS dims,
                   json_extract_string(meta, '$.tenantId') AS tenant,
                   creation_time AS created
            FROM read_json({_q(files)}, format='newline_delimited',
                           columns={ENVELOPE_COLUMNS})""")
        return self.con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]

    def expected(self, table: str, *, closed_only: bool) -> None:
        """Expected output rows of every rule into table ``exp``.

        ``closed_only`` (bounded replays, no heartbeat): a rule's window
        publishes only once its watermark, the latest event time the
        rule matched minus the lag, reaches the window end; later
        windows stay open when the backlog ends."""
        parts = []
        for r in self.rules:
            parts.append(f"""
                SELECT {_q(r['name'])} AS rule, (ts // {self.win}) * {self.win} AS window_ts,
                       tenant, {_dkey(r, 'dims', published=False)} AS dkey,
                       {AGG_SQL[r['function']]} AS value,
                       max(created) AS last_created, max(ts) AS max_ts
                FROM {table} WHERE {_predicate(r)} GROUP BY ALL""")
        self.con.execute("CREATE OR REPLACE TABLE exp AS " + " UNION ALL ".join(parts))
        if closed_only:
            self.con.execute(f"""
                DELETE FROM exp USING (SELECT rule, max(max_ts) AS m FROM exp GROUP BY rule) w
                WHERE exp.rule = w.rule AND exp.window_ts + {self.win} > w.m - {self.lag}""")

    def check(self, sink_root: str) -> list[tuple]:
        """Compare one pass's sink output with ``exp``.

        Returns one (rule, window_ts, ok, last_created_ms, batch) per
        expected or published (rule, window). ``ok`` means every
        expected row was published exactly once, in one batch, with the
        oracle's value and dimensions, and nothing else was published
        for that window."""
        out = []
        for r in self.rules:
            files = glob.glob(os.path.join(sink_root, "sink", r["name"], "batch=*", "part-*"))
            published = "(SELECT NULL::BIGINT AS window_ts, NULL AS tenant, NULL AS dkey," \
                " NULL::DOUBLE AS value, NULL::BIGINT AS batch, NULL::BOOLEAN AS shape_ok" \
                " WHERE false)"
            if files:
                nkeys = len(_out_keys(r))
                published = f"""(
                    SELECT trunc(json_extract(metric, '$.timestamp')::DOUBLE)::BIGINT AS window_ts,
                           json_extract_string(meta, '$.tenantId') AS tenant,
                           {_dkey(r, "json_extract(metric, '$.dimensions')", published=True)} AS dkey,
                           json_extract(metric, '$.value')::DOUBLE AS value,
                           regexp_extract(filename, 'batch=([0-9]+)', 1)::BIGINT AS batch,
                           json_extract_string(metric, '$.name') = {_q(r['aggregatedMetricName'])}
                             AND coalesce(len(json_keys(json_extract(metric, '$.dimensions'))), 0)
                                 = {nkeys} AS shape_ok
                    FROM read_json({files!r}, format='newline_delimited',
                                   columns={ENVELOPE_COLUMNS}, filename=true))"""
            rows = self.con.execute(f"""
                WITH p AS (
                    SELECT window_ts, tenant, dkey, count(*) AS n, any_value(value) AS value,
                           min(batch) AS batch, bool_and(shape_ok) AS shape_ok
                    FROM {published} GROUP BY ALL),
                e AS (SELECT * FROM exp WHERE rule = {_q(r['name'])})
                SELECT coalesce(e.window_ts, p.window_ts) AS w,
                       bool_and(coalesce(
                                e.window_ts IS NOT NULL AND p.window_ts IS NOT NULL
                                AND p.n = 1 AND p.shape_ok
                                AND ((e.value IS NULL AND p.value IS NULL)
                                     OR abs(e.value - p.value)
                                        <= 1e-9 * greatest(1.0, abs(e.value))), false))
                           AND count(DISTINCT p.batch) = 1 AS ok,
                       max(e.last_created), min(p.batch)
                FROM e FULL OUTER JOIN p USING (window_ts, tenant, dkey)
                GROUP BY 1 ORDER BY 1""").fetchall()
            if not rows:
                # a rule with no expected and no published output
                rows = [(None, False, None, None)]
            out += [(r["name"], *row) for row in rows]
        return out

    def expected_rows(self) -> int:
        return self.con.execute("SELECT count(*) FROM exp").fetchone()[0]
