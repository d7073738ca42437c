"""Output checks, run after the timed passes, in DuckDB.

Each check returns a list of (name, ok, detail). Frames compare as the
repo's oracle tooling does: same column names, same row count, and the
same multiset of rows once columns are sorted by name and floats rounded
to 9 decimals.
"""
import glob
import math
import os
import re

import duckdb


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _frame(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(_canon(r[i]) for i in order) for r in cur.fetchall())
    return sorted(cols), rows


def compare(con, name, actual_sql, expected_sql):
    try:
        a_cols, a_rows = _frame(con, actual_sql)
        e_cols, e_rows = _frame(con, expected_sql)
    except Exception as e:  # a missing output or a broken oracle both fail
        return name, False, f"error: {e}"
    if a_cols != e_cols:
        return name, False, f"columns {a_cols} != {e_cols}"
    if len(a_rows) != len(e_rows):
        return name, False, f"rows {len(a_rows)} != {len(e_rows)}"
    if a_rows != e_rows:
        diff = next(i for i, (x, y) in enumerate(zip(a_rows, e_rows)) if x != y)
        return name, False, f"row {diff}: {a_rows[diff]} != {e_rows[diff]}"
    return name, True, f"{len(a_rows)} rows"


def _parquet(path):
    return f"read_parquet('{path}/*.parquet', hive_partitioning = false)"


def materialized(sql):
    """The oracle with every CTE materialized: same result, but DuckDB no
    longer inlines iterated CTE chains (q_pca's power iteration runs for
    minutes inlined, 0.1 s materialized)."""
    return re.sub(r"(\bWITH|,)(\s*\w+\s+)AS\s+\(", r"\1\2AS MATERIALIZED (", sql)


def oracle_checks(con, tables_dir, check_dir, oracles):
    for t in glob.glob(f"{tables_dir}/*.parquet"):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{t}'")
    return [compare(con, q, f"SELECT * FROM {_parquet(f'{check_dir}/{q}')}", materialized(sql))
            for q, sql in sorted(oracles.items())]


def registry_mix(data, result):
    con = duckdb.connect()
    return oracle_checks(con, f"{data}/sf", result["facts"]["check_dir"], result["oracles"])


ACTIVE = "('WAIT','RUN','HOLD')"
TENANTS = [("fab_a", "('WAIT','RUN','HOLD')", "HIGH"), ("fab_b", "('RUN')", "HIGH"),
           ("fab_c", "('WAIT','HOLD')", "LOW")]
MONEY = "CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE)"


def _wip_sql(day, part, groups, status_in, extra=""):
    return (f"SELECT {groups}, {MONEY.format(c='quantity')} AS wip_qty, "
            f"COUNT(DISTINCT lot_id) AS lot_count, "
            f"{MONEY.format(c='quantity')} / COUNT(quantity) AS avg_qty_per_lot{extra}, "
            f"'{day}' AS snapshot_date FROM lots WHERE date = {part} "
            f"AND status IN {status_in} GROUP BY {groups}")


def high(priority):
    return f", COUNT(CASE WHEN priority = '{priority}' THEN 1 END) AS high_priority_count"


def _util_sql(day, part):
    sums = ", ".join(
        f"COALESCE(CAST(SUM(CASE WHEN event_type = '{t}' THEN CAST(duration_min AS "
        f"DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS \"{t}\"" for t in ["RUN", "IDLE", "DOWN", "PM"])
    return (f"SELECT *, CAST(floor(\"RUN\" / 1440 * 100 * 100 + 0.5) AS DOUBLE) / 100 "
            f"AS utilization_rate, '{day}' AS snapshot_date FROM (SELECT equipment_id, {sums} "
            f"FROM equipment WHERE date = {part} GROUP BY equipment_id)")


def etl_days(data, result):
    con = duckdb.connect()
    raw = f"{data}/raw"
    for view, job in [("lots", "lot_history"), ("results", "process_result"),
                      ("equipment", "equipment_event")]:
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet("
                    f"'{raw}/job_name={job}/*/*.parquet', hive_partitioning = true)")
    con.execute(f"CREATE VIEW master AS SELECT * FROM "
                f"'{raw}/job_name=cfg_item_master/latest/*.parquet'")
    facts = result["facts"]
    lake = facts["lake"]
    out = []
    wip_days, util_days = [], []
    for day in facts["days"]:
        part = day.replace("-", "")

        def actual(job, stage="transform"):
            return f"SELECT * FROM {_parquet(f'{lake}/{stage}/job_name={job}/date={part}')}"
        wip = _wip_sql(day, part, "process_step, product_code", ACTIVE)
        wip_days.append(wip)
        out.append(compare(con, f"wip {day}", actual("wip"), wip))
        out.append(compare(con, f"wip_priority {day}", actual("wip_priority"),
                           _wip_sql(day, part, "process_step", ACTIVE, high("HIGH"))))
        fan = " UNION ALL ".join(
            f"SELECT *, '{t}' AS tenant FROM ({_wip_sql(day, part, 'product_code', s, high(h))})"
            for t, s, h in TENANTS)
        out.append(compare(con, f"tenant_wip {day}", actual("tenant_wip"), fan))
        out.append(compare(con, f"cycle_time {day}", actual("cycle_time"), f"""
            SELECT process_step, AVG(d) AS avg_cycle_days, MIN(d) AS min_cycle_days,
              MAX(d) AS max_cycle_days, COUNT(*) AS lot_count
            FROM (SELECT o.process_step, CAST(date_diff('day', CAST(o.track_in AS DATE),
                    CAST(r.measured_at AS DATE)) AS BIGINT) AS d
                  FROM results r JOIN lots o ON r.lot_id = o.lot_id
                  WHERE o.status = 'DONE' AND o.date = {part} AND r.date = {part})
            GROUP BY process_step"""))
        util = _util_sql(day, part)
        util_days.append(f"SELECT *, {part} AS date FROM ({util})")
        out.append(compare(con, f"utilization {day}", actual("utilization"), util))
        out.append(compare(con, f"validation {day}", actual("validation"), f"""
            SELECT COUNT(*) AS total_rows, COUNT(*) - COUNT(lot_id) AS not_null_lot_id,
              COUNT(event_id) - COUNT(DISTINCT event_id) AS unique_event_id,
              COUNT(CASE WHEN quantity < 0 OR quantity > 1000 THEN 1 END) AS range_quantity,
              COUNT(CASE WHEN status IS NOT NULL AND status NOT IN
                ('WAIT','RUN','HOLD','DONE','SCRAP','SHIPPED') THEN 1 END) AS values_in_status,
              COUNT(CASE WHEN process_step IS NOT NULL AND NOT
                regexp_matches(process_step, '^STEP_[0-9]{{2}}$') THEN 1 END) AS regex_process_step,
              COUNT(CASE WHEN NOT COALESCE(m.active_flag = 'Y', false) THEN 1 END)
                AS custom_inactive_item
            FROM lots l LEFT JOIN master m ON l.product_code = m.item_code
            WHERE l.date = {part}"""))
        log = _parquet(f"{lake}/obs/job_name=step_log/date={part}")
        out.append(compare(con, f"step_stats {day}", actual("step_stats", "obs"), f"""
            WITH e AS (SELECT run_id, event_id, event_type, epoch_us(ts) AS s FROM {log}),
            d AS (SELECT *, lead(s) OVER (PARTITION BY run_id ORDER BY s, event_id) AS t FROM e)
            SELECT event_type, AVG(t - s) AS avg_duration_us, MAX(t - s) AS max_duration_us,
              COUNT(*) AS run_count FROM d WHERE t IS NOT NULL GROUP BY event_type"""))
    out.append(compare(con, "mart wip_daily", f"SELECT * FROM {_parquet(f'{lake}/mart/wip_daily')}",
                       " UNION ALL ".join(wip_days)))
    out.append(compare(
        con, "mart equipment_util", f"SELECT * FROM {_parquet(f'{lake}/mart/equipment_util')}",
        f"SELECT * FROM ({' UNION ALL '.join(util_days)}) "
        f"QUALIFY row_number() OVER (PARTITION BY equipment_id ORDER BY date DESC) = 1"))
    counts = facts["warmup_mart_rows"]
    out.append(("upsert idempotent", all(c == counts[0] for c in counts),
                f"mart rows after closing the warm-up day {len(counts)} times: {counts}"))
    return out


CHECKS = {"etl_days": etl_days, "registry_mix": registry_mix}
