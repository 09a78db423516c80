"""Output checks that do not use the program: DuckDB recomputes each result.

`run(workload, work, here, seed, result, injected)` returns
{"messages": [...], "failed_ops": n}: one message per failed check, and the
operations those failures make failed (a failed check fails every
execution of the operation whose output it checked).
"""
import datetime
import glob
import json
import math
import os

import duckdb

STREAM_START_EPOCH = 1762214400     # TelemetryStream.StartEpoch
STREAM_STATIONS = ["WBWF", "GZWF", "ZFWF"]


def run(workload, work, here, seed, result, injected):
    if workload == "query_suite":
        q = query_suite(work, os.path.join(here, "data", "sf0.01"), result)
        e = telemetry_etl(work, result, injected)
        return {"messages": q["messages"] + e["messages"],
                "failed_ops": q["failed_ops"] + e["failed_ops"]}
    return telemetry_stream(work, seed, result)


# ── query_suite: DuckDB runs SparkEntry.oracleSql over the same parquet ──
# The comparison mirrors tools/compare_oracle.py: columns sorted by name,
# rows sorted by all columns, exact for non-floats, 1e-9 relative for
# floats, and column types compared with float widths and timestamp
# time-zone flavour folded together.

def _canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(r[i] for i in idx) for r in rows),
                 key=lambda t: tuple((x is None, str(x)) for x in t))
    return out, [cols[i] for i in idx]


def _eq(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) and math.isnan(fb):
            return True
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return str(a) == str(b)


def _norm_type(t):
    return (str(t).replace("FLOAT", "DOUBLE").replace("REAL", "DOUBLE")
            .replace("TIMESTAMP WITH TIME ZONE", "TIMESTAMP"))


def compare_oracle(con, out_dir, name, sql):
    """None if the Spark result under out_dir/name equals the oracle's."""
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        return "no output"
    s_rel = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
    o_rel = con.sql(sql)
    s_types = dict(zip(s_rel.columns, map(str, s_rel.types)))
    o_types = dict(zip(o_rel.columns, map(str, o_rel.types)))
    bad = [c for c in sorted(set(s_types) & set(o_types))
           if _norm_type(s_types[c]) != _norm_type(o_types[c])]
    if bad:
        return f"type mismatch in {bad}"
    sr, sc = _canon(s_rel.fetchall(), list(s_rel.columns))
    orows, oc = _canon(o_rel.fetchall(), list(o_rel.columns))
    if sc != oc:
        return f"schema mismatch spark={sc} oracle={oc}"
    if len(sr) != len(orows):
        return f"rows spark={len(sr)} oracle={len(orows)}"
    for i, (a, b) in enumerate(zip(sr, orows)):
        if not all(_eq(x, y) for x, y in zip(a, b)):
            return f"value mismatch at row {i}: spark={a} oracle={b}"
    return None


def query_suite(work, data, result):
    con = duckdb.connect()
    for p in sorted(glob.glob(f"{data}/*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    with open(f"{work}/out/oracle_sql.json") as f:
        oracle = json.load(f)
    msgs, bad = [], 0
    for name, sql in sorted(oracle.items()):
        try:
            why = compare_oracle(con, f"{work}/out", name, sql)
        except Exception as e:  # an oracle error is a failed check too
            why = f"error {e}"
        if why:
            msgs.append(f"{name}: {why}")
            # a query that threw in the check pass already counts as failed
            # in every timed pass it threw in
            if why != "no output":
                bad += 1
    return {"messages": msgs, "failed_ops": bad * int(result["facts"]["passes"])}


# ── query_suite's star-schema ETL against SQL over the raw logs ──

WIND = {"bounds": {"wind_speed_mps": (0.0, 60.0), "air_temperature_C": (-50.0, 60.0),
                   "farm_power_kW": (0.0, 2e7)},
        "fill": {"air_pressure_hPa": 1013.25, "humidity_percent": 50.0},
        "measures": ["turbine_power_kW", "farm_power_kW", "farm_energy_MWh_10min"],
        "weather": ["wind_speed_mps", "wind_dir_deg", "air_temperature_C", "air_pressure_hPa",
                    "humidity_percent", "air_density_kgm3", "wind_speed_hub_mps"],
        "power": "farm_power_kW", "energy": "farm_energy_MWh_10min", "threshold": 5.0}
SOLAR = {"bounds": {"solar_irradiance_Wm2": (0.0, 1200.0), "power_kW": (0.0, 2e6)},
         "fill": {"temperature_C": 25.0},
         "measures": ["power_kW", "energy_kWh_10min"],
         "weather": ["temperature_C", "panel_temperature_C", "solar_irradiance_Wm2",
                     "effective_efficiency"],
         "power": "power_kW", "energy": "energy_kWh_10min", "threshold": 100.0}

def _cleaned_sql(csv, spec):
    """The reference cleaning in SQL: parse the timestamp formats, keep rows
    inside the range bounds, fill defaults, keep the first row per
    (station, timestamp) in file order."""
    ts = ("CAST(trim(regexp_replace(replace(replace(\"timestamp\", 'UTC', ''), 'T', ' '),"
          " '\\+00:00$', '')) AS TIMESTAMP)")
    cols = [c for c in spec["measures"] + spec["weather"]]
    cols = list(dict.fromkeys(cols + list(spec["bounds"])))
    typed = ", ".join(
        f"COALESCE(TRY_CAST(NULLIF({c}, '') AS DOUBLE), {spec['fill'][c]}) AS {c}"
        if c in spec["fill"] else f"TRY_CAST(NULLIF({c}, '') AS DOUBLE) AS {c}"
        for c in cols)
    where = " AND ".join(f"{c} BETWEEN {lo} AND {hi}" for c, (lo, hi) in spec["bounds"].items())
    return f"""
      WITH raw AS (
        SELECT row_number() OVER () AS rn, station_id, {ts} AS ts, {typed}
        FROM read_csv('{csv}', header = true, all_varchar = true)),
      kept AS (SELECT * FROM raw WHERE {where})
      SELECT * EXCLUDE (pick) FROM (
        SELECT *, row_number() OVER (PARTITION BY station_id, ts ORDER BY rn) AS pick
        FROM kept) WHERE pick = 1"""


def _close(a, b):
    return _eq(float(a), float(b))


def telemetry_etl(work, result, injected):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    out = f"{work}/etl"
    msgs, bad_ops = [], set()
    for name, spec in (("wind", WIND), ("solar", SOLAR)):
        con.execute(f"CREATE OR REPLACE VIEW clean_{name} AS "
                    + _cleaned_sql(f"{work}/inputs/{name}.csv", spec))
        for t in ("fact", "dim_station", "dim_datetime", "dim_weather"):
            con.execute(f"CREATE OR REPLACE VIEW {name}_{t} AS "
                        f"SELECT * FROM read_parquet('{out}/{name}/{t}/*.parquet')")

        def check(op, ok, msg):
            if not ok:
                msgs.append(f"{name} {msg}")
                bad_ops.add(f"{name}_{op}")

        inj = injected[name]
        want = inj["rows"] - inj["duplicates"] - inj["out_of_range"]
        fact_rows = con.sql(f"SELECT count(*) FROM {name}_fact").fetchone()[0]
        check("load", fact_rows == want,
              f"fact rows {fact_rows} != generated {inj['rows']} - duplicates "
              f"{inj['duplicates']} - out of range {inj['out_of_range']} = {want}")
        sql_rows = con.sql(f"SELECT count(*) FROM clean_{name}").fetchone()[0]
        check("load", sql_rows == want, f"SQL cleaning kept {sql_rows} rows, expected {want}")

        # every fact key resolves to exactly one dim row; natural keys unique
        for key, dim, nat in (("station_key", "dim_station", ["station_id"]),
                              ("datetime_key", "dim_datetime", ["timestamp"]),
                              ("weather_key", "dim_weather", spec["weather"])):
            n = con.sql(f"SELECT count(*) FROM {name}_fact f JOIN {name}_{dim} d "
                        f"USING ({key})").fetchone()[0]
            check("load", n == fact_rows, f"{key} resolves {n} rows of {fact_rows}")
            dup_keys = con.sql(f"SELECT count(*) - count(DISTINCT {key}) FROM {name}_{dim}").fetchone()[0]
            check("load", dup_keys == 0, f"{dim} has {dup_keys} repeated {key}")
            nat_cols = ", ".join(nat)
            dup_nat = con.sql(f"SELECT count(*) FROM (SELECT {nat_cols} FROM {name}_{dim} "
                              f"GROUP BY ALL HAVING count(*) > 1)").fetchone()[0]
            check("load", dup_nat == 0, f"{dim} has {dup_nat} repeated natural keys")

        # per-station measure sums
        sums = ", ".join(f"sum({m}) AS {m}" for m in spec["measures"])
        got = {r[0]: r[1:] for r in con.sql(
            f"SELECT station_id, {sums} FROM {name}_fact JOIN {name}_dim_station "
            f"USING (station_key) GROUP BY station_id").fetchall()}
        exp = {r[0]: r[1:] for r in con.sql(
            f"SELECT station_id, {sums} FROM clean_{name} GROUP BY station_id").fetchall()}
        check("load", got.keys() == exp.keys() and all(
            all(_close(a, b) for a, b in zip(got[s], exp[s])) for s in exp),
            f"per-station sums differ: fact={got} sql={exp}")

        # dashboard: low-power alert on the latest reading, hourly energy
        dash = f"{out}/dashboard"
        alerts = [json.loads(x) for x in open(f"{dash}/{name}_alerts.json") if x.strip()]
        exp_alerts = con.sql(
            f"SELECT station_id, epoch_us(ts), {spec['power']}, {spec['power']} < {spec['threshold']} "
            f"FROM clean_{name} QUALIFY row_number() OVER (PARTITION BY station_id "
            f"ORDER BY ts DESC) = 1").fetchall()
        got_alerts = sorted((a["station_id"], a["ts_us"], a["power"], a["alert"]) for a in alerts)
        check("alerts", len(got_alerts) == len(exp_alerts) and all(
            g[0] == e[0] and g[1] == e[1] and _close(g[2], e[2]) and g[3] == e[3]
            for g, e in zip(got_alerts, sorted(exp_alerts))),
            f"alerts differ: spark={got_alerts} sql={sorted(exp_alerts)}")
        hourly = [json.loads(x) for x in open(f"{dash}/{name}_hourly.json") if x.strip()]
        exp_h = {(r[0], r[1]): (r[2], r[3]) for r in con.sql(
            f"SELECT station_id, epoch_us(date_trunc('hour', ts)), sum({spec['energy']}), count(*) "
            f"FROM clean_{name} GROUP BY ALL").fetchall()}
        got_h = {(h["station_id"], h["hour_us"]): (h["energy"], h["readings"]) for h in hourly}
        check("hourly", got_h.keys() == exp_h.keys() and all(
            _close(got_h[k][0], exp_h[k][0]) and got_h[k][1] == exp_h[k][1] for k in exp_h),
            f"hourly energy differs on {len(set(got_h.items()) ^ set(exp_h.items()))} entries")
    # a failed check fails the checked operation in every pass
    return {"messages": msgs, "failed_ops": len(bad_ops) * int(result["facts"]["passes"])}


# ── telemetry_stream: sinks against the generator, recomputed in SQL ──

def _sink(path):
    """(files the sink committed, last batch id), from its metadata log."""
    log = f"{path}/_spark_metadata"
    files, last = set(), -1
    for f in os.listdir(log):
        if f.startswith("."):
            continue
        last = max(last, int(f.split(".")[0]))
        for line in open(f"{log}/{f}"):
            if line.startswith("{"):
                e = json.loads(line)
                p = e["path"].replace("file://", "").replace("file:", "")
                if e.get("action", "add") == "add":
                    files.add(p)
                else:
                    files.discard(p)
    return sorted(files), last


def _committed_rows(checkpoint, batch, rate):
    """Rows the source had handed out up to the end of `batch`."""
    lines = open(f"{checkpoint}/offsets/{batch}").read().splitlines()
    off = json.loads(lines[2])
    return off["offset"] if isinstance(off, dict) else off * rate


def _expected_keys_sql(rows, seed):
    s = seed % 1000003
    return f"""
      WITH g AS (SELECT v, v // 3 AS tick, v % 3 AS st FROM range(0, {rows}) t(v)),
      k AS (SELECT st, CASE WHEN (v * 7 + {s}) % 100 = 0 AND tick > 0
                            THEN tick - 1 ELSE tick END AS k FROM g)
      SELECT DISTINCT st, k FROM k
      WHERE ((k * 2654435761 + st * 40503 + {s * 97 + 7919}) % 1000003) / 1000003.0 >= 0.005"""


def telemetry_stream(work, seed, result):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    facts = result["facts"]
    msgs, failed = [], 0
    stations = ", ".join(f"'{s}'" for s in STREAM_STATIONS)
    for phase, rate in (("sat", 0), ("paced", int(facts["paced_rate"]))):
        files, last = _sink(f"{work}/stream/{phase}/detail")
        rows = _committed_rows(f"{work}/stream/{phase}/checkpoint", last, rate)
        flist = "[" + ", ".join(f"'{p}'" for p in files) + "]"
        con.execute(f"CREATE OR REPLACE VIEW {phase}_detail AS SELECT * FROM read_parquet({flist})")
        got = con.sql(
            f"SELECT list_position([{stations}], station_id) - 1 AS st, "
            f"(epoch(\"timestamp\")::BIGINT - {STREAM_START_EPOCH}) // 5 AS k FROM {phase}_detail")
        con.execute(f"CREATE OR REPLACE TABLE {phase}_got AS SELECT * FROM got")
        con.execute(f"CREATE OR REPLACE TABLE {phase}_want AS {_expected_keys_sql(rows, seed)}")
        n_got, n_distinct = con.sql(
            f"SELECT count(*), count(DISTINCT (st, k)) FROM {phase}_got").fetchone()
        n_want = con.sql(f"SELECT count(*) FROM {phase}_want").fetchone()[0]
        missing = con.sql(f"SELECT count(*) FROM (SELECT * FROM {phase}_want EXCEPT "
                          f"SELECT * FROM {phase}_got)").fetchone()[0]
        extra = con.sql(f"SELECT count(*) FROM (SELECT * FROM {phase}_got EXCEPT "
                        f"SELECT * FROM {phase}_want)").fetchone()[0]
        if n_got != n_distinct or n_got != n_want or missing or extra:
            msgs.append(f"{phase} detail sink: {n_got} rows ({n_distinct} distinct keys), "
                        f"expected {n_want} keys from {rows} emitted rows; "
                        f"{missing} missing, {extra} unexpected")
            failed += int(facts[f"{phase}_rows"])

    # windows closed by the watermark against the saturated detail rows
    files, _ = _sink(f"{work}/stream/windows/out")
    if not files:
        msgs.append("windows sink is empty")
        failed += int(facts["sat_rows"])
    else:
        flist = "[" + ", ".join(f"'{p}'" for p in files) + "]"
        con.execute(f"CREATE OR REPLACE VIEW win AS SELECT \"window\".start AS ws, "
                    f"station_id, avg_power_kW, max_power_kW, energy_kWh FROM read_parquet({flist})")
        exp = con.sql("""
          WITH starts AS (
            SELECT DISTINCT station_id, ws FROM (
              SELECT station_id, unnest([time_bucket(INTERVAL 5 MINUTE, "timestamp"),
                time_bucket(INTERVAL 5 MINUTE, "timestamp") - INTERVAL 5 MINUTE]) AS ws
              FROM sat_detail))
          SELECT s.station_id, s.ws, avg(d.farm_power_kW), max(d.farm_power_kW),
                 sum(d.farm_energy_kWh_10min)
          FROM starts s JOIN sat_detail d ON d.station_id = s.station_id
            AND d."timestamp" >= s.ws AND d."timestamp" < s.ws + INTERVAL 10 MINUTE
          GROUP BY ALL""").fetchall()
        exp = {(r[0], r[1]): r[2:] for r in exp}
        got = {(r[0], r[1]): r[2:] for r in con.sql(
            "SELECT station_id, ws, avg_power_kW, max_power_kW, energy_kWh FROM win").fetchall()}
        wrong = [k for k, v in got.items()
                 if k not in exp or not all(_close(a, b) for a, b in zip(v, exp[k]))]
        horizon = con.sql("SELECT max(\"timestamp\") - INTERVAL 20 MINUTE FROM sat_detail").fetchone()[0]
        ten_min = datetime.timedelta(minutes=10)
        unemitted = [k for k in exp if k[1] + ten_min <= horizon and k not in got]
        if wrong or unemitted:
            msgs.append(f"windows: {len(wrong)} of {len(got)} differ from SQL over the detail rows, "
                        f"{len(unemitted)} closed windows missing")
            failed += int(facts["sat_rows"])

    if facts["paced_backlog_grows"]:
        msgs.append("paced phase: backlog grew from the first half to the second")
        failed += int(facts["paced_rows"])
    return {"messages": msgs, "failed_ops": failed}

