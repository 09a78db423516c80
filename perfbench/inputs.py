"""Seeded raw telemetry logs for the `telemetry_etl` workload.

`write_logs(dir, seed)` writes `wind.csv` and `solar.csv` in the reference
wire formats (FIXTURES.md A.1, A.2 and A.4) and returns what it injected
into each: exact duplicate rows, out-of-range rows and rows with empty
default-filled fields. The same seed gives byte-identical files. Every
timestamp parses; rows with unparseable timestamps are left out (see the
README).
"""
import numpy as np

TICKS = 2_000           # per station and log; 3 stations per log
STEP_S = 5              # the reference simulators' emit cadence
DUP_SHARE = 0.01        # rows repeated verbatim on the next line
OOR_SHARE = 0.005       # rows outside Validation's range bounds
FILL_SHARE = 0.01       # rows with empty default-filled fields
UTC_SHARE = 0.05        # wind timestamps with a trailing " UTC" token
START = np.datetime64("2025-11-04T00:00:00", "us")
CAIRO_OFFSET_H = 2      # Africa/Cairo in November (no DST)

# FIXTURES.md A.5 station catalogs
WIND = [("WBWF", 96), ("GZWF", 290), ("ZFWF", 50)]
SOLAR = [("BSPP", 4_125_000), ("KOSPP", 500_000), ("ZFSPP", 62_500)]

SHEAR = (100.0 / 10.0) ** 0.14
SWEPT_AREA = np.pi * 41.0 * 41.0

WIND_HEADER = ["timestamp", "station_id", "data_source", "wind_speed_mps",
               "wind_dir_deg", "air_temperature_C", "air_pressure_hPa",
               "humidity_percent", "air_density_kgm3", "wind_speed_hub_mps",
               "turbine_power_kW", "farm_power_kW", "farm_energy_kWh_10min",
               "farm_energy_MWh_10min"]
SOLAR_HEADER = ["timestamp", "station_id", "data_source", "temperature_C",
                "panel_temperature_C", "solar_irradiance_Wm2",
                "effective_efficiency", "power_kW", "energy_kWh_10min"]


def _fmt(x, nd):
    """Python's shortest repr of the rounded value, as the fixtures use."""
    return [repr(float(v)) for v in np.round(x, nd)]


def _timestamps(rng, ticks, n_st):
    tick = np.repeat(np.arange(ticks), n_st)
    st = np.tile(np.arange(n_st), ticks)
    # stations log one after another within a tick, a few hundred ms apart
    us = (tick * STEP_S * 1_000_000 + st * 250_000
          + rng.integers(0, 1_000_000, tick.size))
    return tick, st, START + us.astype("timedelta64[us]")


def _pick(rng, n, share, exclude=None):
    """A sorted set of row indices, disjoint from `exclude`."""
    pool = np.arange(n) if exclude is None else np.setdiff1d(np.arange(n), exclude)
    return np.sort(rng.choice(pool, int(n * share), replace=False))


def _special(rng, n):
    """Out-of-range, duplicated and default-filled rows. Duplicates are
    in-range rows, so each one removes exactly one row from the fact."""
    oor = _pick(rng, n, OOR_SHARE)
    return oor, _pick(rng, n, DUP_SHARE, oor), _pick(rng, n, FILL_SHARE)


def _source(tick):
    return np.where(tick % 3 == 0, "API", "PREDICTION")


def _write(path, header, cols, dups):
    rows = [",".join(r) for r in zip(*cols)]
    out = [",".join(header)]
    dup = set(dups.tolist())
    for i, r in enumerate(rows):
        out.append(r)
        if i in dup:
            out.append(r)
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    return len(out) - 1


def _injected(rows, oor, dups, fill):
    return {"rows": rows, "duplicates": int(dups.size),
            "out_of_range": int(oor.size), "default_fill": int(fill.size)}


def _wind(rng, path, ticks):
    tick, st, ts = _timestamps(rng, ticks, len(WIND))
    n = tick.size
    oor, dups, fill = _special(rng, n)
    utc = set(_pick(rng, n, UTC_SHARE).tolist())
    v = np.round(rng.uniform(1.5, 16.0, n), 2)
    v[oor] = 72.5
    direction = rng.uniform(0.0, 360.0, n)
    temp = np.round(rng.uniform(18.0, 28.0, n), 2)
    pressure = np.round(rng.uniform(1008.0, 1018.0, n), 2)
    humidity = rng.uniform(30.0, 70.0, n)
    is_fill = np.zeros(n, bool)
    is_fill[fill] = True
    rho = np.where(is_fill, 1013.25, pressure) * 100.0 / (287.05 * (temp + 273.15))
    hub = v * SHEAR
    turbine = np.where((hub < 3.0) | (hub > 25.0), 0.0,
                       np.where(hub > 12.0, 2500.0, np.minimum(
                           0.5 * rho * SWEPT_AREA * hub ** 3 * 0.4 / 1000.0, 2500.0)))
    farm = turbine * np.array([t for _, t in WIND])[st]
    energy = farm * 10.0 / 60.0
    text = [t.replace(" ", "T") + (" UTC" if i in utc else "")
            for i, t in enumerate(np.datetime_as_string(ts, unit="us").astype(str))]
    p_text, h_text = _fmt(pressure, 6), _fmt(humidity, 2)
    for i in fill:
        p_text[i] = h_text[i] = ""
    rows = _write(path, WIND_HEADER, [
        text, np.array([s for s, _ in WIND])[st].tolist(), _source(tick).tolist(),
        _fmt(v, 6), _fmt(direction, 2), _fmt(temp, 6), p_text, h_text,
        _fmt(rho, 6), _fmt(hub, 6), _fmt(turbine, 6), _fmt(farm, 6),
        _fmt(energy, 6), _fmt(energy / 1000.0, 6)], dups)
    return _injected(rows, oor, dups, fill)


def _solar(rng, path, ticks):
    tick, st, ts = _timestamps(rng, ticks, len(SOLAR))
    n = tick.size
    oor, dups, fill = _special(rng, n)
    hour = ts.astype("datetime64[h]").astype(np.int64) % 24
    day = ((hour + CAIRO_OFFSET_H) % 24 >= 6) & ((hour + CAIRO_OFFSET_H) % 24 < 18)
    clouds = rng.uniform(0.0, 100.0, n)
    fluct = 1.0 + rng.uniform(-0.05, 0.05, n)
    # Solar_Generation.py:91-92 (cloud cover) and 182-204 (±5%)
    irr = np.where(day, np.maximum(1000.0 * (1.0 - clouds / 100.0), 50.0) * fluct, 0.0)
    irr[oor] = 1350.0
    irr = np.round(irr, 4)
    temp = np.round(rng.uniform(20.0, 30.0, n), 2)
    panel = temp + irr * 25.0 / 800.0  # NOCT 45 °C rise
    eff = np.maximum(0.18 * (1.0 - 0.0045 * (panel - 25.0)), 0.05)
    power = irr * 1.7 * eff * 0.85 * np.array([p for _, p in SOLAR])[st] / 1000.0
    text = [t.replace("T", " ") + "+00:00"
            for t in np.datetime_as_string(ts, unit="us").astype(str)]
    t_text = _fmt(temp, 6)
    for i in fill:
        t_text[i] = ""
    rows = _write(path, SOLAR_HEADER, [
        text, np.array([s for s, _ in SOLAR])[st].tolist(), _source(tick).tolist(),
        t_text, _fmt(panel, 6), _fmt(irr, 4), _fmt(eff, 6), _fmt(power, 4),
        _fmt(power * 10.0 / 60.0, 4)], dups)
    return _injected(rows, oor, dups, fill)


def write_logs(out_dir, seed):
    """Write both logs under `out_dir`; return the injected counts per log."""
    rng = np.random.default_rng(seed)
    return {"wind": _wind(rng, f"{out_dir}/wind.csv", TICKS),
            "solar": _solar(rng, f"{out_dir}/solar.csv", TICKS)}
