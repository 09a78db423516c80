#!/usr/bin/env python3
"""Regenerate the committed raw-log test fixtures (FIXTURES.md A.7).

Usage: python3 tools/make_raw_log_fixtures.py

Writes, deterministically (fixed seed, no wall clock):
  src/test/resources/fixtures/wind_farm_data_log.csv   (Schemas.windRaw)
  src/test/resources/fixtures/solar_farm_data_log.csv  (Schemas.solarRaw)

Each log is 20 ticks x 3 stations = 60 rows, plus one exact duplicate
row = 61 data rows. One row per log is out of range (dropped by the
range filter), and one wind row has empty pressure and humidity (filled
by Validation.windDefaults). Values follow the reference physics
(FIXTURES.md A.5, graft.physics.Power); timestamps use the reference's
wire formats (FIXTURES.md A.4), and every one of them parses.
"""
import csv, math, os, random
from datetime import datetime, timedelta

root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
out_dir = os.path.join(root, "src", "test", "resources", "fixtures")

TICKS = 20
STEP = timedelta(minutes=20)
CAIRO_OFFSET_H = 2  # Africa/Cairo in November (no DST)

# FIXTURES.md A.5 station catalogs
WIND = [("WBWF", 96), ("GZWF", 290), ("ZFWF", 50)]
SOLAR = [("BSPP", 4_125_000), ("KOSPP", 500_000), ("ZFSPP", 62_500)]

# special rows, as (tick, station index)
WIND_OUT_OF_RANGE = (9, 2)    # wind_speed_mps 72.5 > 60
WIND_DEFAULT_FILL = (13, 0)   # air_pressure_hPa, humidity_percent empty
WIND_DUPLICATE = (6, 1)       # repeated verbatim on the next line
WIND_UTC_TOKEN = {(4, 0), (4, 1), (4, 2), (15, 1)}  # "... UTC" suffix
SOLAR_OUT_OF_RANGE = (11, 1)  # solar_irradiance_Wm2 1350 > 1200
SOLAR_DUPLICATE = (5, 2)

# wind physics (Wind_Genration.py:18-27,106-136; graft.physics.Power)
SHEAR = (100.0 / 10.0) ** 0.14
SWEPT_AREA = math.pi * 41.0 * 41.0
DEFAULT_PRESSURE = 1013.25


def r(x, nd=6):
    return repr(round(x, nd))


def data_source(tick):
    return "API" if tick % 3 == 0 else "PREDICTION"


def ts_at(start, tick, s, rng):
    # stations log one after another within a tick: a few hundred ms apart
    return (start + tick * STEP + timedelta(milliseconds=250 * s,
            microseconds=rng.randrange(1_000_000)))


def turbine_kw(rho, v_hub):
    if v_hub < 3.0 or v_hub > 25.0:
        return 0.0
    if v_hub > 12.0:
        return 2500.0
    return min(0.5 * rho * SWEPT_AREA * v_hub ** 3 * 0.4 / 1000.0, 2500.0)


def wind_rows():
    rng = random.Random(20251104)
    start = datetime(2025, 11, 4, 12, 30, 47)
    rows = []
    for tick in range(TICKS):
        for s, (sid, turbines) in enumerate(WIND):
            ts = ts_at(start, tick, s, rng)
            text = ts.strftime("%Y-%m-%dT%H:%M:%S.%f")
            if (tick, s) in WIND_UTC_TOKEN:
                text += " UTC"
            v = round(rng.uniform(1.5, 16.0), 2)
            if (tick, s) == WIND_OUT_OF_RANGE:
                v = 72.5
            direction = round(rng.uniform(0.0, 360.0), 2)
            temp = round(rng.uniform(18.0, 28.0), 2)
            pressure = round(rng.uniform(1008.0, 1018.0), 2)
            humidity = round(rng.uniform(30.0, 70.0), 2)
            fill = (tick, s) == WIND_DEFAULT_FILL
            rho = (DEFAULT_PRESSURE if fill else pressure) * 100.0 / (
                287.05 * (temp + 273.15))
            v_hub = v * SHEAR
            turbine = turbine_kw(rho, v_hub)
            farm = turbine * turbines
            energy = farm * 10.0 / 60.0
            rows.append([text, sid, data_source(tick), r(v), r(direction),
                         r(temp), "" if fill else r(pressure),
                         "" if fill else r(humidity), r(rho), r(v_hub),
                         r(turbine), r(farm), r(energy),
                         r(energy / 1000.0)])
            if (tick, s) == WIND_DUPLICATE:
                rows.append(list(rows[-1]))
    return rows


def solar_rows():
    rng = random.Random(20251105)
    start = datetime(2025, 11, 4, 12, 13, 36)
    rows = []
    for tick in range(TICKS):
        for s, (sid, panels) in enumerate(SOLAR):
            ts = ts_at(start, tick, s, rng)
            text = ts.strftime("%Y-%m-%d %H:%M:%S.%f") + "+00:00"
            local_hour = (ts.hour + CAIRO_OFFSET_H) % 24
            day = 6 <= local_hour < 18
            clouds = rng.uniform(0.0, 100.0)
            fluct = 1.0 + rng.uniform(-0.05, 0.05)
            # Solar_Generation.py:91-92 (cloud cover) and 182-204 (±5%)
            irr = max(1000.0 * (1.0 - clouds / 100.0), 50.0) * fluct
            if not day:
                irr = 0.0
            if (tick, s) == SOLAR_OUT_OF_RANGE:
                irr = 1350.0
            irr = round(irr, 4)
            temp = round(rng.uniform(20.0, 30.0), 2)
            panel = temp + irr * 25.0 / 800.0  # NOCT 45 °C rise
            eff = max(0.18 * (1.0 - 0.0045 * (panel - 25.0)), 0.05)
            power = irr * 1.7 * eff * 0.85 * panels / 1000.0
            rows.append([text, sid, data_source(tick), r(temp), r(panel),
                         r(irr, 4), r(eff), r(power, 4),
                         r(power * 10.0 / 60.0, 4)])
            if (tick, s) == SOLAR_DUPLICATE:
                rows.append(list(rows[-1]))
    return rows


def write(name, header, rows):
    path = os.path.join(out_dir, name)
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)
    print(f"wrote {os.path.relpath(path, root)} ({len(rows)} rows)")


os.makedirs(out_dir, exist_ok=True)
write("wind_farm_data_log.csv",
      ["timestamp", "station_id", "data_source", "wind_speed_mps",
       "wind_dir_deg", "air_temperature_C", "air_pressure_hPa",
       "humidity_percent", "air_density_kgm3", "wind_speed_hub_mps",
       "turbine_power_kW", "farm_power_kW", "farm_energy_kWh_10min",
       "farm_energy_MWh_10min"],
      wind_rows())
write("solar_farm_data_log.csv",
      ["timestamp", "station_id", "data_source", "temperature_C",
       "panel_temperature_C", "solar_irradiance_Wm2", "effective_efficiency",
       "power_kW", "energy_kWh_10min"],
      solar_rows())
