"""Seeded generator for the `etl-load` workload: daily-feed batches in
the captured-response schemas of `src/test/resources/fixtures`
(`openmeteo.jsonl`, `soilgrids.jsonl`) plus scraped crop pages, and the
expected results the benchmark checks the loaded warehouse against.

Each batch delivers one calendar month of daily weather for every
location and re-delivers (revises) a seeded share of days of the
previous month. Like the fixtures, it plants Fahrenheit and
out-of-range temperatures, inverted min/max pairs, negative
precipitation/solar/wind, humidity above 100, null entries, ragged and
missing metric arrays, and soil responses with invalid coordinates.

The expected final fact applies the engine's documented cleaning rules
(`CleanFunctions` / `RecordCleaners.cleanWeatherData`) to every
delivery, then the merge contract of `Pipeline.weatherMerge`: the
update columns (`Pipeline.weatherUpdateCols`) hold the last-delivered
value for each (date_key, location_key), every other column the first.

    python3 perfbench/gen_etl.py <out_dir> <seed>
"""
import calendar
import hashlib
import json
import os
import sys
from decimal import Decimal, ROUND_HALF_EVEN

import numpy as np
import pandas as pd

METRICS = ["temperature_2m_max", "temperature_2m_min", "temperature_2m_mean",
           "precipitation_sum", "et0_fao_evapotranspiration",
           "shortwave_radiation_sum", "relative_humidity_2m_mean",
           "wind_speed_10m_max", "weather_code"]
UPDATE_COLS = ["temp_max_c", "temp_min_c", "temp_mean_c", "precipitation_mm"]
CROPS = [("wheat", 20, 25, 6, 9, 6.0, 7.0), ("maize", 18, 32, 5, 10, 5.8, 7.0),
         ("rice", 20, 35, 8, 8, 5.5, 6.5), ("soybean", 20, 30, 5, 9, 6.0, 6.8),
         ("potato", 15, 20, 4, 7, 5.0, 6.0), ("barley", 12, 24, 4, 8, 6.0, 7.5)]
BATCHES = 2
LOCATIONS = 150
REVISED_LOC_SHARE = 0.3


def bround(x, nd):
    """Spark `bround` on a double: HALF_EVEN on its decimal rendering."""
    if x is None:
        return None
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd),
                                           ROUND_HALF_EVEN))


def clean_temp(c):
    if c is None:
        return None
    conv = (c - 32) * 5.0 / 9.0 if c > 60 else c
    return bround(conv, 1) if -50 <= conv <= 60 else None


def non_neg(c):
    return None if c is None else max(0.0, bround(c, 3))


def clamp(c, lo, hi):
    """Documented contract of `CleanFunctions.clamp`: null stays null."""
    return None if c is None else min(max(c, lo), hi)


def clean_row(v):
    """`RecordCleaners.cleanWeatherData` + `transformWeather` for one
    delivered day; `v` maps API metric name to the raw value or None."""
    tmax = clean_temp(v["temperature_2m_max"])
    tmin = clean_temp(v["temperature_2m_min"])
    if tmax is not None and tmin is not None:
        tmax, tmin = max(tmax, tmin), min(tmax, tmin)
    et0 = v["et0_fao_evapotranspiration"]
    hum = v["relative_humidity_2m_mean"]
    return {
        "temp_max_c": tmax, "temp_min_c": tmin,
        "temp_mean_c": clean_temp(v["temperature_2m_mean"]),
        "precipitation_mm": non_neg(v["precipitation_sum"]),
        "evapotranspiration_mm": None if et0 is None else bround(et0, 3),
        "solar_radiation_mj_m2": non_neg(v["shortwave_radiation_sum"]),
        "humidity_percent": clamp(None if hum is None else bround(hum, 3),
                                  0.0, 100.0),
        "wind_speed_ms": non_neg(v["wind_speed_10m_max"]),
        "weather_code": v["weather_code"]}


def location_key(lat, lon):
    """`Scd2.surrogateKey(CleanFunctions.locationHash(lat, lon))`."""
    h = hashlib.md5(f"{lat:.6f},{lon:.6f}".encode()).hexdigest()
    return int(h[:15], 16)


class Feed:
    def __init__(self, seed):
        self.rng = np.random.default_rng(seed)

    def day_values(self, month):
        r = self.rng
        season = 12 * np.cos((month - 7) / 6 * np.pi)
        tmax = round(float(18 - season + r.normal(0, 6)), 1)
        tmin = round(tmax - float(r.uniform(2, 12)), 1)
        v = {"temperature_2m_max": tmax, "temperature_2m_min": tmin,
             "temperature_2m_mean": round((tmax + tmin) / 2, 1),
             "precipitation_sum": round(float(r.exponential(3)), 1),
             "et0_fao_evapotranspiration": round(float(r.uniform(0.2, 6)), 2),
             "shortwave_radiation_sum": round(float(r.uniform(2, 30)), 1),
             "relative_humidity_2m_mean": round(float(r.uniform(20, 98)), 1),
             "wind_speed_10m_max": round(float(r.uniform(0, 15)), 1),
             "weather_code": int(r.choice([0, 1, 2, 3, 45, 61, 63, 71, 95]))}
        u = r.random()
        # planted dirt, a few percent of days each
        if u < 0.03:
            v["temperature_2m_max"] = round(tmax * 9 / 5 + 32 + 40, 1)
        elif u < 0.05:
            v["temperature_2m_max"] = 150.0
        elif u < 0.07:
            v["temperature_2m_min"] = -70.0
        elif u < 0.10:
            v["temperature_2m_max"], v["temperature_2m_min"] = tmin, tmax
        elif u < 0.12:
            v["precipitation_sum"] = -round(float(r.uniform(0.1, 5)), 1)
        elif u < 0.14:
            v["relative_humidity_2m_mean"] = round(float(r.uniform(101, 130)), 1)
        elif u < 0.15:
            v["wind_speed_10m_max"] = -0.5
        elif u < 0.16:
            v["shortwave_radiation_sum"] = -1.0
        if r.random() < 0.04:
            v[METRICS[int(r.integers(0, len(METRICS)))]] = None
        return v

    def response(self, lat, lon, dates, month):
        """One Open-Meteo response line and the values it delivers per
        date (after null-padding of short and missing arrays)."""
        r = self.rng
        rows = [self.day_values(month) for _ in dates]
        daily = {"time": dates}
        for m in METRICS:
            arr = [row[m] for row in rows]
            u = r.random()
            if u < 0.03:
                arr = arr[:int(r.integers(0, len(arr)))]      # ragged, short
            elif u < 0.05:
                arr = arr + [arr[-1]] * int(r.integers(1, 4))  # longer than time
            elif u < 0.06:
                arr = None                                   # metric absent
            if arr is not None:
                daily[m] = arr
            for i, row in enumerate(rows):
                row[m] = arr[i] if arr is not None and i < len(arr) else None
        line = {"latitude": lat, "longitude": lon, "daily": daily}
        return line, dict(zip(dates, rows))


def soil_line(rng, lat, lon, ts):
    def layer(name, mean):
        return {"name": name, "depths": [
            {"range": {"top_depth": 0, "bottom_depth": 5},
             "values": {"mean": mean}}]}
    clay, sand = float(rng.uniform(5, 45)), float(rng.uniform(10, 60))
    layers = [layer("clay", round(clay, 1)), layer("sand", round(sand, 1)),
              layer("silt", round(max(1.0, 100 - clay - sand), 1)),
              layer("phh2o", int(rng.integers(45, 85))),
              layer("soc", int(rng.integers(20, 400))),
              layer("bdod", round(float(rng.uniform(1.0, 1.7)), 2)),
              layer("wv0010", round(float(rng.uniform(0.1, 0.5)), 2))]
    if rng.random() < 0.1:
        layers[0]["depths"][0]["values"]["mean"] = 150.0   # out of range
    if rng.random() < 0.1:
        del layers[int(rng.integers(2, len(layers)))]       # missing layer
    return {"latitude": lat, "longitude": lon,
            "properties": {"layers": layers}, "timeStamp": ts}


def crop_line(rng, crop, source, reliability):
    name, tlo, thi, water, sun, plo, phi = crop
    html = (f"<div><h1>{name.title()}</h1><p>{name.title()} requires optimal "
            f"temperatures between {tlo}°C and {thi + int(rng.integers(0, 3))}°C."
            f" The crop needs about {water} mm of water per day. Prefers full "
            f"sun exposure of {sun} hours of sunlight. Soil pH {plo} to {phi} "
            f"preferred.</p><script>track()</script></div>")
    return {"crop_name": name, "source": source, "reliability": reliability,
            "html": html}


def generate(out, seed):
    rng = np.random.default_rng(seed + 7919)
    feed = Feed(seed)
    lats = rng.integers(-600000, 700000, LOCATIONS) / 10000.0
    lons = rng.integers(-1800000, 1800000, LOCATIONS) / 10000.0
    locs = sorted(set(zip(lats.tolist(), lons.tolist())))
    first, last = {}, {}
    fact_rows, batches = [], []
    for b in range(BATCHES):
        year, month = 2024, 1 + b
        ndays = calendar.monthrange(year, month)[1]
        dates = [f"{year}-{month:02d}-{d:02d}" for d in range(1, ndays + 1)]
        prev = [f"{year}-{month - 1:02d}-{d:02d}" for d in
                range(1, calendar.monthrange(year, month - 1)[1] + 1)] \
            if b > 0 else []
        meteo, deliveries = [], []
        for lat, lon in locs:
            line, vals = feed.response(lat, lon, dates, month)
            meteo.append(line)
            deliveries.append((lat, lon, vals))
            if prev and rng.random() < REVISED_LOC_SHARE:
                days = sorted(rng.choice(prev, int(rng.integers(2, 8)),
                                         replace=False).tolist())
                line, vals = feed.response(lat, lon, days, month - 1)
                meteo.append(line)
                deliveries.append((lat, lon, vals))
        order = rng.permutation(len(meteo))
        meteo = [meteo[i] for i in order]
        for lat, lon, vals in deliveries:
            for d, v in vals.items():
                key = (int(d.replace("-", "")), lat, lon)
                row = clean_row(v)
                first.setdefault(key, row)
                last[key] = row
        ts = f"{year}-{month:02d}-15T10:00:00Z"
        soil_locs = locs if b == 0 else \
            [l for l in locs if rng.random() < 0.2]
        soil = [soil_line(rng, lat, lon, ts) for lat, lon in soil_locs]
        bad = [(95.0, 10.0), (-91.5, 3.0), (45.0, 200.0), (None, 12.0)]
        n_bad = int(rng.integers(1, len(bad) + 1))
        soil += [soil_line(rng, lat, lon, ts) for lat, lon in bad[:n_bad]]
        soil = [soil[i] for i in rng.permutation(len(soil))]
        crops = [crop_line(rng, c, s, rel) for c in CROPS
                 for s, rel in (("fao", 0.9), ("extension", 0.7))
                 if rng.random() < 0.8]
        bdir = os.path.join(out, f"batch{b:02d}")
        os.makedirs(bdir, exist_ok=True)
        for name, lines in (("openmeteo.jsonl", meteo),
                            ("soilgrids.jsonl", soil),
                            ("crops.jsonl", crops)):
            with open(os.path.join(bdir, name), "w") as f:
                f.writelines(json.dumps(x) + "\n" for x in lines)
        batches.append({"name": f"batch{b:02d}", "fact_rows": len(first),
                        "quarantined": n_bad,
                        "as_of": f"{year}-{month:02d}-{ndays:02d}"})
    for (dk, lat, lon), row in first.items():
        merged = dict(row)
        merged.update({c: last[(dk, lat, lon)][c] for c in UPDATE_COLS})
        merged.update({"date_key": dk, "latitude": lat, "longitude": lon,
                       "location_key": location_key(lat, lon)})
        fact_rows.append(merged)
    pd.DataFrame(fact_rows).to_parquet(os.path.join(out, "expected_fact.parquet"))
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump({"batches": batches}, f, indent=1)
    return batches


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
