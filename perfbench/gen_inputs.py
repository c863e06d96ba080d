#!/usr/bin/env python3
"""Seeded input generator for the `pipeline` workload.

Writes the reference pipeline's input shapes (FIXTURES.md) under one
root, laid out the way `CovidDataTransform.run(spark, root)` reads them:

    weather/series.csv                  series, date, value (TAVG, tenths of C)
    data/covid_data/jhu_{confirmed,recovered,death}_covid.csv
    data/covid_data/daily_covid_usstates.csv
    data/covid_data/covid_county_population_usafacts.csv
    data/covid_data/jhu_countries_with_code.csv
    data/covid_data/location_match.csv

`output/weather_output/future_pred.csv` is not generated: the benchmark's
weather stage writes it, which is the CSV handoff the chain measures.

Shapes: 16 daily TAVG series of 730 days that end 2020-01-21, so the
180-day forecast horizon (2020-01-22 .. 2020-07-19) covers every JHU date
column (1/22/20 .. 4/26/20): one for each of 8 US states and one station
in each of 8 JHU countries. 81 JHU locations x 96 date columns. The
reference scale is larger (BASELINE.md: 250 series, about 265 JHU
locations); these shapes keep a benchmark run, a cold and a warm pass of
the chain, within its time limit. The mixed-model fit of the chain
iterates until it converges, 32 EM iterations of two Spark jobs each on
these inputs; with 48 series it took 51. Every weather location has a JHU
or US-state counterpart with a population, so every stage of the chain
has non-empty output.

Usage: python3 gen_inputs.py --seed N --out DIR
"""
import argparse
import csv
import datetime as dt
import math
import os
import random

N_SERIES = 16            # weather series; every one is forecast
N_DAYS = 730
N_COUNTRIES = 32         # countries in the JHU and population tables
N_WEATHER_COUNTRIES = 8  # countries with one weather station each
N_PROVINCE_COUNTRIES = 24  # countries that also have two province rows
N_RENAMED = 8            # province rows renamed through location_match
N_US_STATES = 8          # US states with covid rows, counties and weather
COUNTIES_PER_STATE = 16
LAST_WEATHER_DAY = dt.date(2020, 1, 21)
JHU_FIRST, JHU_LAST = dt.date(2020, 1, 22), dt.date(2020, 4, 26)
US_STATES = [
    "AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "FL", "GA", "HI", "ID",
    "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA", "MI", "MN", "MS",
    "MO", "MT", "NE", "NV", "NH", "NJ", "NM", "NY", "NC", "ND", "OH", "OK",
    "OR", "PA", "RI", "SC", "SD", "TN", "TX", "UT", "VT", "VA", "WA", "WV",
    "WI", "WY"][:N_US_STATES]
PROVINCES_PER_COUNTRY = 2  # extra JHU province rows for some countries


def days(first, last):
    d = first
    while d <= last:
        yield d
        d += dt.timedelta(days=1)


def ymd(d):
    return d.year * 10000 + d.month * 100 + d.day


def write_csv(path, header, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def epidemic(rng, n_days):
    """Cumulative (confirmed, recovered, death) curves over n_days.

    Daily removals (recovered + death) follow the simulator's model: a
    location-specific share of yesterday's confirmed count plus noise, so
    the mixed-model fit sees the structure it estimates."""
    start = rng.randrange(0, 40)
    rate = rng.uniform(0.08, 0.22)
    scale = rng.uniform(20, 400)
    share = rng.uniform(0.01, 0.05)
    base = rng.uniform(0, 10)
    conf, reco, death = [], [], []
    r = d = 0
    for t in range(n_days):
        c = 0 if t < start else int(scale * (math.exp(rate * (t - start) / 4) - 1) + 1)
        prev = conf[-1] if conf else 0
        removed = 0 if t <= start else \
            max(0, int(base + share * prev + rng.gauss(0, 2)))
        d += removed // 10
        r += removed - removed // 10
        conf.append(c)
        reco.append(r)
        death.append(d)
    return conf, reco, death


def generate(seed, out):
    """Write every input under `out`."""
    rng = random.Random(seed)
    n_weather_countries = N_WEATHER_COUNTRIES
    countries = [f"Country {chr(65 + i // 26)}{chr(65 + i % 26)}"
                 for i in range(N_COUNTRIES)]
    covid_dir = os.path.join(out, "data", "covid_data")
    jhu_days = list(days(JHU_FIRST, JHU_LAST))
    date_cols = [f"_{d.month}_{d.day}_{d.year % 100}" for d in jhu_days]

    # JHU wide tables: one US row, one country-level row per country and
    # province rows for the first countries (rolled up to 'UNK' by the
    # transform). Province names ending in "Old" are renamed through
    # location_match.
    locs = [("", "US")]
    for i, c in enumerate(countries):
        locs.append(("", c))
        if i < N_PROVINCE_COUNTRIES:
            for p in range(PROVINCES_PER_COUNTRY):
                name = f"Province {p}" + (" Old" if p == 0 and i < N_RENAMED else "")
                locs.append((name, c))
    curves = {loc: epidemic(rng, len(jhu_days)) for loc in locs}
    for k, measure in enumerate(["confirmed", "recovered", "death"]):
        rows = []
        for ps, cr in locs:
            lat, lon = rng.uniform(-60, 60), rng.uniform(-180, 180)
            rows.append([ps, cr, f"{lat:.4f}", f"{lon:.4f}",
                         f"POINT({lon:.4f} {lat:.4f})"] + curves[(ps, cr)][k])
        write_csv(os.path.join(covid_dir, f"jhu_{measure}_covid.csv"),
                  ["province_state", "country_region", "latitude",
                   "longitude", "location_geom"] + date_cols, rows)

    write_csv(os.path.join(covid_dir, "location_match.csv"),
              ["country_region_old", "province_state_old",
               "country_region_new", "province_state_new"],
              [[countries[i], "Province 0 Old", countries[i], "Province 0"]
               for i in range(N_RENAMED)] +
              [["Korea, South", "", "South Korea", ""]])

    # Daily country table: countries_and_territories is underscored.
    pop_rows = []
    pops = {c: rng.randrange(500_000, 200_000_000) for c in countries}
    for c in countries:
        cum_c = cum_d = 0
        for d in days(dt.date(2019, 12, 31), dt.date(2020, 5, 12)):
            dc, dd = rng.randrange(0, 50), rng.randrange(0, 5)
            cum_c += dc
            cum_d += dd
            pop_rows.append([d.isoformat(), d.day, d.month, d.year, dc, dd,
                             cum_c, cum_d, c.replace(" ", "_"),
                             c[-2:], "C" + c[-2:], pops[c]])
    write_csv(os.path.join(covid_dir, "jhu_countries_with_code.csv"),
              ["date", "day", "month", "year", "daily_confirmed_cases",
               "daily_deaths", "confirmed_cases", "deaths",
               "countries_and_territories", "geo_id",
               "country_territory_code", "pop_data_2018"], pop_rows)

    # US states: daily cumulative table plus county populations.
    us_rows = []
    for s in US_STATES:
        conf, reco, death = epidemic(rng, len(jhu_days))
        for d, c, r, de in zip(jhu_days, conf, reco, death):
            us_rows.append([ymd(d), s, c, r, de, c + 10 * r, "", ""])
    write_csv(os.path.join(covid_dir, "daily_covid_usstates.csv"),
              ["date", "state", "positive", "recovered", "death",
               "totalTestResults", "hospitalized", "dataQualityGrade"],
              us_rows)
    county_rows = []
    fips = 1000
    for s in US_STATES:
        for k in range(COUNTIES_PER_STATE):
            fips += 1
            county_rows.append([fips, f"County {k} {s}", s,
                                rng.randrange(1_000, 900_000)])
    write_csv(os.path.join(covid_dir, "covid_county_population_usafacts.csv"),
              ["countyFIPS", "County Name", "State", "population"],
              county_rows)

    # Weather: every US state, then station states of the weather
    # countries, up to N_SERIES series.
    series = [f"United States : {s}" for s in US_STATES]
    k = 0
    while len(series) < N_SERIES:
        c = countries[k % n_weather_countries]
        series.append(f"{c} : S{k // n_weather_countries}")
        k += 1
    first = LAST_WEATHER_DAY - dt.timedelta(days=N_DAYS - 1)
    wx_rows = []
    for name in series:
        base, amp = rng.uniform(-50, 250), rng.uniform(30, 150)
        phase = rng.uniform(0, 2 * math.pi)
        for t, d in enumerate(days(first, LAST_WEATHER_DAY)):
            v = base + amp * math.sin(2 * math.pi * t / 365.25 + phase) \
                + rng.gauss(0, 15)
            wx_rows.append([name, ymd(d), round(v, 1)])
    write_csv(os.path.join(out, "weather", "series.csv"),
              ["series", "date", "value"], wx_rows)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.out)


if __name__ == "__main__":
    main()
