"""The f1_dag workload's inputs and their expected outputs.

`generate` writes an Ergast/Meteostat-shaped raw zone, derived from the
testdata dimensions (nations and regions become race cities, customers
become drivers) and shaped by the seed:

    raceinfo/races_<year>_<round>.json      one race-info document per race
    results/results_<year>_<round>.json     MRData.RaceTable.Races[].Results[]
    pitstops/pitstops_<year>_<round>.json   MRData.RaceTable.Races[].PitStops[]
    weather/<country>/<city>.csv            one Meteostat daily CSV per city

Every seed yields the same number of races, results and weather rows, so
work per pass does not depend on the seed. `expected` replays the
reference's Python ETL (leader-relative times, running points, pitstop
counts) on the generated records and runs the nine usage queries in
DuckDB, giving the digest every DAG output must have.
"""
import datetime
import json
import os
import random

import duckdb

import digest

SEASONS = range(2021, 2025)
ROUNDS = 22
GRID = 20
POOL = 30
POINTS = [25, 18, 15, 12, 10, 8, 6, 4, 2, 1]
FIRST_DAY = datetime.date(2021, 1, 1)
LAST_DAY = datetime.date(2024, 12, 31)
WEATHER_COLS = ["tavg", "tmin", "tmax", "prcp", "snow", "wdir", "wspd",
                "wpgt", "pres", "tsun"]


def _dims(sf_dir):
    con = duckdb.connect()
    cities = con.execute(
        f"SELECT n_nationkey, n_name, r_name FROM '{sf_dir}/nation.parquet' "
        f"JOIN '{sf_dir}/region.parquet' ON n_regionkey = r_regionkey "
        f"ORDER BY n_nationkey").fetchall()
    customers = con.execute(
        f"SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
        f"FROM '{sf_dir}/customer.parquet' ORDER BY c_custkey").fetchall()
    con.close()
    return ([(k, n, r.title()) for k, n, r in cities], customers)


def _lap(ms):
    return "%d:%02d.%03d" % (ms // 60000, ms % 60000 // 1000, ms % 1000)


def _clock(cs):
    """Centiseconds as the reference's "HH:MM:SS.ss" finish time."""
    return "%02d:%02d:%02d.%02d" % (cs // 360000, cs % 360000 // 6000,
                                    cs % 6000 // 100, cs % 100)


def _records(sf_dir, seed):
    rng = random.Random(seed)
    cities, customers = _dims(sf_dir)
    nation_name = {k: n for k, n, _ in cities}
    pool = rng.sample(customers, POOL)
    fast_laps = iter(rng.sample(range(80000, 110000),
                                len(SEASONS) * ROUNDS * GRID))
    races, results, pitstops = [], [], []
    for year in SEASONS:
        grid = rng.sample(pool, GRID)
        for rnd, (_, city, country) in enumerate(rng.sample(cities, ROUNDS), 1):
            day = datetime.date(year, 1, 1) + datetime.timedelta(
                days=rnd * 14 + rng.randrange(7))
            races.append(dict(year=year, round=str(rnd), city=city,
                              country=country, date=day.isoformat()))
            laps = 50 + rng.randrange(21)
            order = sorted(grid, key=lambda c: -c[3] + rng.gauss(0, 2500))
            starts = rng.sample(range(1, GRID + 1), GRID)
            leader_cs = 5400 * 100 + rng.randrange(1800 * 100)
            gap_cs = 0
            no_leader_time = rng.random() < 0.05
            for idx, c in enumerate(order):
                status, time_str = "Finished", None
                r_laps = laps
                if idx >= GRID - 3 and rng.random() < 0.6:
                    status, r_laps = rng.choice(["Accident", "Engine", "Gearbox"]), rng.randrange(1, laps)
                elif idx >= 12 and rng.random() < 0.5:
                    status, r_laps = "+1 Lap", laps - 1
                elif idx == 0:
                    if leader_cs % 100 == 0:
                        leader_cs += 1
                    if not no_leader_time:
                        time_str = "%d:%02d:%02d.%03d" % (
                            leader_cs // 360000, leader_cs % 360000 // 6000,
                            leader_cs % 6000 // 100, leader_cs % 100 * 10)
                else:
                    gap_cs += 50 + rng.randrange(1500)
                    if (leader_cs + gap_cs) % 100 == 0:
                        gap_cs += 1
                    s, f = gap_cs // 100, gap_cs % 100 * 10
                    time_str = ("+%d.%03d" % (s, f) if s < 60
                                else "+%d:%02d.%03d" % (s // 60, s % 60, f))
                results.append(dict(
                    year=year, round=str(rnd), idx=idx,
                    position=None if rng.random() < 0.03 else str(idx + 1),
                    points=str(POINTS[idx]) if idx < len(POINTS) else "0",
                    grid=str(starts[idx]), laps=str(r_laps), status=status,
                    driverId="drv%d" % c[0], givenName=c[4].title(),
                    familyName=c[1], constructor="Team %s" % nation_name[c[2]],
                    time=time_str, leader_cs=leader_cs, gap_cs=gap_cs,
                    fastestLap=None if rng.random() < 0.05 else _lap(next(fast_laps))))
                for stop in range(rng.choice([0, 1, 1, 2, 2, 3])):
                    pitstops.append(dict(
                        year=year, round=str(rnd), driverId="drv%d" % c[0],
                        stop=str(stop + 1), lap=str(10 + stop * 15 + rng.randrange(10)),
                        time="1%d:%02d:00" % (stop, rng.randrange(60)),
                        duration="%d.%03d" % (20 + rng.randrange(8), rng.randrange(1000))))
    weather = {}
    for key, city, country in cities:
        wr = random.Random("%d/%s" % (seed, city))
        rows = []
        day = FIRST_DAY
        while day <= LAST_DAY:
            tavg = (key % 15) * 2 + (6 - abs(day.month - 7)) * 2 + wr.randrange(-8, 9) / 2
            rows.append(dict(
                date=day.isoformat(), tavg=tavg, tmin=tavg - wr.randrange(2, 16) / 2,
                tmax=tavg + wr.randrange(2, 16) / 2,
                prcp=None if wr.random() < 0.1 else wr.randrange(0, 40) / 2,
                snow=None if wr.random() < 0.9 else wr.randrange(0, 20) / 2,
                wdir=float(wr.randrange(360)), wspd=wr.randrange(0, 80) / 2,
                wpgt=None if wr.random() < 0.5 else wr.randrange(20, 120) / 2,
                pres=1000 + wr.randrange(0, 60) / 2, tsun=None))
            day += datetime.timedelta(days=1)
        weather[(country, city)] = rows
    return races, results, pitstops, weather


def _num(v):
    return "" if v is None else repr(v)


def generate(sf_dir, seed, zone):
    """Write the raw zone for `seed` under `zone` (which must not exist)."""
    races, results, pitstops, weather = _records(sf_dir, seed)
    for sub in ("raceinfo", "results", "pitstops"):
        os.makedirs(os.path.join(zone, sub))
    by_race = {}
    for r in results:
        by_race.setdefault((r["year"], r["round"]), []).append(r)
    stops_by_race = {}
    for p in pitstops:
        stops_by_race.setdefault((p["year"], p["round"]), []).append(p)
    for race in races:
        y, rnd = race["year"], race["round"]
        tag = "%d_%s" % (y, rnd)
        info = {"season": str(y), "round": rnd,
                "raceName": "%s Grand Prix" % race["city"], "date": race["date"],
                "Circuit": {"circuitId": race["city"].lower(),
                            "circuitName": "Circuit of %s" % race["city"],
                            "Location": {"locality": race["city"],
                                         "country": race["country"]}},
                "city": race["city"], "country": race["country"]}
        res = []
        for r in by_race[(y, rnd)]:
            doc = {"number": str(r["idx"] + 1), "points": r["points"],
                   "grid": r["grid"], "laps": r["laps"], "status": r["status"],
                   "Driver": {"driverId": r["driverId"], "givenName": r["givenName"],
                              "familyName": r["familyName"]},
                   "Constructor": {"name": r["constructor"]}}
            if r["position"] is not None:
                doc["position"] = r["position"]
            if r["time"] is not None:
                doc["Time"] = {"time": r["time"]}
            if r["fastestLap"] is not None:
                doc["FastestLap"] = {"rank": "0", "Time": {"time": r["fastestLap"]}}
            res.append(doc)
        stops = [{k: p[k] for k in ("driverId", "stop", "lap", "time", "duration")}
                 for p in stops_by_race.get((y, rnd), [])]
        for sub, name, body in (
                ("raceinfo", "races", info),
                ("results", "results", {"MRData": {"RaceTable": {"Races": [
                    {"season": str(y), "round": rnd, "Results": res}]}}}),
                ("pitstops", "pitstops", {"MRData": {"RaceTable": {"Races": [
                    {"season": str(y), "round": rnd, "PitStops": stops}]}}})):
            with open(os.path.join(zone, sub, "%s_%s.json" % (name, tag)), "w") as f:
                json.dump(body, f, indent=1)
    for (country, city), rows in weather.items():
        d = os.path.join(zone, "weather", country)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, city + ".csv"), "w") as f:
            f.write("date," + ",".join(WEATHER_COLS) + "\n")
            for w in rows:
                f.write(w["date"] + "," + ",".join(_num(w[c]) for c in WEATHER_COLS) + "\n")


FACT_COLS = ["year", "round", "raceName", "date", "circuit", "city", "country",
             "driverId", "driverFullName", "constructorName", "points",
             "totalPoints", "position", "grid", "laps", "status", "time",
             "fastestLapTime", "pitStops", "idx"]

USAGE_SQL = {
    "wins": """SELECT driverFullName, year, city, count(*) AS wins FROM races
        WHERE TRY_CAST(position AS INTEGER) = 1 GROUP BY driverFullName, year, city""",
    "fastestlap": """SELECT year, circuit, city, driverFullName, fastestLapTime FROM (
        SELECT *, row_number() OVER (PARTITION BY year, circuit
                                     ORDER BY fastestLapTime) AS rn
        FROM races WHERE fastestLapTime IS NOT NULL AND fastestLapTime <> 'N/A')
        WHERE rn = 1""",
    "filter": "SELECT DISTINCT year, city, driverFullName FROM races",
    "weather": """SELECT year, city, driverFullName, min(tmin) AS temp_min,
        max(tmax) AS temp_max, avg(tavg) AS temp_avg, avg(prcp) AS precipitation,
        avg(wspd) AS wspd FROM races WHERE year >= 2023
        GROUP BY year, city, driverFullName""",
    "evopoints": "SELECT year, date, driverFullName, totalPoints, city FROM races",
    "evopoints_constructor": """SELECT year, date, driverFullName,
        constructorName AS ConstructorName, totalPoints, city FROM races""",
    "pitstop": "SELECT year, date, driverFullName, pitStops, city FROM races",
    "circuit_stats": """SELECT circuit, avg(TRY_CAST(laps AS DOUBLE)) AS avg_laps,
        max(fastestLapTime) AS best_lap_time, count(*) AS total_races
        FROM races GROUP BY circuit""",
    "top10": """SELECT driverFullName, circuit, fastestLapTime FROM races
        ORDER BY fastestLapTime LIMIT 10""",
}


def expected(sf_dir, seed):
    """Digest and row count of every f1_dag output, keyed by its path below
    a pass directory (formatted_f1, formatted_weather, combined, usage/<q>).
    """
    import pyarrow as pa
    races, results, pitstops, weather = _records(sf_dir, seed)
    info = {(r["year"], r["round"]): r for r in races}
    stops = {}
    for p in pitstops:
        k = (p["year"], p["round"], p["driverId"])
        stops[k] = stops.get(k, 0) + 1
    # the reference's loop: leader time from the first absolute time in
    # result order, running points per (season, driver) in round order
    leaderless = {(r["year"], r["round"]) for r in results
                  if r["idx"] == 0 and r["time"] is None}
    total = {}
    fact = []
    for r in sorted(results, key=lambda r: (r["year"], int(r["round"]), r["idx"])):
        race = info[(r["year"], r["round"])]
        t = r["time"]
        if t is None:
            time = "N/A"
        elif not t.startswith("+"):
            time = _clock(r["leader_cs"])
        else:
            leaderless_race = (r["year"], r["round"]) in leaderless
            time = "N/A" if leaderless_race else _clock(r["leader_cs"] + r["gap_cs"])
        key = (r["year"], r["driverId"])
        total[key] = total.get(key, 0.0) + float(r["points"])
        fact.append(dict(
            year=r["year"], round=r["round"], raceName="%s Grand Prix" % race["city"],
            date=race["date"], circuit="Circuit of %s" % race["city"],
            city=race["city"], country=race["country"], driverId=r["driverId"],
            driverFullName="%s %s" % (r["givenName"], r["familyName"]),
            constructorName=r["constructor"], points=float(r["points"]),
            totalPoints=total[key], position=r["position"] or "N/A",
            grid=r["grid"], laps=r["laps"], status=r["status"], time=time,
            fastestLapTime=r["fastestLap"] or "N/A",
            pitStops=stops.get((r["year"], r["round"], r["driverId"]), 0),
            idx=r["idx"]))
    wcols = ["date"] + WEATHER_COLS + ["city", "country"]
    wrows = [dict(w, city=city, country=country)
             for (country, city), rows in weather.items() for w in rows]
    wkey = {(w["city"], w["country"], w["date"]): w for w in wrows}
    combined = [dict(f, **{c: wkey[(f["city"], f["country"], f["date"])][c]
                           for c in WEATHER_COLS})
                for f in fact if (f["city"], f["country"], f["date"]) in wkey]
    ccols = FACT_COLS + WEATHER_COLS
    out = {
        "formatted_f1": (digest.digest(FACT_COLS, ([f[c] for c in FACT_COLS] for f in fact)), len(fact)),
        "formatted_weather": (digest.digest(wcols, ([w[c] for c in wcols] for w in wrows)), len(wrows)),
        "combined": (digest.digest(ccols, ([r[c] for c in ccols] for r in combined)), len(combined)),
    }
    con = duckdb.connect()
    con.register("races", pa.Table.from_pylist(combined))
    for name, sql in USAGE_SQL.items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out["usage/" + name] = (digest.digest(cols, rows), len(rows))
    con.close()
    return out

