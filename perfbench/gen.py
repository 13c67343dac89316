"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. The program only ever sees what these functions write.

- dag_backfill: one input directory per run date with the shapes of the
  committed pipeline fixtures (tools/gen_fixtures.py) at the reference's
  sizes -- 5,000-row EIA envelope pages and 150 coordinates x 24 h x 30
  weather variables per day -- keeping the fixtures' edge rows (non-numeric
  values, past-cutoff periods, unknown respondents, "Total" rows, null
  county names, wrong-quarter rows, a null weather value, one short
  location). It also returns the row count every sink table must hold for
  each date.
- stream_ingest: the committed sf0.1 documents (data/sf0.1), split by a
  seeded permutation into a seed corpus and micro-batches.
- query_frames: a seeded order of a fixed set of query frames; their
  tables are the committed sf0.01 tables (data/sf0.01).
"""
import datetime as dt
import json
import math
import os
import random

PAGE_ROWS = 5000

FUELS = ["SUN", "WND", "COL", "NG", "NUC", "WAT", "OIL", "OTH"]
REGION_TYPES = ["D", "DF", "NG", "TI"]
COORDS_PER_STATE = 3
HOURS = 24

# Per-date sizes: balancing authorities, target-quarter coal import/export
# and shipment rows, crude-oil rows, weather states (3 coordinates each).
N_BAS, N_CUSTOMS, N_MINE, N_OIL, N_STATES = 64, 5600, 2800, 5600, 50

WEATHER_VARS = [
    "temperature_2m", "relative_humidity_2m", "dew_point_2m",
    "apparent_temperature", "precipitation", "rain", "snowfall",
    "snow_depth", "weather_code", "pressure_msl", "surface_pressure",
    "cloud_cover", "cloud_cover_low", "cloud_cover_mid", "cloud_cover_high",
    "et0_fao_evapotranspiration", "vapour_pressure_deficit",
    "wind_speed_10m", "wind_speed_100m", "wind_direction_10m",
    "wind_direction_100m", "wind_gusts_10m", "soil_temperature_0_to_7cm",
    "soil_temperature_7_to_28cm", "soil_temperature_28_to_100cm",
    "soil_temperature_100_to_255cm", "soil_moisture_0_to_7cm",
    "soil_moisture_7_to_28cm", "soil_moisture_28_to_100cm",
    "soil_moisture_100_to_255cm"]

DAG_TABLES = [
    "eia930_balancing_authorities", "eia930_energy_sources",
    "eia930_cleaned_hourly_net_generation",
    "eia930_cleaned_hourly_demand_interchange_generation",
    "eia930_cleaned_hourly_interchange_by_neighboring_ba",
    "eia930_hourly_net_generation_by_energy_source",
    "eia930_hourly_respondents_producing_and_generating",
    "eia930_hourly_statistics_by_response_type",
    "eia7a_cleaned_quarterly_coal_imports_and_exports",
    "eia7a_cleaned_quarterly_coal_shipment_receipts",
    "eia814_cleaned_monthly_crude_oil_imports",
    "openmeteo_cleaned_weather", "openmeteo_weather_means_per_hour",
    "openmeteo_weather_deviations_per_hour"]


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def _envelope(rows, frequency):
    return json.dumps({"response": {"data": rows, "total": str(len(rows))},
                       "request": {"params": {"frequency": frequency}}},
                      separators=(",", ":"))


def _pages(rows):
    return [rows[i:i + PAGE_ROWS] for i in range(0, len(rows), PAGE_ROWS)]


def _write_pages(dirname, pages, frequency):
    for i, page in enumerate(pages):
        _write(os.path.join(dirname, f"page{i}.json"), _envelope(page, frequency))


def _fetched(pages, stop_after):
    """Rows the program's fetch loop reads: pages up to and including the
    first one `stop_after` accepts (EnvelopeJson.cycle)."""
    out = []
    for page in pages:
        out.extend(page)
        if stop_after(page):
            break
    return out


def _value(rng, bad_share):
    r = rng.random()
    if r < bad_share / 2:
        return rng.choice(["not-a-number", "--"])
    if r < bad_share:
        return None
    return str(round(rng.uniform(0, 5000), rng.choice([0, 1, 2])))


def _quarter_label(d, months_ago):
    m = d.year * 12 + d.month - 1 - months_ago
    return f"{m // 12}-Q{(m % 12) // 3 + 1}"


def _eia930(rng, run_date, root):
    bas = [f"B{i:03d}" for i in range(N_BAS)]
    cutoff = run_date - dt.timedelta(days=2)
    start = dt.datetime.combine(cutoff - dt.timedelta(days=1), dt.time())
    # 24 hours before the cutoff, then 6 past it; the fetch stops on the
    # first page that reaches the cutoff hour
    hours = [(start + dt.timedelta(hours=h)).strftime("%Y-%m-%dT%H")
             for h in range(HOURS + 6)]
    stop = cutoff.isoformat() + "T00"
    ba_fuels = {b: sorted(rng.sample(FUELS, rng.randint(4, len(FUELS))))
                for b in bas}
    # reported D only: dropped by the pivot
    d_only = set(rng.sample(bas, N_BAS // 16))

    fuel, region, inter = [], [], []
    for h in hours:
        for b in bas + ["NOPE"]:  # NOPE: unknown respondent
            for f in ba_fuels.get(b, ["SUN", "COL"]):
                fuel.append({"period": h, "respondent": b,
                             "respondent-name": f"{b} name", "fueltype": f,
                             "type-name": f"{f} name",
                             "value": _value(rng, 0.02),
                             "value-units": "megawatthours"})
            for t in (["D"] if b in d_only else REGION_TYPES):
                region.append({"period": h, "respondent": b,
                               "respondent-name": f"{b} name", "type": t,
                               "type-name": f"{t} name",
                               "value": _value(rng, 0.01),
                               "value-units": "megawatthours"})
        for i in range(0, N_BAS, 2):
            src = bas[i] if i % 16 else "ZZZZ"  # ZZZZ: unknown sender
            for j in (1, 3):
                dst = bas[(i + j) % N_BAS]
                inter.append({"period": h, "fromba": src,
                              "fromba-name": f"{src} name", "toba": dst,
                              "toba-name": f"{dst} name",
                              "value": _value(rng, 0.01),
                              "value-units": "megawatthours"})

    def reaches_stop(page):
        return len(page) == 0 or page[-1]["period"] >= stop

    expected, fetched_rows = {}, 0
    for sub, rows in (("fuel", fuel), ("region", region),
                      ("interchange", inter)):
        pages = _pages(rows)
        _write_pages(os.path.join(root, "eia930", sub), pages, "hourly")
        got = _fetched(pages, reaches_stop)
        fetched_rows += len(got)
        key = "fromba" if sub == "interchange" else "respondent"
        expected[sub] = [r for r in got
                         if r["period"] < stop and r[key] in ba_fuels]

    _write(os.path.join(root, "eia930", "ba.csv"),
           "BA Code,BA Name,Time Zone,Region/Country Code,Region/Country Name,"
           "Generation Only BA\n" + "".join(
               f"{b},{b} name,Eastern,US,United States,No\n" for b in bas))
    _write(os.path.join(root, "eia930", "energy.csv"),
           "Energy Source Code,Energy Source Name\n" +
           "".join(f"{f},{f} name\n" for f in FUELS))

    def numeric(v):
        try:
            float(v)
            return True
        except (TypeError, ValueError):
            return False

    groups = {}
    for r in expected["region"]:
        groups.setdefault((r["period"], r["respondent"]), set())
        if r["type"] in REGION_TYPES and numeric(r["value"]):
            groups[(r["period"], r["respondent"])].add(r["type"])
    counts = {
        "eia930_balancing_authorities": len(bas),
        "eia930_energy_sources": len(FUELS),
        "eia930_cleaned_hourly_net_generation": len(expected["fuel"]),
        "eia930_cleaned_hourly_demand_interchange_generation":
            len(expected["region"]),
        "eia930_cleaned_hourly_interchange_by_neighboring_ba":
            len(expected["interchange"]),
        "eia930_hourly_net_generation_by_energy_source":
            len({(r["period"], r["fueltype"]) for r in expected["fuel"]}),
        "eia930_hourly_respondents_producing_and_generating":
            sum(1 for ts in groups.values() if len(ts) == len(REGION_TYPES)),
        "eia930_hourly_statistics_by_response_type":
            len({r["period"] for r in expected["region"]}),
    }
    return counts, fetched_rows


def _eia7a(rng, run_date, root):
    quarter = _quarter_label(run_date, 6)
    older = [_quarter_label(run_date, 6 + 3 * k) for k in (1, 2)]
    districts = [(f"{i:02d}", f"District {i}") for i in range(1, 40)]

    def price():
        r = rng.random()
        return None if r < 0.02 else "--" if r < 0.04 else \
            str(round(rng.uniform(20, 200), 2))

    def customs_row(period):
        did, ddesc = rng.choice(districts)
        if rng.random() < 0.05:
            did, ddesc = "00", "Total"
        c = rng.randrange(60)
        return {"period": period,
                "exportImportType": rng.choice(["import", "export"]),
                "coalRankId": rng.choice(["BIT", "SUB", "LIG", "ANT"]),
                "coalRankDescription": "rank", "countryId": f"C{c}",
                "countryDescription": f"Country {c}",
                "customsDistrictId": did,
                "customsDistrictDescription": ddesc, "price": price(),
                "quantity": str(rng.randrange(1, 100000)),
                "price-units": "usd", "quantity-units": "tons"}

    def mine_row(period):
        m = rng.randrange(10 ** 6)
        return {"period": period, "plantStateId": "AL",
                "plantStateDescription": "Alabama", "mineStateId": "WV",
                "mineStateDescription": "West Virginia",
                "mineTypeId": rng.choice(["U", "S"]),
                "mineTypeDescription": "type", "mineMSHAID": str(4600000 + m),
                "mineName": f"Mine {m}", "mineBasinId": "APP",
                "mineBasinDescription": "Appalachia",
                "mineCountyId": str(rng.randrange(1, 99)),
                "mineCountyName": None if rng.random() < 0.1 else "County",
                "contractType": rng.choice(["Contract", "Spot"]),
                "transportationMode": rng.choice(["Rail", "Truck", "River"]),
                "coalSupplier": f"Supplier {rng.randrange(300)}",
                "coalRankId": "BIT", "coalRankDescription": "Bituminous",
                "plantId": str(rng.randrange(1, 9999)),
                "plantName": f"Plant {rng.randrange(500)}",
                "ash-content": str(round(rng.uniform(4, 14), 1)),
                "heat-content": str(rng.randrange(8000, 13000)),
                "price": price(), "quantity": str(rng.randrange(100, 90000)),
                "sulfur-content": str(round(rng.uniform(0.3, 3), 2)),
                "ash-content-units": "percent", "heat-content-units": "btu",
                "price-units": "usd", "quantity-units": "tons",
                "sulfur-content-units": "percent"}

    def reaches_other_quarter(page):
        return len(page) == 0 or page[-1]["period"] != quarter

    counts, fetched_rows = {}, 0
    for sub, make, n, table in (
            ("customs", customs_row, N_CUSTOMS,
             "eia7a_cleaned_quarterly_coal_imports_and_exports"),
            ("mine", mine_row, N_MINE,
             "eia7a_cleaned_quarterly_coal_shipment_receipts")):
        # newest first: the target quarter, then older quarters on pages
        # the fetch must stop before
        rows = [make(quarter) for _ in range(n)] + \
               [make(older[0]) for _ in range(PAGE_ROWS - n % PAGE_ROWS + 50)] + \
               [make(older[1]) for _ in range(300)]
        pages = _pages(rows)
        _write_pages(os.path.join(root, "eia7a", sub), pages, "quarterly")
        got = _fetched(pages, reaches_other_quarter)
        fetched_rows += len(got)

        def kept(r):
            try:
                float(r["price"])
            except (TypeError, ValueError):
                return False
            return r["period"] == quarter and \
                r.get("customsDistrictDescription") != "Total"
        counts[table] = sum(1 for r in got if kept(r))
    return counts, fetched_rows


def _eia814(rng, run_date, root):
    m = run_date.year * 12 + run_date.month - 2
    period = f"{m // 12}-{m % 12 + 1:02d}"
    rows = []
    for _ in range(N_OIL):
        o, d = rng.randrange(80), rng.randrange(1, 6)
        rows.append({"period": period, "originId": f"O{o}",
                     "originName": f"Origin {o}", "originType": "CTY",
                     "originTypeName": "Country", "destinationId": f"PP{d}",
                     "destinationName": f"PADD{d}", "destinationType": "PAD",
                     "destinationTypeName": "PAD District",
                     "gradeId": rng.choice(["HSO", "LSW", "MED", "LSO"]),
                     "gradeName": "grade",
                     "quantity": "W" if rng.random() < 0.03 else
                     str(rng.randrange(1, 9000)),
                     "quantity-units": "thousand barrels"})
    pages = _pages(rows) + [[]]  # the API runs dry on an empty page
    _write_pages(os.path.join(root, "eia814"), pages, "monthly")
    return {"eia814_cleaned_monthly_crude_oil_imports": len(rows)}, len(rows)


def _openmeteo(rng, run_date, root):
    start = int(dt.datetime.combine(run_date - dt.timedelta(days=1), dt.time(),
                                    tzinfo=dt.timezone.utc).timestamp())
    coords = []
    for s in range(N_STATES):
        for c in range(COORDS_PER_STATE):
            coords.append((f"State{s:02d}", round(25 + s * 0.5 + c * 0.11, 2),
                           round(-120 + s * 0.9 + c * 0.13, 2)))
    short = rng.randrange(len(coords))
    hole = rng.randrange(len(coords))
    rows = 0
    for li, (_, lat, lon) in enumerate(coords):
        nh = HOURS // 2 if li == short else HOURS
        hourly = {"time": [start + 3600 * h for h in range(nh)]}
        phase = rng.uniform(0, 6.28)
        for vi, v in enumerate(WEATHER_VARS):
            vals = [round(math.sin(phase + vi * 0.1 + h * 0.2) * 10 + vi, 3)
                    for h in range(nh)]
            if li == hole and vi == 0:
                vals[nh // 3] = None
            hourly[v] = vals
        rows += nh
        _write(os.path.join(root, "openmeteo", f"loc{li:03d}.json"), json.dumps(
            {"latitude": lat, "longitude": lon, "utc_offset_seconds": 0,
             "hourly": hourly}, separators=(",", ":")))
    _write(os.path.join(root, "openmeteo", "coords.csv"),
           "State,Latitude,Longitude\n" +
           "".join(f"{s},{a},{o}\n" for s, a, o in coords))
    per_hour = N_STATES * HOURS
    return {"openmeteo_cleaned_weather": rows,
            "openmeteo_weather_means_per_hour": per_hour,
            "openmeteo_weather_deviations_per_hour": per_hour}


def run_dates(seed, n):
    base = dt.date(2025, 1, 1) + dt.timedelta(days=seed % 300)
    return [base + dt.timedelta(days=i) for i in range(n)]


def dag_inputs(seed, out_dir, n_dates):
    """Write one input directory per run date under out_dir/<date>/ for
    `n_dates` consecutive run dates.

    Returns the meta the benchmark reads: the dates, the sink tables, the
    row count every table must hold for each date ("expected"), the EIA page
    rows the fetch loops read per date ("eia_rows_fetched") and the date
    that is re-run to check the idempotent overwrite (which the warm-up also
    loads, as the re-run's reference).
    """
    meta = {"tables": DAG_TABLES, "dates": [], "expected": {},
            "eia_rows_fetched": {}}
    for d in run_dates(seed, n_dates):
        rng = random.Random(f"{seed}/{d}")
        root = os.path.join(out_dir, d.isoformat())
        counts, fetched = {}, 0
        for part in (_eia930, _eia7a, _eia814):
            c, f = part(rng, d, root)
            counts.update(c)
            fetched += f
        counts.update(_openmeteo(rng, d, root))
        assert sorted(counts) == sorted(DAG_TABLES)
        meta["dates"].append(d.isoformat())
        meta["expected"][d.isoformat()] = counts
        meta["eia_rows_fetched"][d.isoformat()] = fetched
    meta["rerun_date"] = random.Random(f"rerun/{seed}").choice(meta["dates"])
    return meta


# ---- stream_ingest: corpus and micro-batches of real documents ----

def stream_split(seed, doc_ids, n_batches, batch_size):
    """{doc_id: batch}: a seeded permutation of the documents, whose last
    n_batches * batch_size go to micro-batches 0..n_batches-1 in order and
    whose rest is the seed corpus (batch -1)."""
    ids = sorted(doc_ids)
    random.Random(f"stream/{seed}").shuffle(ids)
    n_corpus = len(ids) - n_batches * batch_size
    assert n_corpus > 0, "fewer documents than micro-batch slots"
    return {d: -1 if i < n_corpus else (i - n_corpus) // batch_size
            for i, d in enumerate(ids)}


def write_stream_inputs(seed, docs_path, out_path, n_batches, batch_size):
    """Split the documents at docs_path (doc_id, text, ...) into a seed
    corpus and micro-batches (stream_split) and write (doc_id, text, batch)
    to out_path."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    docs = pq.read_table(docs_path, columns=["doc_id", "text"])
    ids = docs.column("doc_id").to_pylist()
    batch = stream_split(seed, ids, n_batches, batch_size)
    pq.write_table(docs.append_column(
        "batch", pa.array([batch[d] for d in ids], pa.int64())), out_path)
    return {"corpus_docs": len(ids) - n_batches * batch_size,
            "batches": n_batches, "batch_docs": batch_size,
            "replay_batch": random.Random(f"replay/{seed}").randrange(n_batches)}


# ---- query_frames: frame order ----

def frame_order(seed, frames):
    """The frames in a seeded order."""
    out = list(frames)
    random.Random(f"frames/{seed}").shuffle(out)
    return out
