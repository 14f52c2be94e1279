"""End-to-end LFB pipeline test on synthetic dirty fixtures (FIXTURES.md):
literal "NULL" strings, USRN=0, zero-Latitude linked scrub, mixed-case
ward names, NULL IncidentGroup, negative AQ values, wdir>360, missing
weather days, AQ gaps > 12h (Unknown FK path)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from lfb_data_warehouse_spark.operators.checks import (
    CheckResult,
    assert_unique,
    referential_orphans,
)
from lfb_data_warehouse_spark.plans.lfb_pipeline import (
    FK_PAIRS,
    derive_incident_type,
    run_pipeline,
    warehouse_checks,
)
from tests.conftest import runs_python_task

LFB_COLS = (
    "IncidentNumber string, DateOfCall date, TimeOfCall string, "
    "IncidentGroup string, StopCodeDescription string, SpecialServiceType string, "
    "PropertyCategory string, PropertyType string, USRN long, "
    "IncGeo_BoroughCode string, ProperCase string, IncGeo_WardCode string, "
    "IncGeo_WardName string, Latitude double, Longitude double, "
    "IncidentStationGround string, FirstPumpArriving_AttendanceTime int, "
    "FirstPumpArriving_DeployedFromStation string, NumStationsWithPumpsAttending int, "
    "NumPumpsAttending int, PumpMinutesRounded int, `Notional Cost (£)` int, NumCalls int"
)


def d(s):
    return dt.date.fromisoformat(s)


@pytest.fixture(scope="module")
def raw(spark):
    """The raw inputs: calls, weather, air quality, well-being."""
    lfb = spark.createDataFrame(
        [
            # clean row
            ("I1", d("2021-06-01"), "10:00:00", "Fire", "Primary Fire", None,
             "Dwelling", "House", 123, "B1", "Camden", "W1", "holborn",
             51.5, -0.12, "Soho", 300, "Soho", 1, 2, 60, 400, 2),
            # dirty row: "NULL" strings, USRN=0, zero lat, mixed-case ward
            # 03:00 on 06-02: 15h after the 06-01 reading, 27h before the
            # 06-03 one → no AQ match within ±12h
            ("I2", d("2021-06-02"), "03:00:00", "Special Service", "Special Service",
             "Flooding", "Outdoor", "Lake", 0, "B1", "Camden", "W1", "HOLBORN",
             0.0, -0.5, "Soho", None, "NULL", None, None, None, None, None),
            # NULL incident group → Unknown sentinel type; unmatched ward
            ("I3", d("2021-06-03"), "05:15:00", None, None, None,
             None, None, 55, "B2", "Westminster", None, "abbey road",
             51.52, -0.2, "Paddington", 120, "Paddington", 2, 3, 30, 200, 1),
        ],
        LFB_COLS,
    )
    weather = spark.createDataFrame(
        # wdir 370 → 10 (% 360); 2021-06-03 missing (Unknown WeatherKey path)
        [("2021-06-01", 15.0, 10.0, 20.0, 370.0, 12.0, 30.0, 1013.0, 0.5, 0.0, 30000.0),
         ("2021-06-02", None, None, None, None, None, None, None, None, None, None)],
        "date string, tavg double, tmin double, tmax double, wdir double, "
        "wspd double, wpgt double, pres double, prcp double, snow double, tsun double",
    )
    aq = spark.createDataFrame(
        # reading near I1 (2h away); negative value scrubbed; nothing within
        # 12h of I2's 23:30 call on 06-02? 06-01 12:00 is 35.5h before → miss
        [("PM10", "01/06/2021 12:00", 30.0, "site1"),
         ("PM10", "01/06/2021 12:00", -5.0, "site1"),
         ("NO2", "01/06/2021 12:00", 55.0, "site1"),
         ("O3", "03/06/2021 06:00", 80.0, "site1")],
        "Species string, ReadingDateTime string, Value double, Site string",
    )
    wb = spark.createDataFrame(
        [("OLD1", "W1", "Holborn", "Camden", 2021, 79.0, 6.0, 120.0, 0.5),
         ("OLD2", "W9", "Nowhere", "Camden", 2020, None, 2.0, 20.0, 4.0)],
        "`Old Ward Code` string, `New ward code` string, Ward string, Borough string, "
        "Year int, Life_Expectancy double, Unemployment double, Crime double, "
        "Deliberate_Fires double",
    )
    return lfb, weather, aq, wb


@pytest.fixture(scope="module")
def warehouse(spark, raw):
    tables = run_pipeline(spark, *raw)
    return {k: v.cache() for k, v in tables.items()}


def test_contract_passes(warehouse):
    results = warehouse_checks(warehouse)
    failed = [r for r in results if not r.passed]
    assert not failed, failed


def test_fact_rows_and_fk_resolution(warehouse):
    fact = {r["IncidentNumber"]: r for r in warehouse["lfb_call"].collect()}
    assert len(fact) == 3
    # I1: matched AQ reading (2h away), weather present, wellbeing (W1,2021)
    assert fact["I1"]["AirQualityKey"] != "Unknown"
    assert fact["I1"]["WeatherKey"] != "Unknown"
    assert fact["I1"]["WellBeingID"] != "Unknown"
    assert fact["I1"]["CostPerCall"] == 200  # 400 / 2
    # I2: no AQ reading within 12h → Unknown; measures defaulted
    assert fact["I2"]["AirQualityKey"] == "Unknown"
    assert fact["I2"]["NotionalCost"] == 0 and fact["I2"]["NumCalls"] == 1
    assert fact["I2"]["CostPerCall"] == 0
    # I3: NULL group → Unknown incident type key; missing weather day;
    # NULL ward code → Unknown ward
    assert fact["I3"]["IncidentTypeKey"] == "Unknown"
    assert fact["I3"]["WeatherKey"] == "Unknown"
    assert fact["I3"]["WardID"] == "Unknown"
    # I3's call at 05:15 on 06-03 is 45 min from the 06:00 O3 reading
    assert fact["I3"]["AirQualityKey"] != "Unknown"


def test_well_being_dim_format_modes(spark):
    """Reference load_wb_dim.py:44-57 produce_schema parity: the three
    dimensionFormat modes filter the dim's columns by name suffix —
    only-labels keeps exactly the *Label ordinals, only-numeric exactly
    the numeric metrics (faithfully including the reference's behavior
    of dropping key/ward/year in the filtered modes)."""
    import pytest as _pytest

    from lfb_data_warehouse_spark.plans.lfb_pipeline import (
        WB_STRATEGIES,
        well_being_dim,
    )

    wb = spark.createDataFrame(
        [("OLD1", "W1", "Holborn", "Camden", 2021, 79.0, 6.0, 120.0, 0.5)],
        "`Old Ward Code` string, `New ward code` string, Ward string, Borough string, "
        "Year int, Life_Expectancy double, Unemployment double, Crime double, "
        "Deliberate_Fires double",
    )
    metrics = list(WB_STRATEGIES)
    full = well_being_dim(wb)  # preserve-all default
    assert full.columns == (
        ["WellBeingID", "WardCode", "WardName", "Year"]
        + metrics
        + [f"{m}Label" for m in metrics]
    )
    labels = well_being_dim(wb, "only-labels")
    assert labels.columns == [f"{m}Label" for m in metrics]
    numeric = well_being_dim(wb, "only-numeric")
    assert numeric.columns == metrics
    # sentinel row is added before the filter (cleanse→load ordering):
    # it survives as all-"Unknown" labels / all-NULL metrics
    assert labels.filter(" AND ".join(f"{c} = 'Unknown'" for c in labels.columns)).count() == 1
    assert numeric.filter(" AND ".join(f"{c} IS NULL" for c in numeric.columns)).count() == 1
    with _pytest.raises(ValueError, match="dimension_format"):
        well_being_dim(wb, "only-ids")


def test_cleansing_applied(warehouse):
    ward = {r["WardCode"]: r for r in warehouse["ward"].collect()}
    # mixed-case ward names standardized before collapse
    assert ward["W1"]["WardName"] == "Holborn"
    assert "Unknown" in ward  # sentinel member


def test_incident_type_rules(spark):
    df = spark.createDataFrame(
        [("Special Service", "Special Service", "Flooding"),
         ("Fire", "Primary Fire", None),
         (None, None, None),
         ("Use of Special Operations Room", "x", None)],
        "IncidentGroup string, StopCodeDescription string, SpecialServiceType string",
    )
    rows = derive_incident_type(df).collect()
    by_group = {(r["IncidentGroup"], r["StopCodeDescription"]): r for r in rows}
    ss = by_group[("Special Service", "Special Service")]
    assert ss["IncidentType"] == "Special Service" and ss["IncidentDescription"] == "Flooding"
    assert by_group[(None, None)]["IncidentTypeKey"] == "Unknown"
    sor = by_group[("Use of Special Operations Room", "x")]
    # IncidentType == "Use of Special Operations Room" triggers the
    # description override regardless of the StopCodeDescription
    assert sor["IncidentDescription"] == "Use of Special Operations Room"


def test_weather_bucketing_labels(warehouse):
    w = {str(r["date"]): r for r in warehouse["weather"].collect() if r["date"]}
    r1 = w["2021-06-01"]
    assert r1["TemperatureCategory"] == "Mild"  # tavg 15
    assert r1["WindDirection"] == "North"  # 370 % 360 = 10 → North
    assert r1["TemperatureAmplitude"] == "High"  # 20-10=10 ∈ [10,15)
    r2 = w["2021-06-02"]
    assert r2["TemperatureCategory"] == "Unknown"  # all-NULL day


def test_aq_negative_scrub_and_pivot(warehouse):
    aq = warehouse["air_quality"]
    rows = [r for r in aq.collect() if r["AirQualityKey"] != "Unknown"]
    by_ts = {str(r["ReadingDateTime"]): r for r in rows}
    r = by_ts["2021-06-01 12:00:00"]
    # negative -5 scrubbed → avg(30) = 30 → "Unhealthy for Sensitive"? 30∈[25,50) Moderate
    assert r["PM10Level"] == "Moderate"
    assert r["NO2Level"] == "Moderate"  # 55 ∈ [40,80)
    assert r["PM1Level"] == "Unknown"  # species never observed


def test_marts_shapes(warehouse):
    pm = warehouse["per_month"].collect()
    assert len(pm) == 1 and pm[0]["IncidentCount"] == 3
    assert pm[0]["TotalCost"] == 600
    plt = warehouse["per_location_type"].collect()
    # I2 has NULL attendance → filtered; 2 location-type rows remain
    assert sum(r["IncidentCount"] for r in plt) == 2


MARTS = ("per_month", "per_ward", "types_per_ward", "per_location_type")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _refresh(spark, raw, calls_path):
    """run_pipeline over the calls stored at ``calls_path``, as a
    scheduled refresh reads them."""
    _lfb, weather, aq, wb = raw
    return run_pipeline(spark, spark.read.parquet(calls_path), weather, aq, wb)


def _disk_blocks(spark):
    """Ids of the RDDs holding disk-only blocks (the refresh's frames;
    the module fixture caches in memory)."""
    return {
        i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if not i.storageLevel().useMemory()
    }


def test_refreshes_in_one_session_each_read_their_own_input(spark, raw, tmp_path):
    """A daily refresh in a long-lived session: the same input path is
    rewritten between two run_pipeline calls. Each call's fact and marts
    reflect its own input, and the second call releases the blocks the
    first call materialized, so refreshes do not pile up."""
    lfb = raw[0]
    path = str(tmp_path / "calls")
    lfb.write.parquet(path)
    before = _disk_blocks(spark)
    first = _refresh(spark, raw, path)
    fact1, marts1 = _rows(first["lfb_call"]), {m: _rows(first[m]) for m in MARTS}
    held = _disk_blocks(spark) - before

    cost = F.when(F.col("IncidentNumber") == "I1", 1000).otherwise(F.col("`Notional Cost (£)`"))
    lfb.withColumn("Notional Cost (£)", cost).write.mode("overwrite").parquet(path)
    second = _refresh(spark, raw, path)
    fact2, marts2 = _rows(second["lfb_call"]), {m: _rows(second[m]) for m in MARTS}
    now = _disk_blocks(spark)
    assert not held & now
    assert len(now - before) == len(held)

    cost1 = {r[1]: r[11] for r in fact1}  # IncidentNumber → NotionalCost
    cost2 = {r[1]: r[11] for r in fact2}
    assert cost1 == {"I1": 400, "I2": 0, "I3": 200}
    assert cost2 == {"I1": 1000, "I2": 0, "I3": 200}
    assert [r[4] for r in marts1["per_month"]] == [600]  # TotalCost
    assert [r[4] for r in marts2["per_month"]] == [1200]
    assert marts1["per_ward"] != marts2["per_ward"]


def test_marts_equal_group_by_over_the_collected_fact(spark, warehouse):
    """The four marts equal an independent SQL GROUP BY over the
    collected fact rows."""
    fact = warehouse["lfb_call"]
    spark.createDataFrame(fact.collect(), fact.schema).createOrReplaceTempView("fact_rows")
    sql = {
        "per_month": """
            SELECT year(DateOfCall), month(DateOfCall), date_format(DateOfCall, 'yyyy-MM'),
                   count(IncidentNumber), sum(NotionalCost), round(avg(NotionalCost), 2),
                   sum(NumCalls)
            FROM fact_rows GROUP BY 1, 2, 3""",
        "per_ward": """
            SELECT WardID, count(IncidentNumber), sum(NotionalCost), avg(NotionalCost),
                   sum(NumCalls), round(avg(FirstPumpAttendanceTime), 2)
            FROM fact_rows GROUP BY WardID""",
        "types_per_ward": """
            SELECT WardID, IncidentTypeKey, count(IncidentNumber), sum(NotionalCost),
                   round(avg(NotionalCost), 2)
            FROM fact_rows GROUP BY WardID, IncidentTypeKey""",
        "per_location_type": """
            SELECT LocationTypeKey, count(IncidentNumber),
                   round(avg(FirstPumpAttendanceTime), 2), sum(NotionalCost),
                   round(avg(NotionalCost), 2), sum(PumpsAttending),
                   round(avg(PumpsAttending), 2)
            FROM fact_rows
            WHERE FirstPumpAttendanceTime IS NOT NULL AND FirstPumpAttendanceTime > 0
            GROUP BY LocationTypeKey""",
    }
    for mart, query in sql.items():
        assert _rows(warehouse[mart]) == _rows(spark.sql(query)), mart


def _node_names(plan):
    names = [plan.nodeName()]
    kids = plan.children()
    for i in range(kids.size()):
        names += _node_names(kids.apply(i))
    return names


def test_marts_read_the_materialized_fact(spark, raw, tmp_path):
    """No mart's physical plan scans a raw input or re-runs the as-of
    join window: each mart's only leaves are scans of the materialized
    fact."""
    path = str(tmp_path / "calls")
    raw[0].write.parquet(path)
    tables = _refresh(spark, raw, path)
    for mart in MARTS:
        names = _node_names(tables[mart]._jdf.queryExecution().sparkPlan())
        leaves = [n for n in names if "Scan" in n]
        assert leaves and set(leaves) == {"InMemoryTableScan"}, (mart, names)
        assert "Window" not in names, (mart, names)


def test_pipeline_frames_run_no_python_task(arrow_off, raw, tmp_path):
    """Over stored inputs, no frame of a refresh runs a Python task: the
    dimensions' "Unknown" sentinel members are local frames, not
    pickled rows."""
    spark = arrow_off
    stored = []
    for i, df in enumerate(raw):
        df.write.parquet(str(tmp_path / str(i)))
        stored.append(spark.read.parquet(str(tmp_path / str(i))))
    tables = run_pipeline(spark, *stored)
    assert len(tables) == 12
    assert [name for name, df in tables.items() if runs_python_task(df)] == []


def test_release_refresh_drops_the_blocks(spark, raw, tmp_path):
    """A refresh holds the disk blocks of its two shared frames until
    release_refresh drops them; the released frames still answer."""
    from lfb_data_warehouse_spark.plans.lfb_pipeline import release_refresh

    path = str(tmp_path / "calls")
    raw[0].write.parquet(path)
    release_refresh()
    before = _disk_blocks(spark)
    tables = _refresh(spark, raw, path)
    per_month = _rows(tables["per_month"])
    assert len(_disk_blocks(spark) - before) == 2  # the cleansed calls and the fact
    release_refresh()
    assert _disk_blocks(spark) <= before
    assert _rows(tables["per_month"]) == per_month


def test_date_dim_builds_without_a_job(spark):
    """date_dim's range is a lazy aggregate: building the spine starts
    no Spark job, and an empty input yields no rows."""
    from lfb_data_warehouse_spark.plans.lfb_pipeline import date_dim

    calls = spark.createDataFrame([(d("2021-06-01"),), (d("2021-06-03"),)], "DateOfCall date")
    sc = spark.sparkContext
    sc.setJobGroup("date_dim_build", "building date_dim")
    try:
        dim = date_dim(spark, calls)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("date_dim_build")) == []
    assert [r["Date"] for r in dim.orderBy("Date").collect()] == [
        d("2021-06-01"), d("2021-06-02"), d("2021-06-03")
    ]
    assert date_dim(spark, calls.limit(0)).count() == 0


def test_dimensions_build_in_few_py4j_calls(raw, monkeypatch):
    """Building the weather, air-quality and well-being dimensions stays
    within a budget of Py4J round trips: each strategy table is one
    parsed CASE and each dependency step one projection. A Column-builder
    CASE (a call per literal, comparison and branch) or a withColumn loop
    over the labels exceeds it."""
    import threading

    from py4j.java_gateway import GatewayClient

    from lfb_data_warehouse_spark.plans.lfb_pipeline import (
        air_quality_dim,
        weather_dim,
        well_being_dim,
    )

    _, weather, aq, wb = raw
    # count this thread's calls only: py4j's finalizer thread sends its
    # object releases through the same client
    me = threading.get_ident()
    calls = 0
    send = GatewayClient.send_command

    def counted(self, *args, **kwargs):
        nonlocal calls
        calls += threading.get_ident() == me
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    weather_dim(weather)
    air_quality_dim(aq)
    well_being_dim(wb)
    monkeypatch.undo()
    assert calls <= 2000, calls


def test_folded_checks_equal_per_check_formulation(spark):
    """warehouse_checks returns exactly the CheckResult list of one
    action per check, on a warehouse with an empty table, a duplicate
    dimension key, a NULL dimension key group, and orphan (and NULL)
    foreign keys."""

    def keys(col, *vals, kind="string"):
        return spark.createDataFrame([(v,) for v in vals], f"{col} {kind}")

    fk_cols = [fk for fk, _, _ in FK_PAIRS]
    tables = {
        "incident_types": keys("IncidentTypeKey", "a", "a", "b"),  # duplicate key
        "location_type": keys("LocationTypeKey"),  # empty
        "ward": keys("WardID", None, None, "w"),  # NULL key group of two
        "date": keys("Date", d("2021-06-01"), d("2021-06-02"), kind="date"),
        "weather": keys("WeatherKey", "x", None),  # one NULL key: unique
        "air_quality": keys("AirQualityKey", "q"),
        "well_being": keys("WellBeingID", "h"),
        "lfb_call": spark.createDataFrame(
            [("a", "l", "w", "q", "x", "h"),
             ("b", "l", "zz", "q", None, "h"),  # orphan ward, NULL weather FK
             ("c", "l", "zz", "q", "x", "h")],  # orphan type, same orphan ward
            ", ".join(f"{c} string" for c in fk_cols),
        ),
        "per_month": keys("Year", 2021, kind="int"),
        "per_ward": keys("WardID"),  # empty
        "types_per_ward": keys("WardID", "w"),
        "per_location_type": keys("LocationTypeKey", "l"),
    }
    # reference: one Spark action per check
    expected = []
    for name, df in tables.items():
        n = df.count()
        expected.append(CheckResult(f"non_empty_{name}", n > 0, f"rows={n}"))
    for dim, key in [
        ("incident_types", "IncidentTypeKey"), ("location_type", "LocationTypeKey"),
        ("ward", "WardID"), ("weather", "WeatherKey"),
        ("air_quality", "AirQualityKey"), ("well_being", "WellBeingID"),
        ("date", "Date"),
    ]:
        dups = assert_unique(tables[dim], [key]).count()
        expected.append(CheckResult(f"unique_{dim}.{key}", dups == 0, f"dup_keys={dups}"))
    for fk, dim, key in FK_PAIRS:
        orphans = referential_orphans(tables["lfb_call"], fk, tables[dim], key).count()
        expected.append(CheckResult(f"ref_int_{fk}", orphans == 0, f"orphans={orphans}"))

    got = warehouse_checks(tables)
    assert got == expected
    failed = {r.name: r.detail for r in got if not r.passed}
    assert failed == {
        "non_empty_location_type": "rows=0",
        "non_empty_per_ward": "rows=0",
        "unique_incident_types.IncidentTypeKey": "dup_keys=1",
        "unique_ward.WardID": "dup_keys=1",
        "ref_int_IncidentTypeKey": "orphans=1",
        "ref_int_LocationTypeKey": "orphans=1",
        "ref_int_WardID": "orphans=1",
        "ref_int_WeatherKey": "orphans=1",
    }
