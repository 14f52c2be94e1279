"""LFB star-schema pipeline — the reference's end-to-end warehouse
(extract→cleanse→dims→fact→marts→checks) rebuilt as a composition of
the engine's operators.

The reference implements this as ~30 single-purpose job scripts wired
by Airflow/Livy, coupled only through storage paths
(/root/reference/airflow/main-dw-project.py:373-454). Here each stage
is a pure DataFrame→DataFrame function; orchestration is function
composition (deployment scaffolding is not engine capability). Of the
reference's hops through storage, one refresh keeps two:
:func:`run_pipeline` persists the cleansed calls and the fact to
executor disk, so the dimensions, the fact and the four marts read them
instead of re-deriving them (the reference's marts likewise read the
stored fact, load_sample_aggregates.py). The next run_pipeline call, or
:func:`release_refresh`, releases them.

Semantics parity notes (SURVEY §7.4):
- incident-type derivation is ONE shared operator (the reference
  duplicates it: etl/transform/incident-type-populate.py:22-62 ==
  etl/load/load_fact.py:100-140);
- the air-quality as-of join uses operators.temporal.nearest_within —
  the reference's intended ±12 h nearest-reading semantics with its
  bucket-arithmetic bug fixed (load_fact.py:243 vs :259-261) and a
  deterministic tiebreak;
- ward collapse (etl/transform/ward-dimension.py:42-46) uses unordered
  first(ignorenulls) — nondeterministic under parallelism; we collapse
  with an explicit order (documented divergence);
- bucketing strategy tables are domain data reproduced from the
  reference (cited per table); each folds into one SQL CASE
  (functions.bucketing.bucketize), the text the oracles use too.

Each dimension and the fact derive their columns in one projection per
dependency step (``select``/``withColumns``), not a ``withColumn`` per
column: every ``withColumn`` re-analyzes the growing plan.
"""

from __future__ import annotations

from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bucketing import NullPolicy, bucketize
from ..functions.cleanse import (
    linked_scrub,
    null_sentinels,
    standardize_names,
    zero_to_null,
    zscore_scrub,
)
from ..functions.keys import UNKNOWN, hash_key, sentinel_row
from ..operators.agg import pivot_agg, rollup_mart
from ..operators.checks import CheckResult
from ..operators.dims import collapse_per_key, date_spine
from ..operators.temporal import nearest_within

# ---------------------------------------------------------------------------
# Cleansing (reference etl/transform/lfb-cleanse.py)
# ---------------------------------------------------------------------------

LFB_DROP_COLUMNS = [
    # reference lfb-cleanse.py:7-21 — identifiers/geo duplicates unused
    # downstream
    "CalYear", "HourOfCall", "AddressQualifier", "Postcode_district", "UPRN",
    "IncGeo_BoroughName", "IncGeo_WardNameNew", "Easting_m", "Northing_m",
    "Easting_rounded", "Northing_rounded", "FRS", "PumpCount",
]


def cleanse_lfb(df: DataFrame) -> DataFrame:
    """String-sentinel scrub, fake-zero scrubs, ward-name standardization,
    and the stale-ward-code fix (most recent WardCode per WardName wins —
    reference lfb-cleanse.py:33-66)."""
    df = df.drop(*[c for c in LFB_DROP_COLUMNS if c in df.columns])
    df = null_sentinels(df)
    df = zero_to_null(df, ["USRN"])
    df = linked_scrub(df, F.col("Latitude") == 0.0, ["Latitude", "Longitude"])
    df = standardize_names(df, ["IncGeo_WardName"])
    # most-recent ward code per ward name (SCD-style latest-value window,
    # reference uses first() over desc DateOfCall; we add IncidentNumber
    # as a deterministic tiebreak)
    from pyspark.sql import Window

    w = Window.partitionBy("IncGeo_WardName").orderBy(
        F.col("DateOfCall").desc(), F.col("IncidentNumber").desc()
    )
    return df.withColumn("IncGeo_WardCode", F.first("IncGeo_WardCode", ignorenulls=True).over(w))


# ---------------------------------------------------------------------------
# Incident-type derivation — ONE shared operator
# (reference duplicates this logic in two files; parity bug-for-bug on the
# NULL-propagating concat key + Unknown patch)
# ---------------------------------------------------------------------------

def derive_incident_type(df: DataFrame) -> DataFrame:
    """Adds IncidentType / IncidentDescription / IncidentTypeKey.

    Rules (incident-type-populate.py:5-16): Special Service incidents
    take their type from StopCodeDescription and description from
    SpecialServiceType; "Use of Special Operations Room" overrides the
    description; NULLs default to Unknown. The key hashes with
    NULL-propagating concat, patched so the all-unknown member keys as
    the literal "Unknown" sentinel (load_fact.py:162-169)."""
    itype = F.when(
        F.col("IncidentGroup") == "Special Service", F.col("StopCodeDescription")
    ).otherwise(F.col("IncidentGroup"))
    idesc = F.when(
        F.col("IncidentGroup") == "Special Service", F.col("SpecialServiceType")
    ).otherwise(F.col("StopCodeDescription"))
    idesc = F.when(
        itype == "Use of Special Operations Room", F.lit("Use of Special Operations Room")
    ).otherwise(idesc)
    itype = F.coalesce(itype, F.lit(UNKNOWN))
    idesc = F.coalesce(idesc, F.lit("Unknown incident type"))
    key = F.when(
        (itype == UNKNOWN) & (idesc == "Unknown incident type"), F.lit(UNKNOWN)
    ).otherwise(F.sha2(F.concat(itype, F.lit("|"), idesc), 256))
    return df.withColumns(
        {"IncidentType": itype, "IncidentDescription": idesc, "IncidentTypeKey": key}
    )


# ---------------------------------------------------------------------------
# Dimensions
# ---------------------------------------------------------------------------

def incident_type_dim(clean: DataFrame) -> DataFrame:
    dim = (
        derive_incident_type(
            clean.select("IncidentGroup", "StopCodeDescription", "SpecialServiceType").distinct()
        )
        .select("IncidentType", "IncidentDescription", "IncidentTypeKey")
        .distinct()
    )
    # the all-unknown member already keys as "Unknown"; ensure exactly one
    # sentinel row exists even on corpora with no unknown incidents
    return sentinel_row(
        dim.filter(F.col("IncidentTypeKey") != UNKNOWN),
        "IncidentTypeKey",
        {"IncidentDescription": "Unknown incident type"},
    )


def location_type_dim(clean: DataFrame) -> DataFrame:
    """derive-location-types.py:17-33: distinct (category, type) with
    Unknown defaults, concat_ws hash key, sentinel member."""
    cols = ["PropertyCategory", "PropertyType"]
    dim = (
        clean.select(*cols)
        .distinct()
        .select(*[F.coalesce(c, F.lit(UNKNOWN)).alias(c) for c in cols])
        .withColumn("LocationTypeKey", hash_key(*cols))
    )
    return sentinel_row(dim, "LocationTypeKey")


def ward_dim(clean: DataFrame) -> DataFrame:
    """ward-dimension.py: rename, drop null codes, collapse to one row per
    WardCode (deterministic order — divergence note in module docstring),
    content-hash WardID, sentinel."""
    df = clean.select(
        F.col("IncGeo_BoroughCode").alias("BoroughCode"),
        F.col("ProperCase").alias("BoroughName"),
        F.col("IncGeo_WardCode").alias("WardCode"),
        F.col("IncGeo_WardName").alias("WardName"),
    ).filter(F.col("WardCode").isNotNull())
    collapsed = collapse_per_key(df, ["WardCode"], "WardName", ["WardName", "BoroughName", "BoroughCode"])
    dim = collapsed.withColumn(
        "WardID", hash_key("WardCode", "WardName", "BoroughName", "BoroughCode")
    )
    return sentinel_row(dim, "WardID")


def date_dim(spark: SparkSession, clean: DataFrame) -> DataFrame:
    """Daily spine over the calls' date range. The range is a lazy
    one-row aggregate of ``clean``, computed when the spine is; an empty
    input has NULL bounds and yields no rows."""
    bounds = clean.agg(F.min("DateOfCall").alias("lo"), F.max("DateOfCall").alias("hi"))
    return date_spine(spark, F.col("lo"), F.col("hi"), date_col="Date", bounds=bounds)


# Weather strategy tables — domain data from weather-cleanse.py:23-114
WEATHER_STRATEGIES: dict[str, tuple[str, list]] = {
    "tavg": ("TemperatureCategory", [
        (None, -10.0, "Very Cold"), (-10.0, 0.0, "Cold"), (0.0, 10.0, "Cool"),
        (10.0, 20.0, "Mild"), (20.0, 25.0, "Warm"), (25.0, 30.0, "Hot"),
        (30.0, None, "Very Hot")]),
    "TemperatureAmplitude": ("TemperatureAmplitude", [
        (0.0, 5.0, "Low"), (5.0, 10.0, "Moderate"), (10.0, 15.0, "High"),
        (15.0, None, "Very High")]),
    "wdir": ("WindDirection", [
        (337.5, 360.0, "North"), (0.0, 22.5, "North"), (22.5, 67.5, "Northeast"),
        (67.5, 112.5, "East"), (112.5, 157.5, "Southeast"), (157.5, 202.5, "South"),
        (202.5, 247.5, "Southwest"), (247.5, 292.5, "West"), (292.5, 337.5, "Northwest")]),
    "wspd": ("WindStrength", [
        (0.0, 1.0, "Calm"), (1.0, 5.0, "Light Air"), (5.0, 11.0, "Light Breeze"),
        (11.0, 19.0, "Gentle Breeze"), (19.0, 28.0, "Moderate Breeze"),
        (28.0, 38.0, "Fresh Breeze"), (38.0, 49.0, "Strong Breeze"),
        (49.0, 61.0, "Moderate Gale"), (61.0, 74.0, "Gale"), (74.0, 88.0, "Severe Gale"),
        (88.0, 102.0, "Storm"), (102.0, 117.0, "Violent Storm"), (117.0, None, "Hurricane")]),
    "WindGustinessPct": ("WindGustiness", [
        (0.0, 20.0, "Low"), (20.0, 50.0, "Moderate"), (50.0, 100.0, "High"),
        (100.0, None, "Very High")]),
    "pres": ("PressureLevel", [
        (None, 980.0, "Very Low"), (980.0, 1000.0, "Low"), (1000.0, 1020.0, "Normal"),
        (1020.0, 1040.0, "High"), (1040.0, None, "Very High")]),
    "prcp": ("PrecipitationLevel", [
        (0.0, 0.1, "None"), (0.1, 2.5, "Light"), (2.5, 10.0, "Moderate"),
        (10.0, 25.0, "Heavy"), (25.0, None, "Very Heavy")]),
    "snow": ("SnowLevel", [
        (0.0, 0.1, "None"), (0.1, 5.0, "Light"), (5.0, 15.0, "Moderate"),
        (15.0, 30.0, "Heavy"), (30.0, None, "Very Heavy")]),
    "tsun": ("SunshineLevel", [
        (0.0, 25200.0, "Very Short Day"), (25200.0, 28800.0, "Short Day"),
        (28800.0, 32400.0, "Normal Day"), (32400.0, 36000.0, "Long Day"),
        (36000.0, None, "Very Long Day")]),
}

WEATHER_KEY_COLS = [
    "date", "TemperatureCategory", "TemperatureAmplitude", "WindDirection",
    "WindStrength", "WindGustiness", "PressureLevel", "PrecipitationLevel",
    "SnowLevel", "SunshineLevel",
]


def weather_dim(raw: DataFrame) -> DataFrame:
    """weather-cleanse.py: derived columns (amplitude, gustiness %), wind
    direction normalized to [0,360), all numeric columns bucketed to
    ordinal labels (NULL→Unknown), content-hash WeatherKey, sentinel."""
    df = raw.withColumns({
        "TemperatureAmplitude": F.when(F.col("tmin").isNull() | F.col("tmax").isNull(), None)
        .otherwise(F.col("tmax") - F.col("tmin")),
        "WindGustinessPct": F.when(F.col("wspd").isNull() | F.col("wpgt").isNull(), None)
        .when(F.col("wspd") == 0, 0.0)
        .otherwise((F.col("wpgt") - F.col("wspd")) / F.col("wspd") * 100),
        "wdir": F.col("wdir") % 360,
    })
    df = df.select("date", *[
        bucketize(src, strategy, NullPolicy.UNKNOWN, default=UNKNOWN).alias(dst)
        for src, (dst, strategy) in WEATHER_STRATEGIES.items()
    ])
    # the key hashes the date as it arrives, before the cast
    df = df.withColumns(
        {"WeatherKey": hash_key(*WEATHER_KEY_COLS), "date": F.col("date").cast("date")}
    )
    return sentinel_row(df, "WeatherKey")


# Air-quality strategy tables — domain data from aq-cleanse.py:46-120
AQ_STRATEGIES: dict[str, list] = {
    "PM10": [(0.0, 25.0, "Good"), (25.0, 50.0, "Moderate"),
             (50.0, 75.0, "Unhealthy for Sensitive"), (75.0, 100.0, "Unhealthy"),
             (100.0, None, "Very Unhealthy")],
    "PM2_5": [(0.0, 15.0, "Good"), (15.0, 25.0, "Moderate"),
              (25.0, 40.0, "Unhealthy for Sensitive"), (40.0, 65.0, "Unhealthy"),
              (65.0, None, "Very Unhealthy")],
    "PM1": [(0.0, 10.0, "Good"), (10.0, 20.0, "Moderate"),
            (20.0, 35.0, "Unhealthy for Sensitive"), (35.0, 50.0, "Unhealthy"),
            (50.0, None, "Very Unhealthy")],
    "NO2": [(0.0, 40.0, "Good"), (40.0, 80.0, "Moderate"),
            (80.0, 120.0, "Unhealthy for Sensitive"), (120.0, 200.0, "Unhealthy"),
            (200.0, None, "Very Unhealthy")],
    "NO": [(0.0, 50.0, "Good"), (50.0, 100.0, "Moderate"),
           (100.0, 200.0, "Unhealthy for Sensitive"), (200.0, 400.0, "Unhealthy"),
           (400.0, None, "Very Unhealthy")],
    "NOX": [(0.0, 100.0, "Good"), (100.0, 200.0, "Moderate"),
            (200.0, 300.0, "Unhealthy for Sensitive"), (300.0, 500.0, "Unhealthy"),
            (500.0, None, "Very Unhealthy")],
    "O3": [(0.0, 100.0, "Good"), (100.0, 120.0, "Moderate"),
           (120.0, 180.0, "Unhealthy for Sensitive"), (180.0, 240.0, "Unhealthy"),
           (240.0, None, "Very Unhealthy")],
    "CO": [(0.0, 10.0, "Good"), (10.0, 20.0, "Moderate"),
           (20.0, 30.0, "Unhealthy for Sensitive"), (30.0, 40.0, "Unhealthy"),
           (40.0, None, "Very Unhealthy")],
}


def air_quality_dim(raw: DataFrame) -> DataFrame:
    """aq-cleanse.py: negative scrub → timestamp parse → pivot species
    long→wide (FIXED value list for schema stability) → z-score outlier
    scrub (one stats pass, exact decimal statistics) → bucketing →
    content-hash key → sentinel."""
    ts = F.col("ReadingDateTime")
    if dict(raw.dtypes).get("ReadingDateTime") == "string":
        ts = F.to_timestamp(ts, "dd/MM/yyyy HH:mm")
    df = raw.select(
        "Species",
        ts.alias("ReadingDateTime"),
        F.when(F.col("Value") < 0, None).otherwise(F.col("Value")).alias("Value"),
    )
    species = list(AQ_STRATEGIES)
    wide = pivot_agg(
        df,
        key=["ReadingDateTime"],
        pivot_col="Species",
        values=[s.replace("_", ".") for s in species],
        agg=F.round(F.avg("Value"), 1),
    )
    wide = wide.withColumnsRenamed({s.replace("_", "."): s for s in species if "_" in s})
    wide = zscore_scrub(wide, species, threshold=3.0)
    wide = wide.select("ReadingDateTime", *[
        bucketize(s, AQ_STRATEGIES[s], NullPolicy.UNKNOWN, default=UNKNOWN).alias(f"{s}Level")
        for s in species
    ])
    wide = wide.withColumn("AirQualityKey", hash_key(*[f"{s}Level" for s in species]))
    return sentinel_row(wide, "AirQualityKey")


# Well-being strategy tables — subset of wb-cleanse.py:12-114 (NULL→NULL
# policy); remaining metrics use the same mechanism
WB_STRATEGIES: dict[str, list] = {
    "Life_Expectancy": [(None, 75.0, "Low"), (75.0, 80.0, "Medium"), (80.0, None, "High")],
    "Unemployment": [(None, 5.0, "Low"), (5.0, 10.0, "Medium"), (10.0, None, "High")],
    "Crime": [(None, 50.0, "Low"), (50.0, 100.0, "Medium"), (100.0, None, "High")],
    "Deliberate_Fires": [(None, 1.0, "Low"), (1.0, 3.0, "Medium"), (3.0, None, "High")],
}


WB_DIM_FORMATS = ("preserve-all", "only-labels", "only-numeric")


def well_being_dim(raw: DataFrame, dimension_format: str = "preserve-all") -> DataFrame:
    """wb-cleanse + wb-dimension: rename, per-metric ordinal labels
    (NULL→NULL policy), composite-key hash id over (ward, year),
    sentinel.

    ``dimension_format`` reproduces the reference loader's mode switch
    (load_wb_dim.py:44-57 ``produce_schema``): ``preserve-all`` keeps
    everything; ``only-labels`` keeps only the ordinal ``*Label``
    columns; ``only-numeric`` keeps only the numeric metric columns.
    Faithful to the reference, the filtered modes drop the key/ward/
    year columns too (its suffix filter excludes them) — the sentinel
    row is added BEFORE the filter, matching the cleanse→load ordering,
    so it survives as a row of "Unknown" labels / NULL metrics."""
    if dimension_format not in WB_DIM_FORMATS:
        raise ValueError(
            f"dimension_format must be one of {WB_DIM_FORMATS}, got {dimension_format!r}"
        )
    df = raw.withColumnsRenamed({"New ward code": "WardCode", "Ward": "WardName"}).select(
        hash_key("WardCode", "Year").alias("WellBeingID"),
        "WardCode",
        "WardName",
        "Year",
        *WB_STRATEGIES,
        *[bucketize(m, strategy, NullPolicy.NULL).alias(f"{m}Label")
          for m, strategy in WB_STRATEGIES.items()],
    )
    full = sentinel_row(df, "WellBeingID")
    if dimension_format == "only-labels":
        return full.select(*[c for c in full.columns if c.endswith("Label")])
    if dimension_format == "only-numeric":
        return full.select(*list(WB_STRATEGIES))
    return full


# ---------------------------------------------------------------------------
# Fact assembly (reference etl/load/load_fact.py:143-408)
# ---------------------------------------------------------------------------

FACT_COLUMNS = [
    "DateOfCall", "IncidentNumber", "TimeOfCall", "Latitude", "Longitude",
    "IncidentStationGround", "FirstPumpAttendanceTime", "FirstPumpStation",
    "StationsWithPumpsAttending", "PumpsAttending", "PumpMinutes",
    "NotionalCost", "NumCalls", "IncidentTypeKey", "LocationTypeKey",
    "WardID", "AirQualityKey", "WeatherKey", "WellBeingID", "CostPerCall",
]


def assemble_fact(
    clean: DataFrame,
    location_types: DataFrame,
    wards: DataFrame,
    air_quality: DataFrame,
    weather: DataFrame,
    well_being: DataFrame,
    tolerance_sec: int = 43200,
) -> DataFrame:
    """Fact table: incident-type key derivation, five dimension joins
    (all broadcast — dimensions are small by construction), the ±12 h
    nearest-reading air-quality as-of join, measure coalesces, and
    CostPerCall.

    Every FK is coalesced to "Unknown" after the joins so the fact never
    carries NULL keys (reference pattern, load_fact.py:186-336); the FK
    and measure coalesces, the renames and CostPerCall are one final
    projection."""
    fact = derive_incident_type(clean).join(
        F.broadcast(location_types.select("PropertyType", "LocationTypeKey")),
        "PropertyType",
        "left",
    )

    fact = fact.withColumnRenamed("IncGeo_WardCode", "WardCode").join(
        F.broadcast(wards.select("WardCode", "WardID")), "WardCode", "left"
    )

    # as-of join: nearest air-quality reading within ±12 h of the call
    call_ts = F.to_timestamp(
        F.concat(F.col("DateOfCall").cast("string"), F.lit(" "), F.col("TimeOfCall")),
        "yyyy-MM-dd HH:mm:ss",
    )
    probes = fact.select("IncidentNumber", call_ts.alias("CallTs"))
    readings = air_quality.select("ReadingDateTime", "AirQualityKey").filter(
        F.col("ReadingDateTime").isNotNull()
    )
    nearest = nearest_within(
        probes,
        readings,
        left_ts="CallTs",
        right_ts="ReadingDateTime",
        tolerance_sec=tolerance_sec,
        left_key="IncidentNumber",
        right_tiebreak="ReadingDateTime",
    ).select("IncidentNumber", "AirQualityKey")
    fact = fact.join(nearest, "IncidentNumber", "left")

    fact = fact.join(
        F.broadcast(weather.select(F.col("date").alias("DateOfCall"), "WeatherKey")),
        "DateOfCall",
        "left",
    )

    fact = fact.withColumn("YearOfCall", F.year("DateOfCall")).join(
        F.broadcast(
            well_being.select("WardCode", F.col("Year").alias("YearOfCall"), "WellBeingID")
        ),
        ["WardCode", "YearOfCall"],
        "left",
    )

    cost = F.coalesce("Notional Cost (£)", F.lit(0))
    calls = F.coalesce("NumCalls", F.lit(1))
    derived = {
        "IncidentStationGround": F.coalesce("IncidentStationGround", F.lit(UNKNOWN)),
        "FirstPumpAttendanceTime": F.col("FirstPumpArriving_AttendanceTime"),
        "FirstPumpStation": F.col("FirstPumpArriving_DeployedFromStation"),
        "StationsWithPumpsAttending": F.coalesce("NumStationsWithPumpsAttending", F.lit(0)),
        "PumpsAttending": F.coalesce("NumPumpsAttending", F.lit(0)),
        "PumpMinutes": F.coalesce("PumpMinutesRounded", F.lit(0)),
        "NotionalCost": cost,
        "NumCalls": calls,
        **{fk: F.coalesce(fk, F.lit(UNKNOWN))
           for fk in ("LocationTypeKey", "WardID", "AirQualityKey", "WeatherKey", "WellBeingID")},
        "CostPerCall": F.when(calls > 0, (cost / calls).cast("int")).otherwise(F.lit(0)),
    }
    return fact.select(*[derived[c].alias(c) if c in derived else c for c in FACT_COLUMNS])


# ---------------------------------------------------------------------------
# Aggregate marts (reference etl/load/load_sample_aggregates.py)
# ---------------------------------------------------------------------------

def build_marts(fact: DataFrame) -> dict[str, DataFrame]:
    per_month = rollup_mart(
        fact.withColumns({
            "Year": F.year("DateOfCall"),
            "Month": F.month("DateOfCall"),
            "YearMonth": F.date_format("DateOfCall", "yyyy-MM"),
        }),
        keys=["Year", "Month", "YearMonth"],
        measures=[
            F.count("IncidentNumber").alias("IncidentCount"),
            F.sum("NotionalCost").alias("TotalCost"),
            F.round(F.avg("NotionalCost"), 2).alias("AvgCost"),
            F.sum("NumCalls").alias("TotalCalls"),
        ],
        order_by=["Year", "Month"],
    )
    per_ward = rollup_mart(
        fact,
        keys=["WardID"],
        measures=[
            F.count("IncidentNumber").alias("IncidentCount"),
            F.sum("NotionalCost").alias("TotalCost"),
            F.avg("NotionalCost").alias("AvgIncidentCost"),
            F.sum("NumCalls").alias("TotalCalls"),
            F.round(F.avg("FirstPumpAttendanceTime"), 2).alias("AvgResponseTime"),
        ],
        order_by=[F.desc("IncidentCount")],
    )
    types_per_ward = rollup_mart(
        fact,
        keys=["WardID", "IncidentTypeKey"],
        measures=[
            F.count("IncidentNumber").alias("IncidentCount"),
            F.sum("NotionalCost").alias("TotalCost"),
            F.round(F.avg("NotionalCost"), 2).alias("AvgCost"),
        ],
        order_by=["WardID", F.desc("IncidentCount")],
    )
    per_location_type = rollup_mart(
        fact.filter(
            F.col("FirstPumpAttendanceTime").isNotNull() & (F.col("FirstPumpAttendanceTime") > 0)
        ),
        keys=["LocationTypeKey"],
        measures=[
            F.count("IncidentNumber").alias("IncidentCount"),
            F.round(F.avg("FirstPumpAttendanceTime"), 2).alias("AvgResponseTimeMinutes"),
            F.sum("NotionalCost").alias("TotalCost"),
            F.round(F.avg("NotionalCost"), 2).alias("AvgCost"),
            F.sum("PumpsAttending").alias("TotalPumpsAttending"),
            F.round(F.avg("PumpsAttending"), 2).alias("AvgPumpsAttending"),
        ],
        order_by=[F.desc("AvgResponseTimeMinutes")],
    )
    return {
        "per_month": per_month,
        "per_ward": per_ward,
        "types_per_ward": types_per_ward,
        "per_location_type": per_location_type,
    }


# ---------------------------------------------------------------------------
# End-to-end build + warehouse contract
# ---------------------------------------------------------------------------

# The frames the last run_pipeline call materialized, in build order.
# Process-wide, like the cache it tracks: a process has one SparkContext,
# and its sessions share one cache manager.
_SHARED: list[DataFrame] = []


def _materialize(df: DataFrame) -> DataFrame:
    _SHARED.append(df.persist(StorageLevel.DISK_ONLY))
    return df


def release_refresh() -> None:
    """Unpersist the frames the last :func:`run_pipeline` call
    materialized and wait until their blocks are dropped. Calling it
    again, or after the session stopped, does nothing."""
    while _SHARED:
        df = _SHARED.pop()  # the fact before the clean frame it reads
        if df.sparkSession.sparkContext._jsc is not None:  # not stopped
            df.unpersist(blocking=True)


def run_pipeline(
    spark: SparkSession,
    lfb_raw: DataFrame,
    weather_raw: DataFrame,
    aq_raw: DataFrame,
    wb_raw: DataFrame,
) -> dict[str, DataFrame]:
    """Build the whole warehouse as lazy frames over two shared ones.

    The cleansed calls and the fact are persisted to executor disk
    (``DISK_ONLY``). Nothing runs here. The first write that reads each
    one fills its blocks; every later reader reads the blocks instead
    of re-running the scans, the incremental anti-join, the cleanse
    window and the as-of join. The four dimensions over the calls,
    ``date`` and the fact read the cleansed calls. ``lfb_call`` and the
    four marts read the fact. Disk blocks take no executor memory from
    the writes. A lost block is recomputed from its lineage, so an
    executor loss costs time, not the refresh.

    Lifecycle: the next ``run_pipeline`` call releases both frames
    before it builds, so a long-lived session holds one refresh's
    frames at most. A caller that has written the tables can release
    them sooner with :func:`release_refresh`. After the release, the
    returned frames still answer, by recomputing from their inputs."""
    release_refresh()
    clean = _materialize(cleanse_lfb(lfb_raw))
    tables: dict[str, DataFrame] = {}
    tables["incident_types"] = incident_type_dim(clean)
    tables["location_type"] = location_type_dim(clean)
    tables["ward"] = ward_dim(clean)
    tables["date"] = date_dim(spark, clean)
    tables["weather"] = weather_dim(weather_raw)
    tables["air_quality"] = air_quality_dim(aq_raw)
    tables["well_being"] = well_being_dim(wb_raw)
    tables["lfb_call"] = _materialize(assemble_fact(
        clean,
        tables["location_type"],
        tables["ward"],
        tables["air_quality"],
        tables["weather"],
        tables["well_being"],
    ))
    tables.update(build_marts(tables["lfb_call"]))
    return tables


DIM_KEYS = [
    ("incident_types", "IncidentTypeKey"), ("location_type", "LocationTypeKey"),
    ("ward", "WardID"), ("weather", "WeatherKey"),
    ("air_quality", "AirQualityKey"), ("well_being", "WellBeingID"),
    ("date", "Date"),
]
# each fact FK references its dimension's key in DIM_KEYS
FK_PAIRS = [
    ("IncidentTypeKey", "incident_types", "IncidentTypeKey"),
    ("LocationTypeKey", "location_type", "LocationTypeKey"),
    ("WardID", "ward", "WardID"),
    ("AirQualityKey", "air_quality", "AirQualityKey"),
    ("WeatherKey", "weather", "WeatherKey"),
    ("WellBeingID", "well_being", "WellBeingID"),
]


def warehouse_checks(tables: dict[str, DataFrame]) -> list[CheckResult]:
    """The reference's post-load contract (etl/checks/): non-empty tables,
    unique dimension keys, referential integrity of all six fact FKs.

    One query, one collect of at most a row per table and per FK. Each
    table is read once into (table, key) groups: a dimension groups by
    its key (a NULL key is a group, as in :func:`assert_unique`), any
    other table into one NULL group. Their sums are the row counts,
    their groups of more than one row the duplicate keys. The fact's
    six FKs are checked in one pass against the broadcast dimension
    key groups: an orphan is a distinct FK value, NULL included, that
    matches no key, as in :func:`referential_orphans`."""
    keys = dict(DIM_KEYS)
    groups = (
        reduce(DataFrame.unionByName, [
            df.select(
                F.lit(name).alias("t"),
                (F.col(keys[name]) if name in keys else F.lit(None)).cast("string").alias("k"),
            )
            for name, df in tables.items()
        ])
        .groupBy("t", "k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_table = groups.groupBy("t").agg(
        F.sum("n").alias("rows"), F.count_if(F.col("n") > 1).alias("dups")
    )
    fk_values = (
        tables["lfb_call"]
        .select(F.inline(F.array(*[
            F.struct(F.lit(dim).alias("t"), F.col(fk).cast("string").alias("k"))
            for fk, dim, _ in FK_PAIRS
        ])))
        .distinct()
    )
    orphans = (
        fk_values.join(F.broadcast(groups.select("t", "k")), ["t", "k"], "left_anti")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("orphans"))
    )
    found = (
        per_table.select(F.lit("table").alias("kind"), "t", "rows", "dups")
        .unionByName(orphans.select(
            F.lit("fk").alias("kind"), "t", F.col("orphans").alias("rows"),
            F.lit(None).cast("long").alias("dups"),
        ))
        .collect()  # bounded: one row per table and per FK
    )
    rows = {r["t"]: r["rows"] for r in found if r["kind"] == "table"}
    dups = {r["t"]: r["dups"] for r in found if r["kind"] == "table"}
    orphaned = {r["t"]: r["rows"] for r in found if r["kind"] == "fk"}
    results: list[CheckResult] = []
    for name in tables:
        n = rows.get(name, 0)
        results.append(CheckResult(f"non_empty_{name}", n > 0, f"rows={n}"))
    for dim, key in DIM_KEYS:
        d = dups.get(dim, 0)
        results.append(CheckResult(f"unique_{dim}.{key}", d == 0, f"dup_keys={d}"))
    for fk, dim, _ in FK_PAIRS:
        o = orphaned.get(dim, 0)
        results.append(CheckResult(f"ref_int_{fk}", o == 0, f"orphans={o}"))
    return results
