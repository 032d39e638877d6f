"""Sun-position verification — media_forensics/services/sun_position.py
:38-127 re-expressed as PURE Catalyst column math (zero Python rows).

The reference delegates altitude/azimuth to pysolar and wraps them with
shadow direction = (azimuth + 180) % 360, shadow length ratio =
1/tan(altitude), and a time-of-day + compass interpretation string
(:94-127). pysolar is a gated optional there (is_available :34-36) and is
not present here; the solar geometry instead follows the public NOAA
"General Solar Position Calculations" (Meeus-derived) low-accuracy
algorithm — geometric (unrefracted) altitude, accuracy ~0.01° for
1900-2100, more than enough for the shadow-consistency use. Every term is
a built-in Spark trig/arith expression, so a 10^12-row (gps, ts) table
scores in one codegen'd scan — the genuinely-Spark-native analogue of the
reference's per-photo service call.

Codegen discipline: each astronomical intermediate (julian century,
declination, equation of time, hour angle, zenith) materializes as an
aliased column in a projection CHAIN rather than being inlined — naive
single-expression composition clones the shared subtrees (decl appears in
both altitude and azimuth, zenith four times, ...) and the one-time JIT
of the ballooned tree measured ~10 s; Catalyst's CollapseProject keeps
non-cheap multiply-referenced aliases staged, so the generated code
evaluates each term once.

Inputs: latitude/longitude in decimal degrees (N/E positive) and a UTC
TIMESTAMP_NTZ column (session-timezone-free on any driver —
unix_timestamp/hour on a zoned TIMESTAMP would shift with
spark.sql.session.timeZone; the reference's EXIF path also assumes UTC
when no zone is present, :176-180).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _interpretation(altitude, azimuth):
    """The reference's time-of-day + compass string (:94-127)."""
    time_desc = (
        F.when(altitude < 10, "very low (sunrise/sunset)")
        .when(altitude < 30, "low (morning/evening)")
        .when(altitude < 60, "moderate (mid-morning/afternoon)")
        .otherwise("high (midday)")
    )
    direction = (
        F.when((azimuth >= 337.5) | (azimuth < 22.5), "North")
        .when(azimuth < 67.5, "Northeast")
        .when(azimuth < 112.5, "East")
        .when(azimuth < 157.5, "Southeast")
        .when(azimuth < 202.5, "South")
        .when(azimuth < 247.5, "Southwest")
        .when(azimuth < 292.5, "West")
        .otherwise("Northwest")
    )
    return F.when(
        altitude < 0,
        F.lit("Sun is below the horizon - no direct sunlight possible"),
    ).otherwise(
        F.concat(
            F.lit("Sun is "), time_desc, F.lit(", positioned to the "),
            direction,
            F.lit(". Shadows should point roughly opposite."),
        )
    )


def sun_positions(df: DataFrame) -> DataFrame:
    """(.., gps_lat, gps_lon, utc TIMESTAMP_NTZ ts) -> + sun_altitude, sun_azimuth,
    expected_shadow_direction, shadow_length_ratio, sun_above_horizon,
    interpretation — the calculate_sun_position surface (:77-88), rounded
    to 2 decimals like the reference. shadow_length_ratio is the sentinel
    -424242.0 (reference: None) when the sun is below the horizon."""
    rad = F.radians
    deg = F.degrees
    base_cols = list(df.columns)
    lat, lon = F.col("gps_lat"), F.col("gps_lon")

    epoch_secs = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
    ).cast("double")
    # Julian day from unix epoch (86400 s days; epoch = JD 2440587.5)
    jd = epoch_secs / 86400.0 + 2440587.5
    mins_utc = (
        F.hour("ts") * 60.0 + F.minute("ts")
        + F.second("ts") / 60.0
    )
    s = df.select("*", ((jd - 2451545.0) / 36525.0).alias("_t"),
                  mins_utc.alias("_mins"))

    t = F.col("_t")
    s = s.select(
        "*",
        ((280.46646 + t * (36000.76983 + t * 0.0003032)) % 360.0).alias("_l0"),
        (357.52911 + t * (35999.05029 - 0.0001537 * t)).alias("_m"),
        (0.016708634 - t * (0.000042037 + 0.0000001267 * t)).alias("_e"),
        (125.04 - 1934.136 * t).alias("_omega"),
        # mean obliquity (Meeus 22.2, seconds form)
        (23.0 + (26.0 + (21.448 - t * (46.815 + t * (0.00059 - t * 0.001813)))
         / 60.0) / 60.0).alias("_eps0"),
    )

    mr = rad(F.col("_m"))
    t = F.col("_t")
    c = (
        F.sin(mr) * (1.914602 - t * (0.004817 + 0.000014 * t))
        + F.sin(mr * 2) * (0.019993 - 0.000101 * t)
        + F.sin(mr * 3) * 0.000289
    )
    s = s.select(
        "*",
        (F.col("_l0") + c - 0.00569
         - 0.00478 * F.sin(rad(F.col("_omega")))).alias("_app_long"),
        (F.col("_eps0") + 0.00256 * F.cos(rad(F.col("_omega")))).alias("_eps"),
    )

    s = s.select(
        "*",
        F.asin(F.sin(rad(F.col("_eps")))
               * F.sin(rad(F.col("_app_long")))).alias("_decl"),
        (F.tan(rad(F.col("_eps") / 2))
         * F.tan(rad(F.col("_eps") / 2))).alias("_y"),
    )

    y, e, l0 = F.col("_y"), F.col("_e"), F.col("_l0")
    mr = rad(F.col("_m"))
    eot = 4.0 * deg(
        y * F.sin(rad(l0) * 2)
        - 2.0 * e * F.sin(mr)
        + 4.0 * e * y * F.sin(mr) * F.cos(rad(l0) * 2)
        - 0.5 * y * y * F.sin(rad(l0) * 4)
        - 1.25 * e * e * F.sin(mr * 2)
    )  # minutes
    tst = (F.col("_mins") + eot + 4.0 * lon) % 1440.0  # true solar time
    s = s.select("*", tst.alias("_tst"))
    ha = F.when(F.col("_tst") / 4.0 < 0, F.col("_tst") / 4.0 + 180.0).otherwise(
        F.col("_tst") / 4.0 - 180.0
    )
    s = s.select("*", ha.alias("_ha"))

    latr, decl, har = rad(lat), F.col("_decl"), rad(F.col("_ha"))
    cos_zen = F.sin(latr) * F.sin(decl) + F.cos(latr) * F.cos(decl) * F.cos(har)
    cos_zen = F.greatest(F.lit(-1.0), F.least(F.lit(1.0), cos_zen))
    s = s.select("*", F.acos(cos_zen).alias("_zen"))  # radians

    zen = F.col("_zen")
    az_num = F.sin(latr) * F.cos(zen) - F.sin(decl)
    az_den = F.cos(latr) * F.sin(zen)
    az_cos = F.greatest(F.lit(-1.0), F.least(F.lit(1.0), az_num / az_den))
    s = s.select("*", deg(F.acos(az_cos)).alias("_az_base"))

    azimuth = F.when(
        F.col("_ha") > 0, (F.col("_az_base") + 180.0) % 360.0
    ).otherwise((540.0 - F.col("_az_base")) % 360.0)
    s = s.select("*", (90.0 - deg(zen)).alias("_alt"), azimuth.alias("_az"))

    altitude, azimuth = F.col("_alt"), F.col("_az")
    shadow_ratio = F.when(
        altitude > 0, F.round(1.0 / F.tan(F.radians(altitude)), 2)
    ).otherwise(F.lit(-424242.0))
    return s.select(
        *base_cols,
        F.round(altitude, 2).alias("sun_altitude"),
        F.round(azimuth, 2).alias("sun_azimuth"),
        F.round((azimuth + 180.0) % 360.0, 2).alias(
            "expected_shadow_direction"
        ),
        shadow_ratio.alias("shadow_length_ratio"),
        (altitude > 0).alias("sun_above_horizon"),
        _interpretation(F.round(altitude, 2), F.round(azimuth, 2)).alias(
            "interpretation"
        ),
    )
