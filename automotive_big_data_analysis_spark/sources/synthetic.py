"""Synthetic car_data generator (reference op S7,
``backend/func.py:49-155``).

The reference builds rows one at a time in driver Python (capped at
10,000). This generator is column-wise and fully distributed:
``spark.range(n)`` partitions the id space across executors and every
column is a deterministic expression of the row id (seeded xxhash64 →
uniform doubles), so generating 10^11 rows for a 100 TB test is the same
code as 10^3 — no driver loop, no data transfer, reproducible.

Value ranges mirror the reference's generator: brand-consistent models,
min price in [0.8×suggested, suggested], horsepower 80-500, doors
{2,4,5}, year 2010-2025, popularity 1-1000, discount 0-20, and the two
map columns (historical_price monthly, city_license_plates per city).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

BRAND_MODELS: dict[str, list[str]] = {
    "比亚迪": ["汉", "唐", "秦", "宋"],
    "吉利": ["博越", "帝豪", "星瑞"],
    "长城": ["哈弗H6", "坦克300"],
    "奇瑞": ["瑞虎8", "艾瑞泽5"],
    "特斯拉": ["Model 3", "Model Y"],
    "大众": ["朗逸", "帕萨特", "途观"],
    "丰田": ["卡罗拉", "凯美瑞", "汉兰达"],
    "本田": ["思域", "雅阁", "CR-V"],
}
CITIES = ["北京", "上海", "广州", "深圳", "杭州", "成都", "西安", "武汉"]
CAR_TYPES = ["轿车", "SUV", "MPV", "跑车", "皮卡", "新能源", "电动汽车"]


def _str(s: str) -> str:
    """A Spark SQL string literal (backslash and quote escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _u(seed: int, *args: str) -> str:
    """Deterministic uniform double in [0, 1) from the row id + a seed —
    xxhash64 is a JVM built-in, evaluated per-row with no Python. It hashes
    INT and BIGINT differently: the seed literal is INT when it fits and
    BIGINT otherwise, and the pinned generator checksums depend on that."""
    lit = str(seed) if -(2**31) <= seed < 2**31 else f"{seed}L"
    h = f"xxhash64({', '.join((lit, *args))})"
    return f"(pmod({h}, 1000000007) / 1000000007.0D)"


def _pick(options: list[str], u: str) -> str:
    arr = ", ".join(_str(o) for o in options)
    return f"element_at(array({arr}), CAST({u} * {len(options)} AS INT) + 1)"


def generate_car_data(spark: SparkSession, n_rows: int, seed: int = 42) -> DataFrame:
    """Deterministic distributed car_data generator.

    The columns are SQL text parsed in one ``selectExpr`` call: the same
    tree built from ``Column`` operators costs one py4j round trip per
    node, several hundred ms of driver time per call (cf.
    ``vectors.sq_dist_unrolled``)."""
    brand = _pick(list(BRAND_MODELS), _u(seed + 1, "id"))
    # model pool depends on the brand (brand-consistent, like the reference)
    model_u = _u(seed + 2, "id")
    model = (
        f"CASE {brand} "
        + " ".join(
            f"WHEN {_str(b)} THEN {_pick(models, model_u)}"
            for b, models in BRAND_MODELS.items()
        )
        + " END"
    )
    suggested = f"round(80000 + {_u(seed + 3, 'id')} * 420000, 2)"
    # double literals need the D suffix: a bare 0.8 parses as DECIMAL
    min_price = f"round({suggested} * (0.8D + {_u(seed + 4, 'id')} * 0.2D), 2)"
    car_type = _pick(CAR_TYPES, _u(seed + 5, "id"))

    n_hist = f"CAST({_u(seed + 6, 'id')} * 5 AS INT) + 3"  # 3-7 monthly points
    hist_entries = (
        f"transform(sequence(1, {n_hist}), i -> named_struct("
        "'key', concat('2023-', lpad(CAST(i AS STRING), 2, '0')), "
        f"'value', 50000 + CAST({_u(seed + 7, 'id', 'i')} * 350000 AS INT)))"
    )
    n_cities = f"CAST({_u(seed + 8, 'id')} * 4 AS INT) + 2"  # 2-5 cities
    city_entries = (
        f"transform(sequence(1, {n_cities}), j -> named_struct("
        f"'key', {_pick(CITIES, _u(seed + 9, 'id', 'j'))}, "
        f"'value', 1000 + CAST({_u(seed + 10, 'id', 'j')} * 99000 AS INT)))"
    )
    # duplicate city keys within one row would fail map creation — dedup
    # by key keeping the first occurrence
    unique_cities = (
        f"filter({city_entries}, (e, k) -> NOT array_contains("
        f"transform(slice({city_entries}, 1, k), p -> p.key), e.key))"
    )

    return spark.range(n_rows).selectExpr(
        f"{brand} AS car_brand",
        f"{_pick(CITIES, _u(seed + 11, 'id'))} AS city",
        f"{model} AS car_model",
        f"{suggested} AS manufacturer_suggested_price",
        f"80 + CAST({_u(seed + 12, 'id')} * 421 AS INT) AS engine_horsepower",
        f"CAST({_pick(['2', '4', '5'], _u(seed + 13, 'id'))} AS INT) AS num_doors",
        f"{min_price} AS min_reference_price",
        f"{car_type} AS car_type",
        f"2010 + CAST({_u(seed + 14, 'id')} * 16 AS INT) AS manufacture_year",
        f"CASE WHEN {car_type} IN ('新能源', '电动汽车') THEN 0.0D"
        f" ELSE round(30 + {_u(seed + 15, 'id')} * 50, 2) END AS fuel_capacity",
        f"1 + CAST({_u(seed + 16, 'id')} * 1000 AS INT) AS popularity",
        f"round({_u(seed + 17, 'id')} * 20, 2) AS discount_percentage",
        f"map_from_entries({hist_entries}) AS historical_price",
        f"map_from_entries({unique_cities}) AS city_license_plates",
    )
