"""Analytics-API facade: the reference's 10 HTTP endpoints as functions
returning JSON-shaped dicts (reference op S8 — every route ends in
``jsonify``, e.g. ``backend/app.py:286,374,459``).

This is the only layer that collects: every function materializes an
already-aggregated (or explicitly limited) DataFrame, so driver transfer
is bounded regardless of table size. The reference instead fetched the
full table per request and post-processed in Python — here each endpoint
is one Catalyst plan ending in a small result.

Response envelope follows the tested contract ``{"status": "success",
"data": ...}`` (reference ``backend/test_app.py:91-104``; the checked-in
``func.py:46`` actually returns the bare list — a latent bug the tests
override, see SURVEY §3.1)."""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.operators import car_queries as q

MAX_RESULT_ROWS = 10_000


class ApiError(ValueError):
    """Invalid request parameter (reference returns HTTP 400/404)."""


def _ok(data: Any) -> dict:
    return {"status": "success", "data": data}


def _rows(df: DataFrame, limit: int = MAX_RESULT_ROWS) -> list[dict]:
    return [r.asDict(recursive=True) for r in df.limit(limit).collect()]


def get_brands(cars: DataFrame) -> dict:
    """GET /api/v1/brands (backend/app.py:282-286)."""
    return _ok(sorted(r.brand for r in q.brands(cars).collect()))


def get_brand_models(cars: DataFrame, brand: str) -> dict:
    """GET /api/v1/brands/<brand>/models (backend/app.py:289-294)."""
    return _ok(_rows(q.brand_models(cars, brand).orderBy("id")))


def get_model_details(cars: DataFrame, model_id: str) -> dict:
    """GET /api/v1/models/<model_id> (backend/app.py:297-307); raises
    ApiError where the reference 404s."""
    rows = _rows(q.model_details(cars, model_id), limit=1)
    if not rows:
        raise ApiError(f"model not found: {model_id}")
    return _ok(rows[0])


def get_cities(cars_or_raw: DataFrame) -> dict:
    """GET /api/v1/cities (backend/app.py:311-315)."""
    return _ok(_rows(q.cities(cars_or_raw)))


def get_city_rankings(cars_or_raw: DataFrame, metric: str = "registrations") -> dict:
    """GET /api/v1/cities/rankings?metric= (backend/app.py:318-328)."""
    try:
        ranked = q.city_rankings(cars_or_raw, metric)
    except ValueError as exc:
        raise ApiError(str(exc)) from exc
    return _ok(
        [
            {"rank": i + 1, "city": r["city"], "value": r[metric]}
            for i, r in enumerate(_rows(ranked))
        ]
    )


def get_recommendations(cars: DataFrame, **filters) -> dict:
    """GET /api/v1/recommendations?… (backend/app.py:332-374)."""
    return _ok(_rows(q.recommendations(cars, **filters), limit=100))


def get_market_overview(cars: DataFrame) -> dict:
    """GET /api/v1/market/overview (backend/app.py:378-401): one query,
    whose row carries ``popular_brands`` as (brand, n_cars) pairs; here
    they become the reference's brand → count dict (a null brand is the
    ``None`` key)."""
    row = q.market_overview(cars).first().asDict()
    row["popular_brands"] = {r.brand: r.n_cars for r in row["popular_brands"]}
    return _ok(row)


def get_market_trends(cars: DataFrame, metric: str = "registrations") -> dict:
    """GET /api/v1/market/trends?metric= (backend/app.py:404-419)."""
    try:
        trends = q.market_trends(cars, metric)
    except ValueError as exc:
        raise ApiError(str(exc)) from exc
    return _ok(_rows(trends))


def get_price_distribution(cars: DataFrame) -> dict:
    """GET /api/v1/market/price_distribution (backend/app.py:422-459)."""
    return _ok(_rows(q.price_distribution(cars)))


def get_consumer_preferences(cars: DataFrame, dimension: str = "type") -> dict:
    """GET /api/v1/consumer_insights/preferences?dimension=
    (backend/app.py:463-481). Any non-"type" dimension returns the
    reference's hard-coded horsepower table (backend/app.py:472-481)."""
    if dimension == "type":
        return _ok(_rows(q.consumer_preferences(cars)))
    return _ok(
        [
            {"range": label, "percentage": pct}
            for label, pct in q.HORSEPOWER_PREFERENCES
        ]
    )


MAX_GENERATE_ROWS = 10_000  # reference backend/app.py:260-263


def generate_random(
    spark,
    num_records: int = 100,
    seed: int | None = None,
    table_path: str | None = None,
) -> dict:
    """POST /api/v1/generate/random (reference backend/app.py:252-279,
    commented out there but bounds-checked 1-10,000; its handler calls
    ``insert_data`` after generating). With ``table_path`` the generated
    rows are appended there (the reference contract — message says
    generated AND inserted); without it the rows are only returned and
    the message says so, leaving the append to the caller via
    ``sources.tables.insert_df``. The bound applies to this facade only —
    the underlying distributed generator (``sources/synthetic.py``)
    scales to any row count.

    An append costs one write job plus its rebalance shuffle and adds one
    file per ``manufacture_year`` present; the generator is one parsed
    projection, and the returned frame is lazy (re-running it regenerates
    the same rows)."""
    if num_records <= 0:
        raise ApiError("Number of records must be positive")
    if num_records > MAX_GENERATE_ROWS:
        raise ApiError(f"Number of records cannot exceed {MAX_GENERATE_ROWS}")
    from automotive_big_data_analysis_spark.sources import synthetic, tables

    df = synthetic.generate_car_data(
        spark, num_records, seed=seed if seed is not None else 42
    )
    if table_path is not None:
        tables.insert_df(df, table_path)
        message = f"成功生成并插入 {num_records} 条随机数据"
    else:
        message = f"成功生成 {num_records} 条随机数据"
    return {"status": "success", "message": message, "data": df}
