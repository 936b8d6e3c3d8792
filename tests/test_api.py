"""API-facade tests: JSON envelope + golden endpoint payloads (ported
from the reference's endpoint assertions)."""

from __future__ import annotations

import pytest

from automotive_big_data_analysis_spark import api
from automotive_big_data_analysis_spark.catalog import car_data_from_rows
from automotive_big_data_analysis_spark.operators import car_queries as q
from tests.conftest import MOCK_CAR_DATA


@pytest.fixture(scope="module")
def cars(car_data):
    return q.car_view(car_data).cache()


def test_brands_endpoint(cars):
    out = api.get_brands(cars)
    assert out["status"] == "success"
    assert out["data"] == ["Brand1", "Brand2", "Brand3"]


def test_models_endpoint(cars):
    out = api.get_brand_models(cars, "Brand1")
    assert [m["name"] for m in out["data"]] == ["Model1", "Model2"]


def test_model_details_404(cars):
    with pytest.raises(api.ApiError):
        api.get_model_details(cars, "Nope_Nope")
    got = api.get_model_details(cars, "Brand3_Model1")["data"]
    assert got["attention"] == 95
    assert got["history_prices"][0]["date"].startswith("2023-")


def test_city_rankings_endpoint(city_data):
    out = api.get_city_rankings(city_data, "registrations")
    assert [(r["rank"], r["city"], r["value"]) for r in out["data"]] == [
        (1, "CityA", 90),
        (2, "CityB", 85),
        (3, "CityC", 60),
        (4, "CityD", 30),
    ]
    with pytest.raises(api.ApiError):
        api.get_city_rankings(city_data, "bogus")


def test_recommendations_endpoint(cars):
    out = api.get_recommendations(cars, brand="Brand1", min_price=80000, max_price=250000)
    assert [r["model"] for r in out["data"]] == ["Model2", "Model1"]


def test_market_overview_endpoint(cars):
    data = api.get_market_overview(cars)["data"]
    assert data["total_registrations"] == 265
    assert data["brand_count"] == 3
    assert data["popular_brands"] == {"Brand1": 2, "Brand2": 1, "Brand3": 1}
    assert data["top_car"] == "Brand3 Model1 (关注度: 95)"


TOP = "Brand3 Model1 (关注度: 95)"
MOCK_BRANDS = {"Brand1": 2, "Brand2": 1, "Brand3": 1}


def _overview(regs, avg, n_brands, top, brands) -> dict:
    return {
        "total_registrations": regs,
        "avg_attention": avg,
        "brand_count": n_brands,
        "top_car": top,
        "popular_brands": brands,
    }


@pytest.mark.parametrize(
    "rows, overview, counts, avgs",
    [
        pytest.param(
            [], _overview(0, 0.0, 0, None, {}), [0] * 5, [0.0] * 5, id="empty"
        ),
        # a null brand is its own popular_brands key but no counted brand
        pytest.param(
            MOCK_CAR_DATA + [dict(MOCK_CAR_DATA[0], car_brand=None)],
            _overview(340, 84.0, 3, TOP, {None: 1, **MOCK_BRANDS}),
            [2, 0, 1, 1, 1],
            [75.0, 0.0, 90.0, 85.0, 95.0],
            id="null_brand",
        ),
        # null attention counts as 0 in both averages
        pytest.param(
            MOCK_CAR_DATA + [dict(MOCK_CAR_DATA[3], popularity=None)],
            _overview(305, 69.0, 3, TOP, {**MOCK_BRANDS, "Brand3": 2}),
            [1, 0, 1, 1, 2],
            [75.0, 0.0, 90.0, 85.0, 47.5],
            id="null_attention",
        ),
        # an attention tie goes to the larger label, either way round
        pytest.param(
            MOCK_CAR_DATA
            + [dict(MOCK_CAR_DATA[3], car_brand="Brand0", car_model="Model9")],
            _overview(305, 88.0, 4, TOP, {"Brand0": 1, **MOCK_BRANDS}),
            [1, 0, 1, 1, 2],
            [75.0, 0.0, 90.0, 85.0, 95.0],
            id="tie_kept",
        ),
        pytest.param(
            MOCK_CAR_DATA
            + [dict(MOCK_CAR_DATA[3], car_brand="Brand9", car_model="Model0")],
            _overview(
                305, 88.0, 4, "Brand9 Model0 (关注度: 95)", {"Brand9": 1, **MOCK_BRANDS}
            ),
            [1, 0, 1, 1, 2],
            [75.0, 0.0, 90.0, 85.0, 95.0],
            id="tie_taken",
        ),
    ],
)
def test_overview_and_prices_edge_cases(spark, rows, overview, counts, avgs):
    cars = q.car_view(car_data_from_rows(spark, rows))
    assert api.get_market_overview(cars)["data"] == overview
    assert api.get_price_distribution(cars)["data"] == [
        {"price_range": label, "count": n, "avg_attention": avg}
        for (_, _, label), n, avg in zip(q.PRICE_BUCKETS, counts, avgs)
    ]


def test_trends_endpoint(cars):
    data = api.get_market_trends(cars, "attention")["data"]
    assert [(d["date"], d["value"]) for d in data] == [
        ("2020", 75), ("2021", 90), ("2022", 85), ("2023", 95)
    ]


def test_price_distribution_endpoint(cars):
    data = api.get_price_distribution(cars)["data"]
    assert [d["count"] for d in data] == [1, 0, 1, 1, 1]


def test_preferences_endpoint(cars):
    data = api.get_consumer_preferences(cars, "type")["data"]
    assert sum(d["preference"] for d in data) == pytest.approx(1.0)
    other = api.get_consumer_preferences(cars, "horsepower")["data"]
    assert other[0]["range"] == "100-200马力"
    assert sum(d["percentage"] for d in other) == 100.0


def test_generate_random_bounds_and_payload(spark):
    """Reference backend/app.py:252-279: bounds 1-10,000 enforced; the
    payload is an appendable DataFrame in the tested envelope."""
    with pytest.raises(api.ApiError):
        api.generate_random(spark, 0)
    with pytest.raises(api.ApiError):
        api.generate_random(spark, -5)
    with pytest.raises(api.ApiError):
        api.generate_random(spark, 10_001)
    out = api.generate_random(spark, 25)
    assert out["status"] == "success"
    assert out["message"] == "成功生成 25 条随机数据"  # no insert performed
    assert out["data"].count() == 25


def test_generate_random_inserts_when_given_a_table(spark, tmp_path):
    """With table_path the facade matches the reference contract: the
    handler inserts what it generates (backend/app.py:267-271) and the
    message says 生成并插入."""
    from automotive_big_data_analysis_spark.sources import tables

    path = str(tmp_path / "car_table")
    tables.create_car_table(spark, path)
    out = api.generate_random(spark, 7, table_path=path)
    assert out["message"] == "成功生成并插入 7 条随机数据"
    assert tables.read_car_table(spark, path).count() == 7
