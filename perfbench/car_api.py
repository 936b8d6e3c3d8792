"""car_api: the reference service's HTTP traffic over one ``car_data`` table.

Closed loop, one client. Each read request is
``tables.read_car_table`` -> ``car_queries.car_view`` -> one ``api.get_*``
endpoint, cycling the ten endpoints with parameters drawn from the seed;
every tenth request is ``api.generate_random`` appending 1,000 rows to the
same table. Every response is checked against a pure-Python computation
over the rows on disk, read with pyarrow rather than Spark.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.dataset as ds

from common import WORK, passes_for, quantile, tree_size

N_ROWS = 10_000  # the reference generator's cap
N_APPEND = 1_000
WRITE_EVERY = 10
BUILD_REPS = 3
CYCLE_S = 6.0  # nominal seconds of one cycle of WRITE_EVERY requests
PRICE_BUCKETS = [
    (0, 100_000, "10万以下"),
    (100_000, 200_000, "10万-20万"),
    (200_000, 300_000, "20万-30万"),
    (300_000, 500_000, "30万-50万"),
    (500_000, math.inf, "50万以上"),
]


class Reference:
    """The expected endpoint answers for the rows currently on disk."""

    def __init__(self, path: str):
        part = ds.partitioning(
            pa.schema([("manufacture_year", pa.int32())]), flavor="hive"
        )
        raw = ds.dataset(path, format="parquet", partitioning=part)
        self.cars = [self._view(r) for r in raw.to_table().to_pylist()]
        self.brand_names = sorted({c["brand"] for c in self.cars})
        self.model_ids = sorted({c["model_id"] for c in self.cars})
        self.types = sorted({c["car_type"] for c in self.cars})

    @staticmethod
    def _view(r: dict) -> dict:
        mid = f"{r['car_brand']}_{r['car_model']}".replace(" ", "_")
        return {
            "brand": r["car_brand"],
            "model": r["car_model"],
            "guide_price": r["manufacturer_suggested_price"],
            "horsepower": r["engine_horsepower"],
            "doors": r["num_doors"],
            "min_price": r["min_reference_price"],
            "attention": r["popularity"],
            "discount": r["discount_percentage"],
            "car_type": r["car_type"],
            "city_license_plates": dict(r["city_license_plates"]),
            "manufacture_year": r["manufacture_year"],
            "history_prices": [
                {"date": k, "price": v} for k, v in r["historical_price"]
            ],
            "id": mid,
            "model_id": mid,
        }

    def _regs(self, key) -> dict:
        out: dict = {}
        for c in self.cars:
            for k, v in key(c):
                out[k] = out.get(k, 0) + v
        return out

    def brands(self, _):
        return self.brand_names

    def brand_models(self, kw):
        pairs = {(c["id"], c["model"]) for c in self.cars if c["brand"] == kw["brand"]}
        return [{"id": i, "name": n} for i, n in sorted(pairs)]

    def model_details(self, kw):
        rows = [c for c in self.cars if c["model_id"] == kw["model_id"]]
        key = min((c["manufacture_year"], c["attention"]) for c in rows)
        return [
            {k: v for k, v in c.items() if k != "id"}
            for c in rows
            if (c["manufacture_year"], c["attention"]) == key
        ]

    def city_regs(self) -> dict:
        return self._regs(lambda c: c["city_license_plates"].items())

    def cities(self, _):
        return [{"id": i, "name": c} for i, c in enumerate(sorted(self.city_regs()))]

    def city_rankings(self, kw):
        regs = self.city_regs()
        if kw["metric"] == "attention":
            regs = {c: 0 for c in regs}
        ranked = sorted(regs.items(), key=lambda kv: (-kv[1], kv[0]))
        return [
            {"rank": i + 1, "city": c, "value": v} for i, (c, v) in enumerate(ranked)
        ]

    def recommendations(self, kw):
        tests = {
            "brand": lambda c, v: c["brand"] == v,
            "min_price": lambda c, v: c["min_price"] >= v,
            "max_price": lambda c, v: c["min_price"] <= v,
            "min_horsepower": lambda c, v: c["horsepower"] >= v,
            "doors": lambda c, v: c["doors"] == v,
            "car_type": lambda c, v: c["car_type"] == v,
        }
        cols = ("id", "brand", "model", "guide_price", "min_price", "attention", "car_type")
        return [
            {k: c[k] for k in cols}
            for c in self.cars
            if all(tests[k](c, v) for k, v in kw.items())
        ]

    def market_overview(self, _):
        brands: dict = {}
        for c in self.cars:
            brands[c["brand"]] = brands.get(c["brand"], 0) + 1
        top = max(
            (c["attention"], f"{c['brand']} {c['model']} (关注度: {c['attention']})")
            for c in self.cars
        )
        return {
            "total_registrations": sum(
                sum(c["city_license_plates"].values()) for c in self.cars
            ),
            "avg_attention": sum(c["attention"] for c in self.cars) / len(self.cars),
            "brand_count": len(brands),
            "top_car": top[1],
            "popular_brands": brands,
        }

    def market_trends(self, kw):
        per: dict = {}
        for c in self.cars:
            y = c["manufacture_year"]
            regs, att, price, n = per.get(y, (0, 0, 0.0, 0))
            per[y] = (
                regs + sum(c["city_license_plates"].values()),
                att + c["attention"],
                price + c["guide_price"],
                n + 1,
            )
        pick = {
            "registrations": lambda t: t[0],
            "attention": lambda t: t[1],
            "avg_price": lambda t: t[2] / t[3],
        }[kw["metric"]]
        return [{"date": str(y), "value": pick(per[y])} for y in sorted(per)]

    def price_distribution(self, _):
        out = []
        for lo, hi, label in PRICE_BUCKETS:
            att = [c["attention"] for c in self.cars if lo <= c["min_price"] < hi]
            out.append(
                {
                    "price_range": label,
                    "count": len(att),
                    "avg_attention": sum(att) / len(att) if att else 0.0,
                }
            )
        return out

    def consumer_preferences(self, _):
        regs = self._regs(
            lambda c: [
                (
                    "电动汽车" if c["car_type"] == "新能源" else c["car_type"],
                    sum(c["city_license_plates"].values()),
                )
            ]
        )
        total = sum(regs.values())
        ranked = sorted(regs.items(), key=lambda kv: (-kv[1], kv[0]))
        return [
            {"car_type": t, "registrations": r, "preference": r / total}
            for t, r in ranked
        ]


def same(a, b) -> bool:
    """Structural equality with a float tolerance for re-ordered sums."""
    if isinstance(a, float) or isinstance(b, float):
        return (
            isinstance(a, (int, float))
            and isinstance(b, (int, float))
            and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
        )
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def _ranked_ok(got: list[dict], expected: list[dict], limit: int) -> bool:
    """``got`` must be the first ``limit`` of ``expected`` ordered by
    attention desc, id — rows tied on that key may come in any order."""

    def key(r):
        return (-r["attention"], r["id"])

    exp = sorted(expected, key=key)
    if len(got) != min(limit, len(exp)) or [key(r) for r in got] != [
        key(r) for r in exp[: len(got)]
    ]:
        return False
    for k in {key(r) for r in got}:
        mine = [r for r in got if key(r) == k]
        pool = [r for r in exp if key(r) == k]
        for r in mine:
            hit = next((i for i, p in enumerate(pool) if same(r, p)), None)
            if hit is None:
                return False
            pool.pop(hit)
    return True


def check(endpoint: str, kw: dict, resp: dict, ref: Reference) -> bool:
    if resp.get("status") != "success":
        return False
    got = resp["data"]
    if endpoint == "model_details":
        return any(same(got, c) for c in ref.model_details(kw))
    if endpoint == "recommendations":
        return _ranked_ok(got, ref.recommendations(kw), limit=100)
    if endpoint == "cities":
        got = sorted(got, key=lambda r: r["id"])
    expect = getattr(ref, endpoint)(kw)
    return same(got, expect)


def draw(endpoint: str, rng: random.Random, ref: Reference) -> dict:
    """Seeded request parameters for one endpoint."""
    if endpoint == "brand_models":
        return {"brand": rng.choice(ref.brand_names)}
    if endpoint == "model_details":
        return {"model_id": rng.choice(ref.model_ids)}
    if endpoint == "city_rankings":
        return {"metric": rng.choice(["registrations", "attention"])}
    if endpoint == "market_trends":
        return {"metric": rng.choice(["registrations", "attention", "avg_price"])}
    if endpoint == "recommendations":
        kw = {
            "brand": rng.choice(ref.brand_names),
            "car_type": rng.choice(ref.types + [None]),
            "doors": rng.choice([2, 4, 5, None]),
            "min_price": rng.choice([None, 100_000.0, 150_000.0]),
            "max_price": rng.choice([None, 300_000.0, 400_000.0]),
            "min_horsepower": rng.choice([None, 150, 250]),
        }
        return {k: v for k, v in kw.items() if v is not None}
    return {}


ENDPOINTS = [
    "brands",
    "brand_models",
    "model_details",
    "cities",
    "city_rankings",
    "recommendations",
    "market_overview",
    "market_trends",
    "price_distribution",
    "consumer_preferences",
]


def _call(api, endpoint: str, cars, kw: dict) -> dict:
    if endpoint == "consumer_preferences":
        return api.get_consumer_preferences(cars, dimension="type")
    return getattr(api, f"get_{endpoint}")(cars, **kw)


def _plan_df(q, endpoint: str, cars, kw: dict):
    """The endpoint's main query plan, rebuilt for the phase tracker."""
    fn = {
        "brands": q.brands,
        "brand_models": lambda c: q.brand_models(c, kw["brand"]),
        "model_details": lambda c: q.model_details(c, kw["model_id"]),
        "cities": q.cities,
        "city_rankings": lambda c: q.city_rankings(c, kw["metric"]),
        "recommendations": lambda c: q.recommendations(c, **kw),
        "market_overview": q.market_overview,
        "market_trends": lambda c: q.market_trends(c, kw["metric"]),
        "price_distribution": q.price_distribution,
        "consumer_preferences": q.consumer_preferences,
    }[endpoint]
    return fn(cars)


def run(spark, tracer, seed: int, seconds: float) -> dict:
    from automotive_big_data_analysis_spark import api
    from automotive_big_data_analysis_spark.operators import car_queries as q
    from automotive_big_data_analysis_spark.sources import synthetic, tables

    path = os.path.join(WORK, "car_data")
    rng = random.Random(seed)

    builds = []  # the table is built several times; setup reports the median
    for _ in range(BUILD_REPS):
        t0 = time.perf_counter()
        shutil.rmtree(path, ignore_errors=True)
        tables.insert_df(synthetic.generate_car_data(spark, N_ROWS, seed=seed), path)
        tables.read_car_table(spark, path).count()
        builds.append(time.perf_counter() - t0)
    ref = Reference(path)

    if tracer.enabled:
        insert_df = tables.insert_df

        def traced_insert(*args, **kwargs):
            with tracer.span("sources.tables.insert_ms"):
                return insert_df(*args, **kwargs)

        tables.insert_df = traced_insert

    stats = {"attempted": 0, "failed": 0}

    def request(endpoint: str, measured: bool) -> float:
        nonlocal ref
        is_write = endpoint == "generate_random"
        kw = {"seed": rng.randrange(2**31)} if is_write else draw(endpoint, rng, ref)
        files_before = tree_size(path)[1] if is_write and tracer.enabled else 0
        stats["attempted"] += 1
        t0 = time.perf_counter()
        try:
            with tracer.op(endpoint):
                if is_write:
                    with tracer.span("api.generate_random_ms"):
                        resp = api.generate_random(
                            spark, num_records=N_APPEND, table_path=path, **kw
                        )
                else:
                    with tracer.span("sources.tables.read_ms"):
                        raw = tables.read_car_table(spark, path)
                    with tracer.span("car_queries.build_ms"):
                        cars = q.car_view(raw)
                    with tracer.span(f"api.{endpoint}_ms"):
                        resp = _call(api, endpoint, cars, kw)
        except Exception as exc:  # a failed request is counted, not fatal
            stats["failed"] += 1
            print(f"perfbench: {endpoint} {kw} failed: {exc!r}"[:400])
            return time.perf_counter() - t0
        wall = time.perf_counter() - t0
        if is_write:
            n_before = len(ref.cars)
            ref = Reference(path)
            ok = resp.get("status") == "success" and len(ref.cars) == n_before + N_APPEND
            if tracer.enabled:
                tracer.record(
                    "sources.tables.files_written", tree_size(path)[1] - files_before
                )
        else:
            ok = check(endpoint, kw, resp, ref)
            if tracer.enabled and measured:
                with tracer.overhead():
                    tracer.plan_phases(_plan_df(q, endpoint, cars, kw))
        if not ok:
            stats["failed"] += 1
            print(f"perfbench: {endpoint} {kw} returned a wrong result"[:400])
        return wall

    # warm-up: every read endpoint once, so JIT and plan caches settle
    t0 = time.perf_counter()
    for endpoint in ENDPOINTS:
        request(endpoint, measured=False)
    warm = time.perf_counter() - t0
    tracer.samples.clear()
    tracer.groups.clear()

    # whole cycles of WRITE_EVERY requests, one of them a write
    ops: list[tuple[str, float]] = []
    cycles: list[float] = []
    t_begin = time.time()
    for _ in range(passes_for(seconds, CYCLE_S)):
        for k in range(WRITE_EVERY):
            i = len(ops)
            endpoint = (
                "generate_random"
                if k == WRITE_EVERY - 1
                else ENDPOINTS[(i - i // WRITE_EVERY) % len(ENDPOINTS)]
            )
            ops.append((endpoint, request(endpoint, measured=True)))
        cycles.append(sum(wall for _, wall in ops[-WRITE_EVERY:]))
    t_end = time.time()
    if tracer.enabled:
        tables.insert_df = insert_df
    n_bytes, n_files = tree_size(path)
    return {
        **stats,
        "build_s": quantile(builds, 50),
        "warm_s": warm,
        "ops": ops,
        "pass_s": quantile(cycles, 50),
        "passes": len(cycles),
        "window": (t_begin, t_end),
        "build_window": None,
        "layers": {"stored.bytes_written": n_bytes, "stored.files_written": n_files},
    }
