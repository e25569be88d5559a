"""Seeded pipeline-run plans and recorded payloads.

Each run is an execution plan (the validated artifact the LLM planner
would hand the engine), the provider payloads its requests fetch, and
an enrichment recipe. The first two runs are the harness's untimed
warm-up, one of each shape; the rest come in passes of two:

- a reference-shaped run: `SMALL_REQUESTS` Alpha Vantage daily-series /
  Polygon aggregate requests of 20-250 rows over one price schema, so
  the union stage collapses them into one group;
- a wide run: three daily series plus two economic indicators, two
  schema groups whose join stage scores
  `WIDE_PRICE_ROWS * WIDE_ECON_ROWS` row pairs.

The small run comes first in every pass. With the order seeded, a wide
run straight after the warm-up took 12 s against 10.5 s after a small
run, and that alone split the runs' medians into two groups.
"""
import datetime as dt
import json
import os

import numpy as np

SMALL_REQUESTS = 4
WIDE_PRICE_ROWS = 3 * 100   # three daily series of 100 rows
WIDE_ECON_ROWS = 2 * 100    # two economic indicators of 100 rows
TICKERS = [f"T{i:03d}" for i in range(200)]
ECON = ["TREASURY_YIELD", "FEDERAL_FUNDS_RATE", "CPI", "UNEMPLOYMENT"]
START = dt.date(2022, 1, 3)


def _prices(rng, n):
    close = 50.0 + np.cumsum(rng.normal(0.0, 1.0, n))
    close = np.maximum(close, 1.0)
    opn = close + rng.normal(0.0, 0.5, n)
    high = np.maximum(opn, close) + rng.uniform(0.0, 1.0, n)
    low = np.minimum(opn, close) - rng.uniform(0.0, 1.0, n)
    vol = rng.integers(10_000, 1_000_000, n)
    return opn, high, low, close, vol


def _av_daily(rng, sym, n, offset):
    o, h, lo, c, v = _prices(rng, n)
    days = {}
    for i in range(n):
        d = (START + dt.timedelta(days=offset + i)).isoformat()
        days[d] = {"1. open": f"{o[i]:.2f}", "2. high": f"{h[i]:.2f}",
                   "3. low": f"{lo[i]:.2f}", "4. close": f"{c[i]:.2f}",
                   "5. volume": str(int(v[i]))}
    return json.dumps({"Meta Data": {"2. Symbol": sym}, "Time Series (Daily)": days})


def _polygon_aggs(rng, sym, n, offset):
    o, h, lo, c, v = _prices(rng, n)
    t0 = dt.datetime.combine(START, dt.time(), dt.timezone.utc).timestamp()
    results = [{"o": round(float(o[i]), 2), "h": round(float(h[i]), 2),
                "l": round(float(lo[i]), 2), "c": round(float(c[i]), 2),
                "v": float(v[i]), "vw": round(float((h[i] + lo[i] + c[i]) / 3), 4),
                "t": int((t0 + (offset + i) * 86400) * 1000), "n": int(v[i] // 100)}
               for i in range(n)]
    return json.dumps({"ticker": sym, "results": results})


def _econ(rng, name, n):
    vals = 2.0 + np.cumsum(rng.normal(0.0, 0.05, n))
    data = [{"date": (START + dt.timedelta(days=i)).isoformat(), "value": f"{vals[i]:.3f}"}
            for i in range(n)]
    return json.dumps({"name": name, "interval": "daily", "unit": "percent", "data": data})


def _small_run(rng):
    reqs, payloads, rows = [], {}, 0
    for sym in rng.choice(TICKERS, size=SMALL_REQUESTS, replace=False):
        n, off = int(rng.integers(20, 251)), int(rng.integers(0, 60))
        if rng.random() < 0.5:
            reqs.append({"api_name": "alpha_vantage", "endpoint_name": "TIME_SERIES_DAILY",
                         "parameters": {"ticker": str(sym), "limit": n}})
            payloads[f"TIME_SERIES_DAILY:{sym}"] = _av_daily(rng, str(sym), n, off)
        else:
            end = (START + dt.timedelta(days=off + n - 1)).isoformat()
            reqs.append({"api_name": "polygon", "endpoint_name": "get_aggs",
                         "parameters": {"ticker": str(sym), "multiplier": 1, "timespan": "day",
                                        "from": (START + dt.timedelta(days=off)).isoformat(),
                                        "to": end}})
            payloads[f"get_aggs:{sym}"] = _polygon_aggs(rng, str(sym), n, off)
        rows += n
    return reqs, payloads, [rows]


def _wide_run(rng):
    reqs, payloads = [], {}
    per = WIDE_PRICE_ROWS // 3
    for sym in rng.choice(TICKERS, size=3, replace=False):
        reqs.append({"api_name": "alpha_vantage", "endpoint_name": "TIME_SERIES_DAILY",
                     "parameters": {"ticker": str(sym), "limit": per}})
        payloads[f"TIME_SERIES_DAILY:{sym}"] = _av_daily(rng, str(sym), per, 0)
    for name in rng.choice(ECON, size=2, replace=False):
        reqs.append({"api_name": "alpha_vantage", "endpoint_name": str(name),
                     "parameters": {"interval": "daily"}})
        payloads[f"{name}:"] = _econ(rng, str(name), WIDE_ECON_ROWS // 2)
    return reqs, payloads, [WIDE_PRICE_ROWS, WIDE_ECON_ROWS]


def generate(out_path, seed, n_passes=30):
    """Writes one JSON object per line, one line per run."""
    rng = np.random.default_rng(seed)
    shapes = ["wide", "small"] + ["small", "wide"] * n_passes
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        for shape in shapes:
            wide = shape == "wide"
            reqs, payloads, groups = _wide_run(rng) if wide else _small_run(rng)
            sma, ema = (int(w) for w in rng.choice([5, 10, 20], size=2))
            recipe = {"features": [{"name": "sma", "params": {"on": "close", "window": sma}},
                                   {"name": "ema", "params": {"on": "close", "window": ema}}]}
            f.write(json.dumps({
                "kind": "wide" if wide else "small",
                "plan": reqs, "payloads": payloads, "group_rows": groups,
                "dsl_recipe": json.dumps(recipe),
                "feature_columns": [f"sma_close_{sma}", f"ema_close_{ema}"],
                "key_features": ["open", "close", "volume"],
            }) + "\n")
