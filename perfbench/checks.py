"""Output checks, computed apart from the program.

Queries: DuckDB evaluates each query's oracle SQL over the same parquet
tables, and the result must equal the Spark output under the canonical
cell md5 of `tools/check_oracle.py --hash` (columns sorted by name, rows
sorted, floats by shortest round-trip repr).

Serving: each response is compared with an expectation built here from
the heuristic and bucketing rules of the reference API as SURVEY.md
section 2.10 describes them (H1, H3, H4), blended 0.4/0.6 with the model
term that the Spark scoring twin (`LeafBoost.score`) gives for the same
transaction.
"""
import glob
import json
import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

# the oracle gate's own canonical form: columns sorted by name, rows
# sorted, every cell through canon_cell, md5 over the rows
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
from check_oracle import TABLES, df_hash, norm  # noqa: E402


def frame_hash(df):
    df = norm(df)
    return list(df.columns), len(df), df_hash(df)


def oracle(data, out, names, sql, last_error):
    """Returns ({query: reason} for wrong outputs, {query: reason} for
    queries with no output to check)."""
    wrong, missing = {}, {}
    for q in names:
        if q in last_error:
            missing[q] = f"query failed: {last_error[q]}"
            continue
        if q not in sql:
            missing[q] = "no oracle SQL"
            continue
        files = sorted(glob.glob(os.path.join(out, q, "*.parquet")))
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
            duck_df = con.execute(sql[q]).df()
        except Exception as e:
            wrong[q] = f"oracle error: {e}"
            continue
        finally:
            con.close()
        a, b = frame_hash(spark_df), frame_hash(duck_df)
        if a != b:
            wrong[q] = f"spark {a} != duckdb {b}"
    return wrong, missing


def make_pool(seed, n):
    """Seeded /score requests that reach every rule: amounts on both sides
    of 1,000 and 5,000, missing devices, unknown product codes and night
    hours."""
    rng = np.random.default_rng(seed)
    pool = []
    for i in range(n):
        r = rng.random()
        amt = (rng.exponential(150.0) if r < 0.7 else
               rng.uniform(1000, 5000) if r < 0.9 else rng.uniform(5000, 15000))
        day, hh, mm = rng.integers(1, 29), rng.integers(0, 24), rng.integers(0, 60)
        pool.append({
            "transaction_id": f"t{seed}-{i}",
            "user_id": f"u{rng.integers(0, 200)}",
            "transaction_amount": max(0.01, round(float(amt), 2)),
            "merchant_id": f"m{rng.integers(0, 50)}",
            "product_code": str(rng.choice(["W", "H", "C", "S", "R", "X"],
                                           p=[0.5, 0.15, 0.1, 0.1, 0.1, 0.05])),
            "card_type": str(rng.choice(["visa", "mastercard", "american express", "discover"])),
            "device_info": (None if rng.random() < 0.15 else
                            str(rng.choice(["Windows", "iOS Device", "MacOS", "Android"]))),
            "email_domain": str(rng.choice(["gmail.com", "yahoo.com", "outlook.com"])),
            "transaction_timestamp": f"2024-02-{day:02d}T{hh:02d}:{mm:02d}:00",
        })
    return pool


def expected(t, model_p):
    """The reference API's response for one transaction (api/main.py
    199-221 and 333-355 as SURVEY.md 2.10 H1, H3, H4 describe them)."""
    amt = t["transaction_amount"]
    hour = int(t["transaction_timestamp"][11:13])
    missing_device = t["device_info"] is None
    unusual_product = t["product_code"] not in ("W", "H", "C", "S", "R")
    night = hour < 5 or hour > 23
    s = 1.0 / (1.0 + math.exp(-0.003 * (amt - 500.0)))
    if amt > 5000:
        s = min(s + 0.15, 0.95)
    elif amt > 1000:
        s = min(s + 0.08, 0.85)
    if missing_device:
        s = min(s + 0.05, 0.95)
    if unusual_product:
        s = min(s + 0.05, 0.95)
    if night:
        s = min(s + 0.07, 0.95)
    score = min(1.0, max(0.0, model_p * 0.4 + s * 0.6))
    level = ("MINIMAL" if score < 0.2 else "LOW" if score < 0.4 else
             "MEDIUM" if score < 0.6 else "HIGH" if score < 0.8 else "CRITICAL")
    reasons = [r for r, on in (("very_high_amount", amt > 5000),
                               ("high_amount", 1000 < amt <= 5000),
                               ("missing_device", missing_device),
                               ("unusual_product", unusual_product),
                               ("unusual_hour", night)) if on]
    return {"transaction_id": t["transaction_id"],
            "fraud_score": round(score * 1e4) / 1e4,
            "is_fraud": score >= 0.6, "risk_level": level,
            "model_used": "LEAFBOOST",
            "confidence": round(abs(score - 0.5) * 2 * 1e4) / 1e4,
            "reasons": reasons or None}


def _diff(got, want):
    return {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}


def serve(pool, twin, bodies, batch_size, final_stats, n_scored):
    """Check every distinct response body; returns one line per failed
    check (a body counts once per response that carried it)."""
    bad = []
    for key, count in bodies.items():
        kind, idx, body = key.split("\x01", 2)
        idx, got = int(idx), json.loads(body)
        if kind == "score":
            d = _diff(got, expected(pool[idx], twin[idx]))
            if d:
                bad += [f"/score #{idx}: {d}"] * count
        else:
            lo = idx * batch_size
            want = [expected(pool[lo + j], twin[lo + j]) for j in range(batch_size)]
            rs = got.get("results", [])
            d = [(j, _diff(r, w)) for j, (r, w) in enumerate(zip(rs, want)) if _diff(r, w)]
            if len(rs) != batch_size or got.get("total_transactions") != batch_size or d or \
                    got.get("fraud_count") != sum(w["is_fraud"] for w in want):
                bad += [f"/score/batch #{idx}: {len(rs)} results, first diffs {d[:2]}"] * count
    total = (json.loads(final_stats["body"]).get("total_predictions")
             if final_stats["status"] == 200 else None)
    if total != n_scored:
        bad.append(f"/stats total_predictions {total} != {n_scored} transactions scored")
    return bad
