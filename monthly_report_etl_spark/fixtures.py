"""Deterministic exports_deals / competitor_list fixture generation.

Implements FIXTURES.md §A1-A3: a synthetic stand-in for the reference's
MotherDuck view (exports_results.sql:44) and its competitor-list.csv,
engineered to exercise every semantic edge the pipeline must preserve:

* repeated scenarioIds with TIE-FREE times (MAX_BY tie behavior is
  arbitrary in both engines — SURVEY §2.4 A3);
* NULL exportedLender (the ''-failing rule, sql:87);
* exported lenders absent from ``results`` (placeholder default path,
  sql:120-131);
* ``doesService='false'`` and missing/'null' maxBorrowingCapacity
  (failure rules, sql:88-91);
* secondary servicing lenders (EXISTS path, sql:152-163);
* ``performance`` key ABSENT (never JSON ``null`` — DuckDB and Spark agree
  on absent-key → SQL NULL, which drives 'Not Available Scenarios');
* exactly one lenderExportWinner='true' element per array;
* NULL payload values on latest rows (exposes DuckDB MAX_BY NULL-skip);
* timestamps spanning > 4 calendar months inside the config window.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

TIERS = ["Tier 1"] * 5 + ["Tier 2"] * 12 + ["Tier 3"] * 14 + ["Tier 4"] * 15 + ["Unclassified"] * 2
CATEGORIES = [
    "Major Bank",
    "Challenger Bank",
    "Mutual Bank / Credit Union",
    "Specialist Lender",
    "Non-Bank Lender",
    "Wholesale / Aggregator",
    "Neobank / Digital-only",
]
LOAN_PURPOSES = ["Owner Occupied", "Investment", "Refinance", None]
RATE_TYPES = ["Fixed", "Variable", "Split"]
LVR_BUCKETS = ["<60", "60-70", "70-80", "80-90", "90+"]
TRANSACTION_TYPES = ["Purchase", "Refinance", "Top-up"]
PRIMARY_INCOMES = ["PAYG", "Self-Employed", "Rental"]
N_LENDERS = 48
# event times are drawn from [WINDOW_START, WINDOW_END), inside the
# config window and spanning more than 4 calendar months
WINDOW_START = "2025-02-01"
WINDOW_END = "2025-08-30"


def lender_names() -> list[str]:
    return [f"lender_{i:02d}" for i in range(N_LENDERS)]


def make_competitor_list() -> pd.DataFrame:
    """48-row lender→tier dimension (FIXTURES.md §A3). One lender
    (lender_47) is reserved: it never appears in exports_deals, and
    exports_deals uses one lender absent from this list."""
    names = lender_names()
    rows = []
    for i, name in enumerate(names):
        rows.append(
            {
                "Lender": name,
                "Category": CATEGORIES[i % len(CATEGORIES)],
                "Tier": TIERS[i % len(TIERS)],
                "Tier Category": ["Major Bank", "Non-Bank Lender", "Private Lender", None][i % 4],
                "Link to Image": f"https://img.example/{name}.png" if i % 3 else None,
            }
        )
    return pd.DataFrame(rows)


def make_exports_deals(n_scenarios: int = 400, seed: int = 42) -> pd.DataFrame:
    rng = np.random.RandomState(seed)
    active = lender_names()[:-1] + ["unlisted_lender"]  # lender_47 absent; one unknown present
    start_ts = pd.Timestamp(WINDOW_START)
    span_sec = int((pd.Timestamp(WINDOW_END) - start_ts).total_seconds())

    rows = []
    used_times: set[int] = set()
    for s in range(n_scenarios):
        scenario = f"scn_{s:05d}"
        n_events = 1 + (rng.rand() < 0.18) + (rng.rand() < 0.05)
        # evaluated-lender pool for this scenario
        k = rng.randint(1, min(8, len(active)))
        evaluated = list(rng.choice(active, size=k, replace=False))
        winner_idx = rng.randint(0, k)
        for e in range(n_events):
            while True:
                off = int(rng.randint(0, span_sec))
                if off not in used_times:  # tie-free globally → tie-free per scenario
                    used_times.add(off)
                    break
            t = start_ts + pd.Timedelta(seconds=off)
            if rng.rand() < 0.05:
                exported = None  # NULL lender → '' failing rule
            elif rng.rand() < 0.05:
                exported = str(rng.choice([x for x in active if x not in evaluated]))  # absent from results
            else:
                exported = str(rng.choice(evaluated))
            elements = []
            n_service = 0
            for j, ln in enumerate(evaluated):
                el: dict = {"lenderName": ln}
                r = rng.rand()
                if r < 0.12:
                    el["doesService"] = "false"
                elif r < 0.18:
                    el["doesService"] = None if rng.rand() < 0.5 else "true"
                    if rng.rand() < 0.5:
                        el["maxBorrowingCapacity"] = None  # JSON null → extract NULL
                else:
                    el["doesService"] = "true"
                    el["maxBorrowingCapacity"] = round(float(rng.uniform(2e5, 2e6)), 2)
                    n_service += 1
                if rng.rand() < 0.15:
                    pass  # performance key ABSENT → 'Not Available Scenarios'
                else:
                    failed = rng.rand() < 0.35
                    perf = {
                        "lenderFailedServicing": "true" if failed else "false",
                        "lenderFailedInScope": ("true" if rng.rand() < 0.6 else "false") if failed else "false",
                        "lenderFailedOutOfScope": "false",
                        "lenderPassedServicing": "false" if failed else "true",
                        "lenderExportWinner": "true" if (not failed and j == winner_idx) else "false",
                    }
                    if failed and perf["lenderFailedInScope"] == "false":
                        perf["lenderFailedOutOfScope"] = "true" if rng.rand() < 0.8 else "false"
                    el["performance"] = perf
                elements.append(el)
            rows.append(
                {
                    "time": t,
                    "scenarioId": scenario,
                    "isValidExport": bool(rng.rand() < 0.9),
                    "exportedLender": exported,
                    "results": json.dumps(elements),
                    "primaryIncome": str(rng.choice(PRIMARY_INCOMES)),
                    "rateType": str(rng.choice(RATE_TYPES)),
                    "loanPurpose": rng.choice(LOAN_PURPOSES),
                    "totalProposedLoanAmount": round(float(rng.uniform(1e5, 3e6)), 2),
                    "applicantCount": int(rng.randint(1, 5)),
                    "householdCount": int(rng.randint(1, 4)),
                    "transactionType": str(rng.choice(TRANSACTION_TYPES)),
                    "dependantsCount": int(rng.randint(0, 5)),
                    "lvr": round(float(rng.uniform(30, 98)), 4),
                    "lvrBucket": str(rng.choice(LVR_BUCKETS)),
                    "applicantsWithHecs": int(rng.randint(0, 3)),
                    # NULL on some rows → exercises MAX_BY NULL-skip
                    "paygIncome": None if rng.rand() < 0.1 else round(float(rng.uniform(4e4, 4e5)), 2),
                    "weeklyRentalIncome": None if rng.rand() < 0.3 else round(float(rng.uniform(0, 2000)), 2),
                    "selfEmployedIncome": None if rng.rand() < 0.4 else round(float(rng.uniform(0, 5e5)), 2),
                }
            )
    df = pd.DataFrame(rows)
    # micros, not pandas-default nanos — Spark's parquet reader rejects NANOS
    df["time"] = pd.to_datetime(df["time"]).astype("datetime64[us]")
    return df


def write_fixture(out_dir: str, n_scenarios: int = 400, seed: int = 42) -> tuple[str, str]:
    """Write exports_deals.parquet + competitor_list.csv; returns paths."""
    os.makedirs(out_dir, exist_ok=True)
    deals = make_exports_deals(n_scenarios=n_scenarios, seed=seed)
    deals_path = os.path.join(out_dir, "exports_deals.parquet")
    deals.to_parquet(deals_path, index=False)
    comp = make_competitor_list()
    comp_path = os.path.join(out_dir, "competitor_list.csv")
    comp.to_csv(comp_path, index=False, encoding="utf-8-sig")
    return deals_path, comp_path
