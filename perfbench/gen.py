"""Seeded input generator for the ``ventas_pipeline`` workload.

``write_ventas`` writes a UCI-Online-Retail-shaped ``ventas.csv``
(InvoiceDate, StockCode, Country, Quantity): Zipf-popular stock codes
sold in every one of twenty country stores over 104 weeks, a share of
unparsable ``Quantity`` cells and of negative (return) rows, so the
pipeline's coercion, cleaning and admission gates all see work. The
shape follows the reference-size input the workload is scaled from
(2 M rows, 2,000 codes x 20 stores, about 50 rows per series, 39,050
of 40,000 series admitted): rows and codes are scaled down together,
so rows per series and the admitted share stay those of the reference.

The query workload needs no generator: it reads the fixed fixture
tables under ``perfbench/fixtures``.

Same seed, same bytes: every draw comes from one ``numpy`` generator
seeded by the caller, and the writer is deterministic.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# The twenty most frequent countries of the UCI Online Retail set.
COUNTRIES = (
    "United Kingdom", "Germany", "France", "EIRE", "Spain", "Netherlands",
    "Belgium", "Switzerland", "Portugal", "Australia", "Norway", "Italy",
    "Channel Islands", "Finland", "Cyprus", "Sweden", "Austria", "Denmark",
    "Japan", "Poland",
)
GARBAGE_QUANTITIES = ("", "N/A", "?", "12a", "x")
VENTAS_START = np.datetime64("2009-12-07T00:00:00")
VENTAS_WEEKS = 104


def ventas_frame(seed: int, rows: int, codes: int, zipf_s: float = 1.05, store_s: float = 0.8,
                 garbage_share: float = 0.002, negative_share: float = 0.01) -> pd.DataFrame:
    """The ventas rows as strings, exactly as they are written.

    Each row's stock code is Zipf-popular (exponent ``zipf_s``) and its
    store falls off as rank ** -``store_s``, independently, so every
    code sells in every store and the rarest code-store pairs are the
    series that fail the >= 12-week / >= 10-unit gates (about 2 % of
    them at 50 rows per series, as in the reference)."""
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, codes + 1, dtype=np.float64)
    code_p = ranks ** -zipf_s
    code_p /= code_p.sum()
    # a seed-dependent popularity order, so a new seed re-ranks codes
    code_names = np.array([f"{20000 + i}{'ABC'[i % 3] if i % 7 == 0 else ''}"
                           for i in rng.permutation(codes)])
    code_idx = rng.choice(codes, size=rows, p=code_p)
    country_p = np.arange(1, len(COUNTRIES) + 1, dtype=np.float64) ** -store_s
    country_p /= country_p.sum()
    country_idx = rng.choice(len(COUNTRIES), size=rows, p=country_p)
    week = rng.integers(0, VENTAS_WEEKS, size=rows)
    minute = week * 7 * 1440 + rng.integers(0, 7, size=rows) * 1440 + rng.integers(480, 1200, size=rows)
    ts = VENTAS_START + minute.astype("timedelta64[m]")
    qty = rng.geometric(0.12, size=rows).clip(1, 480)
    kind = rng.random(rows)
    negative = kind < negative_share
    garbage = (kind >= negative_share) & (kind < negative_share + garbage_share)
    q = np.where(negative, -qty, qty).astype(str).astype(object)
    q[garbage] = rng.choice(GARBAGE_QUANTITIES, size=int(garbage.sum()))
    order = np.argsort(ts, kind="stable")
    return pd.DataFrame({
        "InvoiceDate": pd.Series(ts[order]).dt.strftime("%Y-%m-%d %H:%M:%S").to_numpy(),
        "StockCode": code_names[code_idx][order],
        "Country": np.array(COUNTRIES)[country_idx][order],
        "Quantity": q[order],
    })


def write_ventas(path: str, seed: int, rows: int, codes: int) -> pd.DataFrame:
    df = ventas_frame(seed, rows, codes)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    df.to_csv(path, index=False, lineterminator="\n")
    return df
