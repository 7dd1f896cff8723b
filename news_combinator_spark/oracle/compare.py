"""The driver-gate frame normalization, shared by every local
replica of the grading driver's compare (the pytest all-pairs gate
and scripts/driver_gate_sim.py).

Stringify EVERY column, not just object ones: the driver's gate
hashes stringified values, so "-0.0" != "0.0" and "472" != "472.0"
are real failures there — a numeric atol compare here would mask
exactly the environment-sensitive mismatches that made
admission_funnel and two entries since deleted driver-red while a
numeric local gate stayed green (rounds 3-4).
"""

from __future__ import annotations

import pandas as pd


def normalize_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Sorted columns, every value stringified, order-insensitive
    row order — the driver's compare, exactly."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)
