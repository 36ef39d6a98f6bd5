"""Single-process numpy/pandas oracle implementing the reference semantics.

This is the "reference implementation's Img2Ts resampled output" that the
Spark engine must match tier-wise (BASELINE.json:6).  Collocation uses the
same pandas primitive the reference uses —
``reindex(method='bfill', tolerance, limit=1)`` per series
(stack.py:263-309) — so matching the oracle means matching the reference
bit-for-bit, without copying any reference code.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

MJD_EPOCH = pd.Timestamp("1858-11-17")  # reference units epoch, img2ts.py:86


def oracle_points(seqs: pd.DataFrame, dt_seconds: int, epoch: str) -> pd.DataFrame:
    """Explode sequences into points (without cell_id)."""
    rows = []
    ep = pd.Timestamp(epoch)
    for r in seqs.itertuples(index=False):
        toks = np.asarray(r.tokens)
        pos = np.arange(len(toks))
        rows.append(
            pd.DataFrame(
                {
                    "doc_id": r.doc_id,
                    "source": r.source,
                    "pos": pos,
                    "ts": ep + pd.to_timedelta(pos * dt_seconds, unit="s"),
                    "token": toks,
                }
            )
        )
    return pd.concat(rows, ignore_index=True)


def oracle_rollup(points: pd.DataFrame, unit: str,
                  key_cols=("doc_id",), ts_col="ts",
                  value_col="token") -> pd.DataFrame:
    """Plain tier rollup: groupby keys x floor(ts, unit)."""
    freq = {"hour": "h", "day": "D", "minute": "min"}[unit]
    g = points.assign(tick=points[ts_col].dt.floor(freq)).groupby(
        list(key_cols) + ["tick"], as_index=False
    )[value_col]
    out = g.agg(
        n_points="count", sum_v="sum", min_v="min", max_v="max"
    )
    return out


def oracle_collocate(
    obs: pd.DataFrame,
    ticks,
    key_cols=("doc_id",),
    ts_col="obs_ts",
    tolerance_seconds: int | None = None,
) -> pd.DataFrame:
    """Reference-exact collocation: per-series pandas reindex
    (bfill, tolerance, limit=1) — the primitive at stack.py:288-290."""
    ticks = pd.DatetimeIndex(sorted(pd.to_datetime(list(ticks))))
    if tolerance_seconds is None:
        tol = (ticks[1:] - ticks[:-1]).max()
    else:
        tol = pd.Timedelta(seconds=tolerance_seconds)
    key_cols = list(key_cols)
    value_cols = [c for c in obs.columns if c not in key_cols + [ts_col]]

    outs = []
    for key, g in obs.groupby(key_cols, sort=False):
        g = g.sort_values(ts_col)
        idx = pd.DatetimeIndex(g[ts_col])
        ref = pd.DataFrame(index=idx, data={"__idx": np.arange(len(g))})
        r = ref.reindex(ticks, method="bfill", tolerance=tol, limit=1).dropna()
        if r.empty:
            continue
        sel = g.iloc[r["__idx"].astype(int).values]
        out = pd.DataFrame({"tick": r.index})
        for i, kc in enumerate(key_cols):
            out[kc] = key[i] if isinstance(key, tuple) else key
        out["timedelta_seconds"] = (
            sel[ts_col].values - r.index.values
        ).astype("timedelta64[ns]").astype(np.int64) / 1e9
        for c in value_cols:
            out[c] = sel[c].values
        outs.append(out)
    if not outs:
        return pd.DataFrame(
            columns=key_cols + ["tick", "timedelta_seconds"] + value_cols
        )
    res = pd.concat(outs, ignore_index=True)
    return res[key_cols + ["tick", "timedelta_seconds"] + value_cols]


def oracle_gap_fill(tier: pd.DataFrame, unit: str, key_cols=("doc_id",),
                    tick_col="tick", fill_values: dict | None = None) -> pd.DataFrame:
    freq = {"hour": "h", "day": "D", "minute": "min"}[unit]
    lo, hi = tier[tick_col].min(), tier[tick_col].max()
    axis = pd.date_range(lo, hi, freq=freq)
    keys = tier[list(key_cols)].drop_duplicates()
    dense = keys.merge(pd.DataFrame({tick_col: axis}), how="cross")
    out = dense.merge(tier, on=list(key_cols) + [tick_col], how="left")
    for c, v in (fill_values or {}).items():
        out[c] = out[c].fillna(v)
    return out
