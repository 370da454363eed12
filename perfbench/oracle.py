"""Independent result checks: DuckDB or pandas over the same inputs,
compared with the program's pandas output."""

from __future__ import annotations

import numpy as np
import pandas as pd


def collapse(pdf: pd.DataFrame):
    """The dfsql result contract: 1x1 -> scalar, one column -> Series."""
    if pdf.shape == (1, 1):
        return pdf.iloc[0, 0]
    if pdf.shape[1] == 1:
        return pdf.iloc[:, 0]
    return pdf


def _as_frame(value) -> pd.DataFrame:
    if isinstance(value, pd.DataFrame):
        return value
    if isinstance(value, pd.Series):
        return value.to_frame()
    return pd.DataFrame({"value": [value]})


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reset_index(drop=True)
    keys = df.copy()
    for col in keys.columns:
        if keys[col].dtype.kind == "f":
            keys[col] = keys[col].round(6)
        elif keys[col].dtype.kind not in "iub":
            keys[col] = keys[col].astype(str)
    order = keys.sort_values(list(keys.columns), kind="mergesort").index
    return df.loc[order].reset_index(drop=True)


def mismatch(got, want) -> str | None:
    """``None`` when ``got`` equals ``want`` (order-insensitive rows,
    floats to 1e-9 relative), else a one-line reason."""
    if type(got) is not type(want) and not (
        np.isscalar(got) and np.isscalar(want)
    ):
        return f"result kind {type(got).__name__} != {type(want).__name__}"
    g, w = _as_frame(got), _as_frame(want)
    if isinstance(got, pd.DataFrame) and list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if isinstance(got, pd.Series) and got.name != want.name:
        return f"series name {got.name!r} != {want.name!r}"
    if len(g) != len(w):
        return f"{len(g)} rows != {len(w)}"
    g, w = _canonical(g), _canonical(w)
    for gc, wc in zip(g.columns, w.columns):
        a, b = g[gc].to_numpy(), w[wc].to_numpy()
        if a.dtype.kind in "iufb" and b.dtype.kind in "iufb":
            if not np.allclose(a.astype(float), b.astype(float), rtol=1e-9, atol=1e-9):
                return f"column {gc} values differ"
        elif not (a.astype(str) == b.astype(str)).all():
            return f"column {gc} values differ"
    return None
