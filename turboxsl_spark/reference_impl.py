"""Single-node pandas reference — the golden oracle for parity tests.

Plays the role of the reference repo's ``.out`` golden files
(``/root/reference/tests/general``): an independent, simple,
obviously-correct implementation of the same feature semantics.
Spark output must be numpy-allclose (floats) / exactly equal
(ints & strings) at every (conv_id, turn_idx).

Deliberately written with plain pandas groupby/apply — clarity over
speed; it only ever runs at test scale.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd


def _norm_space(s: str) -> str:
    return re.sub(r"\s+", " ", s).strip()


def reference_features(
    pdf: pd.DataFrame,
    session_timeout_s: int = 1800,
    template: str = "[{role}#{position}] {text_norm}",
) -> pd.DataFrame:
    """Compute the flagship feature surface on a single node."""
    df = pdf.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").copy()

    df["text_norm"] = df["text"].map(_norm_space)
    df["text_len"] = df["text_norm"].str.len().astype("int64")
    df["n_tokens"] = df["text_norm"].map(lambda s: 0 if s == "" else len(s.split(" ")))

    g = df.groupby("conv_id", sort=False)
    df["position"] = g.cumcount() + 1

    for c in ("role", "text_len"):
        for k in (1, 2):
            df[f"{c}_lag{k}"] = g[c].shift(k)

    micros = df["ts"].astype("datetime64[ns]").astype("int64") // 1000
    df["gap_s"] = (micros - micros.groupby(df["conv_id"]).shift(1)) / 1e6
    new_sess = (df["gap_s"] > session_timeout_s).fillna(False).astype("int64")
    df["session_id"] = new_sess.groupby(df["conv_id"]).cumsum().astype("int32")

    df["tool_ffill"] = g["tool"].ffill()

    df["turns_so_far"] = df["position"]
    df["chars_so_far"] = g["text_len"].cumsum()

    df["rendered"] = [
        template.format(role=r, position=p, text_norm=t)
        for r, p, t in zip(df["role"], df["position"], df["text_norm"])
    ]
    df["digest"] = [
        hashlib.md5(f"{c}{i}{r}".encode()).hexdigest()
        for c, i, r in zip(df["conv_id"], df["turn_idx"], df["rendered"])
    ]
    return df


def reference_asof(
    spine: pd.DataFrame,
    facts: pd.DataFrame,
    on: str,
    ts_col: str,
    value_cols: list[str],
    strict: bool = False,
    seq_col: str | None = None,
    direction: str = "backward",
) -> pd.DataFrame:
    """O(n·m) per-key as-of oracle: latest fact at/before each spine ts
    (``backward``) or earliest fact at/after it (``forward``)."""
    out = spine.copy().reset_index(drop=True)
    for c in value_cols:
        out[f"{c}_asof"] = None
    out["ts_fact_asof"] = pd.NaT
    fac = facts.sort_values(
        [on, ts_col] + ([seq_col] if seq_col else []), kind="mergesort"
    )
    grouped = {k: v for k, v in fac.groupby(on, sort=False)}
    for i, row in out.iterrows():
        g = grouped.get(row[on])
        if g is None:
            continue
        if direction == "backward":
            mask = g[ts_col] < row[ts_col] if strict else g[ts_col] <= row[ts_col]
        else:
            mask = g[ts_col] > row[ts_col] if strict else g[ts_col] >= row[ts_col]
        sub = g[mask]
        if len(sub) == 0:
            continue
        picked = sub.iloc[-1] if direction == "backward" else sub.iloc[0]
        for c in value_cols:
            out.at[i, f"{c}_asof"] = picked[c]
        out.at[i, "ts_fact_asof"] = picked[ts_col]
    return out


def reference_response_latency(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-conversation user→assistant response latency: ``n_turns``,
    ``n_responses`` and the mean, median and max seconds from a
    ``user`` turn to the ``assistant`` turn right after it, in
    ``(ts, turn_idx)`` order (NaN when a conversation has none)."""
    out = []
    for conv_id, g in pdf.groupby("conv_id", sort=True):
        g = g.sort_values(["ts", "turn_idx"], kind="mergesort")
        # difference integer microseconds, then divide once, as the
        # Spark gap does: exact int64 subtraction, one rounding
        us = g["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        role = g["role"].to_numpy()
        lat = (us[1:] - us[:-1]) / 1e6
        resp = lat[(role[1:] == "assistant") & (role[:-1] == "user")]
        has = len(resp) > 0
        out.append(
            {
                "conv_id": conv_id,
                "n_turns": len(g),
                "n_responses": len(resp),
                "mean_response_s": float(np.mean(resp)) if has else np.nan,
                "p50_response_s": float(np.median(resp)) if has else np.nan,
                "max_response_s": float(np.max(resp)) if has else np.nan,
            }
        )
    return pd.DataFrame(out)
