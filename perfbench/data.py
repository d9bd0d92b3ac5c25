"""Seeded benchmark inputs, cached on disk by (seed, size).

Both workloads read the ``sources.transcripts`` generator's table; the
``asof_write`` table additionally re-keys about a quarter of the turns
onto one planted giant conversation, so the as-of stage has one key
that is far larger than any task's fair share.

Generation runs before any timed region and is reported on its own
(``gen_s``), never inside ``setup_s``: generating is seconds of numpy
string work per run that would otherwise make set-up bimodal between
cache hits and misses.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

GIANT_CONV = "c_giant"
GIANT_FRAC = 0.25
MEGA_FRAC = 0.005


def table_path(cache_dir: str, kind: str, seed: int, n_turns: int) -> str:
    return os.path.join(cache_dir, f"{kind}-s{seed}-t{n_turns}")


def plant_giant(pdf: pd.DataFrame, seed: int, frac: float = GIANT_FRAC) -> pd.DataFrame:
    """Move a seeded ``frac`` of the turns onto one conversation.

    The moved turns are renumbered in ``(ts, conv_id, turn_idx)`` order,
    so ``(conv_id, turn_idx)`` stays a unique row key.
    """
    rng = np.random.default_rng([seed, 1])
    moved = rng.random(len(pdf)) < frac
    giant = pdf[moved].sort_values(["ts", "conv_id", "turn_idx"], kind="mergesort")
    giant = giant.assign(
        conv_id=GIANT_CONV, turn_idx=np.arange(len(giant), dtype="int32")
    )
    return pd.concat([pdf[~moved], giant], ignore_index=True)


def make_table(kind: str, seed: int, n_turns: int) -> pd.DataFrame:
    """The first ``n_turns`` turns of the seeded transcript table.

    A fixed turn count keeps every seed's run the same size: the table's
    total otherwise swings by a fifth between seeds with the number of
    mega conversations. The cut may end the last conversation early,
    which leaves a valid, shorter transcript.
    """
    from turboxsl_spark.sources.transcripts import gen_transcripts_pdf

    n_convs = max(n_turns // 50, 4)  # ~63 turns per conversation on average
    while True:
        pdf = gen_transcripts_pdf(n_convs=n_convs, seed=seed, mega_frac=MEGA_FRAC)
        if len(pdf) >= n_turns:
            break
        n_convs *= 2
    pdf = pdf.iloc[:n_turns]
    if kind == "skewed":
        pdf = plant_giant(pdf, seed)
    return pdf


def ensure_table(cache_dir: str, kind: str, seed: int, n_turns: int, n_files: int) -> tuple[str, bool]:
    """Write the table as ``n_files`` parquet files once; return (dir, was_cached).

    The ``_DONE`` marker is written last, so an interrupted generation
    is redone rather than read half-written.
    """
    path = table_path(cache_dir, kind, seed, n_turns)
    if os.path.exists(os.path.join(path, "_DONE")):
        return path, True
    os.makedirs(path, exist_ok=True)
    pdf = make_table(kind, seed, n_turns)
    bounds = np.linspace(0, len(pdf), n_files + 1).astype(int)
    for i in range(n_files):
        pdf.iloc[bounds[i] : bounds[i + 1]].to_parquet(
            os.path.join(path, f"part-{i:04d}.parquet"), index=False
        )
    open(os.path.join(path, "_DONE"), "w").close()
    return path, False


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 2**20
