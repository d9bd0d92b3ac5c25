from __future__ import annotations

import pandas as pd
import pytest

from turboxsl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("turboxsl-tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture
def py4j_calls(monkeypatch):
    """A one-item list counting the Py4J method-call commands (``c\n``)
    the driver sends while the test runs; set ``[0] = 0`` to restart.
    A plan build runs on the driver while every core waits, so the
    budget tests cap this count per build."""
    from py4j.clientserver import ClientServerConnection

    calls = [0]
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        calls[0] += command.startswith("c\n")
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    return calls


def assert_frames_match(
    spark_pdf: pd.DataFrame,
    ref_pdf: pd.DataFrame,
    keys: list[str],
    float_cols: list[str] = (),
    rtol: float = 1e-9,
):
    """Order-insensitive comparison under a stable key sort.

    Strings/ints must be exactly equal; floats numpy-allclose
    (the golden protocol of FIXTURES.md §1).
    """
    import numpy as np

    a = spark_pdf.sort_values(keys, kind="mergesort").reset_index(drop=True)
    b = ref_pdf.sort_values(keys, kind="mergesort").reset_index(drop=True)
    assert len(a) == len(b), f"row count {len(a)} != {len(b)}"
    common = [c for c in a.columns if c in b.columns]
    for c in common:
        av, bv = a[c], b[c]
        if c in float_cols:
            an = av.astype("float64").to_numpy()
            bn = bv.astype("float64").to_numpy()
            both_nan = np.isnan(an) & np.isnan(bn)
            ok = np.isclose(an, bn, rtol=rtol, equal_nan=True) | both_nan
            assert ok.all(), f"float mismatch in {c}: {a[~ok][[*keys, c]].head()}"
        else:
            an = av.astype(object).where(pd.notna(av), None).to_numpy(dtype=object)
            bn = bv.astype(object).where(pd.notna(bv), None).to_numpy(dtype=object)
            neq = an != bn
            if neq.any():
                idx = neq.argmax()
                raise AssertionError(
                    f"mismatch in {c} at row {idx}: spark={an[idx]!r} ref={bn[idx]!r} "
                    f"key={a.loc[idx, keys].tolist()}"
                )
