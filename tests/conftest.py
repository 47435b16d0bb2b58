from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from covsar_spark.datagen import apply_gaps, gen_tokens
from covsar_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("covsar_spark_tests", cores=len(os.sched_getaffinity(0)), shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tiny_cols():
    return gen_tokens(2000, seed=42)


@pytest.fixture(scope="session")
def tiny_gappy_cols():
    return apply_gaps(gen_tokens(2000, seed=42))


def cols_to_spark(spark, cols):
    """Columnar datagen dict -> Spark DataFrame via Arrow."""
    from covsar_spark.datagen import _to_arrow
    from covsar_spark.schemas import TOKENS_SCHEMA

    pdf = _to_arrow(cols).to_pandas()
    pdf["tokens"] = pdf["tokens"].map(lambda a: [int(x) for x in a])
    return spark.createDataFrame(pdf, schema=TOKENS_SCHEMA)


def assert_frames_equal(actual: pd.DataFrame, expected: pd.DataFrame, keys: list[str], exact_cols=None, float_cols=()):
    """Order-insensitive exact comparison keyed on `keys`."""
    a = actual.sort_values(keys, kind="mergesort").reset_index(drop=True)
    e = expected.sort_values(keys, kind="mergesort").reset_index(drop=True)
    assert len(a) == len(e), f"row count {len(a)} != {len(e)}"
    cols = exact_cols if exact_cols is not None else [c for c in e.columns if c not in float_cols]
    for c in cols:
        av, ev = a[c].to_numpy(), e[c].to_numpy()
        if av.dtype.kind == "f" or ev.dtype.kind == "f":
            ok = (av == ev) | (pd.isna(av) & pd.isna(ev))
        else:
            ok = (av == ev) | (pd.isna(av) & pd.isna(ev))
        assert ok.all(), f"column {c} mismatch at rows {np.nonzero(~ok)[0][:5]}: {av[~ok][:3]} vs {ev[~ok][:3]}"
    for c in float_cols:
        av, ev = a[c].to_numpy(np.float64), e[c].to_numpy(np.float64)
        assert np.allclose(av, ev, rtol=1e-12, atol=1e-12, equal_nan=True), f"float column {c} mismatch"
