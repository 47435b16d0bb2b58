"""Property-based invariants (hypothesis) over the pure kernels — the
formalization of the reference's simulation-as-oracle methodology
(SURVEY.md §5): codec round-trips on arbitrary inputs, closure-inversion
consistency, rollup/cascade additivity, eigen-kernel invariants, chi2 CDF
shape. No Spark session needed — these pin the math the engine distributes."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from covsar_spark.functions.stats import chi2_cdf
from covsar_spark.operators.closure import design_matrix
from covsar_spark.operators.closure_correct import correct_span, min_norm_errors
from covsar_spark.operators.codecs import decode_dod, decode_xor, encode_dod, encode_xor
from covsar_spark.operators.eigen import lagcov_eig

finite_doubles = st.floats(
    allow_nan=False, allow_infinity=False, width=64, min_value=-1e12, max_value=1e12
)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300))
def test_dod_roundtrip_any_monotonic_timestamps(deltas):
    ts = np.cumsum(np.asarray(deltas, dtype=np.int64)) + 1_700_000_000
    blob = encode_dod(ts)
    np.testing.assert_array_equal(decode_dod(blob, len(ts)), ts)


@settings(max_examples=50, deadline=None)
@given(st.lists(finite_doubles, min_size=1, max_size=300))
def test_xor_roundtrip_any_doubles(vals):
    v = np.asarray(vals, dtype=np.float64)
    blob = encode_xor(v)
    out = decode_xor(blob, len(v))
    # bit-exact round trip (including -0.0)
    np.testing.assert_array_equal(out.view(np.uint64), v.view(np.uint64))


def test_xor_roundtrip_special_bit_patterns():
    v = np.array([0.0, -0.0, np.inf, -np.inf, np.nan, 1e-308, -1e308])
    out = decode_xor(encode_xor(v), len(v))
    np.testing.assert_array_equal(out.view(np.uint64), v.view(np.uint64))


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=3, max_value=12),
    st.integers(min_value=0, max_value=2**31),
)
def test_inversion_reproduces_closures(n, seed):
    """A e == A phi for the least-norm inversion e (the closure identity the
    reference hand-checks at covsar/least_norm.py:23-27), and the residual
    phi - e is consistent (all its closures vanish)."""
    A, _, _ = design_matrix(n)
    phi = np.random.default_rng(seed).normal(0, 3, A.shape[1])
    e = min_norm_errors(phi, n)
    np.testing.assert_allclose(A @ e, A @ phi, atol=1e-9)
    np.testing.assert_allclose(A @ (phi - e), 0.0, atol=1e-9)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10**6), min_size=3, max_size=20),
)
def test_correct_span_invariants(vals):
    res = correct_span(np.asarray(vals, dtype=np.float64))
    n = res["n_epochs"]
    A, _, _ = design_matrix(n)
    # corrected pairs = pairs minus errors, elementwise
    np.testing.assert_allclose(res["phi_corr"], res["phi"] - res["phi_err"], atol=0)
    # fit quality bounded
    assert -1.0 - 1e-12 <= res["r"] <= 1.0 + 1e-12
    assert res["rmse"] >= 0 and res["drift_rms"] >= 0
    assert 0.0 <= res["pval"] <= 1.0
    # the correction lies in the row space of A: its null-space component
    # vanishes (theta-projection of phi_err is phi_err itself)
    e = res["phi_err"]
    np.testing.assert_allclose(min_norm_errors(e, n), e, atol=1e-9)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=64),
)
def test_lagcov_eig_invariants(vals):
    x = np.asarray(vals, dtype=np.float64)
    lam, tc, v = lagcov_eig(x)
    assert lam >= -1e-9
    assert -1e-12 <= tc <= 1.0 + 1e-12
    if len(v):
        np.testing.assert_allclose(np.linalg.norm(v), 1.0, atol=1e-9)
        nz = np.nonzero(np.abs(v) > 1e-12)[0]
        if nz.size:
            assert v[nz[0]] > 0  # gauge: first non-tiny element positive


def test_lagcov_eig_rank_one_recovers_direction():
    # reference fact (covsar/closure_inten.py:591-595): the dominant eigvec
    # of v v^T is v (up to gauge) — plant a constant series: Gram is rank-1
    x = np.full(32, 7.0)
    lam, tc, v = lagcov_eig(x)
    assert tc > 0.999
    np.testing.assert_allclose(v, np.full(len(v), 1.0 / np.sqrt(len(v))), atol=1e-9)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=86400 * 3 - 1),  # epoch offset
            st.integers(min_value=1, max_value=1000),  # n_tok
            st.integers(min_value=0, max_value=3),  # source id
        ),
        min_size=1,
        max_size=200,
    )
)
def test_rollup_cascade_additivity(rows):
    """1m -> 1h cascade equals a direct 1h rollup exactly (integral sums) —
    the relook re-aggregation law (covsar/covariance.py:48-61)."""
    import pandas as pd

    from covsar_spark.oracle import cascade, rollup

    df = pd.DataFrame(
        {
            "doc_id": [f"d{i}" for i in range(len(rows))],
            "n_tok": [r[1] for r in rows],
            "source": [f"s{r[2]}" for r in rows],
            "epoch_s": [1_700_000_000 + r[0] for r in rows],
        }
    )
    m1 = rollup(df, "1m")
    via_cascade = cascade(m1, "1h").set_index(["source", "epoch_s"])
    direct = rollup(df, "1h").set_index(["source", "epoch_s"])
    assert via_cascade["token_count"].equals(direct["token_count"])
    assert via_cascade["n_docs"].equals(direct["n_docs"])
    assert via_cascade["max_tok"].equals(direct["max_tok"])


@settings(max_examples=40, deadline=None)
@given(st.floats(min_value=0.01, max_value=500.0), st.integers(min_value=1, max_value=80))
def test_chi2_cdf_shape(x, k):
    c = float(chi2_cdf(x, k))
    assert 0.0 <= c <= 1.0
    # monotone in x, anti-monotone in dof
    assert float(chi2_cdf(x * 1.5, k)) >= c - 1e-12
    assert float(chi2_cdf(x, k + 2)) <= c + 1e-12


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=2, max_value=10),
    st.integers(min_value=0, max_value=2**31),
)
def test_emi_invariants(p, seed):
    """EMI linker invariants on arbitrary PSD Grams: unit-norm eigenvector,
    gauge-positive first significant element, lam_min real and ~>= its
    theoretical floor 0 for PSD-weighted forms, and EXACT bottom-eigenpair
    residual of |C|^-1 ∘ C."""
    from covsar_spark.operators.eigen import emi_link

    rng = np.random.default_rng(seed)
    X = rng.normal(0, 1, (p, 4 * p))
    G = X @ X.T / (4 * p)
    lam, tc, v = emi_link(G)
    assert abs(np.linalg.norm(v) - 1.0) < 1e-9
    nz = np.nonzero(np.abs(v) > 1e-12)[0]
    if nz.size:
        assert v[nz[0]] > 0
    assert 0.0 <= tc <= 1.0 + 1e-9
    d = np.sqrt(np.diag(G))
    C = G / np.outer(d, d)
    M = np.linalg.inv(np.abs(C)) * C
    w = np.linalg.eigvalsh(M)
    assert abs(lam - w[0]) < 1e-6 * max(1.0, abs(w[0]))


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=2, max_value=60),
    st.integers(min_value=0, max_value=10**6),
    st.floats(min_value=-1.9, max_value=1.9, allow_nan=False),
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
)
def test_nlfit_batch_equals_loop_any_input(n, seed, s_true, sigma):
    """nl_fit_stack on arbitrary simulated inputs always equals the direct
    per-series transcription of the reference equations (grid argmin + GN
    with J = x), including non-convergent and wrapped regimes."""
    from covsar_spark.operators.nlfit import nl_fit_stack, nl_phase_fit

    rng = np.random.default_rng(seed)
    x = rng.normal(0, 2, n)
    ph = np.exp(1j * (x * s_true + rng.normal(0, sigma, n)))
    sg_b, sf_b, ni_b, rl_b = nl_fit_stack(ph[None, :], x[None, :])
    # independent scalar re-derivation of the same equations
    grid = np.linspace(-2.0, 2.0, 5)
    l1 = [np.abs(np.angle(np.exp(1j * g * x) * np.conj(ph))).sum() for g in grid]
    m = grid[int(np.argmin(l1))]
    assert sg_b[0] == m
    xx = float(x @ x)
    if xx > 1e-12:
        for _ in range(50):
            r = np.angle(np.exp(1j * m * x) * np.conj(ph))
            m_new = m - float(x @ r) / xx
            conv = abs(m_new) > 1e-12 and abs((m_new - m) / m_new) < 1e-3
            m = m_new
            if conv:
                break
    np.testing.assert_allclose(sf_b[0], m, rtol=0, atol=1e-12)
    sg1, sf1, ni1, rl1 = nl_phase_fit(ph, x)
    assert (sg1, sf1, ni1, rl1) == (sg_b[0], sf_b[0], ni_b[0], rl_b[0])


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=0, max_value=10**6),
)
def test_resize_ppm_equals_loop_any_dims(w, h, ow, oh, seed):
    """Vectorized reduceat resample == per-pixel loop for ANY in/out dims
    (down, up, mixed, degenerate 1-pixel axes)."""
    from covsar_spark.operators.multimodal import decode_ppm, resize_ppm

    rng = np.random.default_rng(seed)
    payload = b"P6\n%d %d\n255\n" % (w, h) + rng.integers(
        0, 256, w * h * 3, dtype=np.uint8
    ).tobytes()
    got = decode_ppm(resize_ppm(payload, ow, oh)).reshape(oh, ow, 3)
    pix = np.frombuffer(payload.split(b"\n", 3)[3], dtype=np.uint8, count=w * h * 3).reshape(h, w, 3)
    ys = (np.arange(oh + 1) * h) // oh
    xs = (np.arange(ow + 1) * w) // ow
    want = np.empty((oh, ow, 3), dtype=np.uint8)
    for oy in range(oh):
        y0, y1 = ys[oy], max(ys[oy + 1], ys[oy] + 1)
        for ox in range(ow):
            x0, x1 = xs[ox], max(xs[ox + 1], xs[ox] + 1)
            want[oy, ox] = pix[y0:y1, x0:x1].reshape(-1, 3).mean(axis=0).round()
    np.testing.assert_array_equal((got * 255).round().astype(np.uint8), want)


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=1, max_value=5),
    st.integers(min_value=0, max_value=10**6),
)
def test_y4m_roundtrip_any_geometry(half_w, n_frames, seed):
    """Y4M encode->decode recovers every planted luma byte for any even
    width/height and frame count."""
    from covsar_spark.operators.multimodal import decode_y4m

    rng = np.random.default_rng(seed)
    w, h = 2 * half_w, 2 * ((seed % 3) + 1)
    fb = w * h + 2 * ((w // 2) * (h // 2))
    frames = [rng.integers(0, 256, fb, dtype=np.uint8) for _ in range(n_frames)]
    payload = b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C420\n" % (w, h) + b"".join(
        b"FRAME\n" + f.tobytes() for f in frames
    )
    lum = decode_y4m(payload)
    want = np.concatenate([f[: w * h] for f in frames])
    np.testing.assert_array_equal((lum * 255).astype(np.uint8), want)


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=8, max_value=40),
    st.integers(min_value=8, max_value=40),
    st.floats(min_value=-0.9, max_value=0.9),
    st.floats(min_value=-0.9, max_value=0.9),
    st.floats(min_value=0.0, max_value=1.2),
)
def test_unwrap2d_recovers_any_residue_free_surface(h, w, ax, ay, amp):
    """ANY ramp+sinusoid surface with gradients < pi is residue-free, so
    the LS unwrap must recover it exactly up to the mean-zero gauge
    (|ramp| <= 0.9 and sinusoid slope 2*pi*amp/min(h,w) <= 0.95 keep every
    wrapped gradient identifiable)."""
    import math

    from covsar_spark.operators.unwrap2d import ls_unwrap_grid, wrap_np

    yy, xx = np.mgrid[0:h, 0:w]
    true = ax * xx + ay * yy + amp * np.sin(2 * math.pi * xx / w) * np.cos(
        2 * math.pi * yy / h
    )
    got = ls_unwrap_grid(wrap_np(true))
    np.testing.assert_allclose(got, true - true.mean(), atol=1e-7)


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=8, max_value=32),
    st.integers(min_value=8, max_value=32),
    st.floats(min_value=-0.9, max_value=0.9),
    st.floats(min_value=-0.9, max_value=0.9),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_unwrap2d_masked_recovers_with_never_adjacent_holes(h, w, ax, ay, seed):
    """Same exactness under 0/1 weights with holes restricted to even-even
    sites (never adjacent -> observed region connected for ANY hole draw),
    in the observed-mean gauge."""
    from covsar_spark.operators.unwrap2d import masked_ls_unwrap_grid, wrap_np

    yy, xx = np.mgrid[0:h, 0:w]
    true = ax * xx + ay * yy
    rng = np.random.default_rng(seed)
    m = np.ones((h, w))
    ee = np.zeros((h, w), dtype=bool)
    ee[::2, ::2] = True
    m[ee & (rng.random((h, w)) < 0.5)] = 0.0
    obs = m > 0
    phi = masked_ls_unwrap_grid(wrap_np(true), m, tol=1e-12)
    np.testing.assert_allclose(phi[obs], true[obs] - true[obs].mean(), atol=1e-7)


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=1, max_value=2**52))
def test_hdr_bucket_roundtrip_property(v):
    """HDR bucket invariants over the full integer range the sketch can
    see: lower(idx(v)) ≤ v < lower + max(1, lower/16) — the ≤1/16 relative
    quantile error bound follows directly."""
    from covsar_spark.operators.sketches import hdr_index_py, hdr_lower_py

    idx = hdr_index_py(v)
    lb = hdr_lower_py(idx)
    assert lb <= v < lb + max(1, lb // 16)


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=1, max_value=2**52 - 1))
def test_hdr_bucket_monotone_property(v):
    """Bucket index is monotone: idx(v) ≤ idx(v+1) — quantile picks can
    never invert neighboring values."""
    from covsar_spark.operators.sketches import hdr_index_py

    assert hdr_index_py(v) <= hdr_index_py(v + 1)


# --- LTTB kernel invariants (round 8) ---------------------------------------

_series = st.lists(
    st.tuples(st.integers(min_value=1, max_value=500),
              st.integers(min_value=-10_000, max_value=10_000)),
    min_size=4, max_size=300,
)


@settings(max_examples=60, deadline=None)
@given(_series, st.integers(min_value=3, max_value=60))
def test_lttb_structural_invariants(pairs, n_out):
    """For ANY integer series: the pick set keeps both endpoints, is
    strictly increasing (a subset in x-order), and has exactly
    min(n, n_out) members (all of them when no downsampling happens)."""
    from covsar_spark.operators.downsample import lttb_indices

    gaps, ys = zip(*pairs)
    x = np.cumsum(np.asarray(gaps, dtype=np.int64)) + 1_700_000_000
    y = np.asarray(ys, dtype=np.int64)
    idx = lttb_indices(x, y, n_out)
    assert idx[0] == 0 and idx[-1] == len(x) - 1
    assert (np.diff(idx) > 0).all()
    assert len(idx) == (len(x) if n_out >= len(x) or n_out < 3 else n_out)


@settings(max_examples=40, deadline=None)
@given(_series, st.integers(min_value=3, max_value=40),
       st.integers(min_value=-2**40, max_value=2**40),
       st.integers(min_value=-2**20, max_value=2**20))
def test_lttb_translation_invariance_any_shift(pairs, n_out, dx, dy):
    """Triangle areas are translation-invariant, and the integer path
    shifts by the first sample internally — picks must not move under ANY
    (x, y) translation (the float path can't promise this; the exact
    integer path must)."""
    from covsar_spark.operators.downsample import lttb_indices

    gaps, ys = zip(*pairs)
    x = np.cumsum(np.asarray(gaps, dtype=np.int64))
    y = np.asarray(ys, dtype=np.int64)
    base = lttb_indices(x, y, n_out)
    shifted = lttb_indices(x + np.int64(dx), y + np.int64(dy), n_out)
    assert list(base) == list(shifted)


@settings(max_examples=40, deadline=None)
@given(_series)
def test_heartbeat_sweep_is_interval_union_measure(pairs):
    """The ordered min(interval, gap) sweep == the measure of the union of
    [t, t+interval) segments clipped at the span end, for any beat train
    and a random-ish interval derived from the data."""
    gaps, _ = zip(*pairs)
    ts = np.cumsum(np.asarray(gaps, dtype=np.int64))
    interval = int(max(1, (ts[-1] - ts[0]) // max(len(ts) - 1, 1)))
    end = int(ts[-1]) + interval  # open span end beyond the last beat
    # sweep form (the operator's math, with window end := end)
    nxt = np.concatenate((ts[1:], [end]))
    swept = int(np.minimum(interval, nxt - ts).sum())
    # explicit merged-interval measure
    covered, lo, hi = 0, None, None
    for t in ts.tolist():
        a, b = t, min(t + interval, end)
        if hi is None or a > hi:
            if hi is not None:
                covered += hi - lo
            lo, hi = a, b
        else:
            hi = max(hi, b)
    covered += hi - lo
    assert swept == covered


_SPAN_TICKS = 5  # span = 5 tier steps: short spans, many span groups per frame
_PAYLOAD = [("token_count", "long", 0), ("max_tok", "int", np.nan), ("rate", "double", 0.0)]


def _prep_frame(sources, seed):
    """A sentinel ∪ observed-rows frame as the span-kernel skeleton receives
    it from Arrow: sorted (source, span_s, is_sentinel DESC, epoch_s), null
    longs as NaN. ``sources`` is [(start tick, [gap ticks before each
    observation])]; gaps longer than a span leave fully empty spans."""
    import pandas as pd

    tier_s, span = 60, 60 * _SPAN_TICKS
    rng = np.random.default_rng(seed)
    rows = []
    for s, (start, gaps) in enumerate(sources):
        ticks = start + np.cumsum(np.asarray(gaps) + 1)
        eps = ticks * tier_s
        lo, hi = int(eps[0]), int(eps[-1])
        for sp in range(lo // span * span, hi + 1, span):
            rows.append((f"s{s}", sp, True, sp, lo, hi, np.nan, np.nan, np.nan))
        for e in eps.tolist():
            mx = np.nan if rng.random() < 0.2 else float(rng.integers(1, 100))
            rows.append(
                (f"s{s}", e // span * span, False, e, np.nan, np.nan,
                 float(rng.integers(0, 1000)), mx, float(rng.normal()))
            )
    pdf = pd.DataFrame(
        rows,
        columns=["source", "span_s", "is_sentinel", "epoch_s", "lo", "hi",
                 "token_count", "max_tok", "rate"],
    )
    pdf = pdf.sort_values(
        ["source", "span_s", "is_sentinel", "epoch_s"],
        ascending=[True, True, False, True], kind="mergesort",
    ).reset_index(drop=True)
    return pdf, tier_s, span


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.lists(st.integers(min_value=0, max_value=3 * _SPAN_TICKS), min_size=1, max_size=25),
        ),
        min_size=1,
        max_size=3,
    ),
    st.lists(st.floats(min_value=0.0, max_value=1.0), max_size=10),
    st.integers(min_value=0, max_value=2**31),
)
def test_span_carry_loop_is_batch_boundary_invariant(sources, cuts, seed):
    """The skeleton's carry loop over a frame cut at arbitrary Arrow-batch
    boundaries (empty batches, span groups split mid-group) fills exactly
    what one call over the concatenated frame fills, and that fill is the
    dense [lo, hi] lattice per span: observed values verbatim, each column's
    gap value elsewhere, fully empty spans included."""
    from covsar_spark.operators.spanfill import fill_groups, span_batches

    pdf, tier_s, span = _prep_frame(sources, seed)
    bounds = sorted({0, len(pdf), *(int(c * len(pdf)) for c in cuts)})
    frames = [pdf.iloc[a:b] for a, b in zip(bounds[:-1], bounds[1:])]
    frames.insert(len(frames) // 2, pdf.iloc[:0])

    whole = fill_groups(pdf, tier_s, span, _PAYLOAD)
    keys, grids, values, observed = [], [], [[] for _ in _PAYLOAD], []
    for batch in span_batches(iter(frames)):
        k, g, v, o = fill_groups(batch, tier_s, span, _PAYLOAD)
        keys += k
        grids += g
        observed += o
        for out, col in zip(values, v):
            out += col
    assert keys == whole[0]
    for got, exp in zip([grids, observed, *values], [whole[1], whole[3], *whole[2]]):
        assert len(got) == len(exp)
        for a, b in zip(got, exp):
            assert a.dtype == b.dtype
            np.testing.assert_array_equal(a, b)

    # independent oracle: every span on the grid, every observation placed
    data = pdf[~pdf["is_sentinel"]]
    obs = {(s, e): i for i, (s, e) in enumerate(zip(data["source"], data["epoch_s"]))}
    n_spans = 0
    for (src, sp), grid, mask, *cols in zip(keys, grids, observed, *values):
        n_spans += 1
        sent = pdf[pdf["is_sentinel"] & (pdf["source"] == src) & (pdf["span_s"] == sp)].iloc[0]
        g0, g1 = max(sp, int(sent["lo"])), min(sp + span, int(sent["hi"]) + tier_s)
        np.testing.assert_array_equal(grid, np.arange(g0, g1, tier_s))
        for pos, e in enumerate(grid.tolist()):
            i = obs.get((src, e))
            assert mask[pos] == (i is not None)
            for (name, _, gap), col in zip(_PAYLOAD, cols):
                want = gap if i is None else data[name].iloc[i]
                np.testing.assert_equal(col[pos], want)
    assert n_spans == int(pdf["is_sentinel"].sum())
    assert sum(int(m.sum()) for m in observed) == len(data)
