"""2-D least-squares phase unwrap (operators/unwrap2d.py) — the engine form
of the reference's external-snaphu step (covsar/unwrap.py). Invariants:

- the FFT Poisson solver exactly inverts the mirror-BC 5-point Laplacian;
- residue-free planted surfaces are recovered EXACTLY up to the mean-zero
  gauge (the property the contract entries' exact SQL oracles rest on);
- the Laplacian identity lap(phi) == div(W(grad psi)) holds even WITH
  residues (the LS normal equations themselves);
- the tiled distributed form equals the single-solve form.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from covsar_spark.operators.unwrap2d import (
    _divergence,
    laplacian_neumann,
    ls_unwrap_grid,
    poisson_neumann,
    unwrap_2d,
    unwrap_2d_tiled,
    wrap_np,
)


def _planted(h: int, w: int, ax: float, ay: float, amp: float) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    return ax * xx + ay * yy + amp * np.sin(2 * math.pi * xx / w) * np.cos(
        2 * math.pi * yy / h
    )


def test_poisson_inverts_laplacian():
    rng = np.random.default_rng(7)
    phi = rng.standard_normal((23, 17))
    phi -= phi.mean()
    back = poisson_neumann(laplacian_neumann(phi))
    np.testing.assert_allclose(back, phi, atol=1e-10)


def test_residue_free_exact_recovery():
    true = _planted(40, 56, 0.9, -0.7, 1.3)
    got = ls_unwrap_grid(wrap_np(true))
    np.testing.assert_allclose(got, true - true.mean(), atol=1e-8)


def test_laplacian_identity_holds_with_residues():
    """A phase vortex makes the field non-unwrappable exactly; the LS
    solution still satisfies its normal equations lap(phi) = rho."""
    h, w = 32, 32
    yy, xx = np.mgrid[0:h, 0:w]
    vortex = np.arctan2(yy - h / 2 + 0.5, xx - w / 2 + 0.5)
    psi = wrap_np(vortex + 0.15 * xx)
    dx, dy = wrap_np(np.diff(psi, axis=1)), wrap_np(np.diff(psi, axis=0))
    rho = _divergence(dx, dy)
    phi = ls_unwrap_grid(psi)
    # rho sums to zero by construction, so the zero-mode projection in the
    # solver drops nothing and the identity is exact
    np.testing.assert_allclose(laplacian_neumann(phi), rho, atol=1e-9)
    assert np.isfinite(phi).all() and abs(phi.mean()) < 1e-9


def _raster_df(spark, specs):
    rows = []
    for name, (h, w, ax, ay, amp) in specs.items():
        true = _planted(h, w, ax, ay, amp)
        psi = wrap_np(true)
        for i in range(h):
            for j in range(w):
                rows.append((name, i, j, float(psi[i, j]), float(true[i, j])))
    pdf = pd.DataFrame(rows, columns=["source", "y", "x", "phase", "true"])
    return spark.createDataFrame(pdf), pdf


SPECS = {
    "r_a": (40, 40, 0.8, -0.6, 1.2),
    "r_b": (40, 40, -1.1, 0.4, 0.9),
}


def test_spark_single_matches_numpy_and_truth(spark):
    df, pdf = _raster_df(spark, SPECS)
    got = (
        unwrap_2d(df.select("source", "y", "x", "phase"), ["source"])
        .toPandas()
        .sort_values(["source", "y", "x"])
        .reset_index(drop=True)
    )
    for name in SPECS:
        g = got[got["source"] == name]
        t = pdf[pdf["source"] == name].sort_values(["y", "x"])
        true = t["true"].to_numpy()
        np.testing.assert_allclose(
            g["unwrapped"].to_numpy(), true - true.mean(), atol=1e-8
        )


@pytest.mark.parametrize("tile", [16, 40])
def test_spark_tiled_matches_single(spark, tile):
    """tile=16 → 3x3 tile grid per raster; tile=40 → single tile (the
    no-seam degenerate path)."""
    df, pdf = _raster_df(spark, SPECS)
    got = (
        unwrap_2d_tiled(df.select("source", "y", "x", "phase"), ["source"], tile=tile)
        .toPandas()
        .sort_values(["source", "y", "x"])
        .reset_index(drop=True)
    )
    for name in SPECS:
        g = got[got["source"] == name]
        t = pdf[pdf["source"] == name].sort_values(["y", "x"])
        true = t["true"].to_numpy()
        np.testing.assert_allclose(
            g["unwrapped"].to_numpy(), true - true.mean(), atol=1e-8
        )


def test_dense_grid_required(spark):
    pdf = pd.DataFrame(
        {"source": ["s"] * 3, "y": [0, 0, 1], "x": [0, 1, 1], "phase": [0.0, 0.1, 0.2]}
    )
    with pytest.raises(Exception, match="dense grid"):
        unwrap_2d(spark.createDataFrame(pdf), ["source"]).toPandas()


def test_masked_dense_parity():
    """With a full mask the weighted CG must reproduce the direct FFT
    solve (the preconditioner is then the exact inverse: one iteration)."""
    true = _planted(40, 56, 0.9, -0.7, 1.3)
    psi = wrap_np(true)
    from covsar_spark.operators.unwrap2d import masked_ls_unwrap_grid

    got = masked_ls_unwrap_grid(psi, np.ones_like(psi))
    np.testing.assert_allclose(got, ls_unwrap_grid(psi), atol=1e-10)


def test_masked_recovery_never_adjacent_holes():
    """Holes on even-even sites only (never adjacent -> observed region
    connected by construction, the contract fixture's rule): recovery is
    exact up to the observed-mean gauge."""
    from covsar_spark.operators.unwrap2d import masked_ls_unwrap_grid

    h, w = 48, 48
    true = _planted(h, w, 0.83, -0.61, 1.1)
    psi = wrap_np(true)
    rng = np.random.default_rng(3)
    m = np.ones((h, w))
    ee = np.zeros((h, w), dtype=bool)
    ee[::2, ::2] = True
    m[ee & (rng.random((h, w)) < 0.4)] = 0.0
    obs = m > 0
    phi = masked_ls_unwrap_grid(psi, m, tol=1e-12)
    np.testing.assert_allclose(
        phi[obs], true[obs] - true[obs].mean(), atol=1e-8
    )
    assert np.all(phi[~obs] == 0.0)


def test_masked_recovery_random_holes_main_component():
    """Unstructured 15% holes: recovery is exact on the dominant connected
    component up to ITS gauge (disconnected islands each carry an
    arbitrary constant - inherent to the estimator, not a solver error)."""
    from covsar_spark.operators.unwrap2d import masked_ls_unwrap_grid

    h, w = 48, 48
    true = _planted(h, w, 0.83, -0.61, 1.1)
    psi = wrap_np(true)
    rng = np.random.default_rng(42)
    m = (rng.random((h, w)) > 0.15).astype(float)
    phi = masked_ls_unwrap_grid(psi, m, tol=1e-12)

    lab = -np.ones((h, w), dtype=int)
    nl = 0
    for i in range(h):
        for j in range(w):
            if m[i, j] > 0 and lab[i, j] < 0:
                stack = [(i, j)]
                lab[i, j] = nl
                while stack:
                    a, b = stack.pop()
                    for da, db in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                        na, nb = a + da, b + db
                        if 0 <= na < h and 0 <= nb < w and m[na, nb] > 0 and lab[na, nb] < 0:
                            lab[na, nb] = nl
                            stack.append((na, nb))
                nl += 1
    sizes = np.bincount(lab[lab >= 0])
    main = lab == np.argmax(sizes)
    assert main.sum() > 0.95 * (m > 0).sum()
    err = phi[main] - true[main]
    err -= err.mean()
    np.testing.assert_allclose(err, 0.0, atol=1e-8)


def test_spark_masked_matches_truth(spark):
    """Spark masked form over sparse rows (holes = absent rows)."""
    from covsar_spark.operators.unwrap2d import unwrap_2d_masked

    df, pdf = _raster_df(spark, SPECS)
    rng = np.random.default_rng(11)
    keep = np.ones(len(pdf), dtype=bool)
    ee = (pdf["y"].to_numpy() % 2 == 0) & (pdf["x"].to_numpy() % 2 == 0)
    keep[ee & (rng.random(len(pdf)) < 0.4)] = False
    pdf_k = pdf[keep]
    df_k = spark.createDataFrame(pdf_k[["source", "y", "x", "phase"]])
    got = (
        unwrap_2d_masked(df_k, ["source"], tol=1e-12)
        .toPandas()
        .sort_values(["source", "y", "x"])
        .reset_index(drop=True)
    )
    assert len(got) == len(pdf_k)
    for name in SPECS:
        g = got[got["source"] == name]
        t = pdf_k[pdf_k["source"] == name].sort_values(["y", "x"])
        true = t["true"].to_numpy()
        np.testing.assert_allclose(
            g["unwrapped"].to_numpy(), true - true.mean(), atol=1e-8
        )


@pytest.mark.parametrize("tile", [16, 48])
def test_spark_tiled_masked_matches_single_and_truth(spark, tile):
    """masked=True tiled pipeline == single masked solve == closed form,
    on never-adjacent holes (per-tile regions and tile graph connected).
    tile=48 exercises the single-tile degenerate path under masking."""
    from covsar_spark.operators.unwrap2d import unwrap_2d_masked, unwrap_2d_tiled

    df, pdf = _raster_df(spark, SPECS)
    rng = np.random.default_rng(7)
    ee = (pdf["y"].to_numpy() % 2 == 0) & (pdf["x"].to_numpy() % 2 == 0)
    keep = ~(ee & (rng.random(len(pdf)) < 0.4))
    pdf_k = pdf[keep]
    df_k = spark.createDataFrame(pdf_k[["source", "y", "x", "phase"]])

    single = (
        unwrap_2d_masked(df_k, ["source"], tol=1e-12)
        .toPandas().sort_values(["source", "y", "x"]).reset_index(drop=True)
    )
    tiled = (
        unwrap_2d_tiled(df_k, ["source"], tile=tile, masked=True)
        .toPandas().sort_values(["source", "y", "x"]).reset_index(drop=True)
    )
    assert len(tiled) == len(pdf_k) == len(single)
    np.testing.assert_allclose(
        tiled["unwrapped"].to_numpy(), single["unwrapped"].to_numpy(), atol=1e-8
    )
    for name in SPECS:
        t = pdf_k[pdf_k["source"] == name].sort_values(["y", "x"])
        true = t["true"].to_numpy()
        got = tiled[tiled["source"] == name]["unwrapped"].to_numpy()
        np.testing.assert_allclose(got, true - true.mean(), atol=1e-8)


def test_masked_serpentine_corridor_converges_or_raises():
    """A width-1 serpentine corridor is the Poisson preconditioner's worst
    case (path graph, condition ~ length^2). With the default
    finite-termination iteration cap the solve must still be exact; with a
    deliberately starved cap it must RAISE rather than return a
    plausible-but-wrong surface (measured 1.9e-3 silent error before the
    guard)."""
    from covsar_spark.operators.unwrap2d import masked_ls_unwrap_grid

    h, w = 48, 48
    yy, xx = np.mgrid[0:h, 0:w]
    true = 0.5 * xx + 0.3 * yy
    psi = wrap_np(true)
    m = np.zeros((h, w))
    m[::2, :] = 1.0
    for i in range(1, h, 2):
        m[i, w - 1 if (i // 2) % 2 == 0 else 0] = 1.0
    obs = m > 0

    phi = masked_ls_unwrap_grid(psi, m, tol=1e-12)
    np.testing.assert_allclose(phi[obs], true[obs] - true[obs].mean(), atol=1e-8)

    with pytest.raises(ValueError, match="did not converge"):
        masked_ls_unwrap_grid(psi, m, tol=1e-12, maxiter=100)


def test_masked_benign_holes_iteration_bound():
    """Convergence-envelope contract for the BENIGN mask class (block holes
    separated by >=1 observed pixel, the decorrelated-pixel regime): the
    FFT-Poisson-preconditioned CG must converge to 1e-10 in tens of
    iterations, independent of hole fraction. The mask-study sweep
    (b011304:scripts/unwrap_mask_study.py, BENCH_SCALE_STUDY.json
    `masked_unwrap_convergence`) measured 20-25 iterations at 10-38% holes
    on 192x192; this pins a 3x-margin bound at 75 so a preconditioner
    regression fails loudly here rather than as a production ValueError."""
    from covsar_spark.operators.unwrap2d import masked_ls_unwrap_grid

    h, w = 96, 96
    yy, xx = np.mgrid[0:h, 0:w].astype(float)
    true = 0.35 * xx + 0.22 * yy + 4.0 * np.exp(
        -(((yy - h / 2) ** 2 + (xx - w / 3) ** 2) / (2 * (h / 6) ** 2))
    )
    psi = wrap_np(true)
    rng = np.random.default_rng(8)
    m = np.ones((h, w))
    blocked = np.zeros((h, w), bool)
    holes = 0
    attempts = 0
    while holes < int(0.3 * h * w) and attempts < 50_000:
        attempts += 1
        b = int(rng.integers(2, 5))
        y, x = int(rng.integers(1, h - b)), int(rng.integers(1, w - b))
        if blocked[y : y + b, x : x + b].any():
            continue
        m[y : y + b, x : x + b] = 0.0
        blocked[max(0, y - 1) : y + b + 1, max(0, x - 1) : x + b + 1] = True
        holes += b * b
    obs = m > 0
    assert 0.55 < obs.mean() < 0.95

    stats: dict = {}
    phi = masked_ls_unwrap_grid(psi, m, tol=1e-10, stats=stats)
    np.testing.assert_allclose(phi[obs], true[obs] - true[obs].mean(), atol=1e-7)
    assert stats["iterations"] <= 75, stats


def _np_residues(psi: np.ndarray) -> np.ndarray:
    """Loop-free numpy plaquette oracle for the Spark residue operator."""
    d01 = wrap_np(psi[:, 1:] - psi[:, :-1])     # (h, w-1)
    d10 = wrap_np(psi[1:, :] - psi[:-1, :])     # (h-1, w)
    loop = d01[:-1, :] + d10[:, 1:] - d01[1:, :] - d10[:, :-1]
    return np.rint(loop / (2 * math.pi)).astype(int)


def test_residues_zero_on_residue_free_and_pm1_on_vortex(spark):
    from covsar_spark.operators.unwrap2d import residue_counts, residues

    h, w = 32, 32
    yy, xx = np.mgrid[0:h, 0:w]
    smooth = 0.7 * xx - 0.4 * yy
    vortex = smooth + np.arctan2(yy - 15.5, xx - 15.5)
    rows = []
    for name, true in (("flat", smooth), ("vort", vortex)):
        psi = wrap_np(true)
        for i in range(h):
            for j in range(w):
                rows.append((name, i, j, float(psi[i, j])))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "y", "x", "phase"])
    )
    got = residues(df, ["source"]).toPandas()
    assert (got["source"] == "vort").all(), "residue-free raster must emit nothing"

    # charge map parity with the numpy plaquette oracle, coords included
    exp = _np_residues(wrap_np(vortex))
    nz = np.argwhere(exp != 0)
    got_v = got.sort_values(["y", "x"]).reset_index(drop=True)
    assert len(got_v) == len(nz)
    for (ey, ex), (_, r) in zip(nz.tolist(), got_v.iterrows()):
        assert (r["y"], r["x"], r["charge"]) == (ey, ex, exp[ey, ex])

    counts = residue_counts(df, ["source"]).toPandas()
    assert set(counts["source"]) == {"vort"}
    row = counts.iloc[0]
    assert row["n_pos"] + row["n_neg"] == len(nz)
    assert row["n_pos"] - row["n_neg"] == exp.sum()


@pytest.mark.parametrize("tile", [8, 16, 48])
def test_residues_tiled_matches_relational(spark, tile):
    """The tiled grouped-map plaquette pass (raster-scale form) must emit
    EXACTLY the relational form's charge map — including plaquettes that
    straddle tile seams (the halo routing under test) and rasters with
    holes (absent rows drop straddled plaquettes in both forms)."""
    from covsar_spark.operators.unwrap2d import residues, residues_tiled

    h, w = 32, 48
    yy, xx = np.mgrid[0:h, 0:w]
    vortex = (
        0.7 * xx
        - 0.4 * yy
        + np.arctan2(yy - 15.5, xx - 16.5)   # center ON a tile-8 seam col
        + np.arctan2(yy - 7.5, xx - 39.5)
    )
    rows = []
    rng = np.random.default_rng(11)
    holes = set(map(tuple, rng.integers(0, (h, w), size=(40, 2)).tolist()))
    psi = wrap_np(vortex)
    for i in range(h):
        for j in range(w):
            if (i, j) in holes:
                continue
            rows.append(("r", i, j, float(psi[i, j])))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["source", "y", "x", "phase"]))
    rel = residues(df, ["source"]).toPandas().sort_values(["y", "x"]).reset_index(drop=True)
    til = (
        residues_tiled(df, ["source"], tile)
        .toPandas()
        .sort_values(["y", "x"])
        .reset_index(drop=True)
    )
    assert len(rel) > 0
    pd.testing.assert_frame_equal(rel, til, check_dtype=False)


def test_tiled_unwrap_negative_origin(spark):
    """A raster whose (y, x) origin is negative yields negative tile ids;
    solve_offsets must normalize them (round-7 advice: numpy negative
    indexing silently wrote the per-tile constants into the wrong cells)."""
    true = _planted(40, 40, 0.8, -0.6, 1.2)
    psi = wrap_np(true)
    rows = [
        ("neg", i - 24, j - 17, float(psi[i, j]), float(true[i, j]))
        for i in range(40)
        for j in range(40)
    ]
    pdf = pd.DataFrame(rows, columns=["source", "y", "x", "phase", "true"])
    df = spark.createDataFrame(pdf)
    got = (
        unwrap_2d_tiled(df.select("source", "y", "x", "phase"), ["source"], tile=16)
        .toPandas()
        .sort_values(["y", "x"])
        .reset_index(drop=True)
    )
    t = pdf.sort_values(["y", "x"])
    true_v = t["true"].to_numpy()
    np.testing.assert_allclose(got["unwrapped"].to_numpy(), true_v - true_v.mean(), atol=1e-8)
