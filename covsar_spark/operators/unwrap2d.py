"""2-D spatial phase unwrapping — the engine-native form of the reference's
snaphu step (covsar/unwrap.py, covsar/unwrap_all.py: a CLI wrapper around the
external snaphu binary, env-gated in this sandbox like geocoding).

Instead of shelling out, this implements the classic unweighted LEAST-SQUARES
unwrap (Ghiglia & Romero, JOSA A 11(1), 1994): the unwrapped surface phi
minimizes sum |grad(phi) - W(grad(psi))|^2, i.e. solves the discrete Poisson
equation lap(phi) = div(W(grad(psi))) under Neumann (mirror) boundary
conditions. The solve is a fast transform: the mirror-BC Laplacian
diagonalizes in the DCT basis, realized here as an FFT over the half-sample
even extension (numpy-only; no scipy in this image). On residue-free fields
(every wrapped gradient equals the true gradient) the recovery is EXACT up
to a global constant — which is what makes an exact SQL oracle possible for
the contract entries (the oracle replays the closed-form planted surface).

Scale design (the snaphu-tiling analogue, distributed relationally): rasters
are cut into TILE x TILE blocks, each block LS-unwrapped independently in
`applyInPandas` (state = one tile, bounded); per-tile integer-free constants
are reconciled by a second, MUCH smaller Poisson solve on the tile-adjacency
grid whose divergence is the per-seam mean mismatch — the normal equations
of min sum_edges (c_B - c_A - o_AB)^2 ARE the tile-grid Laplacian. Pixels
never shuffle beyond their tile; only 1-pixel seam strips join across tiles;
the offset field is O(n_tiles) per raster. At a 10^5 x 10^5 raster with 4096
-pixel tiles that is ~600 offset rows per raster against 10^10 pixels.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.complexmath import wrap_phase

TWO_PI = 2.0 * math.pi


def wrap_np(a: np.ndarray) -> np.ndarray:
    """Wrap to [-pi, pi) — numpy twin of functions.complexmath.wrap_phase."""
    return np.mod(a + math.pi, TWO_PI) - math.pi


def poisson_neumann(rho: np.ndarray) -> np.ndarray:
    """Solve lap(phi) = rho for the 5-point mirror-BC (Neumann) Laplacian on
    an (H, W) grid, mean-zero solution. Half-sample even extension to
    (2H, 2W) turns the mirror BC into periodicity, where the Laplacian is
    diagonal under FFT with eigenvalues 2cos(pi k/H) + 2cos(pi l/W) - 4."""
    h, w = rho.shape
    ext = np.block([[rho, rho[:, ::-1]], [rho[::-1, :], rho[::-1, ::-1]]])
    f = np.fft.fft2(ext)
    lam = (
        2.0 * np.cos(math.pi * np.arange(2 * h) / h)[:, None]
        + 2.0 * np.cos(math.pi * np.arange(2 * w) / w)[None, :]
        - 4.0
    )
    lam[0, 0] = 1.0  # zero mode: fixed below by mean-centering
    f = f / lam
    f[0, 0] = 0.0
    phi = np.real(np.fft.ifft2(f))[:h, :w]
    return phi - phi.mean()


def laplacian_neumann(phi: np.ndarray) -> np.ndarray:
    """The forward operator poisson_neumann inverts (test invariant)."""
    dx = np.diff(phi, axis=1)
    dy = np.diff(phi, axis=0)
    return _divergence(dx, dy)


def _divergence(dx: np.ndarray, dy: np.ndarray) -> np.ndarray:
    """div of edge fields with implicit zero flux at the boundary (the
    Neumann form of Ghiglia & Romero's rho)."""
    h = dy.shape[0] + 1 if dy.size else dx.shape[0]
    w = dx.shape[1] + 1 if dx.size else dy.shape[1]
    rho = np.zeros((h, w))
    rho[:, :-1] += dx
    rho[:, 1:] -= dx
    rho[:-1, :] += dy
    rho[1:, :] -= dy
    return rho


def ls_unwrap_grid(psi: np.ndarray) -> np.ndarray:
    """Least-squares unwrap one dense (H, W) wrapped-phase grid; mean-zero
    output. Exact (to FFT roundoff) up to the removed constant whenever the
    field has no residues; with residues it is the global L2-optimal
    surface (the documented LS semantics — snaphu's MCF instead optimizes
    L1/L0, a different estimator of the same quantity)."""
    dx = wrap_np(np.diff(psi, axis=1))
    dy = wrap_np(np.diff(psi, axis=0))
    return poisson_neumann(_divergence(dx, dy))


def masked_ls_unwrap_grid(
    psi: np.ndarray,
    w: np.ndarray,
    tol: float = 1e-10,
    maxiter: int | None = None,
    stats: dict | None = None,
) -> np.ndarray:
    """WEIGHTED least-squares unwrap (Ghiglia & Romero's weighted form) with
    0/1 weights: minimize sum w_edge |grad(phi) - W(grad(psi))|^2 where
    w_edge = w_i * w_j — the snaphu-coherence-mask analogue for rasters
    with decorrelated holes (`w=0`). Solved by preconditioned conjugate
    gradient on the OBSERVED subspace with the unweighted FFT Poisson
    solve as preconditioner (the paper's own recipe): hole entries are
    projected out of every search direction, so A restricted to the
    search space is positive-definite up to the constant mode, which the
    observed-mean-zero projection removes.

    On residue-free fields whose observed region is CONNECTED the true
    surface satisfies the weighted normal equations exactly, so CG
    converges to it up to the removed observed-mean (disconnected
    components each carry an arbitrary constant — caller's concern).
    Hole pixels are returned as 0.0 (no information; callers flag them).
    """
    wx = w[:, :-1] * w[:, 1:]
    wy = w[:-1, :] * w[1:, :]
    p0 = np.where(w > 0, psi, 0.0)
    obs = w > 0
    if not obs.any():
        return np.zeros_like(psi)
    gx = wx * wrap_np(np.diff(p0, axis=1))
    gy = wy * wrap_np(np.diff(p0, axis=0))
    return _weighted_poisson_cg(gx, gy, wx, wy, obs, tol=tol, maxiter=maxiter, stats=stats)


def _weighted_poisson_cg(
    gx: np.ndarray,
    gy: np.ndarray,
    wx: np.ndarray,
    wy: np.ndarray,
    obs: np.ndarray,
    tol: float = 1e-10,
    maxiter: int | None = None,
    stats: dict | None = None,
) -> np.ndarray:
    """Solve the edge-weighted least-squares problem min sum_edges
    |grad(phi) - g|^2 over node field phi, given ALREADY-WEIGHTED edge
    data (gx, gy) and 0/1 edge weights (wx, wy), restricted to `obs`
    nodes. Shared by the pixel-level masked unwrap (g = weighted wrapped
    gradients) and the masked tile-graph offset solve (g = weighted seam
    offsets). div(grad) is the NEGATIVE-definite Laplacian, so CG solves
    the sign-flipped A phi = b with A = -div(W grad) (PSD on the observed
    mean-zero subspace) preconditioned by -poisson (exact inverse at
    W = I, the Ghiglia & Romero recipe); non-observed entries are
    projected out of every search direction. Output is observed-mean
    -zero; non-observed entries are 0.0."""

    def project(v: np.ndarray) -> np.ndarray:
        v = np.where(obs, v, 0.0)
        return np.where(obs, v - v[obs].mean(), 0.0)

    def a_op(v: np.ndarray) -> np.ndarray:
        return -_divergence(wx * np.diff(v, axis=1), wy * np.diff(v, axis=0))

    def precond(v: np.ndarray) -> np.ndarray:
        return project(-poisson_neumann(v))

    b = project(-_divergence(gx, gy))
    phi = np.zeros(obs.shape)
    r = b.copy()
    b_norm = np.linalg.norm(b)
    if b_norm == 0.0:
        if stats is not None:
            stats.update(iterations=0, rel_residual=0.0)
        return phi
    if maxiter is None:
        # CG terminates in n_obs iterations in exact arithmetic; the slack
        # covers fp drift. Typical masks converge in tens of iterations —
        # the cap only binds pathological-but-connected masks (width-1
        # corridors etc., where the Poisson preconditioner is weakest).
        maxiter = int(obs.sum()) + 100
    z = precond(r)
    p = z
    rz = float((r * z).sum())
    iters = 0
    for _ in range(maxiter):
        iters += 1
        ap = a_op(p)
        pap = float((p * ap).sum())
        if pap <= 0.0:
            break
        alpha = rz / pap
        phi = phi + alpha * p
        r = r - alpha * ap
        if np.linalg.norm(r) <= tol * b_norm:
            break
        z = precond(r)
        rz_new = float((r * z).sum())
        p = z + (rz_new / rz) * p
        rz = rz_new
    if stats is not None:
        stats.update(iterations=iters, rel_residual=float(np.linalg.norm(r) / b_norm))
    # a silently-unconverged solve would return a plausible-but-wrong
    # surface (measured: 1.9e-3 error on a serpentine mask at 100 iters) —
    # fail loudly instead; the caller can widen tol or maxiter
    if np.linalg.norm(r) > max(tol, 1e-8) * b_norm * 10:
        raise ValueError(
            f"weighted-Poisson CG did not converge in {maxiter} iterations "
            f"(relative residual {np.linalg.norm(r) / b_norm:.2e}); raise "
            "maxiter or loosen tol"
        )
    return project(phi)


def _out_schema(df: DataFrame, part_cols: list[str], y: str, x: str, phase: str, out: str) -> T.StructType:
    fields = [df.schema[c] for c in part_cols]
    fields += [
        T.StructField(y, T.LongType(), False),
        T.StructField(x, T.LongType(), False),
        T.StructField(phase, T.DoubleType(), False),
        T.StructField(out, T.DoubleType(), False),
    ]
    return T.StructType(fields)


def _grid_from_pdf(pdf: pd.DataFrame, y: str, x: str, phase: str) -> tuple[np.ndarray, int, int]:
    """Pivot (y, x, phase) rows into a dense local grid (raster rows are
    required dense per tile — the raster data model, not sparse events)."""
    yy = pdf[y].to_numpy(dtype=np.int64)
    xx = pdf[x].to_numpy(dtype=np.int64)
    y0, x0 = yy.min(), xx.min()
    h = int(yy.max() - y0 + 1)
    w = int(xx.max() - x0 + 1)
    g = np.full((h, w), np.nan)
    g[yy - y0, xx - x0] = pdf[phase].to_numpy(dtype=np.float64)
    if np.isnan(g).any():
        raise ValueError(f"unwrap_2d requires a dense grid; tile at ({y0},{x0}) has holes")
    return g, int(y0), int(x0)


def _grouped_kernel(df: DataFrame, keys: list[str], fn, schema) -> DataFrame:
    """groupBy(keys).applyInPandas with the kernel exchange pinned at the
    configured shuffle-partition count: the explicit repartition satisfies
    the grouping's ClusteredDistribution (no second exchange) and is
    exempt from AQE coalescing — AQE sizes stages by shuffle BYTES and
    collapsed these pixel-kernel stages to one partition, serializing
    every tile/raster solve into a single task (same finding as
    operators/spanfill.sentinel_union_prep; AQE cannot see per-row Python CPU)."""
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return df.repartition(n_part, *keys).groupBy(*keys).applyInPandas(fn, schema)


def unwrap_2d(
    df: DataFrame,
    part_cols: list[str],
    y: str = "y",
    x: str = "x",
    phase: str = "phase",
    out: str = "unwrapped",
) -> DataFrame:
    """Single-solve form: one LS unwrap per partition key (one raster per
    `applyInPandas` group). Use for rasters that fit one task; the tiled
    form below is the raster-scale path."""
    schema = _out_schema(df, part_cols, y, x, phase, out)

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        g, y0, x0 = _grid_from_pdf(pdf, y, x, phase)
        phi = ls_unwrap_grid(g)
        h, w = g.shape
        res = {c: np.repeat(pdf[c].iloc[0], h * w) for c in part_cols}
        res[y] = (y0 + np.arange(h)).repeat(w)
        res[x] = np.tile(x0 + np.arange(w), h)
        res[phase] = g.ravel()
        res[out] = phi.ravel()
        return pd.DataFrame(res)

    return _grouped_kernel(df, part_cols, solve, schema)


def unwrap_2d_masked(
    df: DataFrame,
    part_cols: list[str],
    y: str = "y",
    x: str = "x",
    phase: str = "phase",
    out: str = "unwrapped",
    tol: float = 1e-10,
    maxiter: int | None = None,
) -> DataFrame:
    """Masked form: rasters with decorrelated holes, expressed relationally
    as ABSENT rows (the hole mask is simply which (y, x) cells exist —
    no sentinel values). One weighted-LS PCG solve per partition key;
    output carries exactly the input's observed cells with `out` in the
    observed-mean-zero gauge. This is the engine's answer to the
    coherence-masked snaphu call in the reference (covsar/unwrap.py
    passes a coherence file; snaphu masks low-coherence pixels)."""
    schema = _out_schema(df, part_cols, y, x, phase, out)

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        yy = pdf[y].to_numpy(dtype=np.int64)
        xx = pdf[x].to_numpy(dtype=np.int64)
        y0, x0 = int(yy.min()), int(xx.min())
        h = int(yy.max()) - y0 + 1
        w_ = int(xx.max()) - x0 + 1
        g = np.zeros((h, w_))
        m = np.zeros((h, w_))
        g[yy - y0, xx - x0] = pdf[phase].to_numpy(dtype=np.float64)
        m[yy - y0, xx - x0] = 1.0
        phi = masked_ls_unwrap_grid(g, m, tol=tol, maxiter=maxiter)
        res = {c: pdf[c].to_numpy() for c in part_cols}
        res[y] = yy
        res[x] = xx
        res[phase] = pdf[phase].to_numpy(dtype=np.float64)
        res[out] = phi[yy - y0, xx - x0]
        return pd.DataFrame(res)

    return _grouped_kernel(df, part_cols, solve, schema)


def unwrap_2d_tiled(
    df: DataFrame,
    part_cols: list[str],
    tile: int,
    y: str = "y",
    x: str = "x",
    phase: str = "phase",
    out: str = "unwrapped",
    persist: bool = True,
    masked: bool = False,
) -> DataFrame:
    """Tiled distributed form (snaphu `--tile` analogue). Three relational
    stages:

    1. per-(partition, tile) LS unwrap in `applyInPandas` — pixels stay in
       their tile, state is one TILE x TILE block;
    2. seam reconciliation: 1-pixel edge strips of adjacent tiles join on
       (partition, row|col); per-seam offset o_AB = mean(W(psi_B - psi_A)
       - (phi_B - phi_A)); the per-tile constants solve the tile-grid
       Poisson equation with divergence(o) as source (= the normal
       equations of the seam least squares) — a second, tiny
       `applyInPandas` over offset rows only;
    3. broadcast-join the O(n_tiles) constants back onto pixels and
       re-center per partition.

    On residue-free fields this equals `unwrap_2d` exactly (up to the
    shared mean-zero gauge) — pinned by tests/test_unwrap2d.py.

    With `masked=True` the same pipeline runs over rasters with
    decorrelated holes (absent rows): weighted per-tile solves, seam
    offsets averaged over observed-observed pairs only, and missing seams
    contributing no constraint to the offset graph (edge weight 0) rather
    than a spurious zero offset. Assumes each tile's observed region and
    the tile graph are connected (snaphu tile-mode's own assumption);
    disconnected components keep per-component gauge freedom."""
    ty, tx = "_ty", "_tx"
    tiled = df.withColumn(ty, F.floor(F.col(y) / tile).cast("long")).withColumn(
        tx, F.floor(F.col(x) / tile).cast("long")
    )
    if masked:
        # decorrelated holes = absent rows: per-tile WEIGHTED solves (each
        # tile's observed region assumed connected — the standard snaphu
        # tile-mode assumption; a fully-decorrelated tile simply has no
        # rows and its node drops out of the offset graph), and the seam
        # strips below are naturally sparse, so seam offsets average only
        # observed-observed pixel pairs. Seams with zero observed pairs
        # contribute NO constraint (edge weight 0 in the offset solve),
        # not a spurious o=0.
        stage1 = unwrap_2d_masked(
            tiled, part_cols + [ty, tx], y=y, x=x, phase=phase, out="_phi_t"
        )
    else:
        stage1 = unwrap_2d(tiled, part_cols + [ty, tx], y=y, x=x, phase=phase, out="_phi_t")
    if persist:
        # the tile-kernel output feeds four seam strips, the offset solve,
        # and the final re-join — without materialization the per-tile
        # unwrap runs ~6x (plan shows 6 FlatMapGroupsInPandas copies; the
        # exchange below it is ReusedExchange-shared but the kernel above
        # it is not). Cache lifetime is caller-owned, as with
        # plans/pipeline.flagship: the returned plan references it.
        stage1 = stage1.persist()

    def _seam(axis_col, other_col, flip_axis_col):
        """Mean per-seam mismatch between tile A and its +1 neighbor along
        `axis_col`; emitted keyed by BOTH tiles' ids. Both sides are
        PRE-FILTERED to their 1-pixel edge strips (2/tile of the pixels)
        and joined on explicit equality keys — the strip filters push to
        the scan and only strip rows ever shuffle (a full-table self-join
        with the strip condition inside the join predicate instead reads
        superlinear past ~100 tiles/raster; measured by
        b011304:scripts/unwrap_scale.py)."""
        # pmod, not %: Java % returns negative remainders for the negative
        # coordinates an arbitrary-origin raster produces, so the edge
        # strips would silently come up empty below y/x = 0
        a = stage1.filter(F.pmod(F.col(axis_col), F.lit(tile)) == tile - 1).select(
            *part_cols,
            F.col(other_col).alias("_k"),
            (F.col(axis_col) + 1).alias("_j"),
            F.col(phase).alias("_ph_a"),
            F.col("_phi_t").alias("_phi_a"),
            F.col(ty).alias("ty_a"),
            F.col(tx).alias("tx_a"),
        )
        # no `axis > 0` guard: with arbitrary origins the global edge is
        # not at 0; a first-row strip with no left/up neighbor simply
        # finds no partner in the inner join
        b = stage1.filter(F.pmod(F.col(axis_col), F.lit(tile)) == 0).select(
            *[F.col(c).alias(f"_b_{c}") for c in part_cols],
            F.col(other_col).alias("_bk"),
            F.col(axis_col).alias("_bj"),
            F.col(phase).alias("_ph_b"),
            F.col("_phi_t").alias("_phi_b"),
            F.col(ty).alias("ty_b"),
            F.col(tx).alias("tx_b"),
        )
        cond = (F.col("_k") == F.col("_bk")) & (F.col("_j") == F.col("_bj"))
        for c in part_cols:
            cond = cond & (F.col(c) == F.col(f"_b_{c}"))
        o = wrap_phase(F.col("_ph_b") - F.col("_ph_a")) - (
            F.col("_phi_b") - F.col("_phi_a")
        )
        return (
            a.join(b, cond)
            .groupBy(*part_cols, "ty_a", "tx_a", "ty_b", "tx_b")
            .agg(F.avg(o).alias("o"))
            .withColumn("axis", F.lit(flip_axis_col))
        )

    # horizontal seams: A's right edge meets B's left edge on the same row
    horiz = _seam(x, y, "x")
    vert = _seam(y, x, "y")
    edges = horiz.unionByName(vert)

    off_fields = [df.schema[c] for c in part_cols] + [
        T.StructField(ty, T.LongType(), False),
        T.StructField(tx, T.LongType(), False),
        T.StructField("_c", T.DoubleType(), False),
    ]

    def solve_offsets(pdf: pd.DataFrame) -> pd.DataFrame:
        # normalize tile ids by their per-raster minimum: a raster whose
        # (y, x) origin is negative yields negative floor-division tile
        # ids, which would otherwise wrap via numpy negative indexing into
        # the WRONG grid cells (round-7 advice). unwrap_2d itself already
        # handles arbitrary origins via y0/x0.
        ty0 = int(min(pdf["ty_a"].min(), pdf["ty_b"].min()))
        tx0 = int(min(pdf["tx_a"].min(), pdf["tx_b"].min()))
        nty = int(max(pdf["ty_a"].max(), pdf["ty_b"].max()) + 1 - ty0)
        ntx = int(max(pdf["tx_a"].max(), pdf["tx_b"].max()) + 1 - tx0)
        ox = np.zeros((nty, max(ntx - 1, 1)))
        oy = np.zeros((max(nty - 1, 1), ntx))
        wxg = np.zeros_like(ox)
        wyg = np.zeros_like(oy)
        node = np.zeros((nty, ntx), dtype=bool)
        for r in pdf.itertuples(index=False):
            ia, ja = int(r.ty_a) - ty0, int(r.tx_a) - tx0
            if r.axis == "x":
                ox[ia, ja] = r.o
                wxg[ia, ja] = 1.0
            else:
                oy[ia, ja] = r.o
                wyg[ia, ja] = 1.0
            node[ia, ja] = True
            node[int(r.ty_b) - ty0, int(r.tx_b) - tx0] = True
        if ntx == 1:
            ox = np.zeros((nty, 0))
            wxg = np.zeros_like(ox)
        if nty == 1:
            oy = np.zeros((0, ntx))
            wyg = np.zeros_like(oy)
        if masked:
            # missing seams carry NO constraint (weight 0), present seams
            # weight 1; tiles outside the edge graph are projected out
            c = _weighted_poisson_cg(ox, oy, wxg, wyg, node)
        else:
            c = poisson_neumann(_divergence(ox, oy))
        res = {col: np.repeat(pdf[col].iloc[0], nty * ntx) for col in part_cols}
        res[ty] = (ty0 + np.arange(nty, dtype=np.int64)).repeat(ntx)
        res[tx] = np.tile(tx0 + np.arange(ntx, dtype=np.int64), nty)
        res["_c"] = c.ravel()
        return pd.DataFrame(res)

    consts = edges.groupBy(*part_cols).applyInPandas(solve_offsets, T.StructType(off_fields))

    raw = (
        # left join: a raster smaller than one tile has no seams, hence no
        # offset rows — its single tile keeps offset 0
        stage1.join(F.broadcast(consts), part_cols + [ty, tx], "left")
        .withColumn("_raw", F.col("_phi_t") + F.coalesce(F.col("_c"), F.lit(0.0)))
    )
    # re-center to the mean-zero gauge via partial-aggregated means + a
    # broadcast join (O(n_rasters) rows): a whole-partition window here
    # would instead funnel every pixel of a raster through ONE task
    means = raw.groupBy(*part_cols).agg(F.avg("_raw").alias("_mu"))
    return (
        raw.join(F.broadcast(means), part_cols)
        .withColumn(out, F.col("_raw") - F.col("_mu"))
        .select(*part_cols, y, x, phase, out)
    )


def residues(
    df: DataFrame,
    part_cols: list[str],
    y: str = "y",
    x: str = "x",
    phase: str = "phase",
) -> DataFrame:
    """Residue map — the classic interferometric quality diagnostic (snaphu
    computes these to route its MCF solver; LS unwrapping is exact iff the
    count is zero). For every 2x2 plaquette, the closed loop of wrapped
    gradients sums to 2*pi*charge with charge in {-1, 0, +1}; emitted per
    plaquette (top-left corner coords) with nonzero charge only.

    Pure codegen: three explicit-key equi-joins on the (+1) shifted
    coordinates (same shape as the seam joins above — never a full
    cartesian), wrap algebra inline, no Python. Aggregate with
    `residue_counts` for the per-raster summary."""
    a = df.select(
        *part_cols,
        F.col(y).alias("_y"),
        F.col(x).alias("_x"),
        F.col(phase).alias("_p00"),
    )

    def shifted(dy: int, dx: int, out: str):
        return df.select(
            *[F.col(c).alias(f"_{out}_{c}") for c in part_cols],
            (F.col(y) - dy).alias(f"_{out}_y"),
            (F.col(x) - dx).alias(f"_{out}_x"),
            F.col(phase).alias(out),
        )

    j = a
    for dy, dx, out in ((0, 1, "_p01"), (1, 0, "_p10"), (1, 1, "_p11")):
        s = shifted(dy, dx, out)
        cond = (F.col("_y") == F.col(f"_{out}_y")) & (F.col("_x") == F.col(f"_{out}_x"))
        for c in part_cols:
            cond = cond & (F.col(c) == F.col(f"_{out}_{c}"))
        j = j.join(s, cond)
    loop = (
        wrap_phase(F.col("_p01") - F.col("_p00"))
        + wrap_phase(F.col("_p11") - F.col("_p01"))
        - wrap_phase(F.col("_p11") - F.col("_p10"))
        - wrap_phase(F.col("_p10") - F.col("_p00"))
    )
    return (
        j.select(
            *part_cols,
            F.col("_y").alias(y),
            F.col("_x").alias(x),
            F.round(loop / (2.0 * math.pi)).cast("int").alias("charge"),
        )
        .filter(F.col("charge") != 0)
    )


def residues_tiled(
    df: DataFrame,
    part_cols: list[str],
    tile: int,
    y: str = "y",
    x: str = "x",
    phase: str = "phase",
) -> DataFrame:
    """Tiled residue map — the raster-scale form of `residues` (round-7
    verdict: at a 1e5 x 1e5 raster the relational form's three shifted
    self-joins are 3 sort-merge joins + 4 scans of the biggest table in the
    system). Here each pixel routes to its home tile plus up to three
    1-pixel-halo copies (a pixel on a tile's first row/column also serves
    the plaquettes anchored in the previous tile), so ONE explode + ONE
    grouped-map pass computes every plaquette — same state bound as the
    tile unwrap (a TILE x TILE block), one shuffle, zero pixel self-joins.
    Duplication factor 1 + 2/tile + 1/tile^2. Charges match `residues`
    exactly (pinned by tests); rasters need not be hole-free — a plaquette
    with any absent corner is skipped, as in the relational form's inner
    joins."""
    tyc = F.floor(F.col(y) / tile).cast("long")
    txc = F.floor(F.col(x) / tile).cast("long")
    on_ty = F.pmod(F.col(y), F.lit(tile)) == 0
    on_tx = F.pmod(F.col(x), F.lit(tile)) == 0

    def _cand(dty: int, dtx: int, keep) -> F.Column:
        return F.struct(
            (tyc + dty).alias("_rty"), (txc + dtx).alias("_rtx"), keep.alias("_keep")
        )

    routed = (
        df.select(
            *part_cols,
            F.col(y).cast("long").alias(y),
            F.col(x).cast("long").alias(x),
            F.col(phase).alias(phase),
            F.explode(
                F.filter(
                    F.array(
                        _cand(0, 0, F.lit(True)),
                        _cand(-1, 0, on_ty),
                        _cand(0, -1, on_tx),
                        _cand(-1, -1, on_ty & on_tx),
                    ),
                    lambda s: s["_keep"],
                )
            ).alias("_t"),
        )
        .select(*part_cols, y, x, phase, "_t._rty", "_t._rtx")
    )

    out_fields = [df.schema[c] for c in part_cols] + [
        T.StructField(y, T.LongType(), False),
        T.StructField(x, T.LongType(), False),
        T.StructField("charge", T.IntegerType(), False),
    ]

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        rty, rtx = int(key[-2]), int(key[-1])
        yy = pdf[y].to_numpy(dtype=np.int64)
        xx = pdf[x].to_numpy(dtype=np.int64)
        y0, x0 = int(yy.min()), int(xx.min())
        h = int(yy.max()) - y0 + 1
        w = int(xx.max()) - x0 + 1
        g = np.zeros((h, w))
        m = np.zeros((h, w), dtype=bool)
        g[yy - y0, xx - x0] = pdf[phase].to_numpy(dtype=np.float64)
        m[yy - y0, xx - x0] = True
        loop = (
            wrap_np(g[:-1, 1:] - g[:-1, :-1])
            + wrap_np(g[1:, 1:] - g[:-1, 1:])
            - wrap_np(g[1:, 1:] - g[1:, :-1])
            - wrap_np(g[1:, :-1] - g[:-1, :-1])
        )
        charge = np.rint(loop / (2.0 * math.pi)).astype(np.int32)
        valid = m[:-1, :-1] & m[:-1, 1:] & m[1:, :-1] & m[1:, 1:]
        ai, aj = np.nonzero(valid & (charge != 0))
        ay, ax_ = y0 + ai, x0 + aj
        # halo copies compute the same plaquette in two tiles; only the
        # anchor's HOME tile emits it
        home = (ay // tile == rty) & (ax_ // tile == rtx)
        ay, ax_ = ay[home], ax_[home]
        res = {c: np.repeat(pdf[c].iloc[0], len(ay)) for c in part_cols}
        res[y] = ay.astype(np.int64)
        res[x] = ax_.astype(np.int64)
        res["charge"] = charge[ai[home], aj[home]]
        return pd.DataFrame(res, columns=[*part_cols, y, x, "charge"])

    return _grouped_kernel(
        routed, [*part_cols, "_rty", "_rtx"], kernel, T.StructType(out_fields)
    )


def residue_counts(
    df: DataFrame,
    part_cols: list[str],
    y: str = "y",
    x: str = "x",
    phase: str = "phase",
    tile: int | None = None,
) -> DataFrame:
    """Per-raster residue summary: positive/negative counts (they balance on
    interior-closed fields) — zero means `unwrap_2d`'s LS recovery is exact,
    nonzero means L2-optimal-estimate territory. With `tile` set, the
    plaquette pass runs in the tiled grouped-map form (the raster-scale
    path); both forms emit identical charges."""
    if tile is not None:
        r = residues_tiled(df, part_cols, tile, y=y, x=x, phase=phase)
    else:
        r = residues(df, part_cols, y=y, x=x, phase=phase)
    return r.groupBy(*part_cols).agg(
        F.count(F.when(F.col("charge") > 0, 1)).alias("n_pos"),
        F.count(F.when(F.col("charge") < 0, 1)).alias("n_neg"),
    )
