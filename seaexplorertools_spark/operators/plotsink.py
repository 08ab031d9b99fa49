"""Plot sink — S7, the last open reference surface: ~30 % of
process_adcp.py is diagnostic plotting, saved via
``save_plot(plot_dir, plot_name)``
(process_adcp.py:53-56; panel blocks e.g. :272-308, :1618-1649).

The reference draws matplotlib figures; this engine renders REAL PNGs
with its own codec (operators/multimodal.py::encode_png — no plotting
libs in a Spark executor image, and none needed): a viridis heatmap of
any long-format gridded field (the pcolormesh panels), a polyline
time-series track and 1-px scatter marks (the pitch/pressure panels) on
a shared canvas, plus minimal min/max tick labels rendered through a
3×5 bitmap font so the panels are self-describing without a plotting
library. Full legends remain a notebook concern — documented deviation.

Scale contract: plotting is inherently a driver-side sink on BOUNDED
data (the reference caps its own panels at ~30 000 pings,
process_adcp.py:967) — ``heatmap_sink`` gates on the TRUE dense-grid
size (distinct-x × distinct-y, which is what the driver allocates, not
the distinct-pair count) BEFORE moving anything, then aggregates to one
row per (x, y) cell so the Arrow transfer is bounded by the gate even
when the input has heavy per-cell duplication; the distributed engine
work (gridding, binning, downsampling via LTTB
``operators/downsample.py``) happens BEFORE the sink, which is exactly
how the reference composes plots from its already-gridded arrays.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

# 10 anchor stops of matplotlib's public-domain viridis colormap
_VIRIDIS = [
    (68, 1, 84), (72, 40, 120), (62, 74, 137), (49, 104, 142),
    (38, 130, 142), (31, 158, 137), (53, 183, 121), (109, 205, 89),
    (180, 222, 44), (253, 231, 37),
]
_NAN_RGB = (160, 160, 160)

# 3×5 bitmap font (row-major bit rows, MSB = left pixel) covering the
# characters a numeric tick label can contain: digits, sign, decimal
# point, exponent marker. Public-domain pixel shapes.
_FONT_3X5 = {
    "0": (0b111, 0b101, 0b101, 0b101, 0b111),
    "1": (0b010, 0b110, 0b010, 0b010, 0b111),
    "2": (0b111, 0b001, 0b111, 0b100, 0b111),
    "3": (0b111, 0b001, 0b111, 0b001, 0b111),
    "4": (0b101, 0b101, 0b111, 0b001, 0b001),
    "5": (0b111, 0b100, 0b111, 0b001, 0b111),
    "6": (0b111, 0b100, 0b111, 0b101, 0b111),
    "7": (0b111, 0b001, 0b001, 0b010, 0b010),
    "8": (0b111, 0b101, 0b111, 0b101, 0b111),
    "9": (0b111, 0b101, 0b111, 0b001, 0b111),
    "-": (0b000, 0b000, 0b111, 0b000, 0b000),
    "+": (0b000, 0b010, 0b111, 0b010, 0b000),
    ".": (0b000, 0b000, 0b000, 0b000, 0b010),
    "e": (0b000, 0b111, 0b111, 0b100, 0b111),
    " ": (0b000, 0b000, 0b000, 0b000, 0b000),
}


def draw_text(img, x: int, y: int, text: str, color=(0, 0, 0)) -> None:
    """Stamp ``text`` onto an (H, W, 3) uint8 array at top-left (x, y)
    with the 3×5 font, 1 px of advance between glyphs; pixels falling
    outside the canvas are clipped, unknown characters render blank."""
    h, w = img.shape[0], img.shape[1]
    for ch in text:
        rows = _FONT_3X5.get(ch, _FONT_3X5[" "])
        for dy, bits in enumerate(rows):
            for dx in range(3):
                if bits & (0b100 >> dx):
                    py, px = y + dy, x + dx
                    if 0 <= py < h and 0 <= px < w:
                        img[py, px] = color
        x += 4


def format_tick(v: float) -> str:
    """Numeric tick label: up to 4 significant digits, lowercase
    exponent — every character exists in the 3×5 font."""
    if v != v:
        return ""
    s = f"{v:.4g}"
    return s.replace("E", "e")


def colormap_rgb(t: float) -> tuple[int, int, int]:
    """t ∈ [0, 1] → viridis RGB via linear interpolation of the anchor
    stops (clamped outside)."""
    if t != t:  # NaN
        return _NAN_RGB
    t = 0.0 if t < 0 else (1.0 if t > 1 else t)
    pos = t * (len(_VIRIDIS) - 1)
    i = min(int(pos), len(_VIRIDIS) - 2)
    f = pos - i
    a, b = _VIRIDIS[i], _VIRIDIS[i + 1]
    return tuple(round(a[k] + (b[k] - a[k]) * f) for k in range(3))


def colormap_rgb_array(t):
    """Vectorized viridis: float array (any shape, NaN = gap) → uint8
    RGB array of shape (*t.shape, 3). Replicates the scalar anchor-walk
    arithmetic (``a + (b - a) * f`` then half-to-even rounding) op for
    op, so scalar and array paths are pixel-identical to the last ulp —
    np.interp's algebraically-equivalent form rounds differently at
    exact .5 ties."""
    import numpy as np

    t = np.asarray(t, dtype=np.float64)
    flat = t.ravel()
    nan = ~np.isfinite(flat)
    pos = np.where(nan, 0.0, flat)
    np.clip(pos, 0.0, 1.0, out=pos)
    pos *= len(_VIRIDIS) - 1
    i = pos.astype(np.int64)
    np.minimum(i, len(_VIRIDIS) - 2, out=i)
    f = pos
    f -= i
    anchors = np.array(_VIRIDIS, dtype=np.float64)
    # anchor components are small ints, so (b - a) is exact in float64
    # and a + delta*f reproduces the scalar a + (b - a)*f bit-for-bit
    deltas = np.diff(anchors, axis=0)
    out = np.empty((flat.size, 3), dtype=np.uint8)
    for k in range(3):
        val = anchors[:, k].take(i)
        val += deltas[:, k].take(i) * f
        np.rint(val, out=val)
        out[:, k] = val.astype(np.uint8)
    out[nan] = _NAN_RGB
    return out.reshape(t.shape + (3,))


def render_heatmap(
    grid: list[list[float]],
    vmin: float | None = None,
    vmax: float | None = None,
    cell_px: int = 4,
    axes: bool = False,
    x_range: tuple[float, float] | None = None,
    y_range: tuple[float, float] | None = None,
) -> bytes:
    """Dense row-major grid (rows = y, cols = x; None/NaN = gap) →
    viridis heatmap PNG, each cell ``cell_px`` square. Returns PNG
    bytes (decode_png_pixels round-trips it).

    ``axes=True`` adds a white margin with min/max tick labels (3×5
    bitmap font): the value range in the top-left corner, ``x_range``
    along the bottom edge and ``y_range`` down the left edge when
    given — the minimal self-describing panel."""
    import numpy as np

    a = np.array(grid, dtype=np.float64)
    if a.ndim != 2 or a.size == 0:
        raise ValueError("render_heatmap needs a non-empty 2-D grid")
    finite = a[np.isfinite(a)]
    lo = vmin if vmin is not None else (float(finite.min()) if finite.size else 0.0)
    hi = vmax if vmax is not None else (float(finite.max()) if finite.size else 1.0)
    span = hi - lo if hi > lo else 1.0
    ny, nx = a.shape
    rgb = colormap_rgb_array((a - lo) / span)
    img = (
        rgb if cell_px == 1
        else np.repeat(np.repeat(rgb, cell_px, axis=0), cell_px, axis=1)
    )
    if not axes:
        return _encode(img)

    ph, pw = img.shape[0], img.shape[1]
    left = (4 * max(
        len(format_tick(y_range[0])), len(format_tick(y_range[1]))
    ) + 2) if y_range else 2
    top, bottom = 8, (8 if x_range else 2)
    bar_w = 10 if ph >= 16 else 0  # colorbar legend when there's room
    canvas = np.full(
        (top + ph + bottom, left + pw + 2 + (bar_w + 2 if bar_w else 0), 3),
        255, np.uint8,
    )
    canvas[top : top + ph, left : left + pw] = img
    if bar_w:
        canvas[top : top + ph, left + pw + 2 : left + pw + 2 + bar_w] = (
            colorbar_strip(ph, bar_w)
        )
    draw_text(canvas, 1, 1, f"{format_tick(lo)} {format_tick(hi)}")
    if y_range:
        draw_text(canvas, 1, top, format_tick(y_range[0]))
        draw_text(canvas, 1, top + ph - 6, format_tick(y_range[1]))
    if x_range:
        lab_hi = format_tick(x_range[1])
        draw_text(canvas, left, top + ph + 2, format_tick(x_range[0]))
        draw_text(
            canvas, left + pw - 4 * len(lab_hi), top + ph + 2, lab_hi
        )
    return _encode(canvas)


def _encode(img) -> bytes:
    from .multimodal import encode_png

    return encode_png(img.shape[1], img.shape[0], img.tobytes())


def colorbar_strip(height: int, width: int = 10):
    """Vertical viridis gradient (max value at the top) as an
    (height, width, 3) uint8 array — the legend strip ``axes=True``
    composites to the right of the heatmap."""
    import numpy as np

    t = np.linspace(1.0, 0.0, height)
    return np.repeat(colormap_rgb_array(t)[:, None, :], width, axis=1)


def render_track(
    series: list[tuple[float, float]],
    width: int = 640,
    height: int = 240,
    marks: list[tuple[float, float]] | None = None,
    invert_y: bool = False,
) -> bytes:
    """Time-series panel: polyline of (x, y) samples plus optional 1-px
    scatter marks, white background, black line, viridis-blue marks —
    the pitch/pressure diagnostic shape. ``invert_y`` mirrors the
    reference's ``gca().invert_yaxis()`` for depth/pressure axes."""
    import numpy as np

    pts = [(x, y) for x, y in series if x == x and y == y]
    if not pts:
        raise ValueError("render_track needs at least one finite sample")
    all_pts = pts + [(x, y) for x, y in (marks or []) if x == x and y == y]
    xs = [p[0] for p in all_pts]
    ys = [p[1] for p in all_pts]
    x0, x1 = min(xs), max(xs)
    y0, y1 = min(ys), max(ys)
    xs_span = (x1 - x0) or 1.0
    ys_span = (y1 - y0) or 1.0

    def to_px(x: float, y: float) -> tuple[int, int]:
        px = round((x - x0) / xs_span * (width - 1))
        py = round((y - y0) / ys_span * (height - 1))
        if not invert_y:
            py = height - 1 - py
        return px, py

    img = np.full((height, width, 3), 255, dtype=np.uint8)
    prev = None
    for x, y in pts:
        cx, cy = to_px(x, y)
        if prev is not None:  # Bresenham segment
            px, py = prev
            dx, dy = abs(cx - px), -abs(cy - py)
            sx, sy = (1 if px < cx else -1), (1 if py < cy else -1)
            err = dx + dy
            while True:
                img[py, px] = (0, 0, 0)
                if (px, py) == (cx, cy):
                    break
                e2 = 2 * err
                if e2 >= dy:
                    err += dy
                    px += sx
                if e2 <= dx:
                    err += dx
                    py += sy
        else:
            img[cy, cx] = (0, 0, 0)
        prev = (cx, cy)
    for x, y in marks or []:
        if x == x and y == y:
            cx, cy = to_px(x, y)
            img[cy, cx] = (49, 104, 142)  # viridis blue
    from .multimodal import encode_png

    return encode_png(width, height, img.tobytes())


def heatmap_sink(
    df: DataFrame,
    x_col: str,
    y_col: str,
    value_col: str,
    plot_dir: str | None = None,
    plot_name: str = "panel",
    vmin: float | None = None,
    vmax: float | None = None,
    cell_px: int = 4,
    max_cells: int = 2_000_000,
    axes: bool = False,
) -> bytes:
    """The S7 sink: long-format gridded field (x, y, value — the grid2d
    output shape) → viridis heatmap PNG, optionally saved as
    ``{plot_dir}/{plot_name}.png`` (the reference's save_plot naming,
    process_adcp.py:53-56). Missing (x, y) cells render as gaps;
    duplicated (x, y) cells are averaged engine-side before transfer.

    Driver boundary, gated on the TRUE dense-grid size: distinct-x ×
    distinct-y is what the driver must allocate (sparse near-diagonal
    inputs would pass a distinct-PAIR gate yet demand up to pairs²
    cells), so that product is counted FIRST and anything above
    ``max_cells`` raises; only then does a per-cell aggregate cross the
    driver boundary, so heavy (x, y) duplication can't blow up the
    transfer either. Plot your grid, not your corpus; downsample (LTTB
    / coarser bins) upstream."""
    import numpy as np
    from pyspark.sql import functions as F

    nx_ny = df.select(
        F.countDistinct(x_col).alias("nx"), F.countDistinct(y_col).alias("ny")
    ).first()
    n = (nx_ny["nx"] or 0) * (nx_ny["ny"] or 0)
    if n > max_cells:
        raise ValueError(
            f"heatmap_sink: {n} dense grid cells "
            f"({nx_ny['nx']}×{nx_ny['ny']}) exceeds max_cells={max_cells} — "
            "plots are driver-side; downsample or re-grid upstream"
        )
    pdf = (
        df.groupBy(x_col, y_col)
        .agg(F.avg(value_col).alias("__v"))
        .toPandas()
    )
    xs = np.sort(pdf[x_col].unique())
    ys = np.sort(pdf[y_col].unique())
    grid = np.full((len(ys), len(xs)), np.nan)
    grid[
        np.searchsorted(ys, pdf[y_col].to_numpy()),
        np.searchsorted(xs, pdf[x_col].to_numpy()),
    ] = pdf["__v"].to_numpy(dtype=np.float64, na_value=np.nan)
    x_range = (float(xs[0]), float(xs[-1])) if axes and len(xs) else None
    y_range = (float(ys[0]), float(ys[-1])) if axes and len(ys) else None
    png = render_heatmap(
        grid.tolist(), vmin=vmin, vmax=vmax, cell_px=cell_px,
        axes=axes, x_range=x_range, y_range=y_range,
    )
    if plot_dir:
        save_plot(plot_dir, plot_name, png)
    return png


def save_plot(plot_dir: str, plot_name: str, png: bytes) -> str:
    """Mirror of the reference's save_plot: ensure the directory, write
    ``{plot_name}.png``, return the path."""
    os.makedirs(plot_dir, exist_ok=True)
    path = os.path.join(plot_dir, f"{plot_name}.png")
    with open(path, "wb") as fh:
        fh.write(png)
    return path
