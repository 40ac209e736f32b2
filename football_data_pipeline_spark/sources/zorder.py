"""Z-order (Morton) clustering — MULTI-dimensional data skipping for
the plain-Parquet lakehouse layout. Reference parity: none — scale
extension (SURVEY.md §4.1's partitioning/clustering row, second
dimension).

The gap this closes: manifest.py (+ the ordered shard writer) prunes
files on ONE clustered column — a linear sort makes per-file min/max
tight on the leading column only. A fact table queried by 2-D boxes
(customer × order-date here; user × event-time, key-range × day in general)
cannot be sorted by both dimensions at once: under an x-sort, every
file spans the FULL y range, so a y-bounded predicate prunes nothing.
Z-ordering maps each row's (x, y) onto one integer by interleaving
the bits of the two grid coordinates; sorting by that integer makes
every contiguous run of rows — hence every written file — cover a
compact 2-D tile, so per-file min/max stay tight on BOTH columns and
a box predicate skips files in both dimensions. This is Delta
OPTIMIZE ZORDER BY / Iceberg's sort-order rewrite, built from
engine-native pieces.

Pieces (composing with the existing layout machinery, never
replacing it):

- ``zvalue_column``: grid-scale two numeric columns to Z_BITS-bit
  coordinates (min/max bounds computed in-plan — one scalar
  aggregate, broadcast by crossJoin) and interleave them with the
  magic-mask bit-spread (4 shift/mask rounds per dimension, pure
  integer built-ins, whole-stage codegen).
- ``write_zordered``: repartitionByRange on z + sortWithinPartitions
  on z → parquet. Range partitioning keeps files balanced
  (equal-COUNT z runs); the within-file sort makes row-group stats
  tight too. The helper columns are dropped before the write — the
  clustering survives as ROW ORDER, and manifest.build_manifest on
  the RAW columns captures it as tight per-file min/max.
- ``prune_files_box`` / ``read_box``: the 2-D planning-time prune
  over a manifest — files whose (x, y) bounding box intersects the
  query box, exact predicate re-applied after the read
  (manifest.pruned_read's soundness argument, box form).

100 TB shape: z computation is a map-only projection; the write is
one range shuffle (any clustered write pays it); the prune is a
driver-side filter bounded by FILE count. The audit query below uses
fixed-WIDTH z buckets (pure arithmetic) instead of the writer's
equal-count ranges so the DuckDB oracle can reproduce the layout
bit-for-bit — no sampled boundaries, no global window.

Curse-of-dimensionality honesty: interleaving k columns divides the
per-dimension resolution by k; past k≈3-4 the tiles stop being
compact and a Hilbert curve's better locality still decays — this
module deliberately exposes the 2-D form only.

10x probe (orders replicated 10x, 150k -> 1.5M rows, medians of 3):
q_zorder_skipping 0.76 -> 0.77 s — overhead-bound at this scale;
the work is one scan-shaped aggregate into <= 2*N_Z_FILES rows, so
wall tracks the scan, which is what a layout audit should cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from .manifest import read_files

#: per-dimension grid resolution (bits); z-values span 2·Z_BITS bits
Z_BITS = 16
#: top grid coordinate per dimension
GRID_MAX = (1 << Z_BITS) - 1
#: default file count for the clustered write and the audit layout
N_Z_FILES = 32

#: magic-mask spread rounds: 16 data bits → even bit positions of 32
_SPREAD_ROUNDS = [
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
]

#: audit-query boxes, in GRID coordinates. BOX_XY bounds both
#: dimensions to the second quarter — a z-ordered layout hits the
#: ~1/16 of files tiling that quadrant, a linear (x-sorted) layout
#: hits every file of the x quarter regardless of y. BOX_Y bounds
#: ONLY y to the top quarter — the linear layout can prune NOTHING
#: (every x-run spans all y) while z-order still skips ~3/4.
BOX_XY = ((16384, 32767), (16384, 32767))
BOX_Y = (49152, 65535)


def _spread_sql(e: str, shl) -> str:
    """The bit-spread expression for dialect-specific shift syntax
    ``shl(expr_text, n)``; `&`/`|` are shared. Call with a SHORT
    column name — each round doubles the text."""
    out = f"(({e}) & {GRID_MAX})"
    for n, mask in _SPREAD_ROUNDS:
        out = f"((({out}) | {shl(out, n)}) & {mask})"
    return out


def _z_sql(gx: str, gy: str, shl) -> str:
    return f"({_spread_sql(gx, shl)} | {shl(_spread_sql(gy, shl), 1)})"


def _spark_shl(e: str, n: int) -> str:
    return f"shiftleft({e}, {n})"


def _duck_shl(e: str, n: int) -> str:
    return f"(({e}) << {n})"


def _grid_sql(v: str, lo: str, hi: str, intdiv: str) -> str:
    """Min-max scale ``v`` onto [0, GRID_MAX] — all-integer, so both
    engines agree exactly; a constant column degenerates to 0."""
    return (
        f"CASE WHEN ({hi}) = ({lo}) THEN CAST(0 AS BIGINT) "
        f"ELSE CAST((({v}) - ({lo})) * {GRID_MAX} AS BIGINT) "
        f"{intdiv} (({hi}) - ({lo})) END"
    )


def zvalue_column(df: DataFrame, xcol: str, ycol: str) -> DataFrame:
    """``df`` + (__gx, __gy, __z): grid coordinates and the Morton
    z-value of two numeric columns. Bounds are the frame's own
    min/max — one scalar aggregate crossJoined back (broadcast of a
    1-row frame), so the whole thing stays in-plan."""
    bounds = df.agg(
        F.min(xcol).cast("long").alias("__xlo"),
        F.max(xcol).cast("long").alias("__xhi"),
        F.min(ycol).cast("long").alias("__ylo"),
        F.max(ycol).cast("long").alias("__yhi"),
    )
    out = (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            "__gx", F.expr(_grid_sql(xcol, "__xlo", "__xhi", "DIV"))
        )
        .withColumn(
            "__gy", F.expr(_grid_sql(ycol, "__ylo", "__yhi", "DIV"))
        )
        .withColumn("__z", F.expr(_z_sql("__gx", "__gy", _spark_shl)))
    )
    return out.drop("__xlo", "__xhi", "__ylo", "__yhi")


def write_zordered(
    df: DataFrame, xcol: str, ycol: str, path: str, n_files: int = N_Z_FILES
) -> None:
    """Write ``df`` z-clustered on (xcol, ycol): one range shuffle on
    the z-value (equal-count files), z-sorted within each file. The
    z column itself is dropped — the layout IS the order; follow with
    manifest.build_manifest(path, [xcol, ycol]) to capture it."""
    if n_files < 1:
        raise ValueError("n_files must be >= 1")
    (
        zvalue_column(df, xcol, ycol)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__gx", "__gy", "__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def prune_files_box(
    manifest: DataFrame, xcol: str, xlo, xhi, ycol, ylo, yhi
) -> list[str]:
    """Planning-time 2-D prune: paths whose per-file (x, y) bounding
    box intersects the query box. Bounded by FILE count, like
    manifest.prune_files."""
    rows = (
        manifest.filter(
            (F.col(f"{xcol}_max") >= F.lit(xlo))
            & (F.col(f"{xcol}_min") <= F.lit(xhi))
            & (F.col(f"{ycol}_max") >= F.lit(ylo))
            & (F.col(f"{ycol}_min") <= F.lit(yhi))
        )
        .select("file")
        .collect()
    )
    return [r.file for r in rows]


def read_box(
    spark: SparkSession,
    manifest: DataFrame,
    xcol: str,
    xlo,
    xhi,
    ycol: str,
    ylo,
    yhi,
    base_path: str | None = None,
) -> DataFrame:
    """Rows in the closed box, reading only files the manifest cannot
    rule out; the exact predicate is re-applied so the result is
    row-identical to a full scan + filter (the prune is an
    overapproximation by construction)."""
    files = prune_files_box(manifest, xcol, xlo, xhi, ycol, ylo, yhi)
    predicate = (
        F.col(xcol).between(F.lit(xlo), F.lit(xhi))
        & F.col(ycol).between(F.lit(ylo), F.lit(yhi))
    )
    return read_files(spark, manifest, files, base_path).filter(predicate)


# --- driver oracle: z-order vs linear skipping audit -----------------

#: fixed-width file buckets for the audit layouts (deterministic on
#: both engines; the production writer uses equal-count ranges)
_Z_FILE_WIDTH = (1 << (2 * Z_BITS)) // N_Z_FILES  # 2^32 / 32 = 2^27
_X_FILE_WIDTH = (GRID_MAX + 1) // N_Z_FILES  # 65536 / 32 = 2048


def _overlap(lo_col, hi_col, box_lo: int, box_hi: int):
    return (hi_col >= F.lit(box_lo)) & (lo_col <= F.lit(box_hi))


def skipping_audit(orders: DataFrame) -> DataFrame:
    """(layout, file_id, n_rows, gx_min..gy_max, hits_box_xy,
    hits_box_y): per-file grid bounding boxes under the z-ordered
    layout vs the single-column (x-sorted) layout, with intersection
    flags for the two audit boxes. The count of hits_* = files a
    planner must read — the skipping win is the ratio between the
    layouts. One scan per layout + a ≤ N_Z_FILES-key hash aggregate
    each; z/file assignment is pure arithmetic (module docstring)."""
    grid = zvalue_column(
        orders.select(
            F.col("o_custkey").alias("x"),
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
            ).alias("y"),
        ),
        "x",
        "y",
    ).select(
        "__gx",
        "__gy",
        F.expr(f"__z DIV {_Z_FILE_WIDTH}").alias("z_file"),
        F.expr(f"__gx DIV {_X_FILE_WIDTH}").alias("x_file"),
    )
    # both layouts in ONE scan + ONE aggregation exchange: each row
    # contributes to its z-file under 'zorder' and its x-file under
    # 'linear' via a 2-way stack generator
    stacked = grid.select(
        F.expr(
            "stack(2, 'zorder', z_file, 'linear', x_file) AS (layout, file_id)"
        ),
        "__gx",
        "__gy",
    )
    agg = stacked.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("__gx").alias("gx_min"),
        F.max("__gx").alias("gx_max"),
        F.min("__gy").alias("gy_min"),
        F.max("__gy").alias("gy_max"),
    )
    (bx, by) = BOX_XY
    return agg.select(
        "layout",
        "file_id",
        "n_rows",
        "gx_min",
        "gx_max",
        "gy_min",
        "gy_max",
        (
            _overlap(F.col("gx_min"), F.col("gx_max"), *bx)
            & _overlap(F.col("gy_min"), F.col("gy_max"), *by)
        ).alias("hits_box_xy"),
        _overlap(F.col("gy_min"), F.col("gy_max"), *BOX_Y).alias("hits_box_y"),
    )


def _zorder_oracle() -> str:
    z = _z_sql("__gx", "__gy", _duck_shl)
    gx = _grid_sql("x", "(SELECT __xlo FROM b)", "(SELECT __xhi FROM b)", "//")
    gy = _grid_sql("y", "(SELECT __ylo FROM b)", "(SELECT __yhi FROM b)", "//")
    ((bx0, bx1), (by0, by1)) = BOX_XY
    (cy0, cy1) = BOX_Y
    return f"""
    WITH pts AS (
      SELECT o_custkey AS x,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS y
      FROM orders
    ),
    b AS (
      SELECT CAST(min(x) AS BIGINT) AS __xlo, CAST(max(x) AS BIGINT) AS __xhi,
             CAST(min(y) AS BIGINT) AS __ylo, CAST(max(y) AS BIGINT) AS __yhi
      FROM pts
    ),
    grid AS (SELECT {gx} AS __gx, {gy} AS __gy FROM pts),
    z AS (
      SELECT __gx, __gy,
             ({z}) // {_Z_FILE_WIDTH} AS z_file,
             __gx // {_X_FILE_WIDTH} AS x_file
      FROM grid
    ),
    per_z AS (
      SELECT 'zorder' AS layout, z_file AS file_id,
             CAST(count(*) AS BIGINT) AS n_rows,
             min(__gx) AS gx_min, max(__gx) AS gx_max,
             min(__gy) AS gy_min, max(__gy) AS gy_max
      FROM z GROUP BY z_file
    ),
    per_x AS (
      SELECT 'linear' AS layout, x_file AS file_id,
             CAST(count(*) AS BIGINT) AS n_rows,
             min(__gx) AS gx_min, max(__gx) AS gx_max,
             min(__gy) AS gy_min, max(__gy) AS gy_max
      FROM z GROUP BY x_file
    ),
    both_layouts AS (
      SELECT * FROM per_z UNION ALL SELECT * FROM per_x
    )
    SELECT layout, file_id, n_rows, gx_min, gx_max, gy_min, gy_max,
           (gx_max >= {bx0} AND gx_min <= {bx1}
            AND gy_max >= {by0} AND gy_min <= {by1}) AS hits_box_xy,
           (gy_max >= {cy0} AND gy_min <= {cy1}) AS hits_box_y
    FROM both_layouts
    """


@query("q_zorder_skipping", oracle=_zorder_oracle())
def q_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs linear clustering, measured as a planner would see
    it: per-file grid bounding boxes + box-intersection flags for a
    2-D box and a y-only band over orders (customer × order-day).
    The oracle recomputes the grid scaling, the bit-interleave and
    the fixed-width file layout exactly — a drift in any mask, shift
    or bound breaks the value hash."""
    from ..catalog import load

    return skipping_audit(load(spark, sf_dir, "orders"))
