from pydriosm_spark.cells.quadcell import (  # noqa: F401
    MAX_RES,
    cell_id,
    cell_expr,
    cell_xy,
    parent,
    parent_expr,
    children,
    cell_bounds,
    cover_bbox,
    compact,
    cell_res,
)
