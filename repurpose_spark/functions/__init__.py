from repurpose_spark.functions.cells import cell_id_expr, salt_expr
from repurpose_spark.functions.timeutils import pos_ts_expr

__all__ = ["cell_id_expr", "salt_expr", "pos_ts_expr"]
