from jigsaw_spark.functions.hashing import det_hash, det_order, md5_int, md5_key
from jigsaw_spark.functions.vectors import cosine_similarity, dot_product, l2_norm

__all__ = [
    "det_hash",
    "det_order",
    "md5_int",
    "md5_key",
    "cosine_similarity",
    "dot_product",
    "l2_norm",
]
