from gistdex_spark.functions.vectors import cosine, dot, l2_norm
from gistdex_spark.functions.embedder import embed_text, embed_udf

__all__ = ["cosine", "dot", "l2_norm", "embed_text", "embed_udf"]
