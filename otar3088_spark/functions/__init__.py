from otar3088_spark.functions.text import (  # noqa: F401
    clean_text_expr,
    is_header_expr,
    offsets_sql,
    sentence_split_sql,
    token_core_sql,
)
