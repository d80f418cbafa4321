from otar3088_spark.functions.text import (  # noqa: F401
    clean_text_sql,
    is_header_sql,
    offsets_sql,
    sentence_split_sql,
    token_core_sql,
)
