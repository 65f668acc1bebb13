from monthly_report_etl_spark.functions.vectors import dot, l2_norm  # noqa: F401
from monthly_report_etl_spark.functions.text import (  # noqa: F401
    fingerprint,
    language_scores,
    regex_token_count,
    whitespace_tokens,
)
