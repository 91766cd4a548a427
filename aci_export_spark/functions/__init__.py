"""Scalar column-expression library (SURVEY.md §2.8).

Everything here is a pure Column expression — JVM-side, codegen-friendly,
no Python UDFs in any hot path. Each function cites the reference behavior
it re-expresses.
"""

from aci_export_spark.functions.ids import id_for_email, md5_member_id
from aci_export_spark.functions.dates import epoch_to_date, as_of_predicate
from aci_export_spark.functions.text import (
    normalize_text,
    tokens,
    token_count,
    char_ngrams,
    valid_email,
    split_csv_trim,
)

__all__ = [
    "id_for_email",
    "md5_member_id",
    "epoch_to_date",
    "as_of_predicate",
    "normalize_text",
    "tokens",
    "token_count",
    "char_ngrams",
    "valid_email",
    "split_csv_trim",
]
