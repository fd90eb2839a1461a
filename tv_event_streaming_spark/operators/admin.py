"""Admin-plane scalar operators: job ids and log-masking.

Reference semantics:
- F10 — admin job ids: ``job_id = str(uuid.uuid4())`` attached to every
  triggered job (src/admin_lambda/admin_lambda.py:53).
- F11a — ARN masking for logs: ``***`` + last 4 chars, or ``***`` when
  the value is empty/short (src/periodic_reference_data/reference.py:13-17).
- F11b — username masking: first 2 + ``***`` + last 2, or ``***`` when
  ≤ 4 chars (src/add_cognito_user/add_cognito_user.py:9-17).

``deterministic_job_id`` derives a UUIDv4-shaped id from md5 of a key —
the wire format of ``F.uuid()``, but reproducible, so the DuckDB oracle
can check it value-for-value.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def deterministic_job_id(key: Column) -> Column:
    """F10 oracle form — UUIDv4-shaped id from md5(key): 8-4-4-4-12 hex
    groups with the version nibble forced to '4' and the variant nibble
    to '8' (the two positions a real v4 fixes)."""
    h = F.md5(F.to_binary(key.cast("string"), F.lit("utf-8")))
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit("4"), F.substring(h, 14, 3)),
        F.concat(F.lit("8"), F.substring(h, 18, 3)),
        F.substring(h, 21, 12),
    )


def mask_arn(arn: Column, visible_chars: int = 4) -> Column:
    """F11a — show only the last ``visible_chars`` characters."""
    return F.when(
        arn.isNull() | (F.length(arn) <= visible_chars), F.lit("***")
    ).otherwise(F.concat(F.lit("***"), F.substring(arn, -visible_chars, visible_chars)))


def mask_username(username: Column) -> Column:
    """F11b — first 2 + *** + last 2, fully masked when ≤ 4 chars."""
    return F.when(
        username.isNull() | (F.length(username) <= 4), F.lit("***")
    ).otherwise(
        F.concat(
            F.substring(username, 1, 2), F.lit("***"), F.substring(username, -2, 2)
        )
    )
