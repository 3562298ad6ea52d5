"""Scalar text functions that Spark lacks as built-ins (SURVEY.md §2.8 X1).

Reference analog: the NFD accent-strip normalizer
(/root/reference/ai_documents/utils.py:5) used before fuzzy key matching.
Spark has no NFD normalize; this is a vectorized pandas UDF (Arrow batch,
pandas' C-backed `.str.normalize`) — not a per-row Python UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_COMBINING = "[̀-ͯ]"


@F.pandas_udf(T.StringType())
def nfd_strip_accents(s: pd.Series) -> pd.Series:
    """Unicode NFD decomposition, then drop combining marks:
    'Kilométrage' -> 'Kilometrage' (utils.py:5 semantics)."""
    return s.str.normalize("NFD").str.replace(_COMBINING, "", regex=True)
