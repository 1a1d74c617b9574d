"""Tier-A operators: the capabilities the reference implements itself
(SURVEY.md §2.1, §2.6) plus the charter's LLM-data operators, re-designed
as distributed Spark transforms.
"""

from flowbyte_spark.operators.casts import apply_casts, normalize_decimals  # noqa: F401
from flowbyte_spark.operators.merge import update_by_keys  # noqa: F401
from flowbyte_spark.operators.mutate import ParquetTable  # noqa: F401
