"""Scalar column functions (SURVEY.md §2.2 P-class).

Every function here is a pure ``pyspark.sql.Column`` expression — JVM-side,
whole-stage-codegen'd, no Python in the hot path. The only UDFs in the
engine live in ``etl_stack_spark.functions.udfs`` (accent-normalize parity,
difflib fuzzy parity, AI-effect providers) and each has a native
approximation documented next to it.

A function that must agree byte-for-byte with DuckDB is pinned by the
oracle SQL of each query that uses it (``queries.register(name, oracle)``),
which restates the same logic in DuckDB dialect.
"""

from etl_stack_spark.functions.cleaners import (  # noqa: F401
    clean_area,
    clean_numeric_small,
    clean_price,
    clean_smallint,
    title_truncate,
)
from etl_stack_spark.functions.hashing import (  # noqa: F401
    canonical_json_from_map,
    content_hash,
    poi_stable_hash,
    sha256_hex,
)
from etl_stack_spark.functions.geo import bbox_filter, haversine_km  # noqa: F401
from etl_stack_spark.functions.misc import (  # noqa: F401
    hstore_parse,
    luma_text_color,
    map_prune_empty,
    split_latlng,
)
