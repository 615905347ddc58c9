"""Column-level functions (all pure Catalyst expressions — no Python UDFs)."""

from relex_spark.functions.text import (  # noqa: F401
    GLOVE_BRACKET_MAP,
    clamp_span,
    join_ws,
    lower_tokens,
    mask_entities,
    normalize_glove_tokens,
    portable_hash64,
    span_end_exclusive_to_inclusive,
    split_ws,
    truncate_tokens,
)
from relex_spark.functions.offsets import (  # noqa: F401
    entity_marker_indicators,
    relative_offset_indices,
    sine_offset_indices,
)
from relex_spark.functions.pooling import (  # noqa: F401
    pool_array,
    scoped_pool_array,
)
