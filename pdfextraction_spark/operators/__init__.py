from .extract import extract_turns  # noqa: F401
from .partitioning import (  # noqa: F401
    logical_partition_id,
    prepare_for_extraction,
)
