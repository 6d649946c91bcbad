from .inference import DATE_STRING_REGEX, parse_events, sniff_timestamp
from .evolution import merge_schemas, widen_type

__all__ = [
    "DATE_STRING_REGEX",
    "parse_events",
    "sniff_timestamp",
    "merge_schemas",
    "widen_type",
]
