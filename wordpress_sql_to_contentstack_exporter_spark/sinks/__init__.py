from .keyed_json import write_keyed_json, write_master_mapping
from .dlq import read_dlq_ids, write_dlq
from .layout import write_layout, zorder_key

__all__ = [
    "write_keyed_json",
    "write_master_mapping",
    "write_dlq",
    "read_dlq_ids",
    "write_layout",
    "zorder_key",
]
