from .scans import TABLES, scan, scan_text, scan_tokens
from .sinks import format_tokens, write_tokens

__all__ = [
    "TABLES",
    "scan",
    "scan_text",
    "scan_tokens",
    "format_tokens",
    "write_tokens",
]
