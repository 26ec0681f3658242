from .parsing import parse_log_lines
from .correlate import correlate_batch
from .metrics import metric_snapshot

__all__ = [
    "parse_log_lines",
    "correlate_batch",
    "metric_snapshot",
]
