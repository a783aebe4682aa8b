from .poll import PollTailer
from .tailer import BinlogTailer

__all__ = ["BinlogTailer", "PollTailer"]
