"""Deterministic in-process stand-in for the order-status XML API.

The functions run inside Spark's Python workers (``fan_out_fetch`` ships
the transport to executors), so the callables are module-level and
pickle by reference; workers import this module from the benchmark
directory on PYTHONPATH. Counters travel back to the driver through
Spark accumulators.
"""

from __future__ import annotations

import time
import zlib
from xml.etree import ElementTree as ET

from gen import api_status

# (po, night) keys that already failed once in this worker process.
# The retry of a failed request runs in the same loop of the same
# worker, so a per-process set is enough to fail each key exactly once.
_failed_once: set[str] = set()


def night_user(night: int) -> str:
    """The credential user for ``night``: the request document carries
    no date, so the night travels in the user id."""
    return f"night{night}"


def fails_first(po: str, night: int, fail_every: int) -> bool:
    return zlib.crc32(f"{po}|{night}".encode()) % fail_every == 0


def status_api(fail_every: int, calls, payload: str) -> str:
    """Answer one OrderStatusRequest; every ``fail_every``-th key (by
    hash) fails its first attempt with a retryable error."""
    calls.add(1)
    root = ET.fromstring(payload)
    po = root.findtext(".//PONumber") or ""
    night = int((root.findtext(".//UserID") or "night0")[len("night"):])
    key = f"{po}|{night}"
    if fails_first(po, night, fail_every) and key not in _failed_once:
        _failed_once.add(key)
        raise RuntimeError("status fetch failed: HTTP 503")
    code, status = api_status(po, night)
    return (
        "<OrderStatusResponse><PONumber>" + po + "</PONumber>"
        "<Status><Code>" + code + "</Code><Description>" + status
        + "</Description></Status></OrderStatusResponse>"
    )


def timed_sleep(waited, seconds: float) -> None:
    waited.add(seconds)
    time.sleep(seconds)
