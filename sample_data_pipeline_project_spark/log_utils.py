"""Structured lifecycle logging.

Re-expresses the reference's `LogBlock` (`utils/log_utils.py:6-52`):
a named logger that prefixes every record with the caller chain and
emits keyed start/complete/fail envelopes around each engine call. The
reference also *calls* `log_start`/`log_complete`/`log_failure`
(`overlap_checks.py:39-97`) which its own LogBlock never defines — we
implement the intended methods.

No Spark dependency: plain stdlib logging; dual-timezone timestamps
(UTC always, plus a configurable local zone — the reference stamps both
via pendulum with an America/Los_Angeles default, `utils/log_utils.py:
26-37`; zoneinfo is the stdlib equivalent).
"""

from __future__ import annotations

import logging
import sys
import time
from datetime import datetime, timezone
from typing import Any
from zoneinfo import ZoneInfo


class LogBlock:
    """Structured logger with caller-chain context and lifecycle methods."""

    def __init__(
        self,
        logger_name: str = "sdpp_spark",
        max_depth: int = 3,
        local_tz: str | None = "America/Los_Angeles",
    ) -> None:
        self.logger = logging.getLogger(logger_name)
        self.max_depth = max_depth
        self._local_tz = ZoneInfo(local_tz) if local_tz else None

    # -- plumbing ---------------------------------------------------------
    def _caller_chain(self) -> str:
        # Frame 3 is the public method (info/log_start/...) under
        # _log -> _fmt -> here; walk max_depth frames up from it. A bare
        # f_back walk: inspect.stack() would read source context for
        # every frame of the whole stack on each record.
        frame = sys._getframe(3)
        names = []
        for _ in range(self.max_depth):
            if frame is None:
                break
            if frame.f_code.co_name != "<module>":
                names.append(frame.f_code.co_name)
            frame = frame.f_back
        return " <- ".join(names) if names else "<top>"

    def _fmt(self, message: str, fields: dict[str, Any]) -> str:
        now = datetime.now(timezone.utc)
        ts = now.isoformat(timespec="milliseconds")
        if self._local_tz is not None:
            local = now.astimezone(self._local_tz).isoformat(timespec="milliseconds")
            ts = f"{ts} | {self._local_tz.key} {local}"
        kv = " ".join(f"{k}={v!r}" for k, v in fields.items())
        return f"[{ts}] [{self._caller_chain()}] {message} {kv}".rstrip()

    def _log(self, level: int, message: str, **fields: Any) -> None:
        if self.logger.isEnabledFor(level):
            self.logger.log(level, self._fmt(message, fields))

    # -- levels (reference log_utils.py:42-52) ----------------------------
    def info(self, message: str, **fields: Any) -> None:
        self._log(logging.INFO, message, **fields)

    def warning(self, message: str, **fields: Any) -> None:
        self._log(logging.WARNING, message, **fields)

    def error(self, message: str, **fields: Any) -> None:
        self._log(logging.ERROR, message, **fields)

    def debug(self, message: str, **fields: Any) -> None:
        self._log(logging.DEBUG, message, **fields)

    # -- lifecycle (intended API used at overlap_checks.py:39-97) ---------
    def log_start(self, op: str, **fields: Any) -> float:
        self._log(logging.INFO, f"START {op}", **fields)
        return time.monotonic()

    def log_complete(self, op: str, started: float | None = None, **fields: Any) -> None:
        if started is not None:
            fields["elapsed_s"] = round(time.monotonic() - started, 4)
        self._log(logging.INFO, f"COMPLETE {op}", **fields)

    def log_failure(self, op: str, exc: BaseException, **fields: Any) -> None:
        fields["error"] = f"{type(exc).__name__}: {exc}"
        self._log(logging.ERROR, f"FAIL {op}", **fields)
