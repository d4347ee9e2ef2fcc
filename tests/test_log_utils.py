"""LogBlock record text: caller chain and lifecycle envelopes."""

from __future__ import annotations

import inspect
import logging

from sample_data_pipeline_project_spark.log_utils import LogBlock


class _StackLogBlock(LogBlock):
    """The inspect.stack() form of the caller chain, kept as the
    reference the frame walk must reproduce."""

    def _caller_chain(self) -> str:
        frames = inspect.stack()[3 : 3 + self.max_depth]
        names = [f.function for f in frames if f.function != "<module>"]
        return " <- ".join(names) if names else "<top>"


def _records(caplog, blk: LogBlock) -> list[str]:
    caplog.clear()
    with caplog.at_level(logging.DEBUG, logger=blk.logger.name):

        def inner():
            t = blk.log_start("op", n=1)
            blk.info("hi")
            blk.debug("dbg", x=None)
            blk.log_complete("op", None, k="v")
            blk.log_failure("op", ValueError("boom"))
            return t

        def outer():
            inner()

        outer()
        inner()
    # drop the timestamp prefix, which differs between calls
    return [r.getMessage().split("] ", 1)[1] for r in caplog.records]


def test_record_text_matches_stack_reference(caplog):
    for depth in (1, 3, 50):
        new = _records(caplog, LogBlock("sdpp_spark.test_log", max_depth=depth))
        old = _records(
            caplog, _StackLogBlock("sdpp_spark.test_log", max_depth=depth)
        )
        assert new == old
    assert _records(caplog, LogBlock("sdpp_spark.test_log"))[:5] == [
        "[log_start <- inner <- outer] START op n=1",
        "[info <- inner <- outer] hi",
        "[debug <- inner <- outer] dbg x=None",
        "[log_complete <- inner <- outer] COMPLETE op k='v'",
        "[log_failure <- inner <- outer] FAIL op error='ValueError: boom'",
    ]


def test_disabled_level_skips_formatting(caplog, monkeypatch):
    blk = LogBlock("sdpp_spark.test_log_off")
    calls = []
    monkeypatch.setattr(blk, "_fmt", lambda m, f: calls.append(m) or m)
    with caplog.at_level(logging.WARNING, logger=blk.logger.name):
        blk.log_complete("op", blk.log_start("op"))
        blk.info("quiet")
        assert calls == []
        blk.error("loud")
    assert calls == ["loud"]
