"""The package logger: ``logging.getLogger("apache_arrow_spark")``.

Degrade paths (a faster route that is unavailable, so a slower but exact
one runs instead) report through ``warn_once``: one WARN per process per
path, so a fallback is never silent and never floods a log.
"""

from __future__ import annotations

import logging

logger = logging.getLogger("apache_arrow_spark")

_warned: set[str] = set()


def warn_once(key: str, msg: str, *args) -> None:
    """Log ``msg % args`` at WARN the first time ``key`` is seen in this
    process; later calls with the same key are dropped."""
    if key in _warned:
        return
    _warned.add(key)
    logger.warning(msg, *args)
