"""One warning per graceful-fallback site.

Some engine paths degrade instead of failing (the Arrow local relation,
the stats-reset checkpoint, the derived coalesce floor, the memo's
block release): the result stays correct, only slower or heavier, so
the fallback must not raise, and must not be silent either. Each site
warns on its first fallback only, so a per-round fallback cannot flood
the log.
"""

from __future__ import annotations

import warnings

_WARNED: set[str] = set()


def warn_once(site: str, message: str) -> None:
    """RuntimeWarning `site: message`, the first time `site` falls back."""
    if site in _WARNED:
        return
    _WARNED.add(site)
    warnings.warn(f"{site}: {message}", RuntimeWarning, stacklevel=3)
