"""Engine configuration — the reference's HOCON surface
(environment.conf) as a typed config with the same env-var override
pattern (``key=${?ENV_VAR}``, environment.conf:8,13,25).

Defaults mirror the reference's shipped values exactly; the TTL is
ENFORCED here (via watermark state expiry) where the reference only
declared it (Deduplicator.java:36-40 reads cacheTTL and never applies
it).  The reference's broker topics (``PULSAR_*``) and per-duplicate
alert (``APPLICATION_ALERT_ON_DUPLICATE``) are not read: the
application has no broker and no per-duplicate alert.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def _env(name: str, default: str) -> str:
    return os.environ.get(name, default)


# HOCON's string-to-boolean conversion (Typesafe Config): exact,
# case-sensitive words; anything else is a type error, never false
_HOCON_BOOLEANS = {
    "true": True, "yes": True, "on": True,
    "false": False, "no": False, "off": False,
}


def _env_bool(name: str, default: str) -> bool:
    value = _env(name, default)
    if value not in _HOCON_BOOLEANS:
        raise ValueError(
            f"{name}={value!r} is not a boolean: use true/yes/on or false/no/off"
        )
    return _HOCON_BOOLEANS[value]


@dataclass(frozen=True)
class DedupConfig:
    # state TTL (environment.conf:24 — "4 hours"; enforced here)
    cache_ttl_ms: int = field(
        default_factory=lambda: int(_env("APPLICATION_CACHE_TTL_SECONDS", "14400")) * 1000
    )
    # analytics window (environment.conf:27 — "1 minutes")
    poll_interval: str = field(
        default_factory=lambda: _env("APPLICATION_ALERT_POLL_INTERVAL", "1 minute")
    )
    # alert band (environment.conf:29-34)
    duplicate_ratio_threshold: float = field(
        default_factory=lambda: float(_env("APPLICATION_ALERT_RATIO_THRESHOLD", "0.97"))
    )
    alert_on_threshold: bool = field(
        default_factory=lambda: _env_bool("APPLICATION_ALERT_ON_THRESHOLD", "true")
    )
