"""Rule-config epoch tracking — the reference's @Stateful analogue.

`ExecuteRuleEngine` stores the rule-zip filename + lastModified in NiFi
LOCAL state and reloads the engine when they change (reference:
ExecuteRuleEngine.java:108 `@Stateful`, :315-322 state write, :330-336
reload). The engine analogue versions the CONFIG the way the table's
schema history versions the DATA: a JSON state file records (path, mtime,
sha256, config_epoch); `load()` re-parses the rule project only when the
artifact actually changed and bumps the config epoch, so lineage records
can say *which* rule version processed an epoch.
"""

from __future__ import annotations

import hashlib
import os
from typing import Any

from ..sources.xml_config import load_rule_project
from . import fsio


class RuleConfigTracker:
    def __init__(self, state_path: str):
        self.state_path = state_path
        self._cached_spec: dict[str, Any] | None = None
        self._cached_sha: str | None = None

    def _state(self) -> dict:
        return fsio.load_json(
            self.state_path,
            default={"config_epoch": 0, "path": None, "mtime": None, "sha256": None},
        )

    def load(self, zip_path: str) -> tuple[dict[str, Any], int, bool]:
        """Return (spec, config_epoch, changed). Re-parses and bumps the
        epoch only when the artifact differs from the recorded state
        (content hash, not just mtime — a touch without change is a no-op;
        the reference's mtime-only check would reload)."""
        with open(zip_path, "rb") as f:
            sha = hashlib.sha256(f.read()).hexdigest()
        st = self._state()
        changed = st["sha256"] != sha or st["path"] != zip_path
        if changed:
            epoch = st["config_epoch"] + 1
            # replace-safe: this state file is REPLACED per config change
            fsio.publish_json(
                self.state_path,
                {"config_epoch": epoch, "path": zip_path,
                 "mtime": os.path.getmtime(zip_path), "sha256": sha},
            )
        else:
            epoch = st["config_epoch"]
        if changed or self._cached_spec is None or self._cached_sha != sha:
            self._cached_spec = load_rule_project(zip_path)
            self._cached_sha = sha
        return self._cached_spec, epoch, changed
