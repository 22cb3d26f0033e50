"""Crash-safe artifact IO shared by every driver-side JSON/pointer write.

One implementation of the tmp+rename discipline (sinks/upsert.py's swap
applied to single files): a writer that dies mid-write leaves only an
unreferenced tmp file, never a torn artifact. Centralized so a future
hardening (fsync-before-rename, tmp collision policy) lands everywhere at
once instead of drifting across copies — BPE merge tables, classifier
weights and ingest knobs all write through here.
"""

from __future__ import annotations

import json
import os
import tempfile


def atomic_write_text(path: str, payload: str) -> None:
    """Write ``payload`` to ``path`` atomically (tmp in the same dir, then
    rename — same-filesystem rename is the atomicity guarantee)."""
    d = os.path.dirname(os.path.abspath(path)) or "."
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(payload)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def atomic_write_json(path: str, payload: dict) -> None:
    atomic_write_text(path, json.dumps(payload))


def read_json_artifact(path: str, expected_format: str) -> dict:
    """Load + validate the artifact's declared format tag."""
    with open(path) as f:
        payload = json.load(f)
    if payload.get("format") != expected_format:
        raise ValueError(
            f"not a {expected_format} artifact: {path} "
            f"(format={payload.get('format')!r})"
        )
    return payload
